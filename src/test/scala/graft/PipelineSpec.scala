package graft

import graft.io.CryptoCsv
import graft.operators.CleanHistorical
import graft.profile.{HtmlReport, Profiler, TableProfile}
import org.apache.spark.sql.functions.{col, trim}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end DAG run in fixture mode: t1 (fixture ingest) ∥ t2
  * (clean) → t3 (classify) → t4 (reports) ∥ t5 (publish), then checks
  * outputs, report files, and publish naming — the full S1–S5 surface
  * in one pass, against the reference data and a synthetic fixture;
  * plus the reports' read-back profiles and the branches' failure
  * contract. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ref = "/root/reference"

  test("full pipeline run produces outputs, reports, and published files") {
    val out = Files.createTempDirectory("graft-pipeline").toString
    val result = Pipeline.run(spark, Pipeline.Config(
      rawCsvPath = s"$ref/CryptocurrencyData.csv",
      apiFixturePath = Some(s"$ref/api_cryptocurrency_data_final.csv"),
      outDir = out))

    assert(result.cleaned.count() === 4150)
    assert(result.classified.count() === 100)
    assert(result.classified.columns.contains("tendencia"))

    // t4: both reports exist and are non-trivial HTML
    assert(result.reportPaths.size === 2)
    result.reportPaths.foreach { p =>
      val html = Files.readString(Paths.get(p))
      assert(html.startsWith("<!DOCTYPE html"))
      assert(html.length > 5000, s"$p suspiciously small")
    }

    // t5: timestamped copies with engine-verified stats
    assert(result.published.size === 2)
    result.published.foreach { f =>
      assert(Files.exists(Paths.get(f.target)))
      assert(f.target.matches(""".*_\d{8}_\d{6}\.csv"""), f.target)
      assert(f.bytes > 0)
    }
    val cleanedPub = result.published.head
    assert(cleanedPub.rows === 4150 && cleanedPub.cols === 12)

    // outputs land only under outDir
    val stray = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(stray.contains("published"))
  }

  test("airflow-order config flag flows through the pipeline") {
    val out = Files.createTempDirectory("graft-pipeline2").toString
    val result = Pipeline.run(spark, Pipeline.Config(
      rawCsvPath = s"$ref/CryptocurrencyData.csv",
      apiFixturePath = Some(s"$ref/api_cryptocurrency_data_final.csv"),
      outDir = out,
      order = CleanHistorical.AirflowOrder,
      reports = false, publish = false))
    val outliers = result.cleaned.filter("is_outlier").count()
    assert(outliers === 2094) // SURVEY §2.6.1 divergence pinned
  }

  test("atScale mode (stamp → repartition → restore) equals parity output") {
    val out = Files.createTempDirectory("graft-pipeline3").toString
    val cfg = Pipeline.Config(
      rawCsvPath = s"$ref/CryptocurrencyData.csv",
      apiFixturePath = Some(s"$ref/api_cryptocurrency_data_final.csv"),
      outDir = out, reports = false, publish = false)
    val parity = Pipeline.run(spark, cfg).cleaned.collect()
    val scaled = Pipeline.run(spark, cfg.copy(atScale = true)).cleaned.collect()
    assert(scaled.length === parity.length)
    assert(scaled.head.schema.fieldNames.toSeq === parity.head.schema.fieldNames.toSeq,
      "no _row_id may leak into the output")
    scaled.zip(parity).zipWithIndex.foreach { case ((s, p), i) =>
      assert(s === p, s"row $i differs between atScale and parity mode")
    }
  }

  test("missing pipeline output fails publish loudly (reference P305-313)") {
    intercept[java.io.FileNotFoundException] {
      graft.io.Publish.publishCsv(spark, "/nonexistent/file.csv",
        Files.createTempDirectory("graft-pub").toString, "x")
    }
    // a Spark output directory without a part file: fails naming the
    // source, before the publish directory is created
    val empty = Files.createTempDirectory("graft-pub-empty").toString
    val dest = Files.createTempDirectory("graft-pub").resolve("published")
    val e = intercept[java.io.FileNotFoundException] {
      graft.io.Publish.publishCsv(spark, empty, dest.toString, "x")
    }
    assert(e.getMessage.contains(empty), e.getMessage)
    assert(!Files.exists(dest), "nothing may be published for a missing output")
  }

  /** FIXTURES.md §1 quirks: padded headers, quoted comma numbers, `$-`
    * prices, `-` and empty percents, Million/Billion/Thousand supplies —
    * a 20-row historical CSV (row i's coin named `coin(i)`) and a 5-row
    * API CSV under `dir`. */
  private def synthInputs(dir: Path, coin: Int => String = i => s"Coin $i"): (Path, Path) = {
    val header = "Rank,Coin Name,Symbol, Price ,1h,24h,7d,30d, 24h Volume ," +
      "Circulating Supply,Total Supply, Market Cap "
    def quoted(v: String) = "\"" + v + "\""
    def money(x: Double) = "%,.2f".formatLocal(java.util.Locale.US, x)
    val rows = (1 to 20).map { i =>
      val price = if (i % 4 == 0) quoted(" $-   ") else quoted(money(i * 1234.5))
      val pct = i % 5 match { case 0 => "-"; case 1 => ""; case k => s"${k - 2}.${i % 10}0%" }
      val supply = i % 6 match {
        case 0 => "21 Million"; case 1 => "88.3 Billion"; case 2 => "1.17 Thousand"
        case 3 => "-"; case 4 => s"${i * 1000}"; case _ => "120 Million" }
      val cap = if (i % 7 == 0) "-" else quoted("$" + money(i * 98765.0) + " ")
      Seq(s"$i", coin(i), s"C$i", price, pct, "-1.70%", s"${i % 3}.00%", pct,
        quoted("$" + money(i * 1000.0) + " "), quoted(money(i * 19549.0).dropRight(3)),
        supply, cap).mkString(",")
    }
    val raw = dir.resolve("raw.csv")
    Files.write(raw, (header +: rows).asJava)
    val api = dir.resolve("api.csv")
    Files.write(api, Seq(
      "symbol,current_price,price_change_percentage_24h,market_cap,total_volume,high_24h,low_24h",
      "btc,122080.0,6.0,2433107962907,1.0E10,123000.0,121000.0",
      "eth,4500.0,2.0,540000000000,3.0E9,4600.0,4400.0",
      "usdt,1.0,0.01,170000000000,,1.0,1.0",
      "xrp,2.9,-2.5,170000000000,5.0E8,3.0,2.8",
      "sol,,-6.0,120000000000,0.0,230.0,220.0").asJava)
    (raw, api)
  }

  test("synthetic dirty CSV: parity and atScale runs agree, reports and publish land") {
    val dir = Files.createTempDirectory("graft-pipeline-synth")
    val (raw, api) = synthInputs(dir)
    val cfg = Pipeline.Config(rawCsvPath = raw.toString,
      apiFixturePath = Some(api.toString),
      outDir = dir.resolve("parity").toString)
    val parity = Pipeline.run(spark, cfg)
    val scaled = Pipeline.run(spark,
      cfg.copy(outDir = dir.resolve("scaled").toString, atScale = true))

    val (p, s) = (parity.cleaned.collect(), scaled.cleaned.collect())
    assert(p.length === 20)
    assert(p.map(_.getString(0)).toSeq === (1 to 20).map(i => s"Coin $i"))
    assert(s.toSeq === p.toSeq, "atScale rows or order differ from parity mode")
    for (r <- Seq(parity, scaled)) {
      assert(r.cleaned.columns.toSeq === CryptoCsv.cleanSchema.fieldNames.toSeq,
        "no _row_id may leak into the output")
      assert(r.reportPaths.size === 2)
      r.reportPaths.foreach(f => assert(Files.size(Paths.get(f)) > 0, f))
      assert(r.published.map(_.rows) === Seq(20L, 5L))
      assert(r.published.map(_.cols) === Seq(12, 8))
      r.published.foreach(f => assert(Files.exists(Paths.get(f.target)), f.target))
    }
    // both reports profile the written CSVs: the mode must not reach a byte
    parity.reportPaths.zip(scaled.reportPaths).foreach { case (a, b) =>
      assert(Files.readAllBytes(Paths.get(a)).sameElements(Files.readAllBytes(Paths.get(b))),
        s"$a and $b differ")
    }
  }

  /** Field by field. Doubles agree to 1e-12 relative (NaN equals NaN):
    * the correlations sum in an order the shuffle decides. */
  private def assertSameProfile(got: TableProfile, want: TableProfile): Unit = {
    def same(g: Any, w: Any): Boolean = (g, w) match {
      case (a: Double, b: Double) =>
        (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a))
      case (a: Product, b: Product) if a.productArity == b.productArity =>
        a.productIterator.zip(b.productIterator).forall { case (x, y) => same(x, y) }
      case (a: Iterable[_], b: Iterable[_]) =>
        a.size == b.size && a.zip(b).forall { case (x, y) => same(x, y) }
      case _ => g == w
    }
    got.productElementNames.zip(got.productIterator.zip(want.productIterator))
      .foreach { case (field, (g, w)) => assert(same(g, w), s"$field: $g != $w") }
  }

  test("reports profile the outputs as written: read-back profiles equal the in-memory ones") {
    val dir = Files.createTempDirectory("graft-pipeline-readback")
    val padded = "  Coin 10 "
    val (raw, api) = synthInputs(dir, i => if (i == 10) padded else s"Coin $i")
    val out = dir.resolve("out")
    val r = Pipeline.run(spark, Pipeline.Config(rawCsvPath = raw.toString,
      apiFixturePath = Some(api.toString), outDir = out.toString, publish = false))
    val cleanedBack = Profiler.profile(CryptoCsv.readWritten(spark,
      out.resolve("cleaned_cryptocurrency_data").toString, CryptoCsv.cleanSchema))
    val classifiedBack = Profiler.profile(CryptoCsv.readWritten(spark,
      out.resolve("api_cryptocurrency_data").toString, CryptoCsv.classifiedSchema))
    assertSameProfile(classifiedBack, Profiler.profile(r.classified))
    // the CSV writer trims leading and trailing whitespace, so the padded
    // name is written trimmed and the report follows the written file:
    // its profile is the in-memory frame's with that one name trimmed
    assert(r.cleaned.filter(col("coin") === padded).count() === 1)
    assertSameProfile(cleanedBack,
      Profiler.profile(r.cleaned.withColumn("coin", trim(col("coin")))))
    val coinLen = (p: TableProfile) => p.strings.find(_.name == "coin").get.maxLen
    assert(coinLen(Profiler.profile(r.cleaned)) === Some(padded.length))
    assert(coinLen(cleanedBack) === Some("Coin 10".length))
    // each report is its read-back profile, rendered
    assert(r.reportPaths.map(p => Files.readString(Paths.get(p))) === Seq(
      HtmlReport.render("Cryptos API report", classifiedBack),
      HtmlReport.render("Cryptos historical report", cleanedBack)))
  }

  test("a failed branch fails the run only after every sibling branch finished") {
    val dir = Files.createTempDirectory("graft-pipeline-branch-fail")
    val (raw, api) = synthInputs(dir)
    val out = dir.resolve("out")
    // the API report's path is a directory: writing that report fails
    val apiReport = Files.createDirectories(out.resolve("cryptos_api_report.html"))
    val (outcome, jobs) = TestSpark.withJobs(spark) {
      val r = scala.util.Try(Pipeline.run(spark, Pipeline.Config(rawCsvPath = raw.toString,
        apiFixturePath = Some(api.toString), outDir = out.toString)))
      (r, System.currentTimeMillis(), spark.sparkContext.statusTracker.getActiveJobIds())
    }
    val (run, thrownAt, active) = outcome.get
    val e = intercept[java.nio.file.FileSystemException](run.get)
    assert(e.getMessage.contains(apiReport.toString), e.getMessage)
    // no job was left running when run threw, and the siblings' work landed
    assert(active.isEmpty, s"jobs still active when run threw: ${active.toSeq}")
    jobs.foreach(j => assert(j.end >= 0 && j.end <= thrownAt, s"job $j outlived the run"))
    assert(Files.size(out.resolve("cryptos_kaggle_report.html")) > 0)
    assert(Files.list(out.resolve("published")).count() === 2)
  }
}
