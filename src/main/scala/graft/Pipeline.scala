package graft

import graft.io.{CoinGecko, CryptoCsv, Publish}
import graft.operators.{ClassifyApi, CleanHistorical, Materialize}
import graft.profile.{HtmlReport, Profiler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** §2.5 orchestrator: the reference DAG `[t1, t2] >> t3 >> [t4, t5]`
  * (crypto_etl_pipeline.py:367-392) re-expressed as lazy DataFrame
  * stages. t1–t3 hand off in-memory Catalyst plans; the cleaned and
  * classified outputs are always written to CSV, as the reference
  * writes them (P90, P208), the two writes running concurrently.
  *
  * t4 ∥ t5 run as the DAG draws them: the two reports and the two
  * publishes are four concurrent branches ([[Materialize.branches]]).
  * Each report profiles its output AS WRITTEN, read back with the
  * declared schema — as the reference re-reads its CSVs to profile them
  * (P269, P280) — so the profile's queries scan one small file instead
  * of each re-running the cleaning lineage. The profile computes its
  * per-column statistics, histograms and correlations in long form
  * ([[Profiler]]): each query holds one copy of its aggregates whatever
  * the column count, so planning and codegen, the reports' largest
  * cost, do not grow with the columns. Publish copies the same files.
  * `run` returns after every branch finished, rethrowing the first
  * failure.
  *
  * Exact vs approximate is not a pipeline setting: the medians and IQR
  * bounds are exact `percentile` aggregates, and the session's
  * [[graft.catalyst.ApproxAboveThreshold]] valve alone rewrites them to
  * sketches when the input is large.
  *
  * Scheduling (the 6-hour cron, P370) stays external — the engine
  * exposes one `run` per invocation.
  */
object Pipeline {

  case class Config(
      rawCsvPath: String,
      apiFixturePath: Option[String], // None → live CoinGecko fetch
      outDir: String,
      order: CleanHistorical.FillOrder = CleanHistorical.ColabOrder,
      publish: Boolean = true,
      reports: Boolean = true,
      /** Multi-partition processing with the explicit row-order contract
        * (SURVEY §7.4.2): stamp `_row_id` on the ordered read, spread the
        * work across the session's `spark.sql.shuffle.partitions`,
        * restore order at the output edge. Same golden output as parity
        * mode (PipelineSpec). */
      atScale: Boolean = false)

  case class Result(
      cleaned: DataFrame, classified: DataFrame,
      published: Seq[Publish.PublishedFile], reportPaths: Seq[String])

  def run(spark: SparkSession, cfg: Config): Result = {
    // t1: ingest API data (fixture mode in zero-egress environments)
    val api = cfg.apiFixturePath match {
      case Some(p) => CryptoCsv.readApiFixture(spark, p)
      case None => CoinGecko.ingest(spark)
    }
    // t2: clean historical data (independent of t1 — two lazy plans)
    val raw = CryptoCsv.readRaw(spark, cfg.rawCsvPath)
    val cleaned = if (cfg.atScale) {
      val stamped = graft.io.RowOrder.stamp(raw)
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      graft.io.RowOrder.restore(CleanHistorical(stamped, cfg.order))
    } else CleanHistorical(raw, cfg.order)
    // t3: classify API data (depends on t1)
    val classified = ClassifyApi(api)

    val cleanedOut = s"${cfg.outDir}/cleaned_cryptocurrency_data"
    val classifiedOut = s"${cfg.outDir}/api_cryptocurrency_data"
    Materialize.branches(spark, Seq(
      () => CryptoCsv.write(cleaned, cleanedOut),
      () => CryptoCsv.write(classified, classifiedOut)))

    // t4 ∥ t5, four branches at once. t4: profiling reports (full over
    // API data, minimal-ish over historical — reference P261-287,
    // implemented per the working colab variant, SURVEY §2.1 note on
    // the BASE_PATH bug), each over its output as written (P269, P280).
    // t5: publish with timestamped names (depends on t3's output).
    val apiReport = s"${cfg.outDir}/cryptos_api_report.html"
    val histReport = s"${cfg.outDir}/cryptos_kaggle_report.html"
    def report(title: String, out: String, schema: StructType, path: String)
        : () => Option[Publish.PublishedFile] = () => {
      HtmlReport.toFile(title,
        Profiler.profile(CryptoCsv.readWritten(spark, out, schema)), path)
      None
    }
    val reports = if (cfg.reports) Seq(
      report("Cryptos API report", classifiedOut, CryptoCsv.classifiedSchema, apiReport),
      report("Cryptos historical report", cleanedOut, CryptoCsv.cleanSchema, histReport))
    else Seq.empty
    val publishes = if (cfg.publish) {
      val ts = Publish.timestampSuffix()
      Seq(cleanedOut -> "cleaned_cryptocurrency_data_final",
          classifiedOut -> "api_cryptocurrency_data_final").map { case (out, name) =>
        () => Some(Publish.publishCsv(spark, out, s"${cfg.outDir}/published", name, ts))
      }
    } else Seq.empty
    val published = Materialize.branches(spark, reports ++ publishes).flatten
    val reportPaths = if (cfg.reports) Seq(apiReport, histReport) else Seq.empty

    Result(cleaned, classified, published, reportPaths)
  }
}
