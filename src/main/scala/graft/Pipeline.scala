package graft

import graft.io.{CoinGecko, CryptoCsv, Publish}
import graft.operators.{ClassifyApi, CleanHistorical, Materialize}
import graft.profile.{HtmlReport, Profiler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** §2.5 orchestrator: the reference DAG `[t1, t2] >> t3 >> [t4, t5]`
  * (crypto_etl_pipeline.py:367-392) re-expressed as lazy DataFrame
  * stages. The DAG is two independent data chains, and they run as two
  * concurrent branches ([[Materialize.branches]]):
  *   - historical: t2 reads the raw CSV and cleans it (its quantile
  *     barriers run here), writes the cleaned CSV, then runs its report
  *     and its publish as two branches;
  *   - API: t1 reads the API data, t3 classifies it (its median
  *     barrier), writes the classified CSV, then runs its report and
  *     its publish as two branches.
  * The outputs are always written to CSV, as the reference writes them
  * (P90, P208). Each report profiles its output AS WRITTEN, read back
  * with the declared schema — as the reference re-reads its CSVs to
  * profile them (P269, P280) — so the profile's queries scan one small
  * file instead of each re-running the cleaning lineage. The profile
  * runs its passes as concurrent branches too, each per-column
  * statistic in long form ([[Profiler]]): each query holds one copy of
  * its aggregates whatever the column count, so planning and codegen,
  * the reports' largest cost, do not grow with the columns. Publish
  * copies the same files. `run` returns after every branch finished,
  * rethrowing the first failure (the historical chain's first).
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
    val ts = Publish.timestampSuffix()
    /** One chain: `frame` (its barriers run here) written to
      * `outDir/out`, then t4, its report over the CSV as written
      * (P269, P280), and t5, its publish with a timestamped name. The
      * reports follow the working colab variant (SURVEY §2.1 note on
      * the BASE_PATH bug). */
    def chain(frame: => DataFrame, out: String, schema: StructType,
              title: String, report: String, published: String)
        : () => (DataFrame, Option[Publish.PublishedFile]) = () => {
      val df = frame
      val dir = s"${cfg.outDir}/$out"
      CryptoCsv.write(df, dir)
      val t4 = if (cfg.reports) Seq(() => {
        HtmlReport.toFile(title,
          Profiler.profile(CryptoCsv.readWritten(spark, dir, schema)),
          s"${cfg.outDir}/$report")
        None
      }) else Seq.empty
      val t5 = if (cfg.publish) Seq(() =>
        Some(Publish.publishCsv(spark, dir, s"${cfg.outDir}/published", published, ts)))
      else Seq.empty
      (df, Materialize.branches(spark, t4 ++ t5).flatten.headOption)
    }

    // t2: clean historical data
    def cleaned = {
      val raw = CryptoCsv.readRaw(spark, cfg.rawCsvPath)
      if (cfg.atScale) {
        val stamped = graft.io.RowOrder.stamp(raw)
          .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        graft.io.RowOrder.restore(CleanHistorical(stamped, cfg.order))
      } else CleanHistorical(raw, cfg.order)
    }
    // t1: ingest API data (fixture mode in zero-egress environments),
    // then t3: classify it
    def classified = ClassifyApi(cfg.apiFixturePath match {
      case Some(p) => CryptoCsv.readApiFixture(spark, p)
      case None => CoinGecko.ingest(spark)
    })

    val Seq((cleanedDf, cleanedPub), (classifiedDf, classifiedPub)) =
      Materialize.branches(spark, Seq(
        chain(cleaned, "cleaned_cryptocurrency_data", CryptoCsv.cleanSchema,
          "Cryptos historical report", "cryptos_kaggle_report.html",
          "cleaned_cryptocurrency_data_final"),
        chain(classified, "api_cryptocurrency_data", CryptoCsv.classifiedSchema,
          "Cryptos API report", "cryptos_api_report.html",
          "api_cryptocurrency_data_final")))
    val reportPaths = if (cfg.reports)
      Seq("cryptos_api_report.html", "cryptos_kaggle_report.html").map(r => s"${cfg.outDir}/$r")
    else Seq.empty
    Result(cleanedDf, classifiedDf, Seq(cleanedPub, classifiedPub).flatten, reportPaths)
  }
}
