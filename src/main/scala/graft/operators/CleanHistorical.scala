package graft.operators

import graft.functions.Parsers._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The historical-cleaning pipeline (reference task t2; SURVEY.md §3.2):
  * header trim → rename → drop Rank → parse/cast 9 columns → median
  * imputation ↔ IQR outlier flag, in either of the reference's two
  * orderings (§2.6 divergence — colab ordering produced the golden CSV).
  *
  * Shape: one lazy Catalyst plan with two scalar `collect()` barriers
  * (the quantile aggregates feed literal values back into the plan, the
  * same dataflow as the reference). Everything else is narrow and fuses
  * into whole-stage codegen. At 100 TB the exact `percentile` barrier is
  * the watch item — the session's [[graft.catalyst.ApproxAboveThreshold]]
  * valve, the one exact/approximate switch, rewrites both barriers to
  * `approx_percentile` (partial+final, no single fat reducer) when the
  * input is large; this code always asks for the exact aggregate.
  */
object CleanHistorical {

  sealed trait FillOrder
  /** Fill medians first, then flag outliers — golden semantics
    * (crypto_etl_colab.py:244-277; 861 outliers on the reference data). */
  case object ColabOrder extends FillOrder
  /** Flag outliers first (null price → outlier), then fill
    * (crypto_etl_pipeline.py:194-205; 2,094 outliers). */
  case object AirflowOrder extends FillOrder

  /** Post-rename numeric columns, in output order. */
  val numericCols: Seq[String] = Seq("current_price", "1h", "24h", "7d",
    "30d", "24h_volume", "circulating_supply", "total_supply", "market_cap")

  /** O3/O4: trimmed-header → engine-name map (crypto_etl_pipeline.py:145-155). */
  val renames: Map[String, String] = Map(
    "Coin Name" -> "coin", "Symbol" -> "symbol", "Price" -> "current_price",
    "24h Volume" -> "24h_volume", "Circulating Supply" -> "circulating_supply",
    "Total Supply" -> "total_supply", "Market Cap" -> "market_cap")

  /** O4 header trim + O3 rename + O2 drop(Rank) + O5–O8 parse/cast.
    * A [[graft.io.RowOrder]] stamp, when present, is carried through —
    * the multi-partition path's order contract (SURVEY §7.4.2). */
  def parse(raw: DataFrame): DataFrame = {
    val trimmed = raw.toDF(raw.columns.map(_.trim): _*)
    val renamed = renames.foldLeft(trimmed) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }.drop("Rank")
    val stamp =
      if (graft.io.RowOrder.isStamped(renamed))
        Seq(col(graft.io.RowOrder.RowIdCol))
      else Seq.empty
    renamed.select(stamp ++ Seq(
      col("coin"), col("symbol"),
      parseNumeric(col("current_price")).as("current_price"),
      parsePercent(col("1h")).as("1h"),
      parsePercent(col("24h")).as("24h"),
      parsePercent(col("7d")).as("7d"),
      parsePercent(col("30d")).as("30d"),
      parseCurrency(col("24h_volume")).as("24h_volume"),
      parseNumeric(col("circulating_supply")).as("circulating_supply"),
      parseMagnitude(col("total_supply")).as("total_supply"),
      parseCurrency(col("market_cap")).as("market_cap")): _*)
  }

  /** A2: exact linear-interpolation median per column (pandas
    * `.median()` ≡ type-7), one agg pass. */
  def medians(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val aggs = cols.map(c => percentile(col(c).cast("double"), lit(0.5)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(i) => c -> row.getDouble(i)
    }.toMap
  }

  /** A3: fill nulls with per-column values, preserving column types. */
  def fillWith(df: DataFrame, fills: Map[String, Double]): DataFrame =
    fills.foldLeft(df) { case (acc, (c, v)) =>
      val f = acc.schema(c)
      acc.withColumn(c, coalesce(col(c), lit(v).cast(f.dataType)))
    }

  /** A1 + O9: IQR bounds on `current_price` and the outlier flag.
    * `nullIsOutlier` reproduces the Airflow-ordering pandas quirk
    * (`~NaN.between(...)` → True). */
  def withOutlierFlag(df: DataFrame, nullIsOutlier: Boolean): DataFrame = {
    // Quantiles of an empty/all-null column are null in Spark and NaN in
    // pandas. NaN bounds reproduce the pandas behavior downstream:
    // `x.between(NaN, NaN)` is false for every x in both engines, so the
    // flag becomes all-true, matching `~NaN.between()` semantics.
    val r = df.agg(percentile(col("current_price"), lit(0.25)),
                   percentile(col("current_price"), lit(0.75))).head()
    val q1 = if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    val q3 = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    val iqr = q3 - q1
    val (lo, hi) = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    val flag = !col("current_price").between(lo, hi)
    df.withColumn("is_outlier",
      if (nullIsOutlier) coalesce(flag, lit(true)) else flag)
  }

  /** Full t2 pipeline over a raw (all-string) historical frame. */
  def apply(raw: DataFrame, order: FillOrder = ColabOrder): DataFrame = {
    val parsed = parse(raw)
    order match {
      case ColabOrder =>
        val filled = fillWith(parsed, medians(parsed, numericCols))
        withOutlierFlag(filled, nullIsOutlier = false)
      case AirflowOrder =>
        val flagged = withOutlierFlag(parsed, nullIsOutlier = true)
        fillWith(flagged, medians(parsed, numericCols))
    }
  }
}
