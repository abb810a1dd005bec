package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-based statistics: Spearman correlation for the profiling suite
  * (SURVEY A10 — ydata-profiling computes Pearson AND Spearman; q13
  * covers Pearson, this covers Spearman).
  *
  * Spearman = Pearson over average-ranks. Ranks are NOT computed with a
  * global row window (which would funnel every row through one
  * partition): the rank of value v is derived from the grouped CDF —
  * count per distinct value, cumulative sum over the distinct-value
  * table, average tie rank `cum - (n-1)/2` — joined back to rows by
  * value. The cumulative sum itself is a DISTRIBUTED two-level prefix
  * sum: no step is single-partition, so the rank table scales with
  * executors even when the column is near-unique (l_extendedprice:
  * ~N distinct values).
  *
  * The two-level prefix sum:
  *   1. split the value domain into `Buckets` order-preserving ranges
  *      (cut points from one `approxQuantile` sketch — boundaries only
  *      partition the work, they never affect the prefix sum's
  *      exactness, so the sketch is run at loose 1% accuracy);
  *   2. per-bucket running sum via a window PARTITIONED by bucket
  *      (each partition holds ~distinct/Buckets values — bounded);
  *   3. cross-bucket offsets = exclusive prefix over per-bucket row
  *      totals — `Buckets` numbers, computed on the driver (a
  *      documented scalar barrier, like the quantile barriers in
  *      CleanHistorical) and folded back in as a when-ladder of
  *      literals, so the hot path stays in whole-stage codegen.
  *
  * For several columns ([[rankTables]]) the barriers are shared: one
  * severed distinct-value table for all columns, one multi-column
  * sketch for every column's cut points, one query for every
  * (column, bucket) total. Only step 2 runs per column, as a small
  * bucket-partitioned window over that column's slice — so Spearman
  * over a wide frame costs the same number of barrier jobs as over a
  * two-column one.
  */
object RankStats {

  val Buckets = 32

  /** Order-preserving bucket id: #cuts strictly below v. Monotone in v,
    * ties share a bucket; null → bucket 0 (sorts first, as in a global
    * orderBy). Codegen'd indicator sum — no join, no udf. Shared with
    * [[Packing]]'s token-offset prefix sum. */
  private[operators] def bucketOf(v: Column, cuts: Array[Double]): Column =
    cuts.map(cut => when(v > lit(cut), 1).otherwise(0))
      .foldLeft(lit(0): Column)(_ + _)

  /** (value, avg_rank) tables for several columns. The prefix-sum
    * barriers are SHARED: their count does not grow with the columns.
    *   - ONE sever: every column melts into one distinct-value relation
    *     `dist(k, v0…, n)` (k = column index) — one scan of the base
    *     table for all columns. The melt keeps each column's own type:
    *     it holds one value slot per distinct data type and a column's
    *     values sit in its type's slot (a shared double slot would
    *     merge distinct longs above 2^53);
    *   - ONE sketch: every column's cut points from one multi-column
    *     `approxQuantile` over the `when(k === i, v)` slices;
    *   - ONE totals query: all per-(column, bucket) row totals in one
    *     `groupBy(k, b)`;
    *   - per column, a small bucket-partitioned window over its own
    *     slice `dist.filter(k === i)`, the exclusive offsets folded in
    *     as a when-ladder of literals.
    * All barriers read the severed table, whose size is the columns'
    * cardinality — not the base row count. Exactness is unchanged:
    * cut points only PARTITION the prefix-sum work (for any monotone
    * bucketing the exclusive offsets reproduce the global cumulative
    * sum exactly), and the totals are exact long sums of `n`. Ties get
    * the average rank of their run, matching
    * `pandas.rank(method="average")` — the Spearman convention. */
  def rankTables(df: DataFrame, cols: Seq[String]): Map[String, DataFrame] = {
    if (cols.isEmpty) return Map.empty
    val types = cols.map(c => df.schema(c).dataType).distinct
    val slotNames = types.indices.map(j => s"v$j")
    def slot(c: String): String = slotNames(types.indexOf(df.schema(c).dataType))
    val melted = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("k") +: slotNames.zip(types).map { case (s, t) =>
        (if (s == slot(c)) col(c) else lit(null).cast(t)).as(s)
      }: _*)
    }
    val dist = Materialize.sever(
      df.select(explode(array(melted: _*)).as("m")).select("m.*")
        .groupBy("k", slotNames: _*).agg(count(lit(1)).as("n")))
    val probs = (1 until Buckets).map(_.toDouble / Buckets).toArray
    val sliced = dist.select(cols.zipWithIndex.map { case (c, i) =>
      when(col("k") === i, col(slot(c))).as(s"s$i")
    }: _*)
    val cuts = sliced.stat.approxQuantile(sliced.columns, probs, 0.01).map(_.distinct.sorted)
    val bucket = cols.zipWithIndex.foldLeft(lit(0): Column) { case (acc, (c, i)) =>
      when(col("k") === i, bucketOf(col(slot(c)), cuts(i))).otherwise(acc)
    }
    val totals = dist.groupBy(col("k"), bucket.as("b")).agg(sum("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val wIn = Window.partitionBy("b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.zipWithIndex.map { case (c, i) =>
      // exclusive prefix over the column's per-bucket row totals
      val buckets = 0 to cuts(i).length
      val offsets = buckets.scanLeft(0L)((acc, b) => acc + totals.getOrElse((i, b), 0L))
      val offsetCol = buckets.foldLeft(lit(0L): Column) { (acc, b) =>
        when(col("b") === b, lit(offsets(b))).otherwise(acc)
      }
      c -> dist.filter(col("k") === i).select(col(slot(c)).as("v"), col("n"))
        .withColumn("b", bucketOf(col("v"), cuts(i)))
        .withColumn("cum", sum("n").over(wIn) + offsetCol)
        .select(col("v"), (col("cum") - (col("n") - lit(1)) / 2.0).as("r"))
    }.toMap
  }

  /** (value, avg_rank) table for one numeric column via the grouped
    * CDF. */
  def avgRanks(df: DataFrame, c: String): DataFrame =
    rankTables(df, Seq(c))(c)

  /** q38: Spearman rank correlation of quantity vs extended price.
    * Exercises both rank-join regimes: l_quantity's 50-value rank table
    * broadcasts; l_extendedprice's ~N-value table shuffle-joins. Both
    * columns' prefix-sum barriers run once, on their shared severed
    * distinct-value relation ([[rankTables]]). */
  def q38Spearman(lineitem: DataFrame): DataFrame = {
    val tabs = rankTables(lineitem, Seq("l_quantity", "l_extendedprice"))
    val rq = tabs("l_quantity")
      .withColumnsRenamed(Map("v" -> "qv", "r" -> "qr"))
    val rp = tabs("l_extendedprice")
      .withColumnsRenamed(Map("v" -> "pv", "r" -> "pr"))
    lineitem
      .join(broadcast(rq), col("l_quantity") === col("qv"))
      .join(rp, col("l_extendedprice") === col("pv"))
      .agg(count(lit(1)).as("n"),
           round(corr(col("qr"), col("pr")), 6).as("spearman_qty_price"))
  }

  def q38Sql: String =
    """WITH rq AS (SELECT l_quantity AS v, count(*) AS n FROM lineitem GROUP BY 1),
      |rq2 AS (SELECT v, sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND CURRENT ROW) - (n - 1) / 2.0 AS r FROM rq),
      |rp AS (SELECT l_extendedprice AS v, count(*) AS n FROM lineitem GROUP BY 1),
      |rp2 AS (SELECT v, sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND CURRENT ROW) - (n - 1) / 2.0 AS r FROM rp)
      |SELECT count(*) AS n, round(corr(q.r, p.r), 6) AS spearman_qty_price
      |FROM lineitem l
      |JOIN rq2 q ON l.l_quantity = q.v
      |JOIN rp2 p ON l.l_extendedprice = p.v""".stripMargin
}
