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
  *      totals — `Buckets` numbers per column, computed on the driver
  *      (a documented scalar barrier, like the quantile barriers in
  *      CleanHistorical) and folded back in as a literal array indexed
  *      by (column, bucket), so the hot path stays in whole-stage
  *      codegen.
  *
  * Several columns share ONE rank table ([[rankTable]]): one severed
  * distinct-value table for all columns, one multi-column sketch for
  * every column's cut points, one query for every (column, bucket)
  * total, and one window partitioned by (column, bucket) — so Spearman
  * over a wide frame costs the same number of barrier jobs as over a
  * two-column one. Its owner releases the severed table when done
  * ([[Ranks.release]]) rather than leaving its blocks to Spark's context
  * cleaner.
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

  /** Several columns' average ranks in ONE table, `(k, v0…, r)`: one
    * row per (column index k, distinct value). The melt keeps each
    * column's own type: the table holds one value slot per distinct
    * data type, and a column's values sit in its type's slot (a shared
    * double slot would merge distinct longs above 2^53); the other
    * slots are null. Built by [[rankTable]]; [[of]] is one column's
    * `(v, r)` view, [[rank]] ranks melted rows with one join, and
    * [[release]] frees the severed distinct table it reads. */
  final class Ranks private[RankStats] (
      table: DataFrame, cols: Seq[String], slots: Seq[String],
      slotOf: Map[String, String], melt: Column, dist: DataFrame) {

    /** `rows` plus `keep` melted to one `(keep…, k, v0…)` row per
      * (row, column) — the shape [[rank]] joins on. */
    def melted(rows: DataFrame, keep: String*): DataFrame =
      rows.select(keep.map(col) :+ melt.as("m"): _*).select(keep.map(col) :+ col("m.*"): _*)

    /** Melted rows with their rank `r`: one join with the table on
      * (k, value slots), null-safe — a row's unused slots are null on
      * both sides. The slots are dropped. */
    def rank(melted: DataFrame): DataFrame = {
      val t = table.select(col("k").as("k!") +: slots.map(s => col(s).as(s"$s!")) :+ col("r"): _*)
      val on = slots.foldLeft(col("k") === col("k!"))((c, s) => c && (col(s) <=> col(s"$s!")))
      melted.join(t, on).drop(("k!" +: slots.flatMap(s => Seq(s, s"$s!"))): _*)
    }

    /** One column's (value, avg_rank) view of the table. */
    def of(c: String): DataFrame = table.filter(col("k") === cols.indexOf(c))
      .select(col(slotOf(c)).as("v"), col("r"))

    /** Drop the severed distinct table's cached blocks. The table and
      * its views cannot run afterwards. */
    def release(): Unit = Materialize.release(dist)
  }

  /** The rank table of several columns. Every prefix-sum barrier is
    * SHARED, so their count does not grow with the columns:
    *   - ONE sever: every column melts into one distinct-value relation
    *     `dist(k, v0…, n)` — one scan of the base table for all columns;
    *   - ONE sketch: every column's cut points from one multi-column
    *     `approxQuantile` over the `when(k === i, v)` slices;
    *   - ONE totals query: all per-(column, bucket) row totals in one
    *     `groupBy(k, b)`; their exclusive prefixes per column are the
    *     offsets, folded in as a literal `[k][b]` array;
    *   - ONE window, partitioned by `(k, b)` and ordered by the value
    *     slots (within a column only its own slot varies), adds the
    *     offset to the running count.
    * All barriers read the severed table, whose size is the columns'
    * cardinality — not the base row count. Exactness is unchanged:
    * cut points only PARTITION the prefix-sum work (for any monotone
    * bucketing the exclusive offsets reproduce the global cumulative
    * sum exactly), and the totals are exact long sums of `n`. Ties get
    * the average rank of their run, matching
    * `pandas.rank(method="average")` — the Spearman convention. */
  def rankTable(df: DataFrame, cols: Seq[String]): Ranks = {
    require(cols.nonEmpty, "rankTable needs a column")
    val types = cols.map(c => df.schema(c).dataType).distinct
    val slots = types.indices.map(j => s"v$j")
    val slotOf = cols.map(c => c -> slots(types.indexOf(df.schema(c).dataType))).toMap
    val melt = explode(array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("k") +: slots.zip(types).map { case (s, t) =>
        (if (s == slotOf(c)) col(c) else lit(null).cast(t)).as(s)
      }: _*)
    }: _*))
    // a plain checkpoint: the table is only aggregated and windowed,
    // never joined, so a broadcast hint would never apply
    val dist = df.select(melt.as("m")).select("m.*")
      .groupBy("k", slots: _*).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val probs = (1 until Buckets).map(_.toDouble / Buckets).toArray
    val sliced = dist.select(cols.zipWithIndex.map { case (c, i) =>
      when(col("k") === i, col(slotOf(c))).as(s"s$i")
    }: _*)
    val cuts = sliced.stat.approxQuantile(sliced.columns, probs, 0.01).map(_.distinct.sorted)
    val bucket = cols.zipWithIndex.foldLeft(lit(0): Column) { case (acc, (c, i)) =>
      when(col("k") === i, bucketOf(col(slotOf(c)), cuts(i))).otherwise(acc)
    }
    val totals = dist.groupBy(col("k"), bucket.as("b")).agg(sum("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // exclusive prefix over each column's per-bucket row totals
    val offsets: Seq[Seq[Long]] = cols.indices.map { i =>
      (0 to cuts(i).length).scanLeft(0L)((acc, b) => acc + totals.getOrElse((i, b), 0L))
    }
    val w = Window.partitionBy("k", "b").orderBy(slots.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val table = dist.withColumn("b", bucket)
      .withColumn("cum", sum("n").over(w) + typedLit(offsets).getItem(col("k")).getItem(col("b")))
      .select(col("k") +: slots.map(col) :+
        (col("cum") - (col("n") - lit(1)) / 2.0).as("r"): _*)
    new Ranks(table, cols, slots, slotOf, melt, dist)
  }

  /** (value, avg_rank) tables for several columns: views over their one
    * [[rankTable]]. */
  def rankTables(df: DataFrame, cols: Seq[String]): Map[String, DataFrame] =
    if (cols.isEmpty) Map.empty
    else { val t = rankTable(df, cols); cols.map(c => c -> t.of(c)).toMap }

  /** (value, avg_rank) table for one numeric column via the grouped
    * CDF. */
  def avgRanks(df: DataFrame, c: String): DataFrame =
    rankTables(df, Seq(c))(c)

  /** q38: Spearman rank correlation of quantity vs extended price.
    * Exercises both rank-join regimes: l_quantity's 50-value rank table
    * broadcasts; l_extendedprice's ~N-value table shuffle-joins. Both
    * columns' ranks are views over their one [[rankTable]]. */
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
