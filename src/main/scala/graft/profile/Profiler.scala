package graft.profile

import graft.operators.Materialize
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profiling model (reference A8–A13: ydata-profiling's computed
  * statistics re-expressed as Spark aggregates; SURVEY.md §2.3).
  *
  * Structure over HTML bytes: the reference ships two profiling report
  * HTMLs (cryptos_api_report.html, cryptos_kaggle_report.html,
  * crypto_etl_pipeline.py:261-287); parity means computing the same
  * statistic kinds — per-column numeric stats with quantiles and
  * histograms, string stats with top values, correlation matrix,
  * missing census, duplicate census, alerts — not the same bytes
  * (SURVEY §7.4.7).
  */
case class NumericProfile(
    name: String, dtype: String, nNonNull: Long, nMissing: Long,
    nDistinct: Long, nZeros: Long, nNegative: Long, nInfinite: Long,
    mean: Option[Double], min: Option[Double], max: Option[Double],
    std: Option[Double], skew: Option[Double], kurt: Option[Double],
    q05: Option[Double], q25: Option[Double], median: Option[Double],
    q75: Option[Double], q95: Option[Double],
    histogram: Seq[(Double, Double, Long)]) {
  def missingPct: Double =
    if (nNonNull + nMissing == 0) 0.0 else nMissing.toDouble / (nNonNull + nMissing)
  def iqr: Option[Double] = for (a <- q25; b <- q75) yield b - a
  def range: Option[Double] = for (a <- min; b <- max) yield b - a
  def cv: Option[Double] = for (s <- std; m <- mean if m != 0) yield s / m
}

case class StringProfile(
    name: String, nNonNull: Long, nMissing: Long, nDistinct: Long,
    minLen: Option[Long], maxLen: Option[Long], avgLen: Option[Double],
    topValues: Seq[(String, Long)])

case class TableProfile(
    nRows: Long, nCols: Int, nDuplicateRows: Long,
    numeric: Seq[NumericProfile], strings: Seq[StringProfile],
    correlations: Seq[(String, String, Double)], alerts: Seq[String],
    /** A10 second correlation method: Spearman rank correlation for the
      * same column pairs (ydata's correlation tab shows both). Listwise
      * semantics: rows with a null in any profiled numeric column drop
      * out (= pandas `df[cols].dropna().corr(method="spearman")`). */
    spearman: Seq[(String, String, Double)] = Seq.empty,
    /** A11 per-row missing patterns: null-flag bitstring (one char per
      * column, in [[columnNames]] order, '1' = null) → row count,
      * most frequent first. */
    columnNames: Seq[String] = Seq.empty,
    missingPatterns: Seq[(String, Long)] = Seq.empty,
    /** A12 head/tail sample rows, rendered as strings ("null" for null). */
    headRows: Seq[Seq[String]] = Seq.empty,
    tailRows: Seq[Seq[String]] = Seq.empty)

/** One-pass-per-concern profiler. Every per-column statistic is
  * computed in LONG FORM: the frame is melted to one entry per (row,
  * column) — `explode(array(struct(k, v…)))` — and aggregated by the
  * column index `k`, so each query holds one copy of its aggregates
  * whatever the column count (query planning and codegen grow with the
  * expressions in a query, not with its rows).
  *
  * The passes are independent queries, so [[Profiler.profile]] runs
  * them as concurrent branches ([[graft.operators.Materialize.branches]]);
  * a pass that needs another's result runs after it, in its branch:
  *   - pass 5, Spearman over ONE rank table for every numeric column
  *            ([[spearmanMatrix]]), its Pearson over ranks from the same
  *            [[pearson]] kernel, its severed table released after —
  *            the longest branch, so it is submitted first;
  *   - pass 1, the row count and the string columns' lengths in one
  *            small global aggregate;
  *   - pass 1, every numeric column's census (count, missing, zeros,
  *            negatives, infinities), moments (mean, min, max, std,
  *            skew, kurt) and ONE exact `percentile` buffer for all five
  *            quantiles in one `groupBy(k)`; THEN pass 2, histograms:
  *            one `groupBy(k, bin).count()` over the columns with a
  *            range (bins need pass-1 min/max — a data-dependent
  *            barrier, same shape as the reference's quantile→fill
  *            dataflow);
  *   - pass 1b, every column's exact distinct count in one aggregate of
  *            its own. Several distinct aggregates in one `agg` plan as
  *            an Expand (every row copied once per distinct column)
  *            grouped by (gid, value); beside the percentiles that
  *            would keep every exact percentile buffer once per group.
  *            Kept apart, the Expand carries only counts. The counts
  *            are report values, so they stay eligible for
  *            [[graft.catalyst.ApproxDistinctAboveThreshold]]; THEN
  *            pass 4, string top-k: every exact-path column in one
  *            long-form query ([[topKExact]]), each sketch-path column
  *            in its own ([[topKNative]]) — the valve reads pass 1b's
  *            counts;
  *   - pass 3, duplicate rows and missing patterns from ONE
  *            `groupBy(all columns)`, regrouped by its null-flag pattern;
  *   - pass 3c, the head and tail samples;
  *   - the Pearson matrix from [[pearson]].
  *
  * Exact vs approximate is decided by input size alone, never by the
  * caller: the session's [[graft.catalyst.ApproxAboveThreshold]] valve
  * rewrites pass 1's exact percentile to a mergeable sketch per column
  * above its byte threshold, and [[TopkSketchThresholdKey]] sends
  * high-cardinality string columns to the heavy-hitter sketch.
  * Histograms stay one scan regardless.
  */
object Profiler {

  val DefaultBins = 10
  val DefaultTopK = 10
  /** q05, q25, median, q75, q95: one `percentile` buffer per column. */
  private val Quantiles = Seq(0.05, 0.25, 0.5, 0.75, 0.95)

  /** Valve for the string top-k path: a column whose exact distinct
    * count (pass 1) exceeds this many values takes the heavy-hitter
    * sketch path instead of the exact full groupBy. −1 = never sketch.
    * Same pattern as the percentile valve
    * ([[graft.catalyst.ApproxAboveThreshold]]): small/parity workloads
    * keep exactness, 100 TB keeps liveness, no caller changes. */
  val TopkSketchThresholdKey = "spark.graft.profile.topkSketchThresholdDistinct"
  val DefaultTopkSketchThreshold = 100000L

  /** Observables for the valve and native-path specs (the ArtifactStore
    * `trainRuns` pattern): sketch-path top-k executions this JVM, and
    * how many of those failed self-certification and recounted. */
  val nativeTopKRuns = new java.util.concurrent.atomic.AtomicLong
  val nativeRecountRuns = new java.util.concurrent.atomic.AtomicLong

  /** Exact top-k of every column in `cols` in ONE query: the columns
    * melt to `(k, s)` entries, one `groupBy(k, s).count()` counts every
    * value (map-side partials: one shuffle row per distinct value per
    * partition), and `row_number()` over `partitionBy(k)`, ordered by
    * count descending then value ascending, keeps each column's first
    * `topK`. The right path while distinct counts are bounded (the
    * valve caps a column here at [[DefaultTopkSketchThreshold]]
    * distinct values, so each `k` partition stays bounded); the scale
    * problem is the shuffle growing with column cardinality, not k. */
  def topKExact(df: DataFrame, cols: Seq[String], topK: Int): Map[String, Seq[(String, Long)]] = {
    if (cols.isEmpty) return Map.empty
    val order = Window.partitionBy("k").orderBy(desc("count"), asc("s"))
    val ranked = melt(df, cols.map(c => Seq(col(c).as("s"))))
      .filter(col("s").isNotNull).groupBy("k", "s").count()
      .withColumn("rank", row_number().over(order)).filter(col("rank") <= topK)
      .collect().groupBy(_.getInt(0))
    cols.zipWithIndex.map { case (c, k) =>
      c -> ranked.getOrElse(k, Array.empty[Row]).sortBy(_.getInt(3)).toSeq
        .map(r => (r.getString(1), r.getLong(2)))
    }.toMap
  }

  /** Heavy-hitter top-k for HIGH-cardinality columns — the sketch side
    * of the valve. ONE ObjectHashAggregate pass with the
    * [[graft.catalyst.SpaceSavingTopK]] `TypedImperativeAggregate` —
    * per-partition Space-Saving summaries (Metwally et al. 2005,
    * ≤ capacity entries each) merged by the aggregation itself. The
    * result carries its own exactness certificate (floor == 0 ⟹ every
    * distinct value was tracked with an exact count — see the
    * expression's scaladoc); only when the certificate FAILS does a
    * second, candidate-restricted exact recount run. Either way the
    * reported counts are exact and approximation risk lives only in
    * candidate selection; a column with no repeated values yields k
    * count-1 values whose pure-lexicographic selection no frequency
    * sketch can (or should) reproduce. Shuffle cost: capacity rows per
    * partition, independent of column cardinality. */
  def topKNative(df: DataFrame, c: String, topK: Int): Seq[(String, Long)] = {
    nativeTopKRuns.incrementAndGet()
    val spark = df.sparkSession
    import spark.implicits._
    val cap = math.max(topK * 20, 256)
    // ask for all `cap` tracked entries: the tail beyond topK is the
    // recount candidate set if certification fails, and the collect is
    // ≤ cap rows either way
    val row = df.filter(col(c).isNotNull)
      .agg(graft.catalyst.native.spaceSavingTopK(col(c), cap, cap).as("ss"))
      .select(col("ss.floor"), col("ss.top")).collect()(0)
    val entries = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1)))
    if (row.getLong(0) == 0L) entries.take(topK)
    else {
      nativeRecountRuns.incrementAndGet()
      val cand = entries.map(_._1).toDF(c)
      df.filter(col(c).isNotNull)
        .join(broadcast(cand), Seq(c), "left_semi")
        .groupBy(c).count()
        .orderBy(desc("count"), asc(c)).limit(topK).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }
  }

  /** `df` melted to long form: one row per (row, entry), holding the
    * entry's index `k` and its fields. */
  private def melt(df: DataFrame, entries: Seq[Seq[Column]]): DataFrame =
    df.select(explode(array(entries.zipWithIndex.map { case (fs, k) =>
      struct(lit(k).as("k") +: fs: _*)
    }: _*)).as("m")).select("m.*")

  /** One aggregate row per entry index `k` of a long-form query. */
  private def byK(rows: Array[Row]): Map[Int, Row] =
    rows.map(r => r.getInt(0) -> r).toMap

  /** Field `i` of an aggregate row; None when the row is absent (no
    * entry had its `k`) or the field is null. */
  private def opt[T](r: Option[Row], i: Int): Option[T] =
    r.filterNot(_.isNullAt(i)).map(_.getAs[T](i))

  /** Every pair (a, b) of `xs`, a before b. */
  private def pairsOf[T](xs: Seq[T]): Seq[(T, T)] =
    for { (a, i) <- xs.zipWithIndex; b <- xs.drop(i + 1) } yield (a, b)

  /** The Pearson kernel: `corr` of every pair of `cols` (in [[pairsOf]]
    * order) in ONE aggregate. Each row melts to one `(pair, x, y)` entry
    * per pair, and `corr(x, y)` is aggregated by pair, so every row
    * updates each pair's `corr` once, as a wide aggregate of one `corr`
    * per pair would. None where `corr` is null (fewer than two rows
    * with both values). Pass 1's Pearson matrix and Spearman's Pearson
    * over ranks both run it. */
  private def pearson(df: DataFrame, cols: Seq[Column]): Seq[Option[Double]] = {
    val pairs = pairsOf(cols)
    if (pairs.isEmpty) return Seq.empty
    val r = byK(melt(df, pairs.map { case (a, b) =>
      Seq(a.cast("double").as("x"), b.cast("double").as("y"))
    }).groupBy("k").agg(corr("x", "y")).collect())
    pairs.indices.map(k => opt[Double](r.get(k), 1))
  }

  /** Spearman rank-correlation matrix (the profiling suite's second
    * correlation method, SURVEY A10): every column's average ranks in
    * ONE rank table ([[graft.operators.RankStats.rankTable]] — grouped
    * CDF, no global row window). Each row is melted once to one entry
    * per column, all entries are ranked by one join with that table,
    * regrouped by a row id, and the [[pearson]] kernel runs over the
    * rank columns. Cost: the rank table's shared barriers (one sever,
    * one sketch, one totals query, one window) + one join, one regroup
    * and the kernel, whatever the column count; the join's table is
    * bounded by the columns' cardinality. The severed distinct table is
    * released once the matrix is computed. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): Seq[(String, String, Double)] = {
    if (cols.size < 2) return Seq.empty
    // Listwise semantics for real: rank AFTER dropping rows with a null
    // in any profiled column (= pandas df[cols].dropna().corr("spearman")).
    // Ranking the full per-column population first would hand tie-averaged
    // ranks to rows that later drop out, skewing the surviving ranks when
    // nulls are staggered across columns.
    val base = df.select(cols.map(col): _*).na.drop(cols)
    val ranks = graft.operators.RankStats.rankTable(base, cols)
    try {
      val rankCols = cols.indices.map(i => max(when(col("k") === i, col("r"))).as(s"r$i"))
      val rowRanks = ranks.rank(ranks.melted(
          base.withColumn("row!", monotonically_increasing_id()), "row!"))
        .groupBy("row!").agg(rankCols.head, rankCols.tail: _*)
      pairsOf(cols).zip(pearson(rowRanks, cols.indices.map(i => col(s"r$i"))))
        .map { case ((a, b), r) => (a, b, r.getOrElse(Double.NaN)) }
    } finally ranks.release()
  }

  def isNumeric(f: StructField): Boolean = f.dataType match {
    case _: NumericType => true
    case _ => false
  }

  def profile(df: DataFrame, bins: Int = DefaultBins, topK: Int = DefaultTopK,
              withSpearman: Boolean = true): TableProfile = {
    val numCols = df.schema.fields.filter(isNumeric).map(_.name).toSeq
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    // Each pass is a lazy val; the branches at the end force them
    // concurrently, and a pass reading another's result (the histograms,
    // the top-k) is forced in the same branch, after it.

    // ---- pass 1: row count and string lengths, one small aggregate --
    val strAggs = strCols.flatMap { c =>
      Seq(
        count(col(c)),
        sum(col(c).isNull.cast("long")),
        min(length(col(c)).cast("long")),
        max(length(col(c)).cast("long")),
        avg(length(col(c))))
    }
    lazy val head = df.agg(count(lit(1)), strAggs: _*).head()

    // ---- pass 1: numeric statistics in long form ---------------------
    // one row per column index k: k, then the NumericProfile fields in
    // order (nDistinct and the histogram come from passes 1b and 2)
    lazy val stats =
      if (numCols.isEmpty) Map.empty[Int, Row]
      else {
        val v = col("v")
        byK(melt(df, numCols.map(c => Seq(col(c).cast("double").as("v"))))
          .groupBy("k").agg(
            count(v),
            sum(v.isNull.cast("long")),
            sum((v === 0.0).cast("long")),
            sum((v < 0.0).cast("long")),
            sum((isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity)
              .cast("long")),
            avg(v), min(v), max(v),
            // Fisher-adjusted G1/G2 (pandas/ydata parity), not population g1/g2
            stddev_samp(v),
            graft.functions.Moments.skewG1(v),
            graft.functions.Moments.kurtG2(v),
            percentile(v, typedLit(Quantiles)).as("q"))
          .collect())
      }
    lazy val numStats = numCols.zipWithIndex.map { case (c, k) =>
      val r = stats.get(k)
      def n(i: Int): Long = opt[Long](r, i).getOrElse(0L)
      def d(i: Int): Option[Double] = opt[Double](r, i)
      val Seq(q05, q25, q50, q75, q95) = opt[collection.Seq[Double]](r, 12)
        .fold(Quantiles.map(_ => Option.empty[Double]))(_.map(Some(_)).toSeq)
      NumericProfile(c, df.schema(c).dataType.simpleString,
        n(1), n(2), 0L, n(3), n(4), n(5),
        d(6), d(7), d(8), d(9), d(10), d(11),
        q05, q25, q50, q75, q95, Seq.empty)
    }

    // ---- pass 1b: all distinct counts in their own aggregate ---------
    lazy val distRow = {
      val distAggs = (numCols ++ strCols).map(c => countDistinct(col(c)).as(c))
      if (distAggs.nonEmpty) Some(df.agg(distAggs.head, distAggs.tail: _*).head())
      else None
    }
    def dist(c: String): Long = distRow.fold(0L)(_.getAs[Long](c))

    // ---- pass 2: all histograms in one long-form count ---------------
    lazy val ranged = numStats.flatMap { p =>
      (p.min, p.max) match {
        case (Some(lo), Some(hi)) if hi > lo => Some((p.name, lo, (hi - lo) / bins))
        case _ => None
      }
    }
    lazy val binCounts: Map[(String, Long), Long] =
      if (ranged.isEmpty) Map.empty
      else melt(df, ranged.map { case (c, lo, width) =>
          // least() skips a null: without the guard a null value would
          // land in the last bin
          Seq(when(col(c).isNotNull,
            least(floor((col(c).cast("double") - lo) / width), lit(bins - 1))).as("bin"))
        }).filter(col("bin").isNotNull).groupBy("k", "bin").count().collect()
        .map(r => (ranged(r.getInt(0))._1, r.getLong(1)) -> r.getLong(2)).toMap
    lazy val hist = ranged.map { case (c, lo, width) =>
      c -> (0 until bins).map { b =>
        (lo + b * width, lo + (b + 1) * width, binCounts.getOrElse((c, b.toLong), 0L))
      }
    }.toMap

    // ---- pass 3: duplicate rows and A11 missing patterns -------------
    // one groupBy over all columns (one group per distinct row),
    // regrouped by its null-flag bitstring: per pattern, the distinct
    // rows and the rows. Σ distinct rows gives the duplicate count; the
    // patterns are the reference report's missing-matrix condensed to
    // its distinct rows, most frequent first. The collect is the
    // pattern table, ≤ 2^nCols rows (in practice a handful).
    lazy val dupsAndPatterns = {
      val flags = df.columns.toSeq.map(c => col(c).isNull.cast("int").cast("string"))
      val patterns = df.groupBy(df.columns.toSeq.map(col): _*).agg(count(lit(1)).as("rows!"))
        .groupBy(concat(flags: _*)).agg(count(lit(1)), sum("rows!")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      (patterns.map(_._3).sum - patterns.map(_._2).sum,
        patterns.sortBy { case (p, _, n) => (-n, p) }.take(topK)
          .map { case (p, _, n) => (p, n) }.toSeq)
    }

    // ---- pass 3c: A12 head/tail sample -------------------------------
    // limit() reads only leading partitions; tail() only trailing ones —
    // both bounded actions at any scale
    val sampleN = 5
    def fmtRows(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
      rows.toSeq.map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "null" else r.get(i).toString))
    lazy val samples = (fmtRows(df.limit(sampleN).collect()), fmtRows(df.tail(sampleN)))

    // ---- pass 4: string top-k (valve-selected path) ------------------
    // Same discipline as the percentile valve (ApproxAboveThreshold):
    // exact below the threshold, sketch above — keyed here on the exact
    // per-column distinct count pass 1b already computed, so the valve
    // decision is free.
    lazy val tops = {
      val topkThresh = df.sparkSession.conf
        .getOption(TopkSketchThresholdKey).map(_.toLong)
        .getOrElse(DefaultTopkSketchThreshold)
      val (sketched, exact) = strCols.partition(c => topkThresh >= 0 && dist(c) > topkThresh)
      topKExact(df, exact, topK) ++ sketched.map(c => c -> topKNative(df, c, topK))
    }

    lazy val correlations = pairsOf(numCols).zip(pearson(df, numCols.map(col)))
      .flatMap { case ((a, b), r) => r.map(x => (a, b, x)) }

    // ---- pass 5: Spearman matrix (A10's second method) ---------------
    lazy val spearman =
      if (withSpearman) spearmanMatrix(df, numCols) else Seq.empty

    Materialize.branches(df.sparkSession, Seq[() => Any](
      () => spearman, () => head, () => hist, () => tops,
      () => dupsAndPatterns, () => samples, () => correlations))

    val nRows = head.getLong(0)
    val numeric = numStats.map(p =>
      p.copy(nDistinct = dist(p.name), histogram = hist.getOrElse(p.name, Seq.empty)))
    val strings = strCols.zipWithIndex.map { case (c, j) =>
      val i = 1 + 5 * j
      def h[T](o: Int): Option[T] = opt[T](Some(head), i + o)
      StringProfile(c, h[Long](0).getOrElse(0L), h[Long](1).getOrElse(0L), dist(c),
        h[Long](2), h[Long](3), h[Double](4), tops(c))
    }
    val (nDup, missingPatterns) = dupsAndPatterns
    val (headRows, tailRows) = samples
    TableProfile(nRows, df.columns.length, nDup, numeric, strings,
      correlations, alerts(nRows, numeric, strings, correlations),
      spearman, df.columns.toSeq, missingPatterns, headRows, tailRows)
  }

  /** A13: thresholded alert rules over the computed stats — the same
    * alert kinds the reference reports surface. */
  def alerts(nRows: Long, numeric: Seq[NumericProfile],
             strings: Seq[StringProfile],
             correlations: Seq[(String, String, Double)]): Seq[String] = {
    val a = Seq.newBuilder[String]
    correlations.filter { case (_, _, r) => math.abs(r) > 0.9 }
      .foreach { case (x, y, r) => a += f"HIGH_CORRELATION: $x ~ $y (r=$r%.3f)" }
    numeric.foreach { p =>
      if (p.missingPct > 0.05) a += f"MISSING: ${p.name} (${p.missingPct * 100}%.1f%% missing)"
      if (p.nDistinct == 1 && p.nNonNull > 0) a += s"CONSTANT: ${p.name}"
      if (p.nNonNull > 0 && p.nZeros.toDouble / p.nNonNull > 0.1)
        a += f"ZEROS: ${p.name} (${p.nZeros} zeros)"
      if (p.skew.exists(s => math.abs(s) > 20)) a += s"SKEWED: ${p.name}"
    }
    strings.foreach { p =>
      if (p.nDistinct == p.nNonNull && p.nNonNull > 0) a += s"UNIQUE: ${p.name}"
      if (p.nDistinct == 1 && p.nNonNull > 0) a += s"CONSTANT: ${p.name}"
      if (p.topValues.headOption.exists(_._2.toDouble / math.max(p.nNonNull, 1) > 0.9))
        a += s"IMBALANCE: ${p.name}"
    }
    a.result()
  }
}
