package graft.profile

import graft.TestSpark
import graft.catalyst.ApproxAboveThreshold
import graft.io.{CryptoCsv, Tables}
import graft.operators.CleanHistorical
import org.scalatest.funsuite.AnyFunSuite

/** Profiler parity: computed statistics against values known from the
  * reference data (SURVEY.md §2.7 quirk census + §2.2 A2 fill values)
  * and structural invariants on the synthetic tables. */
class ProfilerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val cleaned = CleanHistorical(
    CryptoCsv.readRaw(spark, "/root/reference/CryptocurrencyData.csv"))
  private lazy val prof = Profiler.profile(cleaned)

  test("overview matches the reference dataset") {
    assert(prof.nRows === 4150)
    assert(prof.nCols === 12)
    assert(prof.nDuplicateRows === 0) // reference A7 result (C259)
    assert(prof.numeric.map(_.name).contains("current_price"))
    assert(prof.strings.map(_.name) === Seq("coin", "symbol"))
  }

  test("current_price stats reproduce the golden fill/quartile values") {
    val p = prof.numeric.find(_.name === "current_price").get
    assert(p.nMissing === 0) // post-fill
    // golden median = the imputed constant 0.11 (SURVEY §2.2 A2)
    assert(math.abs(p.median.get - 0.11) < 1e-9)
    assert(math.abs(p.q25.get - 0.07) < 1e-9)
    assert(math.abs(p.q75.get - 0.16) < 1e-9)
    assert(p.histogram.map(_._3).sum === 4150)
  }

  test("histogram bins partition [min, max] with no loss") {
    prof.numeric.filter(_.histogram.nonEmpty).foreach { p =>
      assert(p.histogram.map(_._3).sum === p.nNonNull,
        s"${p.name}: histogram loses rows")
      val (lo0, _, _) = p.histogram.head
      val (_, hiN, _) = p.histogram.last
      assert(math.abs(lo0 - p.min.get) < 1e-9)
      assert(math.abs(hiN - p.max.get) < 1e-6 * math.max(1, math.abs(p.max.get)))
    }
  }

  test("alerts fire on the expected reference quirks") {
    // 41.6% of prices are the imputed 0.11 → no missing alert, but the
    // 1h column (filled with 0.0) has >10% zeros
    assert(prof.alerts.exists(_.startsWith("ZEROS: 1h")), prof.alerts)
  }

  test("string profile: coin is (near-)unique, lengths sane") {
    val c = prof.strings.find(_.name === "coin").get
    assert(c.nDistinct > 4000)
    assert(c.minLen.get >= 1 && c.maxLen.get <= 60)
    assert(c.topValues.nonEmpty)
  }

  test("synthetic lineitem profile: correlations + approx mode agree") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_quantity", "l_extendedprice", "l_discount")
    val (exact, exactPlans) = TestSpark.withOptimizedPlans(spark)(Profiler.profile(li))
    assert(!exactPlans.exists(_.contains("percentile_approx")),
      "below the valve threshold the quantiles stay exact")
    // approximate mode is the size valve's call alone: force it
    spark.conf.set(ApproxAboveThreshold.ThresholdKey, "0")
    val (approx, approxPlans) =
      try TestSpark.withOptimizedPlans(spark)(Profiler.profile(li))
      finally spark.conf.unset(ApproxAboveThreshold.ThresholdKey)
    assert(approxPlans.exists(_.contains("percentile_approx")),
      "the forced valve must rewrite the profiler's percentiles")
    val exactPct = """(^|[^_a-z])percentile\(""".r
    approxPlans.foreach(p => assert(exactPct.findFirstIn(p).isEmpty,
      "above the valve threshold no profile query may keep an exact percentile:\n" + p))
    // the sketch's quantiles still come back as doubles
    approx.numeric.foreach { n =>
      val qs = Seq(n.q05, n.q25, n.median, n.q75, n.q95)
      assert(qs.forall(_.exists(q => !q.isNaN)), s"${n.name}: $qs")
    }
    val e = exact.numeric.find(_.name === "l_quantity").get
    val a = approx.numeric.find(_.name === "l_quantity").get
    assert(math.abs(e.median.get - a.median.get) <= 1.0) // quantities 1..50
    assert(exact.correlations.size === 3)
    exact.correlations.foreach { case (_, _, r) => assert(math.abs(r) <= 1.0) }
  }

  test("Fisher-adjusted skew/kurt match pandas on the reference API fixture") {
    // pandas Series.skew()/kurt() on api_cryptocurrency_data_final.csv
    // (the stats ydata-profiling reports — bias-adjusted G1/G2, which
    // Spark's population skewness/kurtosis builtins do NOT match)
    val expected = Map(
      "current_price" -> (4.7371596, 20.956637),
      "price_change_percentage_24h" -> (3.3373305, 17.519117),
      "market_cap" -> (9.1777448, 87.896299),
      "total_volume" -> (6.8815005, 50.921324),
      "high_24h" -> (4.7368287, 20.954537),
      "low_24h" -> (4.7367661, 20.954111))
    val api = Profiler.profile(CryptoCsv.readApiFixture(
      spark, "/root/reference/api_cryptocurrency_data_final.csv"))
    expected.foreach { case (name, (skew, kurt)) =>
      val p = api.numeric.find(_.name === name).get
      assert(math.abs(p.skew.get - skew) < 1e-6, s"$name skew ${p.skew.get} != $skew")
      assert(math.abs(p.kurt.get - kurt) < 1e-5, s"$name kurt ${p.kurt.get} != $kurt")
    }
    // undefined-sample guard mirrors pandas: n=3 has skew but no kurt
    import spark.implicits._
    val tiny = Profiler.profile(Seq(1.0, 2.0, 4.0).toDF("x"))
    val t = tiny.numeric.head
    assert(t.skew.isDefined && t.kurt.isEmpty)
  }

  test("spearman matrix agrees with the q38 operator and bounds") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val m = Profiler.spearmanMatrix(li, Seq("l_quantity", "l_extendedprice", "l_discount"))
    assert(m.size === 3)
    m.foreach { case (_, _, r) => assert(math.abs(r) <= 1.0 + 1e-12) }
    val viaQ38 = graft.operators.RankStats
      .q38Spearman(li).head().getDouble(1)
    val qp = m.find(p => p._1 == "l_quantity" && p._2 == "l_extendedprice").get._3
    assert(math.abs(qp - viaQ38) < 1e-6, s"profiler $qp vs q38 $viaQ38")
  }

  test("full Spearman matrix matches pandas on the reference API fixture") {
    // pandas: df[numeric].corr(method='spearman') over
    // api_cryptocurrency_data_final.csv (ydata's correlation tab)
    val expected = Map(
      ("current_price", "price_change_percentage_24h") -> 0.2790663,
      ("current_price", "market_cap") -> 0.2489244,
      ("current_price", "total_volume") -> -0.0677008,
      ("current_price", "high_24h") -> 0.9975095,
      ("current_price", "low_24h") -> 0.9974647,
      ("price_change_percentage_24h", "market_cap") -> 0.0789679,
      ("price_change_percentage_24h", "total_volume") -> -0.0669187,
      ("price_change_percentage_24h", "high_24h") -> 0.2817399,
      ("price_change_percentage_24h", "low_24h") -> 0.2729861,
      ("market_cap", "total_volume") -> 0.5121872,
      ("market_cap", "high_24h") -> 0.2381488,
      ("market_cap", "low_24h") -> 0.2475975,
      ("total_volume", "high_24h") -> -0.0789009,
      ("total_volume", "low_24h") -> -0.0672849,
      ("high_24h", "low_24h") -> 0.9939990)
    val api = Profiler.profile(CryptoCsv.readApiFixture(
      spark, "/root/reference/api_cryptocurrency_data_final.csv"))
    assert(api.spearman.size === expected.size, "one entry per numeric pair")
    api.spearman.foreach { case (a, b, rho) =>
      val want = expected.getOrElse((a, b), expected((b, a)))
      assert(math.abs(rho - want) < 1e-6, s"$a~$b: got $rho want $want")
    }
  }

  test("spearman is listwise under STAGGERED nulls: rank after drop, like pandas") {
    // Nulls in different rows per column: ranks must be computed over the
    // listwise-surviving rows (pandas df[cols].dropna().corr('spearman')),
    // NOT per-column over each column's full non-null population.
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Double])](
      (Some(1.0), Some(5.0)), (Some(2.0), None), (None, Some(3.0)),
      (Some(4.0), Some(1.0)), (Some(2.0), Some(2.0)), (Some(5.0), Some(4.0)),
      (Some(2.0), Some(6.0))).toDF("x", "y")
    // survivors: (1,5),(4,1),(2,2),(5,4),(2,6); ranks x=(1,4,2.5,5,2.5)
    // (tie-averaged over survivors only), y=(4,1,2,3,5); Pearson = -4.5/sqrt(95)
    val rho = Profiler.spearmanMatrix(df, Seq("x", "y")).head._3
    val want = -4.5 / math.sqrt(95.0)
    assert(math.abs(rho - want) < 1e-12, s"got $rho want $want")
  }

  /** Seeded frame with nulls, heavy ties, negatives and a LongType
    * column holding 2^53 and 2^53 + 1 (equal once cast to double). */
  private def tiedFrame(nRows: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val big = 1L << 53
    val rows = (0 until nRows).map { i =>
      (if (i % 11 == 3) None else Some((rnd.nextInt(9) - 4) * 0.5),
       if (i % 7 == 5) None else Some(rnd.nextInt(5) - 2),
       if (i < 2) big + i else rnd.nextInt(40).toLong - 20,
       rnd.nextGaussian())
    }
    (rows, rows.toDF("a", "b", "c", "d"))
  }

  test("synthetic exactness: distinct counts and Spearman match a brute-force computation") {
    val (rows, df) = tiedFrame(600)
    val p = Profiler.profile(df)
    // brute-force distinct counts of the non-null values (c by its longs:
    // 2^53 and 2^53 + 1 are two values)
    val want = Map("a" -> rows.flatMap(_._1).distinct.size,
      "b" -> rows.flatMap(_._2).distinct.size,
      "c" -> rows.map(_._3).distinct.size, "d" -> rows.map(_._4).distinct.size)
    p.numeric.foreach(n => assert(n.nDistinct === want(n.name).toLong, n.name))
    // average ranks + Pearson over the listwise-complete rows; c is
    // ranked by its longs so the two large values stay apart
    val keep = rows.indices.filter(i => rows(i)._1.isDefined && rows(i)._2.isDefined)
    def avgRank[T](xs: Seq[T])(implicit o: Ordering[T]): Seq[Double] = {
      val sorted = xs.sorted
      xs.map { x =>
        val lo = sorted.indexWhere(o.equiv(_, x))
        val hi = sorted.lastIndexWhere(o.equiv(_, x))
        (lo + hi) / 2.0 + 1.0
      }
    }
    val ranks = Map(
      "a" -> avgRank(keep.map(rows(_)._1.get)), "b" -> avgRank(keep.map(rows(_)._2.get)),
      "c" -> avgRank(keep.map(rows(_)._3)), "d" -> avgRank(keep.map(rows(_)._4)))
    def pearson(x: Seq[Double], y: Seq[Double]): Double = {
      val (mx, my) = (x.sum / x.size, y.sum / y.size)
      val sxy = x.zip(y).map { case (u, v) => (u - mx) * (v - my) }.sum
      sxy / math.sqrt(x.map(u => (u - mx) * (u - mx)).sum * y.map(v => (v - my) * (v - my)).sum)
    }
    assert(p.spearman.size === 6)
    p.spearman.foreach { case (x, y, rho) =>
      val w = pearson(ranks(x), ranks(y))
      assert(math.abs(rho - w) < 1e-12, s"$x~$y: got $rho want $w")
    }
    // the large longs keep distinct ranks through the mixed-type melt
    val cRanks = graft.operators.RankStats.rankTables(df, Seq("a", "c", "d"))("c")
      .filter(org.apache.spark.sql.functions.col("v") >= (1L << 53))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cRanks.size === 2 && cRanks((1L << 53) + 1) === cRanks(1L << 53) + 1.0, cRanks)
  }

  test("long-form passes match a brute-force computation: NaN, ±Inf, constant and all-null columns") {
    import spark.implicits._
    val (tied, _) = tiedFrame(600)
    val rnd = new scala.util.Random(11)
    val rows = tied.zipWithIndex.map { case ((a, b, c, d), i) =>
      (a, b, c, d,
       if (i % 13 == 4) Double.NaN else rnd.nextInt(7) * 1.5,
       if (i % 17 == 2) Double.PositiveInfinity
       else if (i % 19 == 6) Double.NegativeInfinity else rnd.nextGaussian(),
       2.5, Option.empty[Double])
    }
    val names = Seq("a", "b", "c", "d", "e", "f", "const", "nulls")
    val bins = 10
    val p = Profiler.profile(rows.toDF(names: _*), bins = bins)
    val vals: Map[String, Seq[Option[Double]]] = names.zip(Seq(
      rows.map(_._1), rows.map(_._2.map(_.toDouble)), rows.map(r => Some(r._3.toDouble)),
      rows.map(r => Some(r._4)), rows.map(r => Some(r._5)), rows.map(r => Some(r._6)),
      rows.map(r => Some(r._7)), rows.map(_._8))).toMap
    // Spark orders doubles with NaN above everything
    val ord = Ordering.Double.TotalOrdering
    def same(g: Option[Double], w: Option[Double]): Boolean = (g, w) match {
      case (Some(x), Some(y)) => x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => g == w
    }
    // Spark's exact percentile: interpolate between the sorted values at
    // floor/ceil of (n - 1) p unless those are equal
    def quantile(s: Seq[Double], q: Double): Option[Double] =
      if (s.isEmpty) None
      else {
        val pos = (s.size - 1) * q
        val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
        if (lo == hi || s(lo).equals(s(hi))) Some(s(lo))
        else Some((hi - pos) * s(lo) + (pos - lo) * s(hi))
      }
    def pearson(x: Seq[Option[Double]], y: Seq[Option[Double]]): Option[Double] = {
      val xy = x.zip(y).collect { case (Some(u), Some(v)) => (u, v) }
      if (xy.size < 2) None
      else {
        val (mx, my) = (xy.map(_._1).sum / xy.size, xy.map(_._2).sum / xy.size)
        val sxy = xy.map { case (u, v) => (u - mx) * (v - my) }.sum
        val sxx = xy.map { case (u, _) => (u - mx) * (u - mx) }.sum
        val syy = xy.map { case (_, v) => (v - my) * (v - my) }.sum
        // corr divides as SQL does: a zero denominator (a constant
        // column) is null, not NaN
        val den = math.sqrt(sxx * syy)
        if (den == 0.0) None else Some(sxy / den)
      }
    }
    assert(p.numeric.map(_.name) === names)
    p.numeric.foreach { n =>
      val xs = vals(n.name).flatten
      val s = xs.sorted(ord)
      val mean = if (xs.isEmpty) None else Some(xs.sum / xs.size)
      val std = mean.filter(_ => xs.size > 1).map(m =>
        math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)))
      def check[T](what: String, got: T, want: T): Unit =
        assert(got === want, s"${n.name} $what")
      def checkD(what: String, got: Option[Double], want: Option[Double]): Unit =
        assert(same(got, want), s"${n.name} $what: got $got want $want")
      check("count", n.nNonNull, xs.size.toLong)
      check("missing", n.nMissing, (rows.size - xs.size).toLong)
      check("zeros", n.nZeros, xs.count(_ == 0.0).toLong)
      check("negatives", n.nNegative, xs.count(_ < 0.0).toLong)
      check("infinities", n.nInfinite, xs.count(x => x.isNaN || x.isInfinite).toLong)
      checkD("mean", n.mean, mean)
      checkD("min", n.min, s.headOption)
      checkD("max", n.max, s.lastOption)
      checkD("std", n.std, std)
      Seq(0.05 -> n.q05, 0.25 -> n.q25, 0.5 -> n.median, 0.75 -> n.q75, 0.95 -> n.q95)
        .foreach { case (q, got) => checkD(s"q$q", got, quantile(s, q)) }
      // bins over [min, max] when max > min; NaN never compares above
      val want = (s.headOption, s.lastOption) match {
        case (Some(lo), Some(hi)) if hi > lo =>
          val w = (hi - lo) / bins
          val at = xs.map(x => math.min(math.floor((x - lo) / w).toLong, bins - 1L))
          (0 until bins).map(b => (lo + b * w, lo + (b + 1) * w, at.count(_ == b).toLong))
        case _ => Seq.empty
      }
      check("histogram size", n.histogram.size, want.size)
      n.histogram.zip(want).foreach { case ((l, h, k), (wl, wh, wk)) =>
        checkD("bin low", Some(l), Some(wl))
        checkD("bin high", Some(h), Some(wh))
        assert(k === wk, s"${n.name} bin count: ${n.histogram} != $want")
      }
    }
    // the NaN column and the constant one lose their histograms
    assert(p.numeric.filter(_.histogram.isEmpty).map(_.name) === Seq("e", "const", "nulls"))
    val pairs = for { (x, i) <- names.zipWithIndex; y <- names.drop(i + 1) } yield (x, y)
    val want = pairs.flatMap { case (x, y) => pearson(vals(x), vals(y)).map(r => (x, y, r)) }
    assert(p.correlations.map(c => (c._1, c._2)) === want.map(c => (c._1, c._2)),
      "every pair but the all-null and constant column's with finite columns")
    p.correlations.zip(want).foreach { case ((x, y, r), (_, _, w)) =>
      assert(same(Some(r), Some(w)), s"$x~$y: got $r want $w")
    }
  }

  test("a 0-row frame with numeric and string columns profiles to the empty profile") {
    import spark.implicits._
    val df = Seq.empty[(Option[Double], Option[Long], Option[String])].toDF("x", "n", "s")
    val p = Profiler.profile(df)
    def num(name: String, dtype: String) = NumericProfile(name, dtype, 0L, 0L, 0L,
      0L, 0L, 0L, None, None, None, None, None, None, None, None, None, None, None, Seq.empty)
    assert(p.copy(spearman = Seq.empty) === TableProfile(0L, 3, 0L,
      Seq(num("x", "double"), num("n", "bigint")),
      Seq(StringProfile("s", 0L, 0L, 0L, None, None, None, Seq.empty)),
      Seq.empty, Seq.empty, Seq.empty, Seq("x", "n", "s"), Seq.empty, Seq.empty, Seq.empty))
    assert(p.spearman.map(c => (c._1, c._2)) === Seq(("x", "n")) && p.spearman.head._3.isNaN,
      p.spearman)
  }

  /** The tied frame with 9 numeric columns, and with 3 of them. */
  private def nineAndThree = {
    import org.apache.spark.sql.functions.col
    val (_, df) = tiedFrame(300)
    val nine = df.select(df.columns.map(col) ++ Seq(
      (col("a") * 2).as("e"), (col("b") + 1).as("f"), (col("c") - 3).as("g"),
      (col("d") * col("d")).as("h"), (col("a") + col("d")).as("i")): _*)
    (nine, df.select("a", "b", "d"))
  }

  test("structural pin: no Expand beside exact percentiles; Spearman barriers do not grow with columns") {
    val (nine, three) = nineAndThree
    val (_, plans) = TestSpark.withOptimizedPlans(spark)(Profiler.profile(nine))
    plans.foreach(p => assert(!(p.contains("Expand") && p.contains("percentile(")),
      "distinct counts must not share an aggregate with exact percentiles:\n" + p))
    val (_, n3) = TestSpark.withQueryCount(spark)(Profiler.profile(three))
    val (_, n9) = TestSpark.withQueryCount(spark)(Profiler.profile(nine))
    assert(n9 === n3, "profile queries grew with the numeric column count")
  }

  test("every percentile and corr sits in a long-form aggregate, and each long-form aggregate is as wide for 9 numeric columns as for 3") {
    // the long-form aggregates (pass 1's statistics, pass 2's histograms,
    // the Pearson kernel, the rank table) group by the melt index `k` and
    // hold their aggregates once. Two aggregates still grow with the
    // numeric columns and are not pinned here: pass 1b (one distinct
    // count per column) and Spearman's regroup (one rank per column).
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    def aggs(plans: Seq[LogicalPlan]): Seq[Aggregate] =
      plans.flatMap(_.collect { case a: Aggregate => a })
    def longForm(a: Aggregate): Boolean = a.output.exists(_.name == "k")
    def fns(a: Aggregate): Seq[String] = a.aggregateExpressions.flatMap(
      _.collect { case e: AggregateExpression => e.aggregateFunction.prettyName })
    def widths(plans: Seq[LogicalPlan]): Seq[Int] =
      aggs(plans).filter(longForm).map(fns(_).size).sorted
    val (nine, three) = nineAndThree
    val (_, p3) = TestSpark.withOptimizedPlanTrees(spark)(Profiler.profile(three))
    val (_, p9) = TestSpark.withOptimizedPlanTrees(spark)(Profiler.profile(nine))
    for (a <- aggs(p9) if fns(a).exists(Set("percentile", "corr")))
      assert(longForm(a), "a percentile or corr outside the long form:\n" + a)
    assert(widths(p9) === widths(p3),
      "a long-form profile aggregate grew with the numeric column count")
  }

  test("duplicates, missing patterns and top-k match a brute-force computation") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 400).map { i =>
      (if (i % 9 == 2) None else Some(rnd.nextInt(3)),
       if (i % 5 == 1) None else Some(s"v${rnd.nextInt(4)}"),
       if (i % 7 == 3) None else Some(s"w${rnd.nextInt(30)}"))
    }
    val topK = 3
    val p = Profiler.profile(rows.toDF("x", "s", "t"), topK = topK)
    // most frequent first, ties by key ascending; the first topK
    def top(keys: Seq[String]): Seq[(String, Long)] =
      keys.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }.toSeq
        .sortBy { case (k, n) => (-n, k) }.take(topK)
    assert(p.nDuplicateRows === rows.size - rows.distinct.size)
    assert(p.missingPatterns === top(rows.map(_.productIterator
      .map(v => if (v == None) "1" else "0").mkString)))
    assert(p.strings.map(s => s.name -> s.topValues) ===
      Seq("s" -> top(rows.flatMap(_._2)), "t" -> top(rows.flatMap(_._3))))
  }

  test("profile queries for 6 string columns equal those for 2") {
    // every exact-path top-k in one query: no query per string column
    import org.apache.spark.sql.functions.{col, concat, lit}
    val (_, df) = tiedFrame(300)
    val strs = df.select(df.columns.map(col) ++ (0 until 6).map(i =>
      concat(lit(s"s$i-"), (col("a") % (i + 2)).cast("string")).as(s"s$i")): _*)
    val two = strs.drop("s2", "s3", "s4", "s5")
    val (p2, n2) = TestSpark.withQueryCount(spark)(Profiler.profile(two))
    val (p6, n6) = TestSpark.withQueryCount(spark)(Profiler.profile(strs))
    assert(p2.strings.size === 2 && p6.strings.size === 6)
    assert(p6.strings.forall(_.topValues.nonEmpty))
    assert(n6 === n2, "profile queries grew with the string column count")
  }

  test("Spearman's Spark job count for 9 numeric columns equals that for 3") {
    // one rank table, one join and one regroup for any column count: no
    // job per column
    val (nine, three) = nineAndThree
    val (r3, j3) = TestSpark.withJobs(spark)(Profiler.spearmanMatrix(three, three.columns.toSeq))
    val (r9, j9) = TestSpark.withJobs(spark)(Profiler.spearmanMatrix(nine, nine.columns.toSeq))
    assert(r3.get.size === 3 && r9.get.size === 36)
    assert(j9.size === j3.size, s"Spearman jobs grew with the columns: ${j3.size} → ${j9.size}")
  }

  test("empty shapes: a boolean-only frame profiles; an all-dropped Spearman is NaN") {
    import spark.implicits._
    val flags = Profiler.profile(Seq(true, false, true).toDF("flag"))
    assert(flags.nRows === 3 && flags.nCols === 1 && flags.nDuplicateRows === 1)
    assert(flags.numeric.isEmpty && flags.strings.isEmpty)
    val dropped = Seq[(Option[Double], Option[Long])]((Some(1.0), None), (None, Some(2L)))
      .toDF("x", "y")
    val m = Profiler.spearmanMatrix(dropped, Seq("x", "y"))
    assert(m.size === 1 && m.head._3.isNaN, m)
  }

  test("A11 missing patterns partition the rows; all-present pattern dominates post-fill") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("a")), (Some(2), None), (None, Some("c")),
      (Some(4), None), (None, None)).toDF("x", "s")
    val p = Profiler.profile(df)
    val pats = p.missingPatterns.toMap
    assert(pats === Map("00" -> 1L, "01" -> 2L, "10" -> 1L, "11" -> 1L))
    assert(p.missingPatterns.map(_._2).sum === 5L, "patterns must partition all rows")
    // cleaned reference data: every numeric filled → the only pattern is all-zeros
    assert(prof.missingPatterns.map(_._2).sum === 4150L)
    assert(prof.missingPatterns.head._1 === "0" * 12)
  }

  test("A12 head/tail samples reproduce the first and last rows in order") {
    assert(prof.headRows.length === 5 && prof.tailRows.length === 5)
    assert(prof.columnNames === cleaned.columns.toSeq)
    // reference CSV is market-cap rank order: row 1 is Bitcoin
    assert(prof.headRows.head.head === "Bitcoin")
    val lastCoin = cleaned.tail(1).head.getString(0)
    assert(prof.tailRows.last.head === lastCoin)
  }

  test("HTML report renders all sections") {
    val html = HtmlReport.render("test report", prof)
    Seq("Overview", "Variables", "Correlations (Pearson)",
        "Correlations (Spearman)", "current_price",
        "coin", "Duplicate rows", "Missing value patterns",
        "First rows", "Last rows", "Bitcoin").foreach { s =>
      assert(html.contains(s), s"missing section: $s")
    }
    assert(!html.contains("<script"), "report should be static")
  }

  test("valve: high-cardinality columns take the sketch path above threshold, exact below") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val strCols = docs.schema.fields
      .count(_.dataType == org.apache.spark.sql.types.StringType)
    assert(strCols > 0)
    val before = Profiler.nativeTopKRuns.get()
    try {
      // threshold 0: every string column's distinct count exceeds it
      spark.conf.set(Profiler.TopkSketchThresholdKey, "0")
      val p1 = Profiler.profile(docs, withSpearman = false)
      assert(Profiler.nativeTopKRuns.get() === before + strCols,
        "every string column must take the sketch path at threshold 0")
      // threshold -1: valve disarmed, exact path only
      spark.conf.set(Profiler.TopkSketchThresholdKey, "-1")
      val p2 = Profiler.profile(docs, withSpearman = false)
      assert(Profiler.nativeTopKRuns.get() === before + strCols,
        "disarmed valve must never sketch")
      // the two paths agree wherever frequency carries signal; on the
      // all-unique text column only the (exact) counts are comparable —
      // count-1 tie-breaking is outside any frequency sketch's contract
      val t1 = p1.strings.map(s => s.name -> s.topValues).toMap
      val t2 = p2.strings.map(s => s.name -> s.topValues).toMap
      assert(t1.keySet === t2.keySet)
      t1.keySet.foreach { k =>
        if (k == "text") assert(t1(k).map(_._2) === t2(k).map(_._2))
        else assert(t1(k) === t2(k), s"paths diverged on '$k'")
      }
    } finally spark.conf.unset(Profiler.TopkSketchThresholdKey)
  }

  test("top-k sketch path equals the exact path where heavy hitters exist") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    // the sketch path is topKNative: the profiler calls it above
    // TopkSketchThresholdKey and topKExact below it
    // real low-cardinality skew: every value fits in capacity, no eviction
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    assert(Profiler.topKNative(docs, "source", 10) ===
      Profiler.topKExact(docs, Seq("source"), 10)("source"))
    // high-cardinality skew: ~16k unique cold values (count 1) + 10 hot
    // values at ~400 each. Per 4-partition split each hot value's
    // in-partition count (~100) far exceeds rows/capacity (~20), so the
    // Space-Saving bound keeps all ten in the summary and the result
    // ranks them identically to the full groupBy.
    val skewed = spark.range(20000)
      .select(when(col("id") % 5 === 0,
          concat(lit("hot"), org.apache.spark.sql.functions.expr("(id div 5) % 10")))
        .otherwise(concat(lit("cold"), col("id"))).as("v"))
      .repartition(4)
    val exact = Profiler.topKExact(skewed, Seq("v"), 10)("v")
    assert(exact.forall(_._2 === 400L), "expected the 10 hot values on top")
    assert(Profiler.topKNative(skewed, "v", 10) === exact,
      "native top-k diverged from exact on skewed high-cardinality data")
  }

  test("native top-k self-certification: one pass when nothing churned, recount only when it did") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val runs0 = Profiler.nativeTopKRuns.get()
    val rec0 = Profiler.nativeRecountRuns.get()
    // low-cardinality column: every value tracked, floor 0 — certified,
    // NO recount job
    Profiler.topKNative(docs, "source", 10)
    assert(Profiler.nativeTopKRuns.get() === runs0 + 1)
    assert(Profiler.nativeRecountRuns.get() === rec0,
      "certified result must not schedule a recount")
    // cardinality far beyond capacity: evictions happen, floor > 0 —
    // certificate fails, recount runs (and still lands exact: see the
    // exact-path test)
    val churny = spark.range(20000)
      .select(when(col("id") % 5 === 0,
          concat(lit("hot"), org.apache.spark.sql.functions.expr("(id div 5) % 10")))
        .otherwise(concat(lit("cold"), col("id"))).as("v"))
      .repartition(4)
    Profiler.topKNative(churny, "v", 10)
    assert(Profiler.nativeRecountRuns.get() === rec0 + 1,
      "churned summary must fail certification and recount")
  }

  test("native top-k plan shape: a single ObjectHashAggregate, no mapPartitions stage") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val agg = docs.filter(col("source").isNotNull)
      .agg(graft.catalyst.native.spaceSavingTopK(col("source"), 10, 256).as("ss"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the TypedImperativeAggregate's ObjectHashAggregate, got:\n$plan")
    assert(plan.contains("partial_space_saving_topk"),
      "expected a map-side partial aggregation (per-partition summaries)")
    assert(!plan.contains("MapPartitions"),
      "the native path must not fall back to a mapPartitions stage")
  }
}
