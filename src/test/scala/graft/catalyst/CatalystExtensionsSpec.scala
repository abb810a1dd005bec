package graft.catalyst

import graft.TestSpark
import graft.functions.Parsers
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Custom Catalyst layer: native expression ≡ Column-tree parser on the
  * full quirk table, codegen participation, extension registration, and
  * the threshold-gated exact→approx percentile rewrite. */
class CatalystExtensionsSpec extends AnyFunSuite {
  private lazy val base = TestSpark.spark

  /** A session (sharing the context) with GraftExtensions installed.
    * Programmatic withExtensions, NOT the spark.sql.extensions config:
    * that config is static — read from the SparkContext's conf at
    * context creation — so it silently no-ops on a pre-existing
    * context (as in a shared test JVM). */
  private lazy val ext: SparkSession = {
    base // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private val quirks: Seq[(String, Option[Long])] = Seq(
    "21 Million" -> Some(21000000L),
    "88.3 Billion" -> Some(88300000000L),
    "163 Thousand" -> None,
    "-" -> None, "" -> None,
    "1,234" -> Some(1234L),
    "$5 Million" -> Some(5000000L),
    "2.5" -> Some(2L),
    "abc" -> None,
    " $-   " -> None)

  test("native expression matches the Column-tree parser on every quirk") {
    import ext.implicits._
    val df = quirks.map(_._1).toDF("v")
    val both = df.select(
      org.apache.spark.sql.functions.expr("parse_magnitude(v)").as("native"),
      Parsers.parseMagnitude(col("v")).as("tree")).collect()
    both.zip(quirks).foreach { case (r, (in, want)) =>
      val native = if (r.isNullAt(0)) None else Some(r.getLong(0))
      val tree = if (r.isNullAt(1)) None else Some(r.getLong(1))
      assert(native === want, s"native('$in')")
      assert(tree === want, s"tree('$in')")
    }
  }

  test("interpreted eval agrees with codegen eval") {
    import org.apache.spark.unsafe.types.UTF8String
    quirks.foreach { case (in, want) =>
      val got = Option(ParseMagnitudeExpr.parse(UTF8String.fromString(in)))
        .map(_.longValue())
      assert(got === want, s"parse('$in')")
    }
    assert(ParseMagnitudeExpr.parse(null) === null)
  }

  test("extension session exposes parse_magnitude in SQL with codegen") {
    val r = ext.sql(
      "SELECT parse_magnitude('88.3 Billion') AS a, parse_magnitude('x') AS b")
    val row = r.head()
    assert(row.getLong(0) === 88300000000L)
    assert(row.isNullAt(1))
    r.collect()
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  test("dot_product ≡ aggregate(zip_with(...)) fold, with codegen, on float and double arrays") {
    import base.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(64) { i =>
      (i.toLong, Array.fill(48)(rnd.nextFloat() * 2 - 1), Array.fill(48)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "fa", "da")
    val declarative = org.apache.spark.sql.functions.expr(
      "aggregate(zip_with(transform(fa, x -> cast(x AS double)), da, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    val out = df.select(
      native.dotProduct(col("fa"), col("da")).as("nat"),   // float × double
      native.dotProduct(col("da"), col("da")).as("self"),  // double × double
      declarative.as("decl"))
    out.collect().foreach { r =>
      assert(r.getDouble(0) === r.getDouble(2), "native must be bit-identical to the HOF fold")
      assert(r.getDouble(1) >= 0.0)
    }
    assert(!out.queryExecution.executedPlan.toString.contains("ScalaUDF"))

    // null array → null; SQL registration via extensions
    val n = ext.sql("SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS x," +
      " dot_product(array(1D, 2D, 3D), array(4D, 5D)) AS prefix")
    val row = n.head()
    assert(row.isNullAt(0))
    assert(row.getDouble(1) === 14.0) // common-prefix semantics: 1*4 + 2*5
  }

  test("byte_histogram: codegen ≡ interpreted ≡ reference loop; simplex; null-safe") {
    import base.implicits._
    val rnd = new scala.util.Random(11)
    val payloads = Seq(
      Array.emptyByteArray,
      Array.tabulate(256)(_.toByte),          // one byte per value
      Array.fill(1024)(rnd.nextInt.toByte)) :+ null
    val df = payloads.zipWithIndex.map { case (p, i) => (i, p) }.toDF("id", "content")
    val out = df.select(col("id"), native.byteHistogram(col("content"), 16).as("h"))
    assert(!out.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    val got = out.collect().map(r =>
      r.getInt(0) -> (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(got(3) === null, "null payload → null")
    assert(got(0) === Seq.fill(16)(0.0), "empty payload → zero vector")
    payloads.take(3).zipWithIndex.foreach { case (p, i) =>
      val counts = new Array[Long](16)
      p.foreach(b => counts((b & 0xff) * 16 / 256) += 1)
      val want = counts.map(_ / math.max(p.length, 1).toDouble).toSeq
      assert(got(i) === want, s"payload $i")
      if (p.nonEmpty) assert(math.abs(got(i).sum - 1.0) < 1e-12, "simplex")
    }
    // interpreted path agrees (expression eval outside codegen)
    val expr = ByteHistogramExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(payloads(1), org.apache.spark.sql.types.BinaryType), 16)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq
    assert(interp === got(1))
    // SQL registration via extensions: 4-bin histogram of a 2-byte payload
    val viaSql = ext.sql(
      "SELECT byte_histogram(encode('aA', 'UTF-8'), 4) AS h").head().getSeq[Double](0)
    // 'a'=0x61 → bin 1, 'A'=0x41 → bin 1
    assert(viaSql === Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("DEFAULT session carries the extensions: functions registered and the " +
    "percentile rewrite fires above threshold with no opt-in") {
    // GraftSession.local always installs the extensions — the safety
    // valve must be active in the session users (and Bench/Verify)
    // actually get, not only in a specially-built one.
    assert(base.sql("SELECT parse_magnitude('21 Million') AS v").head().getLong(0)
      === 21000000L)
    base.conf.set(ApproxAboveThreshold.ThresholdKey, "1") // everything is big
    try {
      val big = base.sql(
        "SELECT percentile(l_quantity, 0.5) FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`")
      assert(big.queryExecution.optimizedPlan.toString.contains("percentile_approx"),
        big.queryExecution.optimizedPlan.toString)
    } finally base.conf.unset(ApproxAboveThreshold.ThresholdKey)
    // at the default 1 GiB threshold, test-scale aggregates stay EXACT
    val small = base.sql(
      "SELECT percentile(l_quantity, 0.5) FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`")
    assert(!small.queryExecution.optimizedPlan.toString.contains("percentile_approx"))
  }

  test("the valve also rewrites q59's array-form exact ride-along percentile") {
    // q59's unconditional exact percentile(col, array(...)) is the one
    // single-reducer funnel it keeps at scale — the default session's
    // rule must cover the ARRAY probe form, not just scalar percentiles
    base.conf.set(ApproxAboveThreshold.ThresholdKey, "1")
    try {
      val df = graft.operators.Sketches.q59SampledQuantiles(
        graft.io.Tables.load(base, "/root/testdata/sf0.001", "lineitem"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("percentile_approx"), plan)
      assert(!plan.contains("percentile(") || plan.contains("percentile_approx"),
        "exact percentile must be rewritten above threshold")
    } finally base.conf.unset(ApproxAboveThreshold.ThresholdKey)
  }

  test("valve preserves the exact percentile's DOUBLE output type on integral columns") {
    // Exact Percentile interpolates → DOUBLE; ApproximatePercentile returns
    // the CHILD type. On an int/long column the rewrite must cast back, or
    // every downstream double-typed attribute reference is stale.
    base.conf.set(ApproxAboveThreshold.ThresholdKey, "1")
    try {
      val li = "parquet.`/root/testdata/sf0.001/lineitem.parquet`"
      val scalar = base.sql(s"SELECT percentile(l_orderkey, 0.5) AS p FROM $li")
      assert(scalar.queryExecution.optimizedPlan.toString.contains("percentile_approx"))
      assert(scalar.schema.head.dataType === org.apache.spark.sql.types.DoubleType,
        scalar.schema.treeString)
      assert(scalar.head().getDouble(0) > 0.0) // getDouble throws if plan emits LONG
      val arr = base.sql(s"SELECT percentile(l_orderkey, array(0.25, 0.75)) AS p FROM $li")
      assert(arr.queryExecution.optimizedPlan.toString.contains("percentile_approx"))
      val got = arr.head().getSeq[Double](0)
      assert(got.length === 2 && got(0) <= got(1))
    } finally base.conf.unset(ApproxAboveThreshold.ThresholdKey)
  }

  test("percentile rewrites to approx above the size threshold, not below") {
    ext.conf.set(ApproxAboveThreshold.ThresholdKey, "1") // everything is big
    val big = ext.sql(
      "SELECT percentile(l_quantity, 0.5) FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`")
    assert(big.queryExecution.optimizedPlan.toString.contains("percentile_approx"),
      big.queryExecution.optimizedPlan.toString)

    ext.conf.set(ApproxAboveThreshold.ThresholdKey, "-1") // disabled
    val exact = ext.sql(
      "SELECT percentile(l_quantity, 0.5) FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`")
    assert(!exact.queryExecution.optimizedPlan.toString.contains("percentile_approx"))

    // sanity: the rewritten query still returns a sane median
    ext.conf.set(ApproxAboveThreshold.ThresholdKey, "1")
    val v = big.head().getDouble(0)
    assert(v > 0 && v <= 50)
    ext.conf.unset(ApproxAboveThreshold.ThresholdKey)
  }

  test("count(DISTINCT) rewrites to HLL++ above the size threshold, not below; accuracy within rsd") {
    val li = "parquet.`/root/testdata/sf0.001/lineitem.parquet`"
    try {
      ext.conf.set(ApproxDistinctAboveThreshold.ThresholdKey, "1")
      val big = ext.sql(s"SELECT count(DISTINCT l_orderkey) AS d FROM $li")
      assert(big.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"),
        big.queryExecution.optimizedPlan.toString)
      // grouped form rewrites too (the q100 shape)
      val grouped = ext.sql(
        s"SELECT l_returnflag, count(DISTINCT l_orderkey) AS d FROM $li GROUP BY 1")
      assert(grouped.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))

      ext.conf.set(ApproxDistinctAboveThreshold.ThresholdKey, "-1")
      val exact = ext.sql(s"SELECT count(DISTINCT l_orderkey) AS d FROM $li")
      assert(!exact.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))

      // the sketch answer lands within ~3x rsd of exact, same LongType
      ext.conf.set(ApproxDistinctAboveThreshold.ThresholdKey, "1")
      val (a, e) = (big.head().getLong(0), exact.head().getLong(0))
      assert(math.abs(a - e).toDouble / e < 0.15, s"approx $a vs exact $e")

      // multi-column distinct is deliberately NOT rewritten
      val multi = ext.sql(
        s"SELECT count(DISTINCT l_orderkey, l_linenumber) FROM $li")
      assert(!multi.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))

      // the exact_ alias contract: a SEMANTIC distinct count (one that
      // feeds selection, like SubstringDedup's df or LmScore's V) is
      // never sketched, at any size — while a sibling unprotected
      // count in the SAME aggregate still rewrites
      val mixed = ext.sql(
        s"""SELECT count(DISTINCT l_orderkey) AS exact_df,
           |       count(DISTINCT l_partkey) AS d
           |FROM $li""".stripMargin)
      val mp = mixed.queryExecution.optimizedPlan.toString
      assert(mp.contains("approx_count_distinct"), mp)
      assert("approx_count_distinct".r.findAllIn(mp).size === 1,
        "exact_-aliased distinct count must not be sketched:\n" + mp)
    } finally ext.conf.unset(ApproxDistinctAboveThreshold.ThresholdKey)
  }

  test("SpaceSavingSummary invariant: |true - cnt| <= err under adversarial update + merge") {
    // Deterministic Zipf-ish stream split over 8 "partitions", tiny
    // capacity so eviction AND merge-trim both fire; checks the
    // documented invariant against brute-force counts.
    val rnd = new scala.util.Random(42)
    val parts = Seq.fill(8) {
      Seq.fill(4000) {
        val r = rnd.nextInt(1000)
        if (r < 600) s"hot${r % 7}"            // 7 heavy values
        else s"cold${rnd.nextInt(5000)}"       // long unique-ish tail
      }
    }
    val truth = parts.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val summaries = parts.map { p =>
      val s = new SpaceSavingSummary(32)
      p.foreach(s.add(_))
      s
    }
    val merged = summaries.reduce { (a, b) => a.merge(b); a }
    assert(merged.entries.size <= 32)
    assert(merged.absentFloor > 0, "this workload must churn")
    merged.entries.foreach { case (v, ce) =>
      assert(math.abs(truth(v) - ce(0)) <= ce(1),
        s"$v: true=${truth(v)} cnt=${ce(0)} err=${ce(1)}")
    }
    // every heavy value must survive into the merged summary with its
    // count dominating the uncertainty
    (0 until 7).foreach { i =>
      val ce = merged.entries.getOrElse(s"hot$i",
        fail(s"heavy value hot$i evicted from the merged summary"))
      assert(ce(0) > ce(1), s"hot$i count must dominate its error")
    }
    // no churn, no error: a summary with capacity >= distincts is exact
    val exactS = new SpaceSavingSummary(64)
    Seq("a", "b", "a", "c", "a", "b").foreach(exactS.add(_))
    assert(exactS.absentFloor === 0)
    assert(exactS.entries("a")(0) === 3 && exactS.entries("a")(1) === 0)
  }
}
