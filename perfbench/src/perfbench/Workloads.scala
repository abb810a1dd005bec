package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.{GraftSession, Pipeline}
import graft.io.{CryptoCsv, IngestLoop}
import graft.operators.QualityModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** One timed loop iteration (a pipeline pass or an ingest tick). */
final case class Iter(id: Int, start: Long, end: Long, units: Long,
                      inputBytes: Long, driverWrittenBytes: Long,
                      codegenNs: Long, ok: Boolean)

final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload run hands back to [[Main]]. */
final class RunResult {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val iters = mutable.ArrayBuffer.empty[Iter]
  val checks = mutable.ArrayBuffer.empty[Check]
  var warmupS = 0.0
  var peakOldBytes = 0L
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Check(name, ok, if (ok) "" else detail)
}

/** Shared closed-loop driver: set-up repetitions, untimed warm-ups,
  * then a fixed number of timed iterations. The count depends only on
  * `--seconds`, never on measured speed, so a faster program does the
  * same work in less time. */
abstract class Workload(val cfg: Main.Config) {
  val work: Path = Paths.get(cfg.work)
  val res = new RunResult
  var spark: SparkSession = _
  var spans: Spans = _
  var jobs: JobListener = _
  val plans = new PlanListener

  def newSession(): SparkSession =
    GraftSession.local(cpus = cfg.cores, shufflePartitions = cfg.cores,
      appName = s"perfbench-${cfg.workload}")

  /** Untimed iterations before the timed ones. */
  def warmups: Int
  /** Timed iterations. */
  def timedIters: Int
  /** Timed set-up repetitions; `setup_s` is their median. */
  def setupReps: Int
  /** Untimed input generation (a session is open). */
  def generate(): Unit
  /** Timed one-time program set-up on the open session, rep `rep`. */
  def setup(rep: Int): Unit
  /** Untimed per-iteration preparation. */
  def prepare(i: Int): Unit = ()
  /** The timed body: returns (units of work, input bytes, bytes the
    * driver wrote outside Spark tasks). */
  def iteration(i: Int): (Long, Long, Long)
  /** Untimed checks on iteration `i`'s outputs. */
  def checkIteration(i: Int): Unit = ()
  /** Untimed end-of-run checks and extra counters. */
  def finish(): Unit = ()

  def run(): RunResult = {
    val g0 = System.nanoTime()
    spark = newSession()
    generate()
    System.err.println(f"perfbench: session and input generation ${(System.nanoTime() - g0) / 1e9}%.3f s")
    for (rep <- 0 until setupReps) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      setup(rep)
      res.setupS += (System.nanoTime() - t0) / 1e9
    }
    jobs = new JobListener(cfg.trace)
    spark.sparkContext.addSparkListener(jobs)
    if (cfg.trace) spark.listenerManager.register(plans)
    spans = new Spans(spark)

    val w0 = System.nanoTime()
    for (w <- 0 until warmups) {
      prepare(w)
      spans("warmup", cfg.entryLayer, w)(iteration(w))
      checkIteration(w)
    }
    res.warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"perfbench: set-up ${res.setupS.mkString(" ")} s, warm-up ${res.warmupS}%.3f s")

    var peakOld = 0L
    for (i <- warmups until warmups + timedIters) {
      prepare(i)
      val cg0 = CodeGenerator.compileTime
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val out = try Some(spans("iter", cfg.entryLayer, i)(iteration(i)))
        catch { case e: Exception =>
          System.err.println(s"iteration $i failed: $e"); None }
      val dn = System.nanoTime() - n0
      val t1 = t0 + dn / 1000000L
      val (u, in, dw) = out.getOrElse((0L, 0L, 0L))
      res.iters += Iter(i, t0, t1, u, in, dw, CodeGenerator.compileTime - cg0, out.isDefined)
      System.err.println(f"perfbench: iteration $i ${dn / 1e9}%.3f s")
      peakOld = math.max(peakOld, Heap.oldAfterFullGc())
      if (out.isDefined) spans("check", "bench", i)(checkIteration(i))
    }
    res.peakOldBytes = peakOld
    val f0 = System.nanoTime()
    spans("finish", "bench")(finish())
    System.err.println(f"perfbench: end-of-run checks ${(System.nanoTime() - f0) / 1e9}%.3f s")
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    res
  }
}

/** `crypto_etl`: the paper's DAG as shipped — [[Pipeline.run]] at scale
  * with materialize, reports and publish on, over a seeded dirty
  * historical CSV and a seeded API CSV. Each pass reads its own hard
  * link of the inputs and writes a fresh output directory. */
final class CryptoEtl(cfg: Main.Config) extends Workload(cfg) {
  import CryptoEtl.{Rows => rows, ApiRows => apiRows}
  var expect: Gen.CryptoExpect = _
  val src: Path = work.resolve("input")
  private val results = mutable.Map.empty[Int, Pipeline.Result]

  def generate(): Unit = expect = Gen.crypto(cfg.seed, rows, apiRows, src)
  def setup(rep: Int): Unit = ()
  /** Set-up is session creation alone (under 0.1 s), cheap enough to
    * repeat often; the median of many steadies it. */
  def setupReps: Int = 21
  /** No warm-up: the timed pass is the first in a fresh engine, as in the
    * scheduled batch (a new process every run). A warm pass costs tens
    * of seconds on a 4-core machine; warm-up plus a timed pass would
    * not fit the benchmark's per-run time. */
  def warmups: Int = 0
  /** One pass: a cold pass takes most of a run's time budget. */
  def timedIters: Int = 1

  private def passDir(i: Int) = work.resolve(s"pass$i")

  override def prepare(i: Int): Unit = {
    val d = Files.createDirectories(passDir(i).resolve("in"))
    for (f <- Seq("raw.csv", "api.csv")) Main.link(src.resolve(f), d.resolve(f))
  }

  def iteration(i: Int): (Long, Long, Long) = {
    val d = passDir(i)
    val out = d.resolve("out").toString
    val r = spans("Pipeline.run", "pipeline", i)(Pipeline.run(spark, Pipeline.Config(
      rawCsvPath = d.resolve("in/raw.csv").toString,
      apiFixturePath = Some(d.resolve("in/api.csv").toString),
      outDir = out, atScale = true)))
    results(i) = r
    val in = Files.size(d.resolve("in/raw.csv")) + Files.size(d.resolve("in/api.csv"))
    val driverWritten = r.reportPaths.map(p => Files.size(Paths.get(p))).sum +
      r.published.map(_.bytes).sum
    (rows.toLong, in, driverWritten)
  }

  override def checkIteration(i: Int): Unit = {
    val r = results.remove(i).get
    val out = passDir(i).resolve("out")
    val cleaned = spark.read.option("header", "true").schema(CryptoCsv.cleanSchema)
      .csv(out.resolve("cleaned_cryptocurrency_data").toString)
    val fills = expect.medians.map { case (c, m) =>
      c -> (if (c == "total_supply") m.toLong.toDouble else m) }
    val aggs = Seq(count(lit(1)), sum(col("is_outlier").cast("long"))) ++
      Gen.NumericCols.flatMap { c =>
        Seq(count(when(col(c).isNull, 1)),
          count(when(col(c).cast("double") === lit(fills.getOrElse(c, Double.NaN)), 1)))
      }
    val row = cleaned.agg(aggs.head, aggs.tail: _*).head()
    val tag = s"pass$i"
    res.check(s"$tag.rows", row.getLong(0) == expect.rows, s"${row.getLong(0)} != ${expect.rows}")
    val outl = if (row.isNullAt(1)) -1L else row.getLong(1)
    res.check(s"$tag.outliers", outl == expect.outliers, s"$outl != ${expect.outliers}")
    Gen.NumericCols.zipWithIndex.foreach { case (c, k) =>
      val nulls = row.getLong(2 + 2 * k)
      val at = row.getLong(3 + 2 * k)
      // a column with any value keeps no nulls after the median fill
      val wantNulls = if (expect.medians.contains(c)) 0L else expect.rows
      res.check(s"$tag.nulls.$c", nulls == wantNulls, s"$nulls != $wantNulls")
      // rows at the fill value = generated nulls + generated values equal
      // to the median: checks the null census and the median at once
      res.check(s"$tag.median.$c", at == expect.atFill(c),
        s"$at rows at ${fills.get(c)} != ${expect.atFill(c)} (nulls ${expect.nulls(c)})")
    }
    val labels = spark.read.option("header", "true").csv(
        out.resolve("api_cryptocurrency_data").toString)
      .groupBy("tendencia").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    res.check(s"$tag.labels", labels == expect.labels, s"$labels != ${expect.labels}")
    val pub = r.published.map(_.rows)
    res.check(s"$tag.published", pub == Seq(expect.rows, expect.apiRows),
      s"$pub != ${Seq(expect.rows, expect.apiRows)}")
    res.check(s"$tag.reports", r.reportPaths.size == 2 &&
      r.reportPaths.forall(p => Files.size(Paths.get(p)) > 0), s"${r.reportPaths}")
    if (i > 1) Main.deleteTree(passDir(i - 1))
  }
}

object CryptoEtl {
  /** Rows of the historical CSV and of the API CSV. */
  val Rows = 5000
  val ApiRows = 250
}

/** `ingest_ticks`: bootstrap a seeded corpus and train the frozen quality
  * model once (set-up), then a closed loop of [[IngestLoop.runTick]] on
  * small seeded batches with [[IngestLoop.compactIfNeeded]] at its
  * default trigger after every tick. Batches plant exact and near dups
  * of the corpus and of earlier batches, so the state fold-back decides
  * verdicts.
  *
  * Before the ticks (untimed), the hash store's bootstrap rows are
  * rewritten as [[IngestTicks.TriggerFiles]] files, exactly as many as
  * the default compaction trigger allows: the first timed tick's
  * fold-back crosses it, and every run compacts once, inside the timed
  * window. The warm-up ticks run on the state of an earlier set-up
  * repetition, prepared the same way (so they compact too), and the
  * measured state is untouched until the first timed tick. */
final class IngestTicks(cfg: Main.Config) extends Workload(cfg) {
  import IngestTicks._
  def warmups: Int = WarmupTicks
  def timedIters: Int = timedTicks(cfg.seconds)
  def setupReps: Int = 3
  var batches: Seq[Gen.Batch] = Nil
  private val roots = mutable.ArrayBuffer.empty[String]
  // opened on the session left after set-up (each repetition had its own)
  /** The measured state: the last set-up repetition's. */
  lazy val st: IngestLoop.Stores = IngestLoop.stores(spark, roots.last, "loop")
  private lazy val warmSt = IngestLoop.stores(spark, roots.head, "loop")
  /** The state a tick runs on: warm-ups use the first repetition's. */
  private def stateFor(i: Int) = if (i < warmups) warmSt else st
  var w: Seq[Double] = Nil
  var stateRowsAtStart = 0L
  // tick -> (n_batch, n_dup_exact, n_new)
  private val reports = mutable.LinkedHashMap.empty[Int, (Long, Long, Long)]
  var compactions = 0
  var compactS = 0.0

  // one partitioned dataset: `part=corpus` plus one `part=<tick>` per batch
  private val inputDir = work.resolve("inputs")
  private val corpusDir = inputDir.resolve("part=corpus")

  def generate(): Unit = {
    val s = spark
    import s.implicits._
    val corpus = Gen.docs(cfg.seed, CorpusDocs)
    batches = Gen.batches(cfg.seed, corpus, warmups + timedIters, BatchDocs)
    val rows = corpus.map(d => ("corpus", d)) ++
      batches.zipWithIndex.flatMap { case (b, t) => b.docs.map(d => (t.toString, d)) }
    rows.map { case (p, d) => (p, d.doc_id, d.text, d.lang, d.source, d.n_chars) }
      .toDF("part", "doc_id", "text", "lang", "source", "n_chars")
      .repartition(col("part")).write.partitionBy("part").parquet(inputDir.toString)
  }

  def setup(rep: Int): Unit = {
    // every repetition reads its own link of the corpus (path-keyed
    // training memos miss, as on a new corpus) into a fresh state root
    val d = Files.createDirectories(work.resolve(s"setup$rep/corpus"))
    Main.dataFiles(corpusDir).foreach(f => Main.link(f, d.resolve(f.getFileName)))
    val corpus = spark.read.parquet(d.toString)
    val root = work.resolve(s"setup$rep/state").toString
    IngestLoop.bootstrap(IngestLoop.stores(spark, root, "loop"), corpus)
    roots += root
    w = QualityModel.weights(corpus)
  }

  private def batchPath(i: Int) = inputDir.resolve(s"part=$i")

  /** Rewrites the hash store's bootstrap tick as [[TriggerFiles]] files:
    * the same rows, spread as a long-running loop spreads them. */
  private def fragment(s: IngestLoop.Stores): Unit = {
    val rows = s.hashes.current().get.localCheckpoint()
    s.hashes.appendTickAt(1, rows.repartition(TriggerFiles))
  }

  override def prepare(i: Int): Unit = {
    if (i == 0) fragment(warmSt)
    if (i == warmups) {
      fragment(st)
      stateRowsAtStart = st.hashes.current().get.count()
      System.err.println(s"perfbench: hash store holds ${st.hashes.dataFileCount} data files " +
        s"before the first timed tick (trigger: more than $TriggerFiles)")
    }
  }

  def iteration(i: Int): (Long, Long, Long) = {
    val p = batchPath(i)
    val state = stateFor(i)
    val batch = spark.read.parquet(p.toString)
    val rep = spans("runTick", "io", i)(IngestLoop.runTick(state, batch, w))
    val rows = spans("report", "io", i)(rep.collect())
    def tot(c: String) = rows.map(r => r.getLong(r.fieldIndex(c))).sum
    reports(i) = (tot("n_batch"), tot("n_dup_exact"), tot("n_new"))
    val c0 = System.nanoTime()
    if (spans("compactIfNeeded", "io", i)(IngestLoop.compactIfNeeded(state)) && i >= warmups) {
      compactions += 1
      compactS += (System.nanoTime() - c0) / 1e9
    }
    (BatchDocs.toLong, Main.dataFiles(p).map(Files.size).sum, 0L)
  }

  override def checkIteration(i: Int): Unit = {
    val (nb, ex, _) = reports(i)
    val b = batches(i)
    res.check(s"tick$i.n_batch", nb == b.docs.size, s"$nb != ${b.docs.size}")
    res.check(s"tick$i.exact_dups", ex >= b.exactCorpus.size,
      s"$ex exact rejections < ${b.exactCorpus.size} planted corpus copies")
  }

  override def finish(): Unit = {
    val state = st.hashes.current().get
    val ids = state.select("doc_id").collect().map(_.getLong(0)).toSet
    // only the timed ticks ran on the measured state
    val timed = reports.keys.filter(_ >= warmups).toSeq
    val sent = timed.map(batches)
    val corpusCopies = sent.flatMap(_.exactCorpus)
    val leaked = corpusCopies.filter(ids)
    res.check("planted_corpus_dups_rejected", leaked.isEmpty,
      s"${leaked.size} of ${corpusCopies.size} admitted")
    val pairs = sent.flatMap(_.exactEarlier)
    val bad = pairs.filter { case (c, o) => ids(o) && ids(c) }
    res.check("planted_earlier_dups_follow_fold_back", bad.isEmpty,
      s"${bad.size} of ${pairs.size} copies admitted after their original")
    val growth = state.count() - stateRowsAtStart
    val nNew = timed.map(t => reports(t)._3).sum
    res.check("hash_state_growth_equals_n_new", growth == nNew, s"$growth != $nNew")
    res.extra("io.state_files") = Seq(st.hashes, st.bands, st.shingles)
      .map(_.dataFileCount).sum.toDouble
    res.extra("io.compactions") = compactions.toDouble
    res.extra("io.compact_s") = compactS
    res.extra("planted_exact") = corpusCopies.size.toDouble
    res.extra("planted_exact_earlier") = pairs.size.toDouble
  }
}

object IngestTicks {
  val CorpusDocs = 2000
  val BatchDocs = 200
  /** Untimed ticks: the first timed ticks otherwise still carry JIT
    * warm-up of the tick path. */
  val WarmupTicks = 1
  /** [[IngestLoop.compactIfNeeded]]'s default trigger: a store compacts
    * when it holds more data files than this. */
  val TriggerFiles = 64
  /** Timed ticks for a `--seconds` window: about one per 3 s, the tick
    * latency of the seed code on 4 cores. */
  def timedTicks(seconds: Int): Int = math.max(2, (seconds + 2) / 3)
}
