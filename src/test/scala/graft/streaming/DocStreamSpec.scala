package graft.streaming

import graft.TestSpark
import graft.io.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming dedup semantics: first-seen wins across micro-batches
  * (state carryover), and the watermark-bounded variant evicts state
  * past the horizon (re-admitting late duplicates) — the bounded-memory
  * deployment mode. */
class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val HourNs = 3600L * 1000 * 1000 * 1000

  private def corpus: Seq[DocStream.Doc] = {
    import spark.implicits._
    // ts strictly AFTER epoch 0: a row whose event time equals the
    // stream's initial watermark (epoch 0 exactly) is judged late by
    // the stateful dedup and silently dropped — a boundary no real
    // deployment hits (1970 event times), but one a test corpus built
    // from doc_id*1e9 does
    Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
      .as[DocStream.Doc].collect().sortBy(_.doc_id).toSeq
  }

  test("first-seen dedup: duplicates re-sent in a later batch are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus
    val (b1, b2) = docs.splitAt(docs.length / 2)
    // batch 2 also re-sends every batch-1 text under fresh doc_ids —
    // cross-batch duplicates that only state carryover can catch
    val resent = b1.map(d => d.copy(doc_id = d.doc_id + 100000))
    val input = MemoryStream[DocStream.Doc]
    val q = DocStream.dedupFirstSeen(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(scala.util.Random.shuffle(b2 ++ resent)); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, text_md5 FROM dedup_out").collect()
      // corpus has no exact dups (verified) → exactly one row per doc,
      // none with a re-sent id, matching batch dropDuplicates
      assert(got.length === docs.length)
      assert(got.forall(_.getLong(0) < 100000), "a re-sent duplicate leaked through")
      val batch = Tables.load(spark, sf, "documents")
        .selectExpr("md5(text) AS m").distinct().count()
      assert(got.map(_.getString(1)).distinct.length.toLong === batch)
    } finally q.stop()
  }

  test("curated stream: gate → dedup → windowed accounting matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus
    // an in-horizon exact duplicate (must be dropped by the stateful
    // dedup) and a far-future gate-passing sentinel whose only job is to
    // advance the watermark so the first-hour windows close and emit
    val dup = docs.head.copy(doc_id = 99999L, ts = docs.head.ts + 1000000000L)
    val sentinelText = (1 to 120).map(i => s"the word$i of text").mkString(" ")
    val sentinel = DocStream.Doc(100000L, 100 * HourNs, sentinelText)

    val input = MemoryStream[DocStream.Doc]
    val q = DocStream.curatedStream(input.toDF())
      .writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    try {
      input.addData(docs :+ dup); q.processAllAvailable()
      input.addData(Seq(sentinel)); q.processAllAvailable()
      input.addData(Seq(sentinel.copy(doc_id = 100001L, ts = 101 * HourNs)))
      q.processAllAvailable() // second bump closes nothing new for hour 0 but is harmless
      val got = spark.sql(
        "SELECT win_start, lang_pred, n_docs, sum_bpe_tokens FROM curated_out")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet

      // batch equivalent over the same rows: gate, exact dedup, window
      val static = (docs :+ dup).toDF()
      val batch = graft.operators.LangQuality.withLangQuality(static)
        .withColumn("n_bpe_tokens", graft.operators.LangQuality.bpeTokens)
        .filter(org.apache.spark.sql.functions.col("quality") >= 0.4)
        .selectExpr("doc_id", "timestamp_micros(ts div 1000) AS ts_utc",
          "lang_pred", "n_bpe_tokens", "md5(text) AS text_md5")
        .dropDuplicates("text_md5")
        .groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("ts_utc"), "1 hour"),
          org.apache.spark.sql.functions.col("lang_pred"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum("n_bpe_tokens").as("sum_bpe_tokens"))
        .selectExpr("window.start AS win_start", "lang_pred", "n_docs", "sum_bpe_tokens")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(got.nonEmpty)
      assert(got === batch,
        "streamed curation must equal the batch gate+dedup+window on the same data")
    } finally q.stop()
  }

  test("JSONL drop-directory stream: curation equals batch; corrupt lines counted, never fatal") {
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("graft_jsonl_stream")
    val ckpt1 = Files.createTempDirectory("graft_jsonl_ck1")
    val ckpt2 = Files.createTempDirectory("graft_jsonl_ck2")
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    def drop(name: String, lines: Seq[String]): Unit =
      Files.writeString(dir.resolve(name), lines.mkString("\n") + "\n")

    val docs = corpus
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val sentinel = DocStream.Doc(100000L, 100 * HourNs,
      (1 to 120).map(i => s"the word$i of text").mkString(" "))
    // two malformed lines: truncated JSON and a type-garbled record
    val garbage = Seq("""{"doc_id": 7, "ts": """, """not json at all""")

    drop("batch1.jsonl", b1.map(jline) ++ garbage.take(1))
    val (curated, corrupt) = DocStream.curatedJsonlStream(spark, dir.toString)
    val q1 = curated.writeStream.format("memory").queryName("jsonl_curated")
      .option("checkpointLocation", ckpt1.toString)
      .outputMode("append").start()
    val q2 = corrupt.writeStream.format("memory").queryName("jsonl_corrupt")
      .option("checkpointLocation", ckpt2.toString)
      .outputMode("append").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      // second file lands later: incremental pickup + watermark advance
      drop("batch2.jsonl", b2.map(jline) ++ garbage.drop(1) :+ jline(sentinel))
      q1.processAllAvailable(); q2.processAllAvailable()

      val got = spark.sql(
        "SELECT win_start, lang_pred, n_docs, sum_bpe_tokens FROM jsonl_curated")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      // batch equivalent over the SAME clean rows
      import spark.implicits._
      val batch = graft.operators.LangQuality.withLangQuality(docs.toDF())
        .withColumn("n_bpe_tokens", graft.operators.LangQuality.bpeTokens)
        .filter(org.apache.spark.sql.functions.col("quality") >= 0.4)
        .selectExpr("timestamp_micros(ts div 1000) AS ts_utc",
          "lang_pred", "n_bpe_tokens", "md5(text) AS text_md5")
        .dropDuplicates("text_md5")
        .groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("ts_utc"), "1 hour"),
          org.apache.spark.sql.functions.col("lang_pred"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum("n_bpe_tokens").as("sum_bpe_tokens"))
        .selectExpr("window.start AS win_start", "lang_pred", "n_docs", "sum_bpe_tokens")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(got.nonEmpty)
      assert(got === batch,
        "file-source JSONL curation must equal the batch pipeline on the same rows")

      // corrupt accounting: both garbage lines surfaced, data columns null
      val bad = spark.sql(s"SELECT * FROM jsonl_corrupt").collect()
      assert(bad.length === garbage.length)
      assert(bad.forall(_.isNullAt(0)), "corrupt rows must not parse a doc_id")
      assert(bad.map(_.getString(1).trim).toSet === garbage.map(_.trim).toSet,
        "every malformed raw line must be captured verbatim")
    } finally { q1.stop(); q2.stop() }
  }

  test("bootstrapped admission stream: verdicts reconcile with batch q73; state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, conv, md5, pmod, substring, lit}
    val documents = Tables.load(spark, sf, "documents")
    val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    // the q73 split: corpus = doc_id % 17 != 0, batch = the rest
    val corpusHashes = documents
      .filter(pmod(col("doc_id"), lit(17)) =!= 0).select(h.as("h"))
    val batchDocs = documents.filter(pmod(col("doc_id"), lit(17)) === 0)
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
      .as[DocStream.Doc].collect().sortBy(_.doc_id).toSeq
    assert(batchDocs.nonEmpty)
    // tick 2 re-sends tick-1 docs under fresh ids: cross-micro-batch dups.
    // Candidates are restricted to texts NOT in the corpus, so their
    // expected verdict is unambiguously dup_stream (not dup_corpus).
    val (t1, t2) = batchDocs.splitAt(batchDocs.length / 2)
    val corpusSet = corpusHashes.collect().map(_.getLong(0)).toSet
    def h60(text: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    val resent = t1.filter(d => !corpusSet.contains(h60(d.text)))
      .take(3).map(d => d.copy(doc_id = d.doc_id + 500000))
    assert(resent.length === 3, "need 3 non-corpus tick-1 docs to re-send")

    val input = MemoryStream[DocStream.Doc]
    val q = DocStream.admissionStream(input.toDF(), corpusHashes)
      .writeStream.format("memory").queryName("admit_out")
      .outputMode("append").start()
    try {
      input.addData(t1); q.processAllAvailable()
      input.addData(t2 ++ resent); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, verdict FROM admit_out")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size === batchDocs.length + resent.length,
        "exactly one verdict per streamed document")

      // reconcile against the batch q73 report on the same split
      val report = graft.operators.Provenance.q73IncrementalDedup(documents)
        .agg(org.apache.spark.sql.functions.sum("n_batch"),
          org.apache.spark.sql.functions.sum("n_dup"),
          org.apache.spark.sql.functions.sum("n_new")).collect()(0)
      val streamed = got.filterNot(_._1 >= 500000)
      assert(streamed.size.toLong === report.getLong(0))
      assert(streamed.values.count(_ == "dup_corpus").toLong === report.getLong(1),
        "corpus-dup verdicts must equal q73's n_dup")
      assert(streamed.values.count(v => v == "new" || v == "dup_stream").toLong
        === report.getLong(2),
        "new + stream-dup verdicts must equal q73's n_new (q73 only knows the corpus)")

      // cross-micro-batch state: every tick-2 re-send is a stream dup
      resent.foreach(d => assert(got(d.doc_id) == "dup_stream",
        s"re-sent doc ${d.doc_id} must be caught by carried stream state"))
      // its tick-1 original was admitted (corpus membership untouched)
      resent.foreach(d => assert(got(d.doc_id - 500000) != "dup_corpus"))
    } finally q.stop()
  }

  test("admission stream survives kill + restart: checkpoint state, persisted corpus artifact, no dup / no loss") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, conv, md5, pmod, substring, lit}
    val documents = Tables.load(spark, sf, "documents")
    val corpusDocs = documents.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    // corpus state comes from the PERSISTED ArtifactStore parquet — the
    // multi-job deployment shape: restart reads the artifact + the
    // checkpoint, never the corpus text
    val artRoot = Files.createTempDirectory("graft_admit_art").toString
    val state = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, corpusDocs)
      .select(col("ch").as("h"))

    val batchDocs = documents.filter(pmod(col("doc_id"), lit(17)) === 0)
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
      .as[DocStream.Doc](org.apache.spark.sql.Encoders.product[DocStream.Doc])
      .collect().sortBy(_.doc_id).toSeq
    val (t1, t2) = batchDocs.splitAt(batchDocs.length / 2)
    assert(t1.nonEmpty && t2.nonEmpty)
    val corpusSet = state.collect().map(_.getLong(0)).toSet
    def h60(text: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    // post-restart probes: a re-send of a tick-1 doc (stream state must
    // have survived the restart) and a clone of a CORPUS doc (the
    // initialState seeding must have survived too — a restarted query
    // restores state from the checkpoint, it does NOT re-seed)
    val resent = t1.filter(d => !corpusSet.contains(h60(d.text)))
      .take(2).map(d => d.copy(doc_id = d.doc_id + 500000))
    assert(resent.nonEmpty, "need non-corpus tick-1 docs to re-send")
    val corpusClone = {
      import spark.implicits._
      val r = corpusDocs.orderBy("doc_id").limit(1)
        .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
        .as[DocStream.Doc].head()
      r.copy(doc_id = 600000L)
    }

    val dir = Files.createTempDirectory("graft_admit_jsonl")
    val ckpt = Files.createTempDirectory("graft_admit_ckpt").toString
    val outDir = Files.createTempDirectory("graft_admit_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    def drop(name: String, ds: Seq[DocStream.Doc]): Unit =
      Files.writeString(dir.resolve(name), ds.map(jline).mkString("\n") + "\n")
    def startQuery() = {
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      DocStream.admissionStream(raw, state)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }

    // tick 1 → kill
    drop("tick1.jsonl", t1)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    // tick 2 lands while the query is DOWN; a fresh query object resumes
    // from the checkpoint and picks it up
    drop("tick2.jsonl", t2 ++ resent :+ corpusClone)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
    // no loss, no dup across the restart: exactly one verdict per doc
    assert(got.length === got.map(_._1).distinct.length,
      "restart emitted a second verdict for some doc (dup)")
    assert(got.length === batchDocs.length + resent.length + 1,
      "restart lost or duplicated documents")
    val byId = got.toMap
    resent.foreach(d => assert(byId(d.doc_id) === "dup_stream",
      s"re-sent doc ${d.doc_id}: tick-1 stream state must survive the restart"))
    assert(byId(600000L) === "dup_corpus",
      "corpus clone after restart: the seeded corpus state must survive via checkpoint")
    // and the verdict totals still reconcile with batch q73 on the same split
    val report = graft.operators.Provenance.q73IncrementalDedup(documents)
      .agg(org.apache.spark.sql.functions.sum("n_batch"),
        org.apache.spark.sql.functions.sum("n_dup"),
        org.apache.spark.sql.functions.sum("n_new")).collect()(0)
    val streamed = byId.filterNot(_._1 >= 500000)
    assert(streamed.size.toLong === report.getLong(0))
    assert(streamed.values.count(_ == "dup_corpus").toLong === report.getLong(1))
    assert(streamed.values.count(v => v == "new" || v == "dup_stream").toLong
      === report.getLong(2))
  }

  test("fuzzy admission stream: corpus near-dups rejected via persisted band state, across kill + restart; reconciles with batch q92") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val documents = Tables.load(spark, sf, "documents")
    val corpusDocs = documents.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    val batchFrame = documents.filter(pmod(col("doc_id"), lit(17)) === 0)

    // ALL corpus state from the persisted ArtifactStore parquet — the
    // multi-job shape: ticks (and restarts) read artifacts, never text
    val artRoot = Files.createTempDirectory("graft_fuzzy_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, corpusDocs)
    val bands = graft.io.ArtifactStore.corpusBandsOrBuild(artRoot, corpusDocs)
    val shing = graft.io.ArtifactStore.corpusShinglesOrBuild(artRoot, corpusDocs)
    assert(graft.io.ArtifactStore.listArtifacts(spark, artRoot).map(_._1).toSet
      === Set("corpus_hashes", "corpus_bands", "corpus_shingle_hashes"))

    import spark.implicits._
    val batchDocs = batchFrame
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
      .as[DocStream.Doc].collect().sortBy(_.doc_id).toSeq
    val (t1, t2) = batchDocs.splitAt(batchDocs.length / 2)
    assert(t1.nonEmpty && t2.nonEmpty)

    // near-dup probes: a corpus doc with ONE token replaced — shingle
    // Jaccard ≈ (n-5)/n for an n-shingle doc, far above the 0.2 gate.
    // One per tick: nd1 exercises the pre-kill path, nd2 proves the
    // band/shingle artifacts reload identically after the restart.
    val donors = corpusDocs.orderBy("doc_id").limit(2)
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
      .as[DocStream.Doc].collect()
    def mutate(t: String): String = {
      val toks = t.split(" "); toks(0) = "zzqx"; toks.mkString(" ")
    }
    val nd1 = DocStream.Doc(700000L, donors(0).ts, mutate(donors(0).text))
    val nd2 = DocStream.Doc(700001L, donors(1).ts, mutate(donors(1).text))
    // exact clone of a corpus doc: must verdict dup_corpus_exact-side
    // (precedence: the fuzzy gate only touches 'new' docs)
    val corpusClone = donors(0).copy(doc_id = 600000L)

    val dir = Files.createTempDirectory("graft_fuzzy_jsonl")
    val ckpt = Files.createTempDirectory("graft_fuzzy_ckpt").toString
    val outDir = Files.createTempDirectory("graft_fuzzy_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    def drop(name: String, ds: Seq[DocStream.Doc]): Unit =
      Files.writeString(dir.resolve(name), ds.map(jline).mkString("\n") + "\n")
    def startQuery() = {
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      DocStream.fuzzyAdmissionQuery(raw, hashes.select(col("ch").as("h")),
        bands, shing, outDir, ckpt)
    }

    // tick 1 → kill
    drop("tick1.jsonl", t1 :+ nd1)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    // tick 2 lands while the query is DOWN
    drop("tick2.jsonl", t2 ++ Seq(nd2, corpusClone))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
    assert(got.length === got.map(_._1).distinct.length,
      "restart emitted a second verdict for some doc (dup)")
    assert(got.length === batchDocs.length + 3, "restart lost documents")
    val byId = got.toMap
    assert(byId(700000L) === "dup_corpus_fuzzy",
      "tick-1 near-dup of a corpus doc must be rejected by the band state")
    assert(byId(700001L) === "dup_corpus_fuzzy",
      "post-restart near-dup: the persisted band/shingle artifacts must serve identically")
    assert(byId(600000L) === "dup_corpus",
      "exact corpus clone takes the exact verdict, not the fuzzy one (precedence)")

    // reconcile the ORIGINAL batch docs (no probes) against the batch
    // q92 report served from the same artifacts
    val report = graft.io.ArtifactStore
      .fuzzyAdmissionAgainstStore(artRoot, corpusDocs, batchFrame)
      .agg(org.apache.spark.sql.functions.sum("n_batch"),
        org.apache.spark.sql.functions.sum("n_dup_exact"),
        org.apache.spark.sql.functions.sum("n_dup_fuzzy"),
        org.apache.spark.sql.functions.sum("n_new")).collect()(0)
    val orig = byId.filter(_._1 < 600000L)
    assert(orig.size.toLong === report.getLong(0))
    assert(orig.values.count(_ == "dup_corpus").toLong === report.getLong(1))
    assert(orig.values.count(_ == "dup_corpus_fuzzy").toLong === report.getLong(2))
    assert(orig.values.count(v => v == "new" || v == "dup_stream").toLong
      === report.getLong(3),
      "stream fuzzy verdicts must reconcile with the batch q92 report")
  }

  test("q92 persisted-state path equals the live oracle-checked path") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import java.nio.file.Files
    val documents = Tables.load(spark, sf, "documents")
    val artRoot = Files.createTempDirectory("graft_q92_art").toString
    val live = graft.operators.Provenance.q92FuzzyAdmission(documents).collect()
    val stored = graft.io.ArtifactStore.fuzzyAdmissionAgainstStore(artRoot,
      documents.filter(pmod(col("doc_id"), lit(17)) =!= 0),
      documents.filter(pmod(col("doc_id"), lit(17)) === 0)).collect()
    assert(live.map(_.toSeq).toSeq === stored.map(_.toSeq).toSeq,
      "hash-verified state path must equal the string-verified live path")
  }

  test("watermark-bounded dedup: suppresses within horizon, re-admits after eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d0 = DocStream.Doc(1L, HourNs, "the quick brown fox")
    val dupSoon = d0.copy(doc_id = 2L, ts = HourNs + HourNs / 2) // +30 min: inside 1 h horizon
    val far = DocStream.Doc(3L, 20 * HourNs, "advances the watermark")
    val dupLate = d0.copy(doc_id = 4L, ts = 21 * HourNs) // state long evicted
    val input = MemoryStream[DocStream.Doc]
    val q = DocStream.dedupWithinWatermark(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("wm_dedup_out")
      .outputMode("append").start()
    try {
      input.addData(Seq(d0, dupSoon)); q.processAllAvailable()
      input.addData(Seq(far)); q.processAllAvailable() // watermark → 19:00
      input.addData(Seq(dupLate)); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM wm_dedup_out ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(1L, 3L, 4L),
        "within-horizon dup must be dropped; post-eviction dup must re-emit")
    } finally q.stop()
  }

  test("folding gated admission: state folds between micro-batches — a near-dup of a tick-1 ADMISSION is caught at tick 2, across kill + restart + compaction") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val documents = Tables.load(spark, sf, "documents")

    val artRoot = Files.createTempDirectory("graft_fold_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, documents)
    val w = graft.operators.QualityModel.weights(documents, scope = "foldspec")

    // synthetic novel docs (tokens outside the corpus vocabulary):
    // X is admitted at tick 1; X' (one token mutated — shingle Jaccard
    // far above 0.2) arrives at tick 2. Without the fold, X' would be
    // 'new' (it matches nothing in the CORPUS state — exactly the
    // refineFuzzy scaladoc's documented stream-vs-stream miss); with
    // it, tick 2 judges against corpus ∪ tick-1-admitted and rejects.
    val xToks = (1 to 30).map(i => s"qq$i")
    val xText = xToks.mkString(" ")
    val xPrime = xToks.updated(14, "zzqx").mkString(" ")
    val yText = (1 to 30).map(i => s"rr$i").mkString(" ")
    val x = DocStream.Doc(800000L, HourNs, xText)
    val xp = DocStream.Doc(800001L, 2 * HourNs, xPrime)
    val xResent = DocStream.Doc(800002L, 2 * HourNs, xText)
    val y = DocStream.Doc(800003L, 2 * HourNs, yText)

    val st = graft.io.IngestLoop.stores(spark, artRoot, "foldloop")
    graft.io.IngestLoop.bootstrap(st, documents)
    // the stream also serves retrieval: postings fold per micro-batch
    val idx = graft.io.ArtifactStore.bm25Incremental(spark, artRoot, "foldloop")
    idx.bootstrap(documents)
    val tok0 = graft.operators.Retrieval.tokenizeRuns.get()
    // ... and maintains curation state (the batch tick's census leg)
    val cen = graft.io.ArtifactStore.gramCensusIncremental(
      spark, artRoot, "foldloop_cen")
    cen.bootstrap(documents)
    val cenRuns0 = graft.operators.SubstringDedup.censusRuns.get()
    // ... and serves similarity search (the q124 symmetry): the ANN leg
    // carries a side table of the stream docs' embeddings; admitted
    // docs' codes fold under the same batch-id-keyed ticks
    import graft.operators.{Kmeans, Pq}
    import spark.implicits._
    val embBase = graft.io.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val sideVecs = Seq(800000L, 800001L, 800002L, 800003L).map(id =>
      (id, Array.tabulate(64)(d => ((id % 7) + d % 5 + 1).toDouble / 10.0)))
      .toDF("vec_id", "embedding")
    val cents = Kmeans.centroidTable(embBase)
    val rcb = Pq.residualCodebookTable(embBase)
    val ann = graft.io.ArtifactStore.ivfPqIncremental(
      spark, artRoot, "foldloop")
    ann.bootstrap(embBase, cents, rcb)

    val dir = Files.createTempDirectory("graft_fold_jsonl")
    val ckpt = Files.createTempDirectory("graft_fold_ckpt").toString
    val outDir = Files.createTempDirectory("graft_fold_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    def drop(name: String, ds: Seq[DocStream.Doc]): Unit =
      Files.writeString(dir.resolve(name), ds.map(jline).mkString("\n") + "\n")
    def startQuery() = {
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      // lowFrac = 0: the budget gate admits every novel doc, so this
      // test isolates the FOLD (the budget leg is the gated test above)
      DocStream.foldingGatedAdmissionQuery(raw,
        hashes.select(col("ch").as("h")), st, w, outDir, ckpt, lowFrac = 0.0,
        legs = graft.io.IngestLoop.Legs(idx = Some(idx), census = Some(cen),
          ann = Some(graft.io.IngestLoop.AnnLeg(ann, sideVecs, cents, rcb))))
    }

    // tick 1: X admitted → folded into the stores; then KILL
    drop("tick1.jsonl", Seq(x))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(st.bands.maxTick === 2L,
      "batch 0 must fold its admissions at tick 2 (bootstrap = 1)")

    // compaction at the quiesce point — the restart must land on the
    // compacted generation and still reject X'
    assert(graft.io.IngestLoop.compactIfNeeded(st, maxDataFiles = 0))

    // tick 2 lands while the query is DOWN; a fresh query resumes
    drop("tick2.jsonl", Seq(xp, xResent, y))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
    assert(got.length === got.map(_._1).distinct.length, "duplicate verdicts")
    val byId = got.toMap
    assert(byId(800000L) === "new", "X is novel at tick 1")
    assert(byId(800001L) === "dup_corpus_fuzzy",
      "X' must be rejected at tick 2 by the FOLDED band state — " +
        "the stream-vs-stream near-dup miss upgraded to caught-at-next-tick")
    assert(byId(800002L) === "dup_stream",
      "exact re-send: the checkpointed exact state must survive restart")
    assert(byId(800003L) === "new", "unrelated novel doc stays admitted")
    // fold idempotency bookkeeping: batch 1 folded at tick 3 on the
    // compacted generation (gen=2), nothing double-folded
    assert(st.bands.maxTick === 3L)

    // STREAMING RETRIEVAL FOLD: the index followed the stream — its
    // served ranking must equal a from-scratch rebuild over base ∪ the
    // stream's admissions, across the kill/restart, with each batch
    // tokenized exactly once (bootstrap + 2 batches)
    import graft.operators.Retrieval
    assert(idx.store.maxTick === 3L,
      "postings fold batch-id-keyed alongside the dedup stores")
    assert(Retrieval.tokenizeRuns.get() - tok0 <= 3L,
      "no batch may be re-tokenized (bootstrap + one pass per batch)")
    val admittedIds = got.filter(_._2 == "new").map(_._1).toSet
    assert(admittedIds === Set(800000L, 800003L))
    import spark.implicits._
    val admittedDocs = Seq((800000L, xText), (800003L, yText))
      .toDF("doc_id", "text")
    val rebuildCorpus = documents.select("doc_id", "text").union(admittedDocs)
    val queries = documents.filter(col("doc_id") % 50 === 7)
      .select("doc_id", "text")
    val served = Retrieval.topkFromIndex(idx.index(), queries)
      .collect().map(_.toSeq).toSeq
    val rebuilt = Retrieval.topkFromIndex(Retrieval.index(rebuildCorpus), queries)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served === rebuilt,
      "stream-folded postings must rank exactly like a rebuild over " +
        "base ∪ admissions — the served index never lags the dedup state")

    // STREAMING CURATION FOLD: the census followed the same ticks — the
    // maintained winner set must equal a re-mine of base ∪ admissions,
    // with each batch census-mined exactly once (no old tick re-mined)
    import graft.operators.SubstringDedup
    assert(cen.store.maxTick === 3L,
      "census increments fold batch-id-keyed alongside the dedup stores")
    assert(SubstringDedup.censusRuns.get() - cenRuns0 <= 2L,
      "each micro-batch's admissions are census-mined exactly once")
    assert(SubstringDedup.winnersFromCensus(cen.read())
      .collect().map(_.getLong(0)).toSeq ===
      SubstringDedup.winnersFromCensus(SubstringDedup.censusOf(rebuildCorpus))
        .collect().map(_.getLong(0)).toSeq,
      "stream-folded census must equal a re-mine over base ∪ admissions")

    // STREAMING ANN FOLD: the served codes followed the same ticks —
    // admitted docs' vectors (and ONLY those) encode under the frozen
    // serving artifacts, bit-equal to a batch re-encode over base ∪
    // the stream's admissions, across the kill/restart
    assert(ann.store.maxTick === 3L,
      "ANN codes fold batch-id-keyed alongside the dedup stores")
    val rebuildVecs = embBase.unionByName(
      sideVecs.filter(col("vec_id").isin(admittedIds.toSeq: _*)))
    assert(ann.codes().collect().map(_.toSeq).toSet ===
      Pq.residualCodes(rebuildVecs, cents, rcb)
        .collect().map(_.toSeq).toSet,
      "stream-folded codes must equal a re-encode over base ∪ admissions " +
        "— the served similarity index never lags the dedup state")
  }

  test("multimodal folding admission: image/audio sig state folds between micro-batches — a perceptual near-dup of a batch-0 ADMISSION is caught at batch 1, across kill + restart") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val documents = Tables.load(spark, sf, "documents")

    val artRoot = Files.createTempDirectory("graft_mmfold_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, documents)
    val w = graft.operators.QualityModel.weights(documents, scope = "mmfoldspec")

    // planted perceptual partners (the q110/q116 id formulas): B's image
    // is A's seed perturbed (B = A+3, B%7==3); D's audio is C's seed
    // perturbed (D = C+2, D%5==2). All four texts are novel and textually
    // unrelated, so ONLY the signature legs can reject B and D.
    def toks(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val a = DocStream.Doc(900200L, HourNs, toks("ima"))
    val c = DocStream.Doc(900115L, HourNs, toks("aua"))
    val b = DocStream.Doc(900203L, 2 * HourNs, toks("imb"))
    val d = DocStream.Doc(900117L, 2 * HourNs, toks("aub"))
    val e = DocStream.Doc(900120L, 2 * HourNs, toks("nov"))

    val st = graft.io.IngestLoop.mmStores(spark, artRoot, "mmfold")
    graft.io.IngestLoop.bootstrap(st, documents)

    val dir = Files.createTempDirectory("graft_mmfold_jsonl")
    val ckpt = Files.createTempDirectory("graft_mmfold_ckpt").toString
    val outDir = Files.createTempDirectory("graft_mmfold_out").toString
    def jline(dc: DocStream.Doc): String =
      s"""{"doc_id": ${dc.doc_id}, "ts": ${dc.ts}, "text": "${dc.text}"}"""
    def drop(name: String, ds: Seq[DocStream.Doc]): Unit =
      Files.writeString(dir.resolve(name), ds.map(jline).mkString("\n") + "\n")
    def startQuery() = {
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      DocStream.foldingGatedAdmissionQuery(raw,
        hashes.select(col("ch").as("h")), st, w, outDir, ckpt,
        lowFrac = 0.0)
    }

    // batch 0: A and C admitted → their sigs fold; then KILL
    drop("b0.jsonl", Seq(a, c))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(st.imgSigs.maxTick === 2L && st.audSigs.maxTick === 2L,
      "batch 0 must fold its admissions' signatures at tick 2")

    // batch 1 lands while the query is DOWN; a fresh query resumes
    drop("b1.jsonl", Seq(b, d, e))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(got(900200L) === "new" && got(900115L) === "new",
      "batch 0's planted sources are novel")
    assert(got(900203L) === "dup_corpus_image",
      "B must be rejected at batch 1 by the FOLDED image sig state")
    assert(got(900117L) === "dup_corpus_audio",
      "D must be rejected at batch 1 by the FOLDED audio sig state")
    assert(got(900120L) === "new", "unrelated novel doc stays admitted")
    // rejected docs' sigs never entered the state
    assert(st.imgSigs.maxTick === 3L && st.audSigs.maxTick === 3L)
    assert(st.imgSigs.current().get
      .filter(col("doc_id").isin(900203L, 900117L)).count() === 0L,
      "a rejected doc's signature must not fold")
  }

  test("takedown at a stream restart boundary: retract → rollover → restart un-rejects the retracted doc's copies on every layer; a control without the takedown keeps rejecting them") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit}
    val documents = Tables.load(spark, sf, "documents")

    val artRoot = Files.createTempDirectory("graft_takedown_art").toString
    val w = graft.operators.QualityModel.weights(documents, scope = "tdspec")

    // novel doc X admitted on run 1; after the takedown, an exact copy
    // X2 and a near-dup X' must BOTH re-admit; a dup of a SURVIVING
    // corpus doc must stay rejected (the takedown is doc-granular)
    val xToks = (1 to 30).map(i => s"td$i")
    val x = DocStream.Doc(910000L, HourNs, xToks.mkString(" "))
    val x2 = DocStream.Doc(910001L, 2 * HourNs, xToks.mkString(" "))
    val xp = DocStream.Doc(910002L, 2 * HourNs,
      xToks.updated(7, "tdqz").mkString(" "))
    val survDup = DocStream.Doc(910003L, 2 * HourNs,
      documents.orderBy("doc_id").select("text").head().getString(0))

    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    // one input dir, checkpoint, and output dir PER RUN: each restart
    // is a fresh query over its own drop directory, folding into
    // whatever store generation it is handed
    def runOnce(st: graft.io.IngestLoop.Stores,
                ds: Seq[DocStream.Doc]): Map[Long, String] = {
      val dir = Files.createTempDirectory("graft_td_in")
      val ckpt = Files.createTempDirectory("graft_td_ckpt").toString
      val out = Files.createTempDirectory("graft_td_out").toString
      Files.writeString(dir.resolve("drop.jsonl"),
        ds.map(jline).mkString("\n") + "\n")
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      // the exact layer seeds from the store generation's own tick-1
      // hash state — the rollover contract
      val seed = st.hashes.currentUpTo(1).get
        .select(col("ch").as("h")).distinct()
      val q = DocStream.foldingGatedAdmissionQuery(raw, seed, st, w,
        out, ckpt, lowFrac = 0.0)
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
        .toMap
    }
    val run2Docs = Seq(x2, xp, survDup)

    // takedown path: run 1 → quiesce retraction of X → rollover → run 2
    val stA = graft.io.IngestLoop.stores(spark, artRoot, "tdA")
    graft.io.IngestLoop.bootstrap(stA, documents)
    val r1 = runOnce(stA, Seq(x))
    assert(r1(910000L) === "new", "X is novel on run 1")
    graft.io.IngestLoop.retractTick(stA,
      spark.range(1).select(lit(910000L).as("doc_id")))
    val stA2 = graft.io.IngestLoop.rollover(stA, spark, artRoot, "tdA2")
    val r2 = runOnce(stA2, run2Docs)
    assert(r2(910001L) === "new",
      "the retracted doc's exact copy must re-admit after the takedown")
    assert(r2(910002L) === "new",
      "the retracted doc's near-dup must re-admit: its band/shingle " +
        "rows are resolved out of the rolled state")
    assert(r2(910003L) === "dup_corpus",
      "a duplicate of a SURVIVING corpus doc must stay rejected")

    // control path: identical flow WITHOUT the takedown — both copies
    // keep being rejected, so the un-rejection above is the retraction
    val stB = graft.io.IngestLoop.stores(spark, artRoot, "tdB")
    graft.io.IngestLoop.bootstrap(stB, documents)
    runOnce(stB, Seq(x))
    val stB2 = graft.io.IngestLoop.rollover(stB, spark, artRoot, "tdB2")
    val c2 = runOnce(stB2, run2Docs)
    assert(c2(910001L) === "dup_corpus",
      "control: the exact copy stays rejected without the takedown")
    assert(c2(910002L) === "dup_corpus_fuzzy",
      "control: the near-dup stays rejected without the takedown")
    assert(c2(910003L) === "dup_corpus")
  }

  test("gated admission stream (q103 twin): one tick reconciles with the batch report") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val documents = Tables.load(spark, sf, "documents")
    val corpusDocs = documents.filter(pmod(col("doc_id"), lit(17)) =!= 0)
    val batchFrame = documents.filter(pmod(col("doc_id"), lit(17)) === 0)

    val artRoot = Files.createTempDirectory("graft_gated_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, corpusDocs)
    val bands = graft.io.ArtifactStore.corpusBandsOrBuild(artRoot, corpusDocs)
    val shing = graft.io.ArtifactStore.corpusShinglesOrBuild(artRoot, corpusDocs)
    // the SAME frozen weights q103 uses (corpus-side teacher, memo-shared)
    val w = graft.operators.QualityModel.weights(corpusDocs, scope = "admission17")

    import spark.implicits._
    val batchDocs = batchFrame
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000 AS ts", "text")
      .as[DocStream.Doc].collect().sortBy(_.doc_id).toSeq

    val dir = Files.createTempDirectory("graft_gated_jsonl")
    val ckpt = Files.createTempDirectory("graft_gated_ckpt").toString
    val outDir = Files.createTempDirectory("graft_gated_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    // ONE tick carrying exactly the q103 batch slice: the per-tick
    // budget window then ranges over the identical novel set
    Files.writeString(dir.resolve("tick1.jsonl"),
      batchDocs.map(jline).mkString("\n") + "\n")
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val q = DocStream.gatedAdmissionQuery(raw,
      hashes.select(col("ch").as("h")), bands, shing, w, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(got.size === batchDocs.length)
    // batch-internal exact dups would verdict dup_stream here but count
    // as novel in batch q103 (its state join sees only the corpus) —
    // this corpus slice has none, so the reconciliation is exact
    assert(!got.values.exists(_ == "dup_stream"),
      "unexpected batch-internal exact dup in the fixture slice")
    val rep = graft.operators.Provenance.q103AdmissionGate(documents)
      .agg(org.apache.spark.sql.functions.sum("n_batch"),
        org.apache.spark.sql.functions.sum("n_dup_exact"),
        org.apache.spark.sql.functions.sum("n_dup_fuzzy"),
        org.apache.spark.sql.functions.sum("n_low_quality"),
        org.apache.spark.sql.functions.sum("n_new")).collect()(0)
    assert(got.size.toLong === rep.getLong(0))
    assert(got.values.count(_ == "dup_corpus").toLong === rep.getLong(1))
    assert(got.values.count(_ == "dup_corpus_fuzzy").toLong === rep.getLong(2))
    assert(got.values.count(_ == "low_quality").toLong === rep.getLong(3),
      "the per-tick budget gate must drop the same docs as batch q103")
    assert(got.values.count(_ == "new").toLong === rep.getLong(4))
  }

  test("stream-rejected docs are recoverable (q131 in streaming): quarantine folds batch-id-keyed; takedown → rollover → readjudicate re-admits the doc whose evidence was retracted") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit}
    val documents = Tables.load(spark, sf, "documents")
    val artRoot = Files.createTempDirectory("graft_squar_art").toString
    val w = graft.operators.QualityModel.weights(documents, scope = "sqspec")

    // X is a SYNTHETIC novel doc admitted by batch 0 (no corpus
    // partners — its takedown removes ALL its evidence); batch 1 then
    // rejects x2 (exact copy → dup_stream → quarantined dup_exact) and
    // xp (near-dup → dup_corpus_fuzzy → quarantined dup_fuzzy). zp is
    // a near-dup of a SURVIVING corpus doc — the control leg that must
    // stay rejected through the takedown.
    val xToks = (1 to 30).map(i => s"sq$i")
    val x = DocStream.Doc(920000L, HourNs, xToks.mkString(" "))
    val x2 = DocStream.Doc(920001L, 2 * HourNs, xToks.mkString(" "))
    val xp = DocStream.Doc(920002L, 2 * HourNs,
      xToks.updated(7, "sqzz").mkString(" "))
    val zText = documents.orderBy("doc_id").select("text")
      .head().getString(0)
    val zToks = zText.split(" ")
    val zp = DocStream.Doc(920003L, 2 * HourNs,
      zToks.updated(math.min(3, zToks.length - 1), "sqyy").mkString(" "))

    val st = graft.io.IngestLoop.stores(spark, artRoot, "sq1")
    graft.io.IngestLoop.bootstrap(st, documents)
    val quar = graft.io.IngestLoop.quarantine(spark, artRoot, "sq1")
    graft.io.IngestLoop.bootstrapQuarantine(quar, documents)

    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    val dir = Files.createTempDirectory("graft_squar_in")
    val ckpt = Files.createTempDirectory("graft_squar_ckpt").toString
    val out = Files.createTempDirectory("graft_squar_out").toString
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val seed = st.hashes.currentUpTo(1).get
      .select(col("ch").as("h")).distinct()
    val q = DocStream.foldingGatedAdmissionQuery(raw, seed, st, w, out, ckpt,
      lowFrac = 0.0, legs = graft.io.IngestLoop.Legs(quar = Some(quar)))
    try {
      Files.writeString(dir.resolve("drop1.jsonl"), jline(x) + "\n")
      q.processAllAvailable()
      Files.writeString(dir.resolve("drop2.jsonl"),
        Seq(x2, xp, zp).map(jline).mkString("\n") + "\n")
      q.processAllAvailable()
    } finally q.stop()

    // all three rejections are quarantined, with batch evidence classes
    val qRows = quar.rows.current().get
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(qRows === Map(920001L -> "dup_exact", 920002L -> "dup_fuzzy",
      920003L -> "dup_fuzzy"))

    // quiesce takedown of X, roll BOTH bundles, re-adjudicate
    graft.io.IngestLoop.retractTick(st,
      spark.range(1).select(lit(920000L).as("doc_id")))
    val st2 = graft.io.IngestLoop.rollover(st, spark, artRoot, "sq2")
    val quar2 = graft.io.IngestLoop.rolloverQuarantine(st, quar,
      spark, artRoot, "sq2")
    val rep = graft.io.IngestLoop.readjudicateTick(st2, quar2, w,
      lowFrac = 0.0).collect()
    assert(rep.length === 1 && rep.head.getString(0) === "stream")
    assert(rep.head.getLong(7) === 2L,
      "x2 and xp must re-admit: their only dup evidence was retracted")
    assert(rep.head.getLong(5) === 1L,
      "zp must stay a fuzzy dup of the surviving corpus doc")

    // the re-admitted doc folded into the rolled state: a later exact
    // copy is rejected
    val x3 = documents.limit(1)
      .select(lit(920004L).as("doc_id"), lit("stream").as("source"),
        lit(xToks.mkString(" ")).as("text"))
    val rep2 = graft.io.IngestLoop.runTick(st2, x3, w).collect()
    assert(rep2.map(_.getLong(2)).sum === 1L,
      "an exact copy of the re-admitted doc must be dup_exact")
  }

  test("mm stream quarantine: a stream-rejected IMAGE near-dup recovers via takedown → rolloverMm → readjudicateMmTick, across kill + restart; audio evidence of a survivor keeps holding") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit}
    val documents = Tables.load(spark, sf, "documents")
    val artRoot = Files.createTempDirectory("graft_mmsq_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, documents)
    val w = graft.operators.QualityModel.weights(documents,
      scope = "mmsqspec")

    // the mm folding fixture: B's image renders A's seed (B = A+3,
    // B%7==3), D's audio renders C's (D = C+2, D%5==2); all texts
    // novel, so ONLY the signature legs reject B and D
    def toks(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val a = DocStream.Doc(900298L, HourNs, toks("qia"))
    val c = DocStream.Doc(900215L, HourNs, toks("qaa"))
    val b = DocStream.Doc(900301L, 2 * HourNs, toks("qib"))
    val d = DocStream.Doc(900217L, 2 * HourNs, toks("qab"))

    val st = graft.io.IngestLoop.mmStores(spark, artRoot, "mmsq")
    graft.io.IngestLoop.bootstrap(st, documents)
    val quar = graft.io.IngestLoop.quarantine(spark, artRoot, "mmsq")
    graft.io.IngestLoop.bootstrapMmQuarantine(quar, documents)

    def jline(dc: DocStream.Doc): String =
      s"""{"doc_id": ${dc.doc_id}, "ts": ${dc.ts}, "text": "${dc.text}"}"""
    val dir = Files.createTempDirectory("graft_mmsq_in")
    val ckpt = Files.createTempDirectory("graft_mmsq_ckpt").toString
    val out = Files.createTempDirectory("graft_mmsq_out").toString
    def startQuery() = {
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      DocStream.foldingGatedAdmissionQuery(raw, hashes.select(col("ch").as("h")),
        st, w, out, ckpt, lowFrac = 0.0,
        legs = graft.io.IngestLoop.Legs(quar = Some(quar)))
    }
    // batch 0 admits A and C; KILL; batch 1 lands while the query is
    // down and a fresh query rejects B (image) and D (audio)
    Files.writeString(dir.resolve("b0.jsonl"),
      Seq(a, c).map(jline).mkString("\n") + "\n")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    Files.writeString(dir.resolve("b1.jsonl"),
      Seq(b, d).map(jline).mkString("\n") + "\n")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val qRows = quar.rows.current().get
      .select("doc_id", "verdict", "img_sig", "aud_sig").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.isNullAt(2), r.isNullAt(3)))
      .toMap
    assert(qRows(900301L)._1 === "dup_image" &&
      qRows(900217L)._1 === "dup_audio",
      "both mm rejections quarantine under their evidence class")
    assert(!qRows(900301L)._2 && !qRows(900217L)._3,
      "quarantine rows carry the 8-byte signatures as evidence")

    // quiesce takedown of A (image source) — C (audio source) survives;
    // roll both bundles; the mm re-adjudication re-admits B, holds D
    graft.io.IngestLoop.retractTick(st,
      spark.range(1).select(lit(900298L).as("doc_id")),
      legs = graft.io.IngestLoop.Legs(quar = Some(quar)))
    val st2 = graft.io.IngestLoop.rollover(st, spark, artRoot, "mmsq2")
    val quar2 = graft.io.IngestLoop.rolloverQuarantine(st.text, quar,
      spark, artRoot, "mmsq2")
    val rep = graft.io.IngestLoop.readjudicateTick(st2, quar2, w,
      lowFrac = 0.0).collect()
    assert(rep.length === 1 && rep.head.getString(0) === "stream")
    assert(rep.head.getLong(4) === 1L && rep.head.getLong(5) === 1L,
      "one image- and one audio-class quarantinee re-judge")
    assert(rep.head.getLong(11) === 1L,
      "B must re-admit: its only image partner was retracted")
    assert(rep.head.getLong(9) === 1L,
      "D must stay held by the surviving audio source's signature")
    assert(quar2.resolvedIds.current().get
      .filter(col("doc_id") === 900301L).count() === 1L)
  }

  test("semantic leg in the stream fold (q135 twin): an embedding near-dup of a batch-0 ADMISSION is caught at batch 1; bootstrap vector state rejects too; quarantined as dup_semantic") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // sf0.01: the embedding-pair analysis (SemIngestSpec's fixtures)
    // lives there; sf0.001 is a different generated corpus
    val sf01 = "/root/testdata/sf0.01"
    val documents = Tables.load(spark, sf01, "documents")
    val emb = Tables.load(spark, sf01, "embeddings")
    val artRoot = Files.createTempDirectory("graft_ssem_art").toString
    val m = pmod(col("doc_id"), lit(graft.operators.Provenance.BatchMod))
    val corpus = documents.filter(m.between(1, 9))
    val w = graft.operators.QualityModel.weights(corpus, scope = "ssemspec")

    // real corpus ids so the vectors side table keys match: 287 (t1
    // class, text- and vector-novel vs corpus) streams at batch 0 and
    // admits; 238's ONLY near partner anywhere is 287's EMBEDDING
    // (no shared text) -> batch 1 must reject it from the FOLDED sig
    // state; 425's only partner is corpus doc 7 -> rejected from the
    // BOOTSTRAP state; 204's only partner (200) is absent -> new.
    def docText(id: Long): String = documents
      .filter(col("doc_id") === id).select("text").head().getString(0)
    val b0 = Seq(DocStream.Doc(287L, HourNs, docText(287L)))
    val b1 = Seq(DocStream.Doc(238L, 2 * HourNs, docText(238L)),
      DocStream.Doc(425L, 2 * HourNs, docText(425L)),
      DocStream.Doc(204L, 2 * HourNs, docText(204L)))

    val st = graft.io.IngestLoop.stores(spark, artRoot, "ssem")
    graft.io.IngestLoop.bootstrap(st, corpus)
    val leg = graft.io.IngestLoop.semLeg(spark, artRoot, "ssem", emb)
    graft.io.IngestLoop.bootstrapSem(leg, corpus)
    val quar = graft.io.IngestLoop.quarantine(spark, artRoot, "ssem")
    graft.io.IngestLoop.bootstrapQuarantine(quar, corpus)

    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    val dir = Files.createTempDirectory("graft_ssem_in")
    val ckpt = Files.createTempDirectory("graft_ssem_ckpt").toString
    val out = Files.createTempDirectory("graft_ssem_out").toString
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val seed = st.hashes.currentUpTo(1).get
      .select(col("ch").as("h")).distinct()
    val q = DocStream.foldingGatedAdmissionQuery(raw, seed, st, w, out, ckpt,
      lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(quar = Some(quar), sem = Some(leg)))
    try {
      Files.writeString(dir.resolve("b0.jsonl"),
        b0.map(jline).mkString("\n") + "\n")
      q.processAllAvailable()
      Files.writeString(dir.resolve("b1.jsonl"),
        b1.map(jline).mkString("\n") + "\n")
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(got(287L) === "new", "the planted source admits at batch 0")
    assert(got(238L) === "dup_corpus_semantic",
      "238 must be rejected by the FOLDED sig state (287's signature)")
    assert(got(425L) === "dup_corpus_semantic",
      "425 must be rejected by the BOOTSTRAP sig state (corpus doc 7)")
    assert(got(204L) === "new",
      "a doc whose only partner is absent stays admitted")
    // rejected docs' signatures never folded; the quarantine holds both
    assert(leg.sigs.current().get
      .filter(col("doc_id").isin(238L, 425L)).count() === 0L)
    assert(quar.rows.current().get
      .filter(col("verdict") === "dup_semantic")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(238L, 425L))
  }

  test("decontamination leg in the stream fold (q136 twin): eval-hitting arrivals reject as contaminated; a quiesce eval withdrawal re-admits through the batch re-adjudication") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val sf01 = "/root/testdata/sf0.01"
    val documents = Tables.load(spark, sf01, "documents")
    val artRoot = Files.createTempDirectory("graft_seval_art").toString
    val m = pmod(col("doc_id"), lit(graft.operators.Provenance.BatchMod))
    val corpus = graft.operators.Decontam.evalFree(documents)
      .filter(m.between(1, 9))
    val w = graft.operators.QualityModel.weights(corpus, scope = "sevalspec")

    // the q136 fixtures as STREAM arrivals: 185 is contaminated by eval
    // item 61 (withdrawn at the update), 486 by item 435 (survives);
    // 204's only near partner is absent -> the novel control
    def docText(id: Long): String = documents
      .filter(col("doc_id") === id).select("text").head().getString(0)
    val b0 = Seq(DocStream.Doc(185L, HourNs, docText(185L)),
      DocStream.Doc(486L, HourNs, docText(486L)),
      DocStream.Doc(204L, HourNs, docText(204L)))

    val st = graft.io.IngestLoop.stores(spark, artRoot, "seval")
    graft.io.IngestLoop.bootstrap(st, corpus)
    val leg = graft.io.IngestLoop.evalLeg(spark, artRoot, "seval")
    graft.io.IngestLoop.bootstrapEval(leg, corpus,
      graft.operators.Decontam.eval1Docs(documents))
    val quar = graft.io.IngestLoop.quarantine(spark, artRoot, "seval")
    graft.io.IngestLoop.bootstrapQuarantine(quar, corpus)

    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    val dir = Files.createTempDirectory("graft_seval_in")
    val ckpt = Files.createTempDirectory("graft_seval_ckpt").toString
    val out = Files.createTempDirectory("graft_seval_out").toString
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val seed = st.hashes.currentUpTo(1).get
      .select(col("ch").as("h")).distinct()
    val q = DocStream.foldingGatedAdmissionQuery(raw, seed, st, w, out, ckpt,
      lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(quar = Some(quar), eval = Some(leg)))
    try {
      Files.writeString(dir.resolve("b0.jsonl"),
        b0.map(jline).mkString("\n") + "\n")
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(got(185L) === "contaminated" && got(486L) === "contaminated",
      "eval-hitting arrivals reject as contaminated in-stream")
    assert(got(204L) === "new")
    assert(leg.docGrams.current().get
      .join(documents.filter(col("doc_id") === 204L).select("doc_id"),
        Seq("doc_id"), "left_semi").count() > 0,
      "the admitted arrival's grams fold into the retro-catch index")

    // quiesce eval UPDATE: item 61 withdraws; the batch re-adjudication
    // with the leg attached re-admits 185 and keeps holding 486
    graft.io.IngestLoop.evalUpdateTick(st, leg,
      graft.operators.Decontam.eval2Docs(documents),
      graft.operators.Decontam.withdrawEvalIds(documents))
    val rr = graft.io.IngestLoop.readjudicateTick(st, quar, w, lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(eval = Some(leg))).collect()
    assert(rr.map(_.getLong(9)).sum === 1L,
      "exactly the withdrawn-evidence arrival re-admits")
    assert(quar.resolvedIds.current().get
      .filter(col("doc_id") === 185L).count() === 1L)
    assert(quar.rows.current().get
      .join(quar.resolvedIds.current().get, Seq("doc_id"), "left_anti")
      .filter(col("verdict") === "contaminated")
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(486L),
      "486 stays held by the surviving eval item")
  }

  test("curate leg in the stream fold (q137 twin): stream-exported slices equal the batch runFullTick curated slices for the same arrivals, across kill + restart; raw dedup evidence unchanged") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val documents = Tables.load(spark, sf, "documents")
    val artRoot = Files.createTempDirectory("graft_scur_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, documents)
    val w = graft.operators.QualityModel.weights(documents, scope = "scurspec")
    val ms = graft.operators.Bpe.merges(documents)
    val seqLen = 128
    val stripK = graft.operators.CurateTick.DefaultStripK

    // arrivals: novel tokens + redactable PII; R is an exact re-send of
    // P's RAW text at batch 1 — the two-column provenance pin (the
    // export serves scrubbed text, yet the raw hash still rejects R)
    val pText = (1 to 30).map(i => s"cva$i").mkString(" ") +
      " contact alice@example.org now"
    val qText = (1 to 30).map(i => s"cvb$i").mkString(" ") +
      " or call 555-867-5309 today"
    val p = DocStream.Doc(910000L, HourNs, pText)
    val q0 = DocStream.Doc(910001L, 2 * HourNs, qText)
    val r0 = DocStream.Doc(910002L, 2 * HourNs, pText)

    def buildSide(name: String) = {
      val st = graft.io.IngestLoop.stores(spark, artRoot, name)
      graft.io.IngestLoop.bootstrap(st, documents)
      val idx = graft.io.ArtifactStore.bm25Incremental(spark, artRoot, name)
      idx.bootstrap(documents)
      val cen = graft.io.ArtifactStore.gramCensusIncremental(
        spark, artRoot, s"${name}_cen", k = stripK)
      cen.bootstrap(documents)
      val ex = graft.io.ArtifactStore.packedExport(
        spark, artRoot, s"${name}_ex", seqLen)
      ex.bootstrap(documents, ms)
      (st, idx, cen, ex)
    }

    // BATCH side: two curated batch ticks over the same arrivals
    import spark.implicits._
    val (stB, idxB, cenB, exB) = buildSide("scur_batch")
    val b0docs = Seq((910000L, "stream", pText))
      .toDF("doc_id", "source", "text")
    val b1docs = Seq((910001L, "stream", qText), (910002L, "stream", pText))
      .toDF("doc_id", "source", "text")
    val rep1 = graft.io.IngestLoop.runTick(stB, b0docs, w, lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(idx = Some(idxB), census = Some(cenB),
        export = Some(graft.io.IngestLoop.ExportLeg(exB, ms)),
        curate = Some(graft.io.IngestLoop.CurateLeg(cenB)))).collect()
    val rep2 = graft.io.IngestLoop.runTick(stB, b1docs, w, lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(idx = Some(idxB), census = Some(cenB),
        export = Some(graft.io.IngestLoop.ExportLeg(exB, ms)),
        curate = Some(graft.io.IngestLoop.CurateLeg(cenB)))).collect()
    assert(rep1.map(_.getAs[Long]("chars_redacted")).sum > 0,
      "the batch transform must redact the planted PII")

    // STREAM side: the same arrivals as two micro-batches with a KILL
    // between them, curate leg attached
    val (stS, idxS, cenS, exS) = buildSide("scur_stream")
    val dir = Files.createTempDirectory("graft_scur_in")
    val ckpt = Files.createTempDirectory("graft_scur_ckpt").toString
    val out = Files.createTempDirectory("graft_scur_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    def startQuery() = {
      val raw = graft.io.JsonLines.readStream(spark, dir.toString,
        DocStream.JsonlDocSchema)
        .filter(col(graft.io.JsonLines.CorruptCol).isNull)
        .drop(graft.io.JsonLines.CorruptCol)
      DocStream.foldingGatedAdmissionQuery(raw,
        hashes.select(col("ch").as("h")), stS, w, out, ckpt, lowFrac = 0.0,
        legs = graft.io.IngestLoop.Legs(idx = Some(idxS), census = Some(cenS),
          export = Some(graft.io.IngestLoop.ExportLeg(exS, ms)),
          curate = Some(graft.io.IngestLoop.CurateLeg(cenS))))
    }
    Files.writeString(dir.resolve("b0.jsonl"), jline(p) + "\n")
    val sq1 = startQuery()
    try sq1.processAllAvailable() finally sq1.stop()
    Files.writeString(dir.resolve("b1.jsonl"),
      Seq(q0, r0).map(jline).mkString("\n") + "\n")
    val sq2 = startQuery()
    try sq2.processAllAvailable() finally sq2.stop()

    // the pin: per epoch, the stream-exported physical slices are
    // BIT-IDENTICAL to the batch tick's curated slices — h is the
    // md5-60 of (doc_id | curated text), so a hash match certifies the
    // census-strip + PII-scrub transform end to end
    def sliceSet(df: org.apache.spark.sql.DataFrame) =
      df.select("tick", "doc_id", "seq_id", "toks", "h").collect()
        .map(_.toSeq).toSet
    assert(sliceSet(exS.slices().filter(col("tick") > 1)) ===
      sliceSet(exB.slices().filter(col("tick") > 1)),
      "stream-exported slices must equal the batch curated slices")
    assert(sliceSet(exS.slices().filter(col("tick") === 2)).nonEmpty)

    // the per-batch audit carries the q137 columns; its signature
    // equals the batch report's for the same tick
    val aud0 = spark.read.parquet(s"$out/batch=0/_audit").collect()
    assert(aud0.length === 1 && aud0.head.getAs[String]("source") === "stream")
    assert(aud0.head.getAs[Long]("chars_redacted") > 0,
      "the stream transform must redact the planted PII")
    assert(aud0.head.getAs[Long]("exact_curated_sig") ===
      rep1.head.getAs[Long]("exact_curated_sig"),
      "stream audit signature ≡ the batch tick's curated signature")

    // two-column provenance: the exact re-send of P's RAW text is
    // rejected by the raw-hash layer even though the export serves
    // P's SCRUBBED text
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(got(910000L) === "new" && got(910001L) === "new")
    assert(got(910002L) === "dup_stream",
      "raw dedup evidence is unchanged by the serving transform")

    // the serving BM25 index received the CURATED text: no posting term
    // may carry the PII token the raw text contained
    val piiHits = idxS.index().tf
      .filter(col("t").contains("alice@example.org"))
    assert(piiHits.isEmpty,
      "the serving postings must never contain scrubbed PII")
  }

  test("mm stream with semantic + eval legs (r12 verdict item 2): text evidence outranks modality signatures in-stream; takedown/eval-withdrawal recover both classes through the batch mm re-adjudication over rolled legs") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val sf01 = "/root/testdata/sf0.01"
    val documents = Tables.load(spark, sf01, "documents")
    val emb = Tables.load(spark, sf01, "embeddings")
    val artRoot = Files.createTempDirectory("graft_smm_art").toString
    val m = pmod(col("doc_id"), lit(graft.operators.Provenance.BatchMod))
    val corpus0 = graft.operators.Decontam.evalFree(documents)
      .filter(m.between(1, 9))
    // 287/204 must reach the stream's TEXT legs un-flagged and 238's
    // recovery must hinge on the SEMANTIC evidence alone, so the corpus
    // drops their incidental image/audio near-colliders (the planted
    // image fixture makes corpus docs 290/241 render 287's/238's
    // seeds); 486's colliders stay — its image evidence IS the
    // precedence pin, and the cross-evidence HOLD discipline is
    // MmIngestSpec's q133 pin
    import graft.multimodal.Multimodal
    val probe = documents.filter(col("doc_id").isin(287L, 238L, 204L))
    val colliders = Multimodal.flaggedAgainstState(
        Multimodal.imageSigs(probe), Multimodal.imageSigs(corpus0), 10, 64)
      .union(Multimodal.flaggedAgainstState(
        Multimodal.audioSigs(probe), Multimodal.audioSigs(corpus0), 10, 64))
      .select(col("fid").as("doc_id")).distinct().localCheckpoint()
    val corpus = corpus0.join(colliders, Seq("doc_id"), "left_anti")
    val w = graft.operators.QualityModel.weights(corpus, scope = "smmspec")

    // fixtures: 287 (novel) admits at batch 0; 238's only partner is
    // 287's EMBEDDING -> dup_corpus_semantic from the FOLDED sig state;
    // 185/486 hit live eval items -> contaminated (486 also carries
    // image evidence — the precedence pin); 204 is the novel control
    def docText(id: Long): String = documents
      .filter(col("doc_id") === id).select("text").head().getString(0)
    val b0 = Seq(DocStream.Doc(287L, HourNs, docText(287L)))
    val b1 = Seq(DocStream.Doc(238L, 2 * HourNs, docText(238L)),
      DocStream.Doc(185L, 2 * HourNs, docText(185L)),
      DocStream.Doc(486L, 2 * HourNs, docText(486L)),
      DocStream.Doc(204L, 2 * HourNs, docText(204L)))

    val st = graft.io.IngestLoop.mmStores(spark, artRoot, "smm")
    graft.io.IngestLoop.bootstrap(st, corpus)
    val semL = graft.io.IngestLoop.semLeg(spark, artRoot, "smm", emb)
    graft.io.IngestLoop.bootstrapSem(semL, corpus)
    val evalL = graft.io.IngestLoop.evalLeg(spark, artRoot, "smm")
    graft.io.IngestLoop.bootstrapEval(evalL, corpus,
      graft.operators.Decontam.eval1Docs(documents))
    val quar = graft.io.IngestLoop.quarantine(spark, artRoot, "smm")
    graft.io.IngestLoop.bootstrapMmQuarantine(quar, corpus)

    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    val dir = Files.createTempDirectory("graft_smm_in")
    val ckpt = Files.createTempDirectory("graft_smm_ckpt").toString
    val out = Files.createTempDirectory("graft_smm_out").toString
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val seed = st.text.hashes.currentUpTo(1).get
      .select(col("ch").as("h")).distinct()
    val q = DocStream.foldingGatedAdmissionQuery(raw, seed, st, w, out, ckpt,
      lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(quar = Some(quar), sem = Some(semL),
        eval = Some(evalL)))
    try {
      Files.writeString(dir.resolve("b0.jsonl"),
        b0.map(jline).mkString("\n") + "\n")
      q.processAllAvailable()
      Files.writeString(dir.resolve("b1.jsonl"),
        b1.map(jline).mkString("\n") + "\n")
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(got(287L) === "new", "the planted source admits at batch 0")
    assert(got(238L) === "dup_corpus_semantic",
      "238 must be rejected by the FOLDED sig state in the MM stream")
    assert(got(185L) === "contaminated" && got(486L) === "contaminated",
      "eval-hitting arrivals reject as contaminated in the mm stream — " +
        "486's text evidence outranks its image signature")
    assert(got(204L) === "new")
    // the mm stream folds BOTH new legs' state batch-id-keyed
    assert(semL.sigs.maxTick === 3L && evalL.docGrams.maxTick === 3L,
      "sem sigs and docGrams fold alongside the five mm stores")
    val qv = quar.rows.current().get
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(qv(238L) === "dup_semantic" && qv(185L) === "contaminated" &&
      qv(486L) === "contaminated")

    // recovery, both directions at one quiesce boundary: takedown of
    // 287 (238's only semantic partner) + eval withdrawal of item 61
    // (185's only contaminating item); ALL legs roll into the fresh
    // generation (rolloverSem / rolloverEval — r12 advice), then ONE mm
    // re-adjudication re-admits 238 and 185 and keeps holding 486
    graft.io.IngestLoop.retractTick(st,
      spark.range(1).select(lit(287L).as("doc_id")),
      legs = graft.io.IngestLoop.Legs(quar = Some(quar), sem = Some(semL),
        eval = Some(evalL)))
    graft.io.IngestLoop.evalUpdateTick(st.text, evalL,
      graft.operators.Decontam.eval2Docs(documents),
      graft.operators.Decontam.withdrawEvalIds(documents))
    val st2 = graft.io.IngestLoop.rollover(st, spark, artRoot, "smm2")
    val semL2 = graft.io.IngestLoop.rolloverSem(st.text, semL,
      spark, artRoot, "smm2")
    val evalL2 = graft.io.IngestLoop.rolloverEval(st.text, evalL,
      spark, artRoot, "smm2")
    val quar2 = graft.io.IngestLoop.rolloverQuarantine(st.text, quar,
      spark, artRoot, "smm2")
    assert(semL2.sigs.current().get
      .filter(col("doc_id") === 287L).count() === 0L,
      "the rolled sig state physically drops the retracted doc's rows")
    graft.io.IngestLoop.readjudicateTick(st2, quar2, w, lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(sem = Some(semL2),
        eval = Some(evalL2))).collect()
    val resolved = quar2.resolvedIds.current().get
      .collect().map(_.getLong(0)).toSet
    assert(resolved.contains(238L),
      "238 re-admits: its only semantic partner was retracted")
    assert(resolved.contains(185L),
      "185 re-admits: its only contaminating eval item withdrew")
    assert(!resolved.contains(486L),
      "486 stays held by the surviving eval item")
  }

  test("streaming consumption recipe (r13 item 5, r15 item 4): the quiesce BUNDLE at the stream boundary -> record makes a stream-folded export auditable; trainedOn returns the stream-served docs") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val documents = Tables.load(spark, sf, "documents")
    val artRoot = Files.createTempDirectory("graft_scons_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, documents)
    val w = graft.operators.QualityModel.weights(documents, scope = "sconsspec")
    val ms = graft.operators.Bpe.merges(documents)
    val st = graft.io.IngestLoop.stores(spark, artRoot, "scons")
    graft.io.IngestLoop.bootstrap(st, documents)
    val ex = graft.io.ArtifactStore.packedExport(
      spark, artRoot, "scons_ex", 128)
    ex.bootstrap(documents, ms)
    val leg = graft.io.IngestLoop.ExportLeg(ex, ms)

    val a = DocStream.Doc(920000L, HourNs,
      (1 to 40).map(i => s"sca$i").mkString(" "))
    val b = DocStream.Doc(920001L, HourNs,
      (1 to 40).map(i => s"scb$i").mkString(" "))
    val dir = Files.createTempDirectory("graft_scons_in")
    val ckpt = Files.createTempDirectory("graft_scons_ckpt").toString
    val out = Files.createTempDirectory("graft_scons_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    Files.writeString(dir.resolve("b0.jsonl"),
      Seq(a, b).map(jline).mkString("\n") + "\n")
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val sq = DocStream.foldingGatedAdmissionQuery(raw,
      hashes.select(col("ch").as("h")), st, w, out, ckpt, lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(export = Some(leg)))
    try sq.processAllAvailable() finally sq.stop()
    assert(ex.slices().filter(col("tick") === 2).count() > 0,
      "the stream folded its batch as an export epoch")

    // the seam binds streams too: until the quiesce-point seal, the
    // stream-folded epochs are structurally unserveable/unrecordable
    val cs = graft.io.ArtifactStore.consumption(spark, artRoot, "scons_ex")
    val e = intercept[IllegalArgumentException] {
      cs.record("train_run_1", ex)
    }
    assert(e.getMessage.contains("no recorded certificate"))
    val e2 = intercept[IllegalArgumentException] { ex.servedSlices() }
    assert(e2.getMessage.contains("no recorded certificate"))

    // the recipe: the QUIESCE BUNDLE at the stream's quiesce boundary
    // (stream stopped — r15 item 4: the bundle is THE compose point
    // for streams too, not a batch-only convenience; it compacts,
    // collects, and seals under the loop's tombstone lineage in one
    // call) -> record the training run
    import spark.implicits._
    val srcs = documents.select(col("doc_id"), col("source"))
      .unionByName(Seq((920000L, "stream"), (920001L, "stream"))
        .toDF("doc_id", "source"))
    val qres = graft.io.IngestLoop.quiesce(st, spark, artRoot,
      docSources = Some(srcs), minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = graft.io.IngestLoop.Legs(export = Some(leg)))
    assert(qres.cert.exists(_.filter(col("decision") === "serve")
      .count() > 0), "the bundle's seal certifies the stream epochs")
    assert(ex.servedSlices().count() === ex.slices().count(),
      "the sealed stream export serves in full")
    cs.record("train_run_1", ex)
    val audited = cs.trainedOn(
      Seq(920000L, 920001L).toDF("doc_id")).collect()
    assert(audited.map(_.getAs[String]("job_id")).toSet ===
      Set("train_run_1"),
      "the stream-served docs trace to the recorded training run")
    assert(audited.map(_.getAs[Long]("doc_id")).toSet ===
      Set(920000L, 920001L),
      "every stream-served doc is attributable")
  }

  test("mm streaming consumption (r14 item 1 of What's-missing, r15 item 4): the text recipe composes UNCHANGED over the multimodal stream — the quiesceMm BUNDLE at the stream boundary -> record -> trainedOn returns the mm stream-served docs; a modality-rejected arrival is never attributable") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val documents = Tables.load(spark, sf, "documents")
    val artRoot = Files.createTempDirectory("graft_mmcons_art").toString
    val hashes = graft.io.ArtifactStore.corpusHashesOrBuild(artRoot, documents)
    val w = graft.operators.QualityModel.weights(documents,
      scope = "mmconsspec")
    val ms = graft.operators.Bpe.merges(documents)
    val st = graft.io.IngestLoop.mmStores(spark, artRoot, "mmcons")
    graft.io.IngestLoop.bootstrap(st, documents)
    val ex = graft.io.ArtifactStore.packedExport(
      spark, artRoot, "mmcons_ex", 128)
    ex.bootstrap(documents, ms)
    val leg = graft.io.IngestLoop.ExportLeg(ex, ms)

    // planted image pair (the q110 id formula, B = A+3 with B%7==3):
    // batch 1's B is a perceptual near-dup of batch 0's admitted A —
    // only the mm signature leg can reject it, so the export must
    // carry A and the novel E but never B
    def toks(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val a = DocStream.Doc(907200L, HourNs, toks("mca"))
    val e = DocStream.Doc(907206L, HourNs, toks("mce"))
    val b = DocStream.Doc(907203L, 2 * HourNs, toks("mcb"))
    val dir = Files.createTempDirectory("graft_mmcons_in")
    val ckpt = Files.createTempDirectory("graft_mmcons_ckpt").toString
    val out = Files.createTempDirectory("graft_mmcons_out").toString
    def jline(d: DocStream.Doc): String =
      s"""{"doc_id": ${d.doc_id}, "ts": ${d.ts}, "text": "${d.text}"}"""
    def drop(name: String, ds: Seq[DocStream.Doc]): Unit =
      Files.writeString(dir.resolve(name),
        ds.map(jline).mkString("\n") + "\n")
    val raw = graft.io.JsonLines.readStream(spark, dir.toString,
      DocStream.JsonlDocSchema)
      .filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    drop("b0.jsonl", Seq(a, e))
    val sq = DocStream.foldingGatedAdmissionQuery(raw,
      hashes.select(col("ch").as("h")), st, w, out, ckpt, lowFrac = 0.0,
      legs = graft.io.IngestLoop.Legs(export = Some(leg)))
    try {
      sq.processAllAvailable()
      drop("b1.jsonl", Seq(b))
      sq.processAllAvailable()
    } finally sq.stop()
    val verdicts = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("verdict")).toMap
    assert(verdicts(907200L) === "new" && verdicts(907206L) === "new")
    assert(verdicts(907203L) === "dup_corpus_image",
      "the planted pair must reject through the FOLDED mm sig state")
    assert(ex.slices().filter(col("tick") === 2).count() > 0,
      "the mm stream folded its admitted batch as an export epoch")
    assert(ex.slices()
      .filter(col("doc_id") === 907203L).count() === 0L,
      "the modality-rejected doc never reached the shards")

    // the seam binds identically to the text stream: unsealed refuses
    val cs = graft.io.ArtifactStore.consumption(spark, artRoot, "mmcons_ex")
    val eref = intercept[IllegalArgumentException] {
      cs.record("mm_train_1", ex)
    }
    assert(eref.getMessage.contains("no recorded certificate"))

    // the MM QUIESCE BUNDLE at the stream's quiesce boundary (stream
    // stopped — r15 item 4): quiesce folds the five mm stores,
    // collects, and seals on the shared TEXT tombstone lineage in one
    // call -> record -> audit. Zero mm-specific machinery.
    import spark.implicits._
    val srcs = documents.select(col("doc_id"), col("source"))
      .unionByName(Seq(907200L, 907206L, 907203L)
        .map((_, "stream")).toDF("doc_id", "source"))
    val qres = graft.io.IngestLoop.quiesce(st, spark, artRoot,
      docSources = Some(srcs), minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = graft.io.IngestLoop.Legs(export = Some(leg)))
    assert(qres.cert.exists(_.filter(col("decision") === "serve")
      .count() > 0), "the mm bundle's seal certifies the stream epochs")
    assert(ex.servedSlices().count() === ex.slices().count(),
      "the sealed mm-stream export serves in full")
    cs.record("mm_train_1", ex)
    val audited = cs.trainedOn(
      Seq(907200L, 907206L, 907203L).toDF("doc_id")).collect()
    assert(audited.map(_.getAs[String]("job_id")).toSet ===
      Set("mm_train_1"),
      "the mm stream-served docs trace to the recorded training run")
    assert(audited.map(_.getAs[Long]("doc_id")).toSet ===
      Set(907200L, 907206L),
      "exactly the admitted mm arrivals are attributable — the " +
        "rejected near-dup never served, so it never enters the ledger")
  }
}
