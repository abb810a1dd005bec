package graft.io

import java.nio.file.{Files, Paths}

import graft.TestSpark
import graft.operators.{Bpe, Decontam, Provenance, QualityModel}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-16 quiesce-bundle pins (r15 verdict items 2–3 + advice):
  * gc is a bundle step (crash leftovers shed because the deployment
  * quiesces, not because a caller remembered each store's gc), the
  * seal's liveness input is captured at bundle entry (a takedown that
  * never reached the export cannot be laundered by the bundle's own
  * tombstone fold), the eval lineage folds under the bundle's trigger,
  * and the ANN canary survives an empty probe split. */
class QuiesceBundleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")
  private def m = pmod(col("doc_id"), lit(Provenance.BatchMod))
  private def corpus = docs.filter(m.between(1, 9))

  test("gc is a bundle step (r15 item 3): a bare quiesce() sheds planted crash leftovers in the ingest stores AND the export store — no caller-side gc call anywhere") {
    val root = Files.createTempDirectory("graft_q_gc").toString
    val st = IngestLoop.stores(spark, root, "qgc")
    IngestLoop.bootstrap(st, corpus)
    val ms = Bpe.merges(corpus)
    val ex = ArtifactStore.packedExport(spark, root, "qgc_ex")
    ex.bootstrap(corpus, ms)
    val leg = IngestLoop.ExportLeg(ex, ms)
    val srcs = corpus.select("doc_id", "source")

    // quiesce #1 folds the stores to committed generations (so a
    // later interrupted-delete leftover is strictly shadowed)
    IngestLoop.quiesce(st, spark, root, docSources = Some(srcs),
      maxDataFiles = 0L, minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(leg)))

    // CRASH simulation: (a) an interrupted compaction delete left a
    // tick dir at/below the committed generation in a data store;
    // (b) a crashed export write left an uncommitted rev dir
    val tickLeftover = s"$root/ingest_state/qgc/hashes/tick=1"
    corpus.limit(1).select("doc_id")
      .write.mode("overwrite").parquet(tickLeftover)
    val revLeftover = Paths.get(s"$root/export_state/qgc_ex/tick=1/rev=99")
    Files.createDirectories(revLeftover)
    Files.write(revLeftover.resolve("part-junk.parquet"),
      Array.fill[Byte](64)(1))
    assert(Files.exists(Paths.get(tickLeftover)))

    // opting out leaves the leftovers (and frees nothing)
    val resNoGc = IngestLoop.quiesce(st, spark, root, docSources = Some(srcs),
      gcStores = false, minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(leg)))
    assert(resNoGc.gcBytes === 0L && Files.exists(revLeftover) &&
      Files.exists(Paths.get(tickLeftover)),
      "gcStores = false must not collect")

    // the bare bundle sheds both — the test never calls gc()
    val res = IngestLoop.quiesce(st, spark, root, docSources = Some(srcs),
      minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(leg)))
    assert(res.gcBytes > 0L, "the bundle must report the bytes it freed")
    assert(!Files.exists(Paths.get(tickLeftover)),
      "the ingest store's shadowed tick dir is gone")
    assert(!Files.exists(revLeftover),
      "the export store's uncommitted rev dir is gone")
    assert(ex.servedSlices().count() > 0,
      "reads are identical after the collection (the bundle re-sealed)")
  }

  test("the seal's liveness input is captured at bundle entry (r15 advice): a takedown that never reached the export holds the epoch even when the bundle's own compaction resets the tombstones first") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_q_seal").toString
    val st = IngestLoop.stores(spark, root, "qsl")
    IngestLoop.bootstrap(st, corpus)
    val ms = Bpe.merges(corpus)
    val ex = ArtifactStore.packedExport(spark, root, "qsl_ex")
    ex.bootstrap(corpus, ms)
    val leg = IngestLoop.ExportLeg(ex, ms)
    val srcs = corpus.select("doc_id", "source")
    val res1 = IngestLoop.quiesce(st, spark, root, docSources = Some(srcs),
      minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(leg)))
    assert(res1.cert.get.select("decision").collect()
      .forall(_.getString(0) == "serve"), "precondition: sealed serving")

    // the takedown runs WITHOUT the export leg attached — the export
    // still physically carries the doc; only the tombstone knows
    val victim = corpus.select("doc_id").orderBy("doc_id").limit(1)
      .collect().head.getLong(0)
    IngestLoop.retractTick(st, Seq(victim).toDF("doc_id"))

    // the bundle compacts (maxDataFiles = 0 forces the fold, which
    // RESETS the shared tombstone store) and then seals: the seal
    // must still see the retracted doc — pre-fix it read the
    // post-reset (empty) tombs and certified 'serve'
    val res2 = IngestLoop.quiesce(st, spark, root, docSources = Some(srcs),
      maxDataFiles = 0L, minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(leg)))
    assert(res2.compacted, "precondition: the fold (and reset) ran")
    assert(st.tombs.current().isEmpty,
      "precondition: the bundle's fold consumed the tombstones")
    val held = res2.cert.get
      .filter(col("decision") === "hold_takedown")
    assert(held.count() > 0 &&
      held.agg(sum("n_retracted")).head.getLong(0) >= 1L,
      "the entry-time tombstone capture reaches the liveness check")
    intercept[IllegalArgumentException](ex.servedSlices())

    // the documented remediation path: re-pack the affected epochs,
    // re-seal at the next quiesce — serves again
    ex.retractDocs(Seq(victim).toDF("doc_id"))
    val res3 = IngestLoop.quiesce(st, spark, root, docSources = Some(srcs),
      minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(leg)))
    assert(res3.cert.get.select("decision").collect()
      .forall(_.getString(0) == "serve"))
    assert(ex.servedSlices().filter(col("doc_id") === victim).count() === 0L)
  }

  test("the eval lineage folds in the bundle (r15 advice): withdrawals physically leave the eval stores and the eval tombstones reset under the bundle's own trigger — no caller-side compactEval") {
    val root = Files.createTempDirectory("graft_q_eval").toString
    val st = IngestLoop.stores(spark, root, "qev")
    IngestLoop.bootstrap(st, corpus)
    val leg = IngestLoop.evalLeg(spark, root, "qev")
    IngestLoop.bootstrapEval(leg, corpus, Decontam.eval1Docs(docs))
    IngestLoop.evalUpdateTick(st, leg, Decontam.eval2Docs(docs),
      Decontam.withdrawEvalIds(docs))
    assert(leg.tombs.current().isDefined,
      "precondition: the update left live eval withdrawals")
    val liveBands = leg.lineage.resolve(leg.bands.current().get).count()
    assert(liveBands < leg.bands.current().get.count(),
      "precondition: withdrawn rows still physically present")

    val res = IngestLoop.quiesce(st, spark, root, maxDataFiles = 0L,
      legs = IngestLoop.Legs(eval = Some(leg)))
    assert(res.evalCompacted, "the bundle must fold the eval lineage")
    assert(leg.tombs.current().isEmpty,
      "the eval tombstones reset once every eval store folded")
    assert(leg.bands.current().get.count() === liveBands,
      "withdrawn eval rows physically left the folded generation")

    // under the production trigger nothing folds on a tiny store —
    // the step is gated exactly like the loop-lineage compaction
    val res2 = IngestLoop.quiesce(st, spark, root,
      legs = IngestLoop.Legs(eval = Some(leg)))
    assert(!res2.evalCompacted)
  }

  test("the ledger's gc call-point rides the record path (r15 item 3): a crashed record's half-written manifest revision is shed by the NEXT record — and by the standalone gc() when no later record comes") {
    val root = Files.createTempDirectory("graft_q_ledger").toString
    val st = IngestLoop.stores(spark, root, "qlg")
    IngestLoop.bootstrap(st, corpus)
    val ms = Bpe.merges(corpus)
    val ex = ArtifactStore.packedExport(spark, root, "qlg_ex")
    ex.bootstrap(corpus, ms)
    IngestLoop.quiesce(st, spark, root,
      docSources = Some(corpus.select("doc_id", "source")), minFillMicro = 0L,
      mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(export = Some(IngestLoop.ExportLeg(ex, ms))))
    val cs = ArtifactStore.consumption(spark, root, "qlg_ex")
    cs.record("job_1", ex)

    def plant(rev: Int): java.nio.file.Path = {
      val p = Paths.get(s"$root/consumption/qlg_ex/manifest_v/rev=$rev")
      Files.createDirectories(p)
      Files.write(p.resolve("part-junk.parquet"), Array.fill[Byte](64)(1))
      p
    }
    // a crashed record's uncommitted leftover: numbered past and
    // deleted by the next record's one commit point
    val left = plant(2)
    cs.record("job_2", ex)
    assert(!Files.exists(left),
      "the next record's commit sheds the crashed leftover")
    assert(cs.jobs().select("job_id").distinct().count() === 2L,
      "both jobs resolve off the healed manifest")

    // no later record: the standalone gc() covers the last-crash case
    val left2 = plant(99)
    assert(cs.gc() > 0L && !Files.exists(left2))
    assert(cs.jobs().select("job_id").distinct().count() === 2L)
  }

  test("quarantine and replay stores fold with the shared tombstones (r16 self-audit — the resurface class): a taken-down doc's quarantine row cannot outlive the tombstone reset and be RE-ADMITTED by a later re-adjudication") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_q_quar").toString
    val st = IngestLoop.stores(spark, root, "qqr")
    IngestLoop.bootstrap(st, corpus)
    val quar = IngestLoop.quarantine(spark, root, "qqr")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    val rleg = IngestLoop.replayLeg(spark, root, "qqr")
    IngestLoop.bootstrapReplay(rleg, corpus)
    val w = QualityModel.weights(corpus, scope = "qbundle16")

    // X arrives as an exact copy of ingested corpus doc Y (rejected →
    // quarantined, re-judgeable); Z is novel (admitted, feats persisted)
    val y = corpus.orderBy("doc_id").limit(1).collect().head
    val (yid, ytext) = (y.getAs[Long]("doc_id"), y.getAs[String]("text"))
    val (xid, zid) = (990001L, 990002L)
    val batch = Seq((xid, "qsrc", ytext),
      (zid, "qsrc", (1 to 40).map(i => s"qz$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    IngestLoop.runTick(st, batch, w, lowFrac = 0.0,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(rleg)))
    assert(quar.rows.current().get.filter(col("doc_id") === xid)
      .head().getAs[String]("verdict") === "dup_exact")
    assert(rleg.feats.current().get.filter(col("doc_id") === zid)
      .count() === 1L)

    // the takedown demand names the CONTENT — the ingested Y, its
    // quarantined copy X, and the admitted Z
    IngestLoop.retractTick(st, Seq(yid, xid, zid).toDF("doc_id"),
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(rleg)))

    // the bundle compacts WITH the quarantine/replay attached: their
    // rows fold out with the tombstones. Pre-fix, compactIfNeeded
    // never folded them — the reset left X's quarantine row live with
    // EMPTY tombs, Y's hash had left the state in the same takedown,
    // and the next readjudicateTick re-judged X clean and RE-ADMITTED
    // a doc the takedown named.
    val res = IngestLoop.quiesce(st, spark, root, maxDataFiles = 0L,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(rleg)))
    assert(res.compacted && st.tombs.current().isEmpty,
      "precondition: the fold consumed the tombstones")
    assert(quar.rows.current().get.filter(col("doc_id") === xid)
      .count() === 0L,
      "the taken-down doc's quarantine row physically left the fold")
    assert(rleg.feats.current().get.filter(col("doc_id") === zid)
      .count() === 0L,
      "the taken-down doc's replay feats left the fold")
    assert(st.hashes.current().get
      .filter(col("doc_id").isin(yid, zid)).count() === 0L)

    IngestLoop.readjudicateTick(st, quar, w, lowFrac = 0.0)
    assert(quar.resolvedIds.current().get.filter(col("doc_id") === xid)
      .count() === 0L,
      "re-adjudication cannot resurrect the taken-down doc")
    assert(st.hashes.current().get.filter(col("doc_id") === xid)
      .count() === 0L,
      "the taken-down doc never re-enters the corpus state")
  }

  test("compactMmIfNeeded folds an attached quarantine/replay with the shared text tombstones (the mm twin of the r16 resurface fix)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_q_mmquar").toString
    val st = IngestLoop.mmStores(spark, root, "mmq16")
    IngestLoop.bootstrap(st, corpus)
    val quar = IngestLoop.quarantine(spark, root, "mmq16")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    val rleg = IngestLoop.replayLeg(spark, root, "mmq16")
    IngestLoop.bootstrapReplay(rleg, corpus)
    val xid = 990077L
    quar.rows.appendTickAt(2, Seq((xid, "s", "planted text", "dup_exact"))
      .toDF("doc_id", "source", "text", "verdict"))
    quar.resolvedIds.appendTickAt(2,
      corpus.select("doc_id").limit(0))
    rleg.feats.appendTickAt(2, rleg.feats.current().get.limit(0))
    st.text.tombs.appendTickAt(2, Seq(xid).toDF("doc_id"))

    val ran = IngestLoop.compactIfNeeded(st, 0L,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(rleg)))
    assert(ran && st.text.tombs.current().isEmpty,
      "the mm fold consumed the shared tombstones")
    assert(quar.rows.current().get.filter(col("doc_id") === xid)
      .count() === 0L,
      "the tombstoned doc's quarantine row folded out on the mm side too")
  }

  test("consumer indexes fold in the bundle (r16 self-audit completion): an attached BM25 index's retracted postings physically leave the fold and its private tombstones clear — no caller-side compact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_q_idx").toString
    val st = IngestLoop.stores(spark, root, "qix")
    IngestLoop.bootstrap(st, corpus)
    val idx = ArtifactStore.bm25Incremental(spark, root, "qix_bm25")
    idx.bootstrap(corpus)
    val victim = corpus.select("doc_id").orderBy("doc_id").limit(1)
      .collect().head.getLong(0)
    IngestLoop.retractTick(st, Seq(victim).toDF("doc_id"),
      legs = IngestLoop.Legs(idx = Some(idx)))
    assert(idx.lineage.tombs.current().isDefined &&
      idx.store.current().get.filter(col("doc_id") === victim)
        .count() > 0L,
      "precondition: postings physically present behind the tombstone")

    val res = IngestLoop.quiesce(st, spark, root, maxDataFiles = 0L,
      legs = IngestLoop.Legs(idx = Some(idx)))
    assert(res.compacted)
    assert(idx.lineage.tombs.current().isEmpty,
      "the bundle folded the index's OWN tombstone lineage")
    assert(idx.store.current().get.filter(col("doc_id") === victim)
      .count() === 0L,
      "retracted postings physically left the folded generation")
    assert(idx.index().tf.count() > 0L, "the index still serves")
  }

  test("annRecallDecision keeps (never NPEs) when the probe split is empty (r15 advice): a tiny corpus whose ids all miss the probe cap yields no probes — no drift evidence, keep") {
    // probe ids are capped at nQueries*2; shifting every vec_id past
    // the cap leaves the probe split empty while the train split
    // (batch-mod classes 1-9) stays populated
    val shifted = emb.withColumn("vec_id",
      col("vec_id") + lit(10000L))
    val (resize, cents, rcb) = graft.operators.Pq.annRecallDecision(
      shifted, nQueries = 32)
    assert(!resize, "no probes → no drift evidence → keep")
    assert(cents.count() > 0 && rcb.count() > 0,
      "the retrained artifacts still come back (trained on the corpus)")
  }
}
