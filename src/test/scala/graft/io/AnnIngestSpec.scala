package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Kmeans, Pq, Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ANN SERVING leg of the deployment tick (q124): the ingest loop
  * additionally maintains the served IVF-PQ index — admitted docs'
  * embeddings encode under the FROZEN serving artifacts and append
  * tick-keyed; the code store participates in the tick agreement; a
  * recluster between loop ticks re-enters the agreement at the loop's
  * current tick (`baseTick`); a takedown's codes leave the index via
  * [[IngestLoop.retractTick]]'s ANN leg. sf0.01: the q124 split
  * (corpus = doc_id % 17 ≠ 0, batch = 0) has admitted docs whose
  * vec_ids exist in the embeddings table. */
class AnnIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))
  private def codeSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)

  private val bm = Provenance.BatchMod
  private def corpus = docs.filter(pmod(col("doc_id"), lit(bm)) =!= 0)
  private def batch = docs.filter(pmod(col("doc_id"), lit(bm)) === 0)
  private def corpusEmb = emb.filter(pmod(col("vec_id"), lit(bm)) =!= 0)

  /** embeddings restricted to corpus ∪ the given admitted doc ids. */
  private def served(admIds: DataFrame): DataFrame =
    emb.join(
      corpusEmb.select(col("vec_id"))
        .union(admIds.select(col("doc_id").as("vec_id"))).distinct(),
      Seq("vec_id"), "left_semi")

  /** Tick t's admitted doc ids from the doc-granular hash store. */
  private def admittedAt(st: IngestLoop.Stores, t: Long): DataFrame =
    st.hashes.currentUpTo(t).get.select("doc_id")
      .join(st.hashes.currentUpTo(t - 1).get.select("doc_id"),
        Seq("doc_id"), "left_anti")

  private def build(root: String, name: String) = {
    val st = IngestLoop.stores(spark, root, name)
    IngestLoop.bootstrap(st, corpus)
    val idx = ArtifactStore.bm25Incremental(spark, root, name)
    idx.bootstrap(corpus)
    val cen = ArtifactStore.gramCensusIncremental(spark, root, s"${name}_cen")
    cen.bootstrap(corpus)
    (st, idx, cen)
  }

  test("six-store tick: loop-served codes ≡ full re-encode under frozen artifacts ≡ the q124 census") {
    val root = Files.createTempDirectory("graft_ann_tick").toString
    val w = QualityModel.weights(corpus, scope = s"admission$bm")
    val cents = Kmeans.centroidTable(corpusEmb)
    val rcb = Pq.residualCodebookTable(corpusEmb)
    val (st, idx, cen) = build(root, "annloop")
    val ann = ArtifactStore.ivfPqIncremental(spark, root, "annloop")
    ann.bootstrap(corpusEmb, cents, rcb)
    val leg = IngestLoop.AnnLeg(ann, emb, cents, rcb)

    val rep = rows(IngestLoop.runTick(st, batch, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        ann = Some(leg))))
    assert(rep.nonEmpty)
    assert(ann.store.maxTick === 2L,
      "the code append rides the same tick as the dedup folds")

    val adm = admittedAt(st, 2)
    assert(adm.count() > 0, "the split must admit some batch docs")
    val expect = codeSet(Pq.residualCodes(served(adm), cents, rcb))
    assert(codeSet(ann.codes()) === expect,
      "loop-served codes must be bit-equal to a full re-encode over " +
        "base ∪ admissions under the frozen artifacts")

    // rejected docs' vectors never entered the index
    val rejected = batch.join(adm, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("vec_id"))
    assert(ann.codes().join(rejected, Seq("vec_id"), "left_semi").count() === 0L,
      "no rejected doc's vector may be indexed")

    // and the loop's served census equals the oracle-checked q124 one
    val loopCensus = ann.codes().groupBy("cid")
      .agg(countDistinct("vec_id").as("exact_n_vectors"),
        sum(col("sub") * Pq.DefaultKCb + col("code")).as("code_sum"))
      .orderBy("cid")
    assert(rows(loopCensus) ===
      rows(Pq.q124AnnIngestTick(docs, emb)
        .select("cid", "exact_n_vectors", "code_sum")),
      "deployment form and the oracle-checked q124 must serve the " +
        "same per-cluster census")
  }

  test("crash after the census append, before the code append: the code store's lag forces a six-store redo") {
    val root = Files.createTempDirectory("graft_ann_crash").toString
    val w = QualityModel.weights(corpus, scope = s"admission$bm")
    val cents = Kmeans.centroidTable(corpusEmb)
    val rcb = Pq.residualCodebookTable(corpusEmb)

    // clean yardstick
    val (stA, idxA, cenA) = build(root, "ann_clean")
    val annA = ArtifactStore.ivfPqIncremental(spark, root, "ann_clean")
    annA.bootstrap(corpusEmb, cents, rcb)
    val cleanRep = rows(IngestLoop.runTick(stA, batch, w,
      legs = IngestLoop.Legs(idx = Some(idxA), census = Some(cenA),
        ann = Some(IngestLoop.AnnLeg(annA, emb, cents, rcb)))))

    // the crashed loop: the five-store tick lands (runTick WITHOUT
    // the ann leg is exactly the crash point — after the census append,
    // before appendVectorsAt) but the code append never does
    val (stB, idxB, cenB) = build(root, "ann_crash")
    val annB = ArtifactStore.ivfPqIncremental(spark, root, "ann_crash")
    annB.bootstrap(corpusEmb, cents, rcb)
    IngestLoop.runTick(stB, batch, w,
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB)))
    assert(stB.shingles.maxTick === 2L && annB.store.maxTick === 1L,
      "precondition: five stores agree at tick 2, the code store lags")

    val replay = rows(IngestLoop.runTick(stB, batch, w,
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB),
        ann = Some(IngestLoop.AnnLeg(annB, emb, cents, rcb)))))
    assert(replay === cleanRep,
      "six-store replay must reproduce the uncrashed verdicts")
    assert(annB.store.maxTick === 2L, "the code append must be repaired")
    assert(codeSet(annB.codes()) === codeSet(annA.codes()),
      "repaired codes must equal the uncrashed index")
  }

  test("recluster(baseTick) re-enters the tick agreement; the next tick encodes under the NEW serving artifacts; retraction + compaction close over the leg") {
    val root = Files.createTempDirectory("graft_ann_reclust").toString
    val w = QualityModel.weights(corpus, scope = s"admission$bm")
    val cents = Kmeans.centroidTable(corpusEmb)
    val rcb = Pq.residualCodebookTable(corpusEmb)
    val batchA = batch.filter(col("doc_id") < 250)
    val batchB = batch.filter(col("doc_id") >= 250)
    assert(batchA.count() > 0 && batchB.count() > 0)

    val (st, idx, cen) = build(root, "ann_rc")
    val ann = ArtifactStore.ivfPqIncremental(spark, root, "ann_rc")
    ann.bootstrap(corpusEmb, cents, rcb)
    // the leg pins the BOOTSTRAP artifacts; post-recluster appends must
    // pick the generation's own artifacts over these
    val leg = IngestLoop.AnnLeg(ann, emb, cents, rcb)
    IngestLoop.runTick(st, batchA, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        ann = Some(leg)))
    val admA = admittedAt(st, 2)

    // recluster between loop ticks: retrained artifacts, every live
    // vector re-encoded; baseTick = the loop's current tick keeps the
    // agreement aligned (a reset-to-1 store would claim a lag and force
    // a spurious redo, then break snapshot coverage)
    val cents2 = Kmeans.centroidTable(emb)
    val rcb2 = Pq.residualCodebookTable(emb)
    ann.recluster(served(admA), cents2, rcb2, baseTick = 2)
    assert(ann.generation === 2L)
    assert(ann.store.maxTick === 2L,
      "the rebuilt generation must re-enter the agreement at the loop tick")
    assert(codeSet(ann.codes()) ===
      codeSet(Pq.residualCodes(served(admA), cents2, rcb2)),
      "the reclustered index serves the re-encode under the new artifacts")

    // next tick: appends contiguously at tick 3, encoding under the
    // GENERATION's serving artifacts (cents2) — not the leg's bootstrap
    // pair; a fallback bug here would mis-encode every post-recluster
    // arrival
    IngestLoop.runTick(st, batchB, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        ann = Some(leg)))
    assert(ann.store.maxTick === 3L)
    val admB = admittedAt(st, 3)
    assert(admB.count() > 0)
    val admAll = admA.union(admB)
    assert(codeSet(ann.codes()) ===
      codeSet(Pq.residualCodes(served(admAll), cents2, rcb2)),
      "post-recluster appends must encode under the serving generation's " +
        "artifacts — the whole index stays uniform under cents2/rcb2")

    // takedown: tick A's admissions leave the served index via the ANN
    // leg; compaction folds the tombstones without changing the codes
    IngestLoop.retractTick(st, admA, legs = IngestLoop.Legs(ann = Some(leg)))
    val expectAfter = codeSet(Pq.residualCodes(served(admB), cents2, rcb2))
    assert(codeSet(ann.codes()) === expectAfter,
      "retracted docs' codes must leave every codes() read")
    ann.compact()
    assert(codeSet(ann.codes()) === expectAfter,
      "compaction folds tombstones without changing the served codes")
  }

  test("quiesce compose-point, ANN leg (r14 item 3): the bundle runs the q120 recall canary and reclusters under the retrained artifacts when retraining recovers hits; a keep decision returns the same leg") {
    val root = Files.createTempDirectory("graft_ann_quiesce").toString
    val w = QualityModel.weights(corpus, scope = s"admission$bm")
    val cents = Kmeans.centroidTable(corpusEmb)
    val rcb = Pq.residualCodebookTable(corpusEmb)
    val (st, idx, cen) = build(root, "ann_q")
    val ann = ArtifactStore.ivfPqIncremental(spark, root, "ann_q")
    ann.bootstrap(corpusEmb, cents, rcb)
    val leg = IngestLoop.AnnLeg(ann, emb, cents, rcb)
    IngestLoop.runTick(st, batch, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        ann = Some(leg)))
    val live = served(admittedAt(st, 2))

    // keep branch: an unreachable gain bound → the bundle hands the
    // same leg back, generation untouched
    val resKeep = IngestLoop.quiesce(st, spark, root, annBaseTick = Some(2L),
      annMinGainHits = 1000000L, legs = IngestLoop.Legs(ann = Some(leg)))
    assert(!resKeep.annReclustered && (resKeep.ann.get eq leg))
    assert(ann.generation === 1L, "a keep decision swaps nothing")

    // recluster branch: gain bound that the measured decision clears
    // by construction (thr - thf >= it always) — this pins the WIRING
    // (the measurement itself is q120's oracle-green subject): the
    // bundle retrains, swaps the generation at the loop tick, and the
    // served codes are the full re-encode under the SAME retrained
    // artifacts the decision hook returns
    val resRc = IngestLoop.quiesce(st, spark, root, annBaseTick = Some(2L),
      annMinGainHits = Long.MinValue, legs = IngestLoop.Legs(ann = Some(leg)))
    assert(resRc.annReclustered, "the bundle itself ran the canary")
    assert(ann.generation === 2L && ann.store.maxTick === 2L,
      "the recluster re-enters the tick agreement at the loop tick")
    val (_, cFr, rcbFr) = Pq.annRecallDecision(live,
      minGainHits = Long.MinValue)
    assert(codeSet(ann.codes()) ===
      codeSet(Pq.residualCodes(live, cFr, rcbFr)),
      "the bundle's recluster serves the re-encode under the retrained " +
        "artifacts the canary trained — trained once, used once")
    // the returned leg carries the retrained artifacts, so the next
    // tick's encode fallback stays consistent with the generation's
    val nextLeg = resRc.ann.get
    assert(codeSet(nextLeg.cents) === codeSet(cFr) &&
      codeSet(nextLeg.rcb) === codeSet(rcbFr),
      "the serving leg swaps to the retrained artifact tables")
  }
}
