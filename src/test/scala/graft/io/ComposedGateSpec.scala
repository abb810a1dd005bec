package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Bpe, Decontam, Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** COMPOSITION of the round-12 legs — the paths no single-leg spec
  * exercises: (1) the semantic AND contamination classes riding ONE
  * tick (the generic kernel with two extras), reconciled against the
  * single-leg runs; (2) the q136 → q138 story end to end: an eval-set
  * addition retro-catches an ingested doc, its retraction re-packs the
  * export, and the consumption ledger names exactly the job that
  * trained on it. sf0.01. */
class ComposedGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")
  private def m = pmod(col("doc_id"), lit(Provenance.BatchMod))
  private def corpus = Decontam.evalFree(docs).filter(m.between(1, 9))
  private def t1 = Decontam.evalFree(docs).filter(m >= 10)
  private def weights = QualityModel.weights(corpus,
    scope = s"composed${Provenance.BatchMod}")

  test("semantic + contamination legs compose in one tick: both classes fire, each reconciles with its single-leg run, and the quarantine carries both") {
    val root = Files.createTempDirectory("graft_composed").toString
    def build(name: String) = {
      val st = IngestLoop.stores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      st
    }
    def semLeg(name: String) = {
      val leg = IngestLoop.semLeg(spark, root, name, emb)
      IngestLoop.bootstrapSem(leg, corpus)
      leg
    }
    def evalLeg(name: String) = {
      val leg = IngestLoop.evalLeg(spark, root, name)
      IngestLoop.bootstrapEval(leg, corpus, Decontam.eval1Docs(docs))
      leg
    }
    // single-leg yardsticks over the SAME populations
    val semRep = IngestLoop.runTick(build("semonly"), t1, weights,
      legs = IngestLoop.Legs(sem = Some(semLeg("semonly")))).collect()
    val evalRep = IngestLoop.runTick(build("evalonly"), t1, weights,
      legs = IngestLoop.Legs(eval = Some(evalLeg("evalonly")))).collect()
    val nSem = semRep.map(_.getLong(4)).sum // n_dup_semantic
    val nCon = evalRep.map(_.getLong(4)).sum // n_contaminated
    assert(nSem > 0 && nCon > 0, "both yardstick legs must fire")

    val st = build("both")
    val quar = IngestLoop.quarantine(spark, root, "both")
    IngestLoop.bootstrapQuarantine(quar, corpus)
    val rep = IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quar), sem = Some(semLeg("both")),
        eval = Some(evalLeg("both")))).collect()
    // composed columns: source, n_batch, exact, fuzzy, SEMANTIC,
    // CONTAMINATED, lowq, new
    assert(rep.map(_.getLong(4)).sum === nSem,
      "the semantic class is unchanged by the contamination leg " +
        "(it precedes it)")
    // contamination counts only docs the semantic gate did NOT flag:
    // on this corpus the two evidence sets are disjoint, so the count
    // reconciles exactly
    assert(rep.map(_.getLong(5)).sum === nCon,
      "the contamination class reconciles with its single-leg run")
    assert(rep.map(_.getLong(1)).sum ===
      (2 to 7).map(i => rep.map(_.getLong(i)).sum).sum,
      "the five verdict classes partition the batch")
    val verdicts = quar.rows.current().get.groupBy("verdict").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts.contains("dup_semantic") &&
      verdicts.contains("contaminated"),
      "the quarantine holds both new evidence classes")

    // the composed re-adjudication: takedown + eval withdrawal, then
    // ONE readjudicateTick with both legs re-judges both classes
    val retracted = st.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    val leg2 = IngestLoop.semLeg(spark, root, "both", emb)
    val eleg2 = IngestLoop.evalLeg(spark, root, "both")
    IngestLoop.retractTick(st, retracted,
      legs = IngestLoop.Legs(quar = Some(quar), sem = Some(leg2),
        eval = Some(eleg2)))
    IngestLoop.evalUpdateTick(st, eleg2, Decontam.eval2Docs(docs),
      Decontam.withdrawEvalIds(docs))
    val rr = IngestLoop.readjudicateTick(st, quar, weights,
      legs = IngestLoop.Legs(sem = Some(leg2), eval = Some(eleg2))).collect()
    // extended report: source, n_quarantined, n_exact_t1, n_fuzzy_t1,
    // n_sem_t1, n_contam_t1, n_still_exact, n_still_fuzzy,
    // n_still_semantic, n_still_contaminated, n_low_quality,
    // n_readmitted
    assert(rr.map(_.getLong(4)).sum === nSem &&
      rr.map(_.getLong(5)).sum === nCon,
      "every quarantined row of both classes re-judges")
    assert(rr.map(_.getLong(11)).sum > 0,
      "the combined takedown + withdrawal must re-admit someone")
    // BOTH new classes re-open through the ONE re-adjudication: doc 185
    // (its only contaminating eval item withdrew) and at least one
    // dup_semantic quarantinee whose corpus partners were all retracted
    // (docs 83/84/169/334/440 qualify on this corpus)
    val resolved = quar.resolvedIds.current().get
    assert(resolved.filter(col("doc_id") === 185L).count() === 1L,
      "doc 185 re-opens via the eval withdrawal")
    val semQuar = quar.rows.current().get
      .filter(col("verdict") === "dup_semantic").select("doc_id")
    assert(resolved.join(semQuar, Seq("doc_id"), "left_semi").count() > 0,
      "a dup_semantic quarantinee re-opens via the takedown")
  }

  test("contamination leg in the unified mm loop: text evidence outranks a modality signature; a withdrawal-released doc stays held by its independent image evidence") {
    val root = Files.createTempDirectory("graft_mm_eval").toString
    val st = IngestLoop.mmStores(spark, root, "mmev")
    IngestLoop.bootstrap(st, corpus)
    val eleg = IngestLoop.evalLeg(spark, root, "mmev")
    IngestLoop.bootstrapEval(eleg, corpus, Decontam.eval1Docs(docs))
    val quar = IngestLoop.quarantine(spark, root, "mmev")
    IngestLoop.bootstrapMmQuarantine(quar, corpus)

    val rep = IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quar), eval = Some(eleg))).collect()
    // columns: source, n_batch, exact, fuzzy, CONTAMINATED, image,
    // audio, lowq, new
    assert(rep.map(_.getLong(4)).sum === 3L,
      "docs 185, 387 and 486 must be verdicted contaminated in the mm loop")
    assert(rep.map(_.getLong(5)).sum > 0 && rep.map(_.getLong(6)).sum > 0,
      "the image/audio legs keep firing next to the contamination one")
    // the precedence pin: 486 carries BOTH contamination evidence
    // (eval item 435) and image evidence (corpus doc 483 = 486 − 3,
    // the planted %7 partner) — text-derived evidence outranks the
    // modality signature
    val v486 = quar.rows.current().get.filter(col("doc_id") === 486L)
      .select("verdict").collect().map(_.getString(0)).toSeq
    assert(v486 === Seq("contaminated"),
      "486 must be held by the contamination class, not its image sig")

    // eval withdrawal (item 61 leaves) → the mm re-adjudication with
    // the leg: NO contaminated doc re-admits here, and that is the
    // POINT — 387 and 486 are still held by surviving eval items, and
    // 185, released by the withdrawal, is caught by its IMAGE evidence
    // instead (its planted %7 partner 182 was admitted in the same
    // tick, so its signature is now state) — the q133 cross-evidence
    // story: one class's release does not admit a doc another class
    // still holds, and the doc stays re-judgeable, not resolved.
    IngestLoop.evalUpdateTick(st.text, eleg, Decontam.eval2Docs(docs),
      Decontam.withdrawEvalIds(docs))
    val rr = IngestLoop.readjudicateTick(st, quar, weights,
      legs = IngestLoop.Legs(eval = Some(eleg))).collect()
    // extras=[cid] columns: source, n_quarantined, n_exact_t1,
    // n_fuzzy_t1, n_contam_t1, n_image_t1, n_audio_t1, n_still_exact,
    // n_still_fuzzy, n_still_contaminated, n_still_image,
    // n_still_audio, n_low_quality, n_readmitted
    assert(rr.map(_.getLong(4)).sum === 3L,
      "every contaminated row re-judges")
    assert(rr.map(_.getLong(9)).sum === 2L,
      "387 and 486 stay held by their surviving eval items")
    val v185 = rr.filter(_.getString(0) == docs
      .filter(col("doc_id") === 185L).select("source").head().getString(0))
    assert(v185.map(_.getLong(10)).sum === 1L,
      "185 shifts to its image evidence once the contamination released")
    assert(quar.resolvedIds.current().get
      .filter(col("doc_id") === 185L).isEmpty,
      "185 stays quarantined (re-judgeable), not resolved")
  }

  test("q136 → q138 end to end: the retro-caught doc's retraction re-packs the export, and the ledger names the job that trained on it") {
    val root = Files.createTempDirectory("graft_catch_ledger").toString
    val st = IngestLoop.stores(spark, root, "cl")
    IngestLoop.bootstrap(st, corpus)
    val eleg = IngestLoop.evalLeg(spark, root, "cl")
    IngestLoop.bootstrapEval(eleg, corpus, Decontam.eval1Docs(docs))
    val idx = ArtifactStore.bm25Incremental(spark, root, "cl")
    idx.bootstrap(corpus)
    val cen = ArtifactStore.gramCensusIncremental(spark, root, "cl_cen")
    cen.bootstrap(corpus)
    val ms = Bpe.merges(corpus)
    val ex = ArtifactStore.packedExport(spark, root, "cl_ex")
    ex.bootstrap(corpus, ms)
    val cs = ArtifactStore.consumption(spark, root, "cl_ex")

    // relaxed fill/mix: liveness is this pin's subject
    def certify(tombs: org.apache.spark.sql.DataFrame) = ex.certify(
      docs.select("doc_id", "source"), tombs,
      minFillMicro = 0L, mixTolMicros = 1000000L)
    IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        export = Some(IngestLoop.ExportLeg(ex, ms)), eval = Some(eleg)))
    cs.record("job1", ex, certify(docs.select("doc_id").limit(0)))

    val caught = IngestLoop.evalUpdateTick(st, eleg,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
    assert(caught.count() > 0)
    IngestLoop.retractTick(st, caught,
      docs = Some(docs.join(caught, Seq("doc_id"), "left_semi")),
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        export = Some(IngestLoop.ExportLeg(ex, ms)), eval = Some(eleg)))
    cs.record("job2", ex, certify(caught))

    // the export physically dropped the caught doc; the ledger still
    // knows job1 streamed it and that job2 never did
    assert(ex.slices().join(caught, Seq("doc_id"), "left_semi").isEmpty,
      "the caught doc left the served shards")
    val audited = cs.trainedOn(caught)
    assert(audited.select("job_id").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("job1"),
      "the consumption audit names job1 and only job1")
    assert(audited.filter(col("doc_id") === 8L).count() === 1L,
      "doc 8 (caught by added eval item 245) traces to job1")
  }
}
