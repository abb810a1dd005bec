package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.multimodal.Multimodal
import graft.operators.{Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The UNIFIED multimodal admission loop (r10 verdict item 2): one
  * verdict per text+image+audio doc, fold-back per modality, replay
  * across a crash between any of the five per-store writes, and
  * retraction reaching every modality through the shared tombstone
  * store. sf0.01 (the planted cross-class image/audio partner structure
  * the fold-back cases need). */
class MmIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  test("store-backed multimodal tick ≡ live q118") {
    val root = Files.createTempDirectory("graft_mm_tick").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m =!= 0)
    val batch = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"admission${Provenance.BatchMod}")

    val live = rows(Multimodal.q118MultimodalAdmission(docs))
    assert(live.nonEmpty)
    // every verdict leg is exercised on this corpus — the spec is
    // meaningful only if the precedence actually has work to do
    assert(live.map(_(3).asInstanceOf[Long]).sum > 0, "image leg idle")
    assert(live.map(_(4).asInstanceOf[Long]).sum > 0, "audio leg idle")

    val st = IngestLoop.mmStores(spark, root, "mm1")
    IngestLoop.bootstrap(st, corpus)
    assert(rows(IngestLoop.runTick(st, batch, w)) === live,
      "store-backed multimodal tick must equal the oracle-checked live q118")
  }

  test("fold-back is decisive on the image/audio legs; crash between per-store writes replays cleanly; retraction un-rejects") {
    val root = Files.createTempDirectory("graft_mm_fold").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    // folded loop: two ticks
    val st = IngestLoop.mmStores(spark, root, "fold")
    IngestLoop.bootstrap(st, corpus)
    val rep1 = IngestLoop.runTick(st, t1, w).collect()
    assert(rep1.map(_.getLong(6)).sum > 0, "tick 1 must admit something")
    val rep2 = rows(IngestLoop.runTick(st, t2, w))

    // fold-free control: tick 2 against bootstrap-only state
    val ctrl = IngestLoop.mmStores(spark, root, "nofold")
    IngestLoop.bootstrap(ctrl, corpus)
    val rep2NoFold = rows(IngestLoop.runTick(ctrl, t2, w))

    // decisive per MODALITY: tick-2 docs whose only image/audio
    // partners are tick-1 admissions (id%7==3 → partner id-3 is class
    // 14; id%5==2 → partner id-2 is class 15 — both tick-1 classes)
    def leg(r: Seq[Seq[Any]], i: Int) = r.map(_(i).asInstanceOf[Long]).sum
    assert(leg(rep2, 3) > leg(rep2NoFold, 3),
      "tick 2 must reject an image near-dup of a tick-1 admission")
    assert(leg(rep2, 4) > leg(rep2NoFold, 4),
      "tick 2 must reject an audio near-dup of a tick-1 admission")

    // crash replay: a third tick whose imgSigs fold landed (with wrong
    // content) but the other stores' never did — the five-store
    // agreement must redo the tick, not compound it
    val stC = IngestLoop.mmStores(spark, root, "crash")
    IngestLoop.bootstrap(stC, corpus)
    stC.imgSigs.appendTickAt(2, Multimodal.imageSigs(t1))
    assert(stC.imgSigs.maxTick === 2L && stC.audSigs.maxTick === 1L)
    val replay = rows(IngestLoop.runTick(stC, t1, w))
    assert(replay === rep1.toSeq.map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i))),
      "replayed multimodal tick must reproduce the clean verdicts")
    assert(stC.all.map(_.maxTick).distinct === Seq(2L),
      "all five stores converge on the repaired tick")

    // retraction reaches every modality: retract ALL tick-1 admissions
    // from the folded loop — its next tick-2 judgement must equal the
    // fold-free control (as if tick 1 never folded). Fresh loop so the
    // earlier tick-2 fold doesn't interfere.
    val stR = IngestLoop.mmStores(spark, root, "retr")
    IngestLoop.bootstrap(stR, corpus)
    IngestLoop.runTick(stR, t1, w)
    val adm1Ids = stR.text.hashes.current().get
      .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id")
    IngestLoop.retractTick(stR.text, adm1Ids)
    assert(rows(IngestLoop.runTick(stR, t2, w)) === rep2NoFold,
      "retracting every tick-1 admission must restore the fold-free verdicts on every modality")
  }

  test("multimodal takedown (q126): store form ≡ live; the retraction is decisive on the image AND audio legs vs q118") {
    val root = Files.createTempDirectory("graft_mm_retr").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m =!= 0)
    val batch = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"admission${Provenance.BatchMod}")

    val live = rows(graft.multimodal.Multimodal.q126MultimodalRetraction(docs))
    val base = rows(graft.multimodal.Multimodal.q118MultimodalAdmission(docs))
    def leg(r: Seq[Seq[Any]], i: Int) = r.map(_(i).asInstanceOf[Long]).sum
    // decisive per modality: batch docs whose ONLY image/audio partner
    // was retracted must stop being rejected on that leg
    assert(leg(live, 3) < leg(base, 3),
      "the takedown must un-reject at least one image near-dup")
    assert(leg(live, 4) < leg(base, 4),
      "the takedown must un-reject at least one audio near-dup")
    // the exact-text leg can only shrink (its decisive case — a dup
    // whose only hash partner is retracted — is q117's own pin; this
    // corpus's planted exact partners don't land on the retraction
    // modulus, so equality is the expected outcome here)
    assert(leg(live, 2) <= leg(base, 2))

    // store form: bootstrap the five stores, retract via the SHARED
    // tombstone store (one takedown, every modality), judge the batch
    val st = IngestLoop.mmStores(spark, root, "retr126")
    IngestLoop.bootstrap(st, corpus)
    val retracted = corpus.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
    IngestLoop.retractTick(st.text, retracted)
    assert(rows(IngestLoop.runTick(st, batch, w)) === live,
      "store-backed post-takedown mm tick must equal the live q126")
  }

  test("multimodal consumer legs: the mm tick feeds BM25 / census / export like runFullTick; a lagging leg forces the redo") {
    import graft.operators.{Bpe, Packing, Retrieval, SubstringDedup}
    val root = Files.createTempDirectory("graft_mm_legs").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")
    val ms = Bpe.merges(corpus)

    def build(name: String) = {
      val st = IngestLoop.mmStores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      val idx = ArtifactStore.bm25Incremental(spark, root, name)
      idx.bootstrap(corpus)
      val cen = ArtifactStore.gramCensusIncremental(spark, root, s"${name}_cen")
      cen.bootstrap(corpus)
      val ex = ArtifactStore.packedExport(spark, root, s"${name}_ex")
      ex.bootstrap(corpus, ms)
      (st, idx, cen, ex)
    }
    val (st, idx, cen, ex) = build("legs")
    val mx = ArtifactStore.mixIncremental(spark, root, "legs_mx")
    mx.bootstrap(corpus)
    val rep1 = rows(IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        export = Some(IngestLoop.ExportLeg(ex, ms)), mix = Some(mx))))
    assert(rep1.nonEmpty)

    // every consumer serves exactly base ∪ the mm tick's admissions
    val admitted = docs.join(
      st.text.hashes.current().get.select("doc_id"), Seq("doc_id"), "left_semi")
    val queries = docs.filter(pmod(col("doc_id"), lit(50L)) === 7)
    assert(Retrieval.topkFromIndex(idx.index(), queries)
        .collect().map(_.toSeq).toSeq ===
      Retrieval.topkFromIndex(Retrieval.index(admitted), queries)
        .collect().map(_.toSeq).toSeq,
      "BM25 must rank like a rebuild over base ∪ mm admissions")
    assert(SubstringDedup.winnersFromCensus(cen.read())
      .collect().map(_.getLong(0)).toSeq ===
      SubstringDedup.winnersFromCensus(SubstringDedup.censusOf(admitted))
        .collect().map(_.getLong(0)).toSeq,
      "census must equal a re-mine of the mm-ingested corpus")
    val admOnly = admitted.join(corpus.select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(ex.slices().filter(col("tick") === 2)
        .select("doc_id", "seq_id", "toks", "h").collect().map(_.toSeq).toSet ===
      Packing.tickSlices(admOnly, 2048, ms)
        .select("doc_id", "seq_id", "toks", "h").collect().map(_.toSeq).toSet,
      "the export epoch must pack the mm tick's admissions")
    assert(mx.read().collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
      admitted.groupBy("source").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap,
      "the mix table must count base ∪ the mm tick's admissions")

    // a lagging consumer leg forces the whole-tick redo
    val (stB, idxB, cenB, exB) = build("legs_crash")
    IngestLoop.runTick(stB, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB)))
    assert(exB.maxTick === 1L && stB.audSigs.maxTick === 2L)
    val replay = rows(IngestLoop.runTick(stB, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB),
        export = Some(IngestLoop.ExportLeg(exB, ms)))))
    assert(replay === rep1, "the redone mm tick must reproduce the verdicts")
    assert(exB.maxTick === 2L)
  }

  test("semantic leg in the unified mm loop: dup_semantic fires between fuzzy and image; takedown + mm re-adjudication recover it") {
    val root = Files.createTempDirectory("graft_mm_sem").toString
    val emb = Tables.load(spark, sf, "embeddings")
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    val st = IngestLoop.mmStores(spark, root, "mmsem")
    IngestLoop.bootstrap(st, corpus)
    val leg = IngestLoop.semLeg(spark, root, "mmsem", emb)
    IngestLoop.bootstrapSem(leg, corpus)
    val quar = IngestLoop.quarantine(spark, root, "mmsem")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    val rep1 = IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(sem = Some(leg), quar = Some(quar))).collect()
    // sem report: src, n_batch, exact, fuzzy, SEMANTIC, image, audio,
    // lowq, new
    assert(rep1.map(_.getLong(4)).sum > 0,
      "tick 1's semantic leg must fire in the unified loop")
    assert(rep1.map(_.getLong(5)).sum > 0 && rep1.map(_.getLong(6)).sum > 0,
      "the image/audio legs must keep firing next to the semantic one")
    IngestLoop.runTick(st, t2, w,
      legs = IngestLoop.Legs(sem = Some(leg), quar = Some(quar)))
    assert(quar.rows.current().get.filter(col("doc_id") === 425L)
      .select("verdict").collect().map(_.getString(0)).toSeq
      === Seq("dup_semantic"),
      "doc 425 must quarantine as dup_semantic in the mm loop too")

    // takedown via the mm form (all stores advance together), then the
    // mm re-adjudication with the semantic leg re-admits 425
    val retracted = st.text.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    IngestLoop.retractTick(st, retracted,
      legs = IngestLoop.Legs(quar = Some(quar), sem = Some(leg)))
    assert((st.all.map(_.maxTick) :+ leg.sigs.maxTick).distinct.size === 1,
      "the sem sig store advances with the mm takedown tick")
    val rep = IngestLoop.readjudicateTick(st, quar, w,
      legs = IngestLoop.Legs(sem = Some(leg)))
      .collect()
    // sem readj report: src, n_quarantined, exact_t1, fuzzy_t1, sem_t1,
    // image_t1, audio_t1, still_exact, still_fuzzy, still_semantic,
    // still_image, still_audio, lowq, readmitted
    assert(rep.map(_.getLong(4)).sum > 0, "dup_semantic rows re-judge")
    assert(quar.resolvedIds.current().get
      .filter(col("doc_id") === 425L).count() === 1L,
      "doc 425 re-admits once its only partner is retracted")
  }

  test("mm re-adjudication (q133): store ≡ live; cross-modality evidence holds what text-only judging would release; fold-back") {
    val root = Files.createTempDirectory("graft_mm_readj").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m =!= 0)
    val batch = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"admission${Provenance.BatchMod}")

    val live = rows(Multimodal.q133MmReadjudication(docs))
    def leg(i: Int) = live.map(_(i).asInstanceOf[Long]).sum
    assert(leg(11) > 0, "the takedown must re-admit someone")
    assert(leg(8) + leg(9) > 0,
      "surviving signature evidence must keep holding someone")
    assert(leg(4) > 0 && leg(5) > 0,
      "image/audio quarantine legs idle — the mm re-adjudication needs " +
        "signature-evidence rejections to re-judge")

    val st = IngestLoop.mmStores(spark, root, "mmreadj")
    IngestLoop.bootstrap(st, corpus)
    val quar = IngestLoop.quarantine(spark, root, "mmreadj")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    IngestLoop.runTick(st, batch, w,
      legs = IngestLoop.Legs(quar = Some(quar)))
    val retracted = st.text.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    // the mm takedown form WITH the quarantine attached (r11 advice:
    // retractTick(st.text, …) left imgSigs/audSigs/quarantine one tick
    // behind, so the re-adjudication landed ON the takedown tick and
    // overwrote its markers; the mm takedown was never exercised)
    IngestLoop.retractTick(st, retracted,
      legs = IngestLoop.Legs(quar = Some(quar)))
    assert((st.all.map(_.maxTick) ++
        Seq(quar.rows.maxTick, quar.resolvedIds.maxTick)).distinct
      === Seq(3L),
      "all five mm stores AND both quarantine stores advance to the " +
        "takedown tick together")
    val rep = rows(IngestLoop.readjudicateTick(st, quar, w))
    assert(rep === live,
      "the store-backed mm re-adjudication must equal the live q133")

    // fold-back: every re-admitted doc's exact copy rejects; re-admitted
    // ids = resolved ids whose hashes joined the state
    val readm = quar.resolvedIds.current().get
      .join(st.text.hashes.current().get.select("doc_id"),
        Seq("doc_id"), "left_semi")
    val nReadm = readm.count()
    assert(nReadm === leg(11))
    val resub = IngestLoop.runTick(st,
      docs.join(readm, Seq("doc_id"), "left_semi"), w).collect()
    assert(resub.map(_.getLong(2)).sum === nReadm,
      "every resubmitted re-admitted doc must be dup_exact")
  }

  test("runMmTick advances an attached replay leg (r12 advice): feats fold per mm tick, so a replay-attached mm re-adjudication lands on a FRESH tick instead of overwriting the ingest tick") {
    val root = Files.createTempDirectory("graft_mm_replay").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    val st = IngestLoop.mmStores(spark, root, "mmrp")
    IngestLoop.bootstrap(st, corpus)
    val quar = IngestLoop.quarantine(spark, root, "mmrp")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    val replay = IngestLoop.replayLeg(spark, root, "mmrp")
    IngestLoop.bootstrapReplay(replay, corpus)

    val rep = IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay)))
      .collect()
    val novel = rep.map(r => r.getAs[Long]("n_low_quality") +
      r.getAs[Long]("n_new")).sum
    assert(novel > 0, "the pin needs a non-empty quality window")
    assert(replay.feats.maxTick === 2L,
      "the replay leg advances WITH the mm ingest tick")
    val t2Feats = replay.feats.current().get
      .filter(col("tick") === 2L).count()
    assert(t2Feats === novel,
      "the mm tick's novel cohort persists its gate features")

    // before the fix: the mm tick had no replay param, feats lagged at
    // tick 1, and this replay-attached re-adjudication's agreement
    // resolved to tick 2 — silently overwriting the ingest tick's
    // five-store increments
    IngestLoop.readjudicateTick(st, quar, w,
      legs = IngestLoop.Legs(replay = Some(replay)))
    assert(st.text.hashes.maxTick === 3L && replay.feats.maxTick === 3L,
      "the re-adjudication lands at tick 3, never ON the ingest tick")
    assert(replay.feats.current().get.filter(col("tick") === 2L).count()
      === t2Feats,
      "the ingest tick's feats survive the replay-attached re-adjudication")
  }

  test("modality eval contamination (q140 deployment form): a batch doc rendering a held-out eval image/clip verdicts contaminated; withdrawal re-admits, survival holds, additions retro-catch from maintained sig stores") {
    import graft.operators.Decontam
    val root = Files.createTempDirectory("graft_mm_evalq140").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = Decontam.evalFree(docs).filter(m.between(1, 9))
    // doc 12 renders doc 10's AUDIO clip (the q116 planting) and would
    // admit at tick 1 — after the eval withdrawal, 10 would then stay
    // held by 12's independent audio DEDUP evidence (the q133
    // cross-evidence rule, pinned elsewhere); this pin isolates the
    // EVAL channel, so 12 sits out
    val t1 = Decontam.evalFree(docs).filter(m >= 10)
      .filter(col("doc_id") =!= 12L)
    val w = QualityModel.weights(corpus,
      scope = s"decontam${Provenance.BatchMod}")

    val st = IngestLoop.mmStores(spark, root, "mmq140")
    IngestLoop.bootstrap(st, corpus)
    val leg = IngestLoop.mmEvalLeg(spark, root, "mmq140")
    IngestLoop.bootstrapEval(leg, corpus, Decontam.eval1Docs(docs))
    val quar = IngestLoop.quarantine(spark, root, "mmq140")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)

    // the q140 planted pairs: batch doc 10 renders eval item 7's IMAGE
    // (7 withdraws at the update: the re-admit direction); batch doc
    // 437 renders eval item 435's AUDIO (435 survives: the hold
    // direction) — neither eval item is in the corpus, so the only
    // evidence is the eval channel
    IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(quar = Some(quar), eval = Some(leg)))
    val qv = quar.rows.current().get
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(qv(10L) === "contaminated",
      "the eval item's rendered image contaminates, not dup_image")
    assert(qv(437L) === "contaminated",
      "the eval item's rendered clip contaminates, not dup_audio")

    // the update: item 7 withdraws, set 2 adds; the retro-catch probes
    // the loop's MAINTAINED doc sig stores — corpus doc 262 renders
    // added item 259's image and 247 renders 245's audio
    val caught = IngestLoop.evalUpdateTick(st, leg,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
    val caughtIds = caught.collect().map(_.getLong(0)).toSet
    assert(caughtIds.contains(262L),
      "the image retro-catch reaches the ingested corpus")
    assert(caughtIds.contains(247L),
      "the audio retro-catch reaches the ingested corpus")

    // re-adjudication with the leg: 10 re-admits (withdrawn evidence),
    // 437 stays held by the surviving item's signature
    IngestLoop.readjudicateTick(st, quar, w,
      legs = IngestLoop.Legs(eval = Some(leg)))
    val resolved = quar.resolvedIds.current().get
      .collect().map(_.getLong(0)).toSet
    assert(resolved.contains(10L),
      "10 re-admits once its only contaminating eval image withdrew")
    assert(!resolved.contains(437L),
      "437 stays held by the surviving eval clip's signature")
  }

  test("mm quality re-gate (regateMmTick): a model swap re-opens mm quality rejections, the stored signatures fold back, and every mm store advances together") {
    val root = Files.createTempDirectory("graft_mm_regate").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    val st = IngestLoop.mmStores(spark, root, "mmrg")
    IngestLoop.bootstrap(st, corpus)
    val quar = IngestLoop.quarantine(spark, root, "mmrg")
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    val replay = IngestLoop.replayLeg(spark, root, "mmrg")
    IngestLoop.bootstrapReplay(replay, corpus)
    IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay)))
    assert(quar.rows.current().get
      .filter(col("verdict") === "low_quality").count() > 0)

    // the inverted model flips tick-1 quality rejections out of their
    // window — they re-admit from the mm quarantine, stored 8-byte
    // signatures folding into the modality stores (no payload reads)
    val rep = IngestLoop.regateTick(st, quar, replay, w.map(x => -x)).collect()
    val nReadm = rep.map(_.getLong(3)).sum
    assert(nReadm > 0, "the inverted model must re-admit someone")
    assert((st.all.map(_.maxTick) ++
        Seq(replay.feats.maxTick, quar.rows.maxTick,
          quar.resolvedIds.maxTick)).distinct === Seq(3L),
      "all five mm stores, the replay leg, and the quarantine advance " +
        "to the regate tick together")
    val readm = quar.resolvedIds.current().get.localCheckpoint()
    assert(readm.count() === nReadm)
    assert(st.imgSigs.current().get
      .join(readm, Seq("doc_id"), "left_semi").count() === nReadm,
      "re-admitted docs' stored image signatures fold into the state")
    // fold-back pin: a resubmitted exact copy of every re-admitted doc
    // rejects at the next mm tick
    val resub = IngestLoop.runTick(st,
      docs.join(readm, Seq("doc_id"), "left_semi"), w).collect()
    assert(resub.map(_.getLong(2)).sum === nReadm,
      "every re-admitted doc's resubmitted copy must be dup_exact")
  }

  test("compactMmIfNeeded folds an attached eval leg's docGrams with the shared tombstones (r13: the mm form was missing the eval fold — clearing would have resurfaced retracted rows)") {
    import graft.operators.Decontam
    val root = Files.createTempDirectory("graft_mm_cmp_eval").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = Decontam.evalFree(docs).filter(m.between(1, 9))
    val t1 = Decontam.evalFree(docs).filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"decontam${Provenance.BatchMod}")

    val st = IngestLoop.mmStores(spark, root, "mmce")
    IngestLoop.bootstrap(st, corpus)
    val leg = IngestLoop.evalLeg(spark, root, "mmce")
    IngestLoop.bootstrapEval(leg, corpus, Decontam.eval1Docs(docs))
    IngestLoop.runTick(st, t1, w, legs = IngestLoop.Legs(eval = Some(leg)))

    // severed: re-read after the compaction deletes the folded tick
    // files it was derived from
    val retracted = st.text.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
      .localCheckpoint()
    IngestLoop.retractTick(st, retracted,
      legs = IngestLoop.Legs(eval = Some(leg)))
    val liveGrams = st.text.lineage.resolve(leg.docGrams.current().get)
      .collect().map(_.toSeq).toSet
    assert(IngestLoop.compactIfNeeded(st, maxDataFiles = 1,
      legs = IngestLoop.Legs(eval = Some(leg))))
    assert(st.text.tombs.current().isEmpty,
      "tombstones cleared after every sharing store folded")
    assert(st.text.lineage.resolve(leg.docGrams.current().get)
      .collect().map(_.toSeq).toSet === liveGrams,
      "the resolved docGrams relation is bit-identical across the fold")
    assert(leg.docGrams.current().get
      .join(retracted, Seq("doc_id"), "left_semi").isEmpty,
      "no retracted doc's gram rows survive the fold physically")
  }

  test("evalUpdateMmTick crash replay without an explicit id (r13 advice): the modality sig stores join the unanimity set — a replay after the text-side appends lands at the SAME id, no duplicate eval rows") {
    import graft.operators.Decontam
    val root = Files.createTempDirectory("graft_mm_uid").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = Decontam.evalFree(docs).filter(m.between(1, 9))

    def build(name: String) = {
      val st = IngestLoop.mmStores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      val leg = IngestLoop.mmEvalLeg(spark, root, name)
      IngestLoop.bootstrapEval(leg, corpus, Decontam.eval1Docs(docs))
      (st, leg)
    }

    val (stA, legA) = build("uid_clean")
    val caughtClean = IngestLoop.evalUpdateTick(stA, legA,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
      .collect().map(_.getLong(0)).toSet
    val cleanBands = legA.bands.current().get.count()
    val cleanISigs = legA.imgSigs.get.current().get.count()

    val (stB, legB) = build("uid_crash")
    // CRASH simulation: ALL FOUR text-side appends committed at the
    // derived id 2, then the process died before the modality sig
    // appends (they run last). The pre-fix rule — text-only unanimity
    // with the sig stores only max-clamped — saw the text stores
    // unanimous at 2, derived 3, and re-appended the same addDocs'
    // grams/bands/shingles/tombs at a second id: duplicate eval
    // band/shingle rows inflating lshPairsAgainstState intersections.
    val add = Decontam.eval2Docs(docs)
    legB.tombs.appendTickAt(2, Decontam.withdrawEvalIds(docs))
    legB.grams.appendTickAt(2,
      graft.operators.Contamination.grams(add, legB.n))
    legB.bands.appendTickAt(2, graft.operators.Fuzzy.corpusBandState(add))
    legB.shingles.appendTickAt(2,
      graft.operators.Fuzzy.corpusShingleHashes(add))
    val caughtB = IngestLoop.evalUpdateTick(stB, legB,
      add, Decontam.withdrawEvalIds(docs))
      .collect().map(_.getLong(0)).toSet
    assert((Seq(legB.grams, legB.bands, legB.shingles, legB.tombs) ++
      legB.imgSigs ++ legB.audSigs).map(_.maxTick).distinct === Seq(2L),
      "the replayed update lands every eval-side store at the SAME id")
    assert(legB.bands.current().get.count() === cleanBands &&
      legB.imgSigs.get.current().get.count() === cleanISigs,
      "no duplicate eval band/sig rows after the replay")
    assert(caughtB === caughtClean,
      "the replayed retro-catch equals the clean run's")
  }

  test("quiesceMm compose-point (r15 self-audit — the mm twin of quiesce): the bundle folds via compactMmIfNeeded, runs the occupancy canary structurally on the text lineage, and seals the export last") {
    import graft.operators.{Bpe, SemanticGate}
    val root = Files.createTempDirectory("graft_mm_quiesce").toString
    val emb = Tables.load(spark, sf, "embeddings")
    val st = IngestLoop.mmStores(spark, root, "mmq")
    IngestLoop.bootstrap(st, docs)
    // the q141 drift fixture on the mm loop's text lineage
    val sized = IngestLoop.semLegSized(spark, root, "mmq",
      emb.orderBy("vec_id").limit(100))
    val leg = sized.copy(vectors = emb)
    IngestLoop.bootstrapSem(leg, docs)
    val nLive = IngestLoop.semCanaryReport(st.text, leg)
      .head().getAs[Long]("n_live")
    val ms = Bpe.merges(docs)
    val ex = ArtifactStore.packedExport(spark, root, "mmq_ex")
    ex.bootstrap(docs, ms)
    intercept[IllegalArgumentException](ex.servedSlices())
    val iSigRows = st.imgSigs.current().get.count()

    val res = IngestLoop.quiesce(st, spark, root, semNextName = Some("mmq_v2"),
      docSources = Some(docs.select("doc_id", "source")), maxDataFiles = 0L,
      minFillMicro = 0L, mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(sem = Some(leg),
        export = Some(IngestLoop.ExportLeg(ex, ms))))
    assert(res.compacted,
      "the mm bundle's compaction step is the MM fold — it must reach " +
        "the modality sig stores, not just the text three")
    assert(st.imgSigs.current().get.count() === iSigRows,
      "the mm fold preserves the served modality sig rows")
    assert(res.semResized &&
      res.sem.get.bits === SemanticGate.sizedBits(nLive),
      "the mm bundle itself detects the drift on the text lineage")
    assert(!IngestLoop.semCanaryReport(st.text, res.sem.get)
      .head().getAs[Boolean]("resize_recommended"))
    assert(ex.servedSlices().count() > 0,
      "the bundle's seal covers the post-bundle state")
  }
}
