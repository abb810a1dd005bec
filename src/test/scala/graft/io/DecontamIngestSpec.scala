package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Decontam, Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DECONTAMINATION leg's deployment form (q136,
  * [[IngestLoop.EvalLeg]]): contaminated docs are gated + quarantined
  * per tick; an eval-set update withdraws AND adds; the withdrawal
  * re-opens past rejections via the re-adjudication, the addition
  * retro-catches already-admitted docs from the maintained docGrams
  * reverse index (zero text re-reads) and their retraction composes
  * with retractTick; crash replay over the docGrams store. sf0.01
  * (pinned eval fixtures: item 61 withdraws and releases batch doc 185;
  * 435 survives and keeps holding 486; added item 245 catches ingested
  * doc 8). */
class DecontamIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  private def m = pmod(col("doc_id"), lit(Provenance.BatchMod))
  private def corpus = Decontam.evalFree(docs).filter(m.between(1, 9))
  private def t1 = Decontam.evalFree(docs).filter(m >= 10)
  private def weights = QualityModel.weights(corpus,
    scope = s"decontam${Provenance.BatchMod}")

  private def build(root: String, name: String)
      : (IngestLoop.Stores, IngestLoop.EvalLeg, IngestLoop.Quarantine) = {
    val st = IngestLoop.stores(spark, root, name)
    val leg = IngestLoop.evalLeg(spark, root, name)
    val quar = IngestLoop.quarantine(spark, root, name)
    IngestLoop.bootstrap(st, corpus)
    IngestLoop.bootstrapEval(leg, corpus, Decontam.eval1Docs(docs))
    IngestLoop.bootstrapQuarantine(quar, corpus)
    (st, leg, quar)
  }

  test("store-backed decontam loop ≡ live q136: gated tick, eval update, re-adjudication, retro-catch") {
    val root = Files.createTempDirectory("graft_dc_live").toString
    val live = rows(Decontam.q136DecontamTick(docs))
    def cSum(i: Int) = live.map(_(i).asInstanceOf[Long]).sum
    assert(cSum(4) > 0, "tick 1 must reject contaminated docs")
    assert(cSum(7) > 0, "the withdrawal must re-admit someone")
    assert(cSum(8) > 0, "surviving eval evidence must keep holding someone")
    assert(cSum(9) > 0, "the addition must retro-catch an ingested doc")

    val (st, leg, quar) = build(root, "dc1")
    val rep1 = rows(IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quar), eval = Some(leg))))
    assert(rep1.map(r => r.slice(0, 7)) ===
      live.map(r => r.slice(0, 7)).filter(_(1) != 0L),
      "the gated tick must reproduce the live q136 tick-1 columns")
    assert(quar.rows.current().get
      .filter(col("verdict") === "contaminated").count() === cSum(4),
      "every contaminated rejection quarantines")

    // the eval update: withdrawals + additions + the retro-catch
    val caught = IngestLoop.evalUpdateTick(st, leg,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
    val caughtPerSrc = docs.join(caught, Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(caughtPerSrc ===
      live.filter(_(9) != 0L)
        .map(r => (r(0).asInstanceOf[String], r(9).asInstanceOf[Long]))
        .toMap,
      "the retro-catch must equal the live q136 n_caught census")
    assert(caught.filter(col("doc_id") === 8L).count() === 1L,
      "added item 245 must catch ingested doc 8")

    // re-adjudication with the leg attached (no retraction yet — the
    // live form's phase 3a population)
    val rr = IngestLoop.readjudicateTick(st, quar, weights,
      legs = IngestLoop.Legs(eval = Some(leg))).collect()
    // cols: source, n_quarantined, n_exact_t1, n_fuzzy_t1, n_contam_t1,
    // n_still_exact, n_still_fuzzy, n_still_contaminated,
    // n_low_quality, n_readmitted
    val perSrc = rr.map(r => (r.getString(0),
      (r.getLong(9), r.getLong(7)))).toMap
    val livePerSrc = live.filter(r => r(7) != 0L || r(8) != 0L)
      .map(r => (r(0).asInstanceOf[String],
        (r(7).asInstanceOf[Long], r(8).asInstanceOf[Long]))).toMap
    assert(perSrc.filter(p => p._2._1 > 0 || p._2._2 > 0) === livePerSrc,
      "re-adjudication outcomes must equal the live q136 per source")
    assert(quar.resolvedIds.current().get
      .filter(col("doc_id") === 185L).count() === 1L,
      "doc 185 re-admits once its only contaminating item withdrew")
  }

  test("the caught docs' retraction composes; a resubmitted caught doc is now CONTAMINATED, not new") {
    val root = Files.createTempDirectory("graft_dc_retract").toString
    val (st, leg, quar) = build(root, "dc2")
    IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quar), eval = Some(leg)))
    val caught = IngestLoop.evalUpdateTick(st, leg,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
    IngestLoop.retractTick(st, caught,
      legs = IngestLoop.Legs(quar = Some(quar), eval = Some(leg)))
    assert(Seq(st.hashes, st.bands, st.shingles, leg.docGrams,
        quar.rows, quar.resolvedIds).map(_.maxTick).distinct.size === 1,
      "the docGrams store advances with the takedown tick")
    // the caught doc's copy no longer hits the exact gate (retracted)
    // but the maintained eval state now REJECTS it as contaminated —
    // the loop keeps the eval-hitting content out for good
    val resub = IngestLoop.runTick(st, docs.filter(col("doc_id") === 8L),
      weights, legs = IngestLoop.Legs(eval = Some(leg)))
      .collect()
    assert(resub.map(_.getLong(2)).sum === 0L, "exact gate released it")
    assert(resub.map(_.getLong(4)).sum === 1L,
      "the resubmitted caught doc must be verdicted contaminated")
  }

  test("crash replay: a lagging docGrams store forces the tick redo; compaction folds it with the corpus tombstones") {
    val root = Files.createTempDirectory("graft_dc_crash").toString
    val (stA, legA, _) = build(root, "clean")
    val repClean = rows(IngestLoop.runTick(stA, t1, weights,
      legs = IngestLoop.Legs(eval = Some(legA))))

    val (stB, legB, _) = build(root, "crash")
    IngestLoop.runTick(stB, t1, weights)
    assert(stB.shingles.maxTick === 2L && legB.docGrams.maxTick === 1L,
      "precondition: dedup stores at tick 2, docGrams lags")
    assert(rows(IngestLoop.runTick(stB, t1, weights,
      legs = IngestLoop.Legs(eval = Some(legB)))) === repClean,
      "the redone tick judges under the decontam gate like a clean run")
    assert(legB.docGrams.maxTick === 2L)

    // takedown + compaction: the resolved docGrams relation is
    // bit-identical across the fold and no retracted row survives it
    val retracted = stA.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    IngestLoop.retractTick(stA, retracted,
      legs = IngestLoop.Legs(eval = Some(legA)))
    val liveGrams = stA.lineage.resolve(legA.docGrams.current().get)
      .collect().map(_.toSeq).toSet
    assert(IngestLoop.compactIfNeeded(stA, maxDataFiles = 1,
      legs = IngestLoop.Legs(eval = Some(legA))))
    assert(stA.tombs.current().isEmpty)
    assert(stA.lineage.resolve(legA.docGrams.current().get)
      .collect().map(_.toSeq).toSet === liveGrams)

    // compactEval folds eval-side withdrawals and clears the eval tombs
    IngestLoop.evalUpdateTick(stA, legA, Decontam.eval2Docs(docs),
      Decontam.withdrawEvalIds(docs))
    val nLiveEval = legA.grams.current().get
      .join(Decontam.withdrawEvalIds(docs), Seq("doc_id"), "left_anti")
      .count()
    IngestLoop.compactEval(legA)
    assert(legA.tombs.current().isEmpty)
    assert(legA.grams.current().get.count() === nLiveEval,
      "withdrawn items' gram rows physically leave the eval state")
  }

  test("regateTick advances an attached eval leg (r12 advice): regate-readmitted docs enter docGrams, and the next eval-attached tick never overwrites the regate tick") {
    val root = Files.createTempDirectory("graft_dc_regate").toString
    val t2 = Decontam.evalFree(docs).filter(m === 0)
    val (st, leg, quar) = build(root, "dcrg")
    val replay = IngestLoop.replayLeg(spark, root, "dcrg")
    IngestLoop.bootstrapReplay(replay, corpus)
    IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay),
        eval = Some(leg)))
    assert(leg.docGrams.maxTick === 2L)

    // the INVERTED model flips tick-1 quality rejections out of their
    // window: they re-admit from the quarantine THROUGH the regate tick
    // — before the fix regateTick had no eval param, docGrams lagged at
    // tick 2, and the next eval-attached tick's agreement resolved to
    // the regate tick, silently overwriting it (the readmitted docs
    // vanished from dedup state and never entered the retro-catch index)
    val rep = IngestLoop.regateTick(st, quar, replay, weights.map(x => -x),
      legs = IngestLoop.Legs(eval = Some(leg))).collect()
    val nReadm = rep.map(_.getLong(3)).sum
    assert(nReadm > 0, "the inverted model must re-admit someone")
    assert(leg.docGrams.maxTick === 3L,
      "the docGrams reverse index advances WITH the regate tick")
    val readmIds = quar.resolvedIds.current().get.localCheckpoint()
    assert(readmIds.count() === nReadm)
    val readmGrams = leg.docGrams.current().get
      .join(readmIds, Seq("doc_id"), "left_semi").count()
    assert(readmGrams > 0,
      "regate-readmitted docs enter the retro-catch reverse index")

    val tick3Hashes = st.hashes.current().get
      .join(readmIds, Seq("doc_id"), "left_semi").count()
    assert(tick3Hashes === nReadm)
    IngestLoop.runTick(st, t2, weights,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay),
        eval = Some(leg)))
    assert(st.hashes.maxTick === 4L && leg.docGrams.maxTick === 4L,
      "the next tick lands at 4, never ON the regate tick")
    assert(leg.docGrams.current().get
      .join(readmIds, Seq("doc_id"), "left_semi").count() === readmGrams,
      "the regate tick's docGrams increment survives the next eval tick")
    assert(st.hashes.current().get
      .join(readmIds, Seq("doc_id"), "left_semi").count() === tick3Hashes,
      "the regate tick's hash fold-back survives the next eval tick")
  }

  test("evalUpdateTick crash replay without an explicit id (r12 advice): the default id agrees across all four eval-side stores — laggards land at the SAME id, no duplicate eval rows") {
    val root = Files.createTempDirectory("graft_dc_uid").toString
    val (stA, legA, _) = build(root, "dcu_clean")
    val caughtClean = IngestLoop.evalUpdateTick(stA, legA,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
      .collect().map(_.getLong(0)).toSet
    val cleanBands = legA.bands.current().get.count()
    val cleanGrams = legA.grams.current().get.count()

    val (stB, legB, _) = build(root, "dcu_crash")
    // CRASH simulation: the update's first two appends (tombs, grams)
    // committed at the derived id 2, then the process died before the
    // band/shingle appends. The grams-only default would now derive
    // grams.maxTick + 1 = 3 and land bands/shingles at a SECOND id —
    // the duplicate-eval-row hazard the same-updateId contract exists
    // to prevent.
    legB.tombs.appendTickAt(2, Decontam.withdrawEvalIds(docs))
    legB.grams.appendTickAt(2, graft.operators.Contamination.grams(
      Decontam.eval2Docs(docs), legB.n))
    val caughtB = IngestLoop.evalUpdateTick(stB, legB,
      Decontam.eval2Docs(docs), Decontam.withdrawEvalIds(docs))
      .collect().map(_.getLong(0)).toSet
    assert(Seq(legB.grams, legB.bands, legB.shingles, legB.tombs)
      .map(_.maxTick).distinct === Seq(2L),
      "the replayed update lands every eval-side store at the SAME id")
    assert(legB.bands.current().get.count() === cleanBands &&
      legB.grams.current().get.count() === cleanGrams,
      "no duplicate eval band/gram rows after the replay")
    assert(caughtB === caughtClean,
      "the replayed retro-catch equals the clean run's")
  }
}
