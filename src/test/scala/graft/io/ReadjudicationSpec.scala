package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q131's deployment form — [[IngestLoop.readjudicateTick]] over the
  * [[IngestLoop.Quarantine]] store pair: rejected ≠ discarded. A
  * takedown that removes a rejection's evidence makes the quarantined
  * doc re-admittable; the no-takedown control re-admits nothing; the
  * re-adjudication is itself a tick with the full crash/replay
  * discipline. sf0.01. */
class ReadjudicationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  private def m = pmod(col("doc_id"), lit(Provenance.BatchMod))
  private def corpus = docs.filter(m.between(1, 9))
  private def t1 = docs.filter(m >= 10)
  private def weights = QualityModel.weights(corpus,
    scope = s"multitick${Provenance.BatchMod}")

  private def build(root: String, name: String)
      : (IngestLoop.Stores, IngestLoop.Quarantine) = {
    val st = IngestLoop.stores(spark, root, name)
    val quar = IngestLoop.quarantine(spark, root, name)
    IngestLoop.bootstrap(st, corpus)
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quar)))
    (st, quar)
  }

  private def retractQ117Class(st: IngestLoop.Stores): Unit = {
    val retracted = st.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    assert(retracted.count() > 0)
    IngestLoop.retractTick(st, retracted)
  }

  test("store-backed re-adjudication ≡ live q131; takedown decisive; the no-takedown control re-admits nothing") {
    val root = Files.createTempDirectory("graft_readj").toString
    val live = rows(Provenance.q131Readjudication(docs))
    assert(live.nonEmpty)
    assert(live.map(_(7).asInstanceOf[Long]).sum > 0,
      "the takedown must make at least one quarantined doc re-admittable")

    val (st, quar) = build(root, "readj1")
    retractQ117Class(st)
    val rep = rows(IngestLoop.readjudicateTick(st, quar, weights))
    assert(rep === live,
      "the store-backed re-adjudication must equal the live q131 report")

    // control: same quarantine, NO takedown — every dup verdict's
    // evidence still stands, so nothing re-admits and nothing enters
    // the quality window
    val (stC, quarC) = build(root, "readj_ctrl")
    val ctrl = IngestLoop.readjudicateTick(stC, quarC, weights).collect()
    assert(ctrl.map(_.getLong(7)).sum === 0L,
      "control: no takedown, no re-admission")
    assert(ctrl.map(r => r.getLong(4) + r.getLong(5)).sum
      === ctrl.map(_.getLong(1)).sum,
      "control: every quarantined doc is still an exact or fuzzy dup")
  }

  test("re-admitted docs leave the live quarantine and fold into state: a second pass re-admits nothing more, their later copies reject") {
    val root = Files.createTempDirectory("graft_readj_fold").toString
    val (st, quar) = build(root, "readj2")
    retractQ117Class(st)
    val lowqT1 = quar.rows.current().get
      .filter(col("verdict") === "low_quality").count()
    val rep1 = IngestLoop.readjudicateTick(st, quar, weights).collect()
    val nReadmitted = rep1.map(_.getLong(7)).sum
    val nQuar1 = rep1.map(_.getLong(1)).sum
    assert(nReadmitted > 0)

    // resolvedIds = the RE-ADMITTED docs (folded into the state);
    // quality-rejected docs RE-QUARANTINE under verdict low_quality
    // (the r11-advice policy: regateTick's model loop re-opens them)
    val nLowQ = rep1.map(_.getLong(6)).sum
    assert(quar.resolvedIds.current().get.select("doc_id").count()
      === nReadmitted)
    assert(quar.rows.current().get.filter(col("verdict") === "low_quality")
      .count() === lowqT1 + nLowQ,
      "every re-adjudication-time quality rejection must re-quarantine")
    val readmIds = quar.resolvedIds.current().get
      .join(st.hashes.current().get.select("doc_id"), Seq("doc_id"),
        "left_semi")

    assert(readmIds.count() === nReadmitted)

    // fold-back: resubmitting a re-admitted doc hits the exact gate
    val resub = IngestLoop.runTick(st,
      docs.join(readmIds, Seq("doc_id"), "left_semi"), weights,
      legs = IngestLoop.Legs(quar = Some(quar))).collect()
    assert(resub.map(_.getLong(2)).sum === nReadmitted,
      "every resubmitted re-admitted doc must be dup_exact")

    // a second re-adjudication sees only the STILL-DUP survivors (the
    // resolved docs left — re-admitted and quality-rejected alike; the
    // resubmitted copies share resolved ids, so they are suppressed
    // too) and re-admits nothing: state only grew, so surviving dup
    // evidence still stands
    val rep2 = IngestLoop.readjudicateTick(st, quar, weights).collect()
    assert(rep2.map(_.getLong(7)).sum === 0L,
      "second pass with no new takedown must re-admit nothing")
    assert(rep2.map(_.getLong(1)).sum === nQuar1 - nReadmitted - nLowQ,
      "second pass re-judges exactly the still-dup survivors")
  }

  test("crash between the state folds and the quarantine appends: the quarantine stores' lag forces the tick to be REDONE") {
    val root = Files.createTempDirectory("graft_readj_crash").toString
    // clean yardstick
    val (stA, quarA) = build(root, "readj_clean")

    // crashed run: the three dedup folds of tick 2 landed but neither
    // quarantine append did (runTick WITHOUT the quarantine leg is
    // exactly that crash point)
    val stB = IngestLoop.stores(spark, root, "readj_crash")
    val quarB = IngestLoop.quarantine(spark, root, "readj_crash")
    IngestLoop.bootstrap(stB, corpus)
    IngestLoop.bootstrapQuarantine(stB, quarB, corpus)
    IngestLoop.runTick(stB, t1, weights)
    assert(stB.shingles.maxTick === 2L && quarB.rows.maxTick === 1L,
      "precondition: dedup stores agree at tick 2, the quarantine lags")

    // replay WITH the leg: the agreement sees the lag and redoes tick 2
    IngestLoop.runTick(stB, t1, weights,
      legs = IngestLoop.Legs(quar = Some(quarB)))
    assert(quarB.rows.maxTick === 2L && quarB.resolvedIds.maxTick === 2L)

    // both loops now retract and re-adjudicate identically
    retractQ117Class(stA); retractQ117Class(stB)
    assert(rows(IngestLoop.readjudicateTick(stA, quarA, weights))
      === rows(IngestLoop.readjudicateTick(stB, quarB, weights)),
      "the repaired quarantine must re-adjudicate exactly like the clean one")
  }

  test("readjudicateTick advances an attached replay leg: interleaved between replay-attached runTicks nothing is overwritten; re-quarantined docs re-open via regateTick") {
    val root = Files.createTempDirectory("graft_readj_replay").toString
    val t2 = docs.filter(m === 0)
    // the escaped (post-takedown) cohort here is 2 docs; lowFrac 0.5
    // splits it 1 re-admitted / 1 quality-rejected so BOTH
    // re-adjudication outcomes are exercised (0.25 would reject none:
    // cume_dist(1/2) = 0.5)
    val lf = 0.5
    val st = IngestLoop.stores(spark, root, "rj_rp")
    val quar = IngestLoop.quarantine(spark, root, "rj_rp")
    val replay = IngestLoop.replayLeg(spark, root, "rj_rp")
    IngestLoop.bootstrap(st, corpus)
    IngestLoop.bootstrapQuarantine(st, quar, corpus)
    IngestLoop.bootstrapReplay(replay, corpus)
    IngestLoop.runTick(st, t1, weights, lowFrac = lf,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay)))
    val lowqBefore = quar.rows.current().get
      .filter(col("verdict") === "low_quality").select("doc_id")
      .localCheckpoint()
    val retracted = st.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    IngestLoop.retractTick(st, retracted,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay)))
    val rep = IngestLoop.readjudicateTick(st, quar, weights, lowFrac = lf,
      legs = IngestLoop.Legs(replay = Some(replay))).collect()
    val nReadm = rep.map(_.getLong(7)).sum
    val nLowQ = rep.map(_.getLong(6)).sum
    assert(nReadm > 0 && nLowQ > 0,
      "the pin needs both re-adjudication outcomes on this corpus")
    assert(replay.feats.maxTick === 4L && quar.rows.maxTick === 4L &&
      st.hashes.maxTick === 4L,
      "the replay leg advances WITH the re-adjudication tick")
    val t4Feats = replay.feats.current().get
      .filter(col("tick") === 4L).count()
    assert(t4Feats === nReadm + nLowQ,
      "the re-adjudication's quality-windowed cohort persists its features")
    val reqIds = quar.rows.current().get
      .filter(col("verdict") === "low_quality").select("doc_id")
      .join(lowqBefore, Seq("doc_id"), "left_anti").localCheckpoint()
    assert(reqIds.count() === nLowQ)
    val resolvedBefore = quar.resolvedIds.current().get.count()

    // the next replay-attached tick lands at 5 — before the fix its
    // agreement resolved to 4 (feats lagged) and silently overwrote
    // the re-adjudication's appends
    IngestLoop.runTick(st, t2, weights, lowFrac = lf,
      legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay)))
    assert(st.hashes.maxTick === 5L && replay.feats.maxTick === 5L)
    assert(replay.feats.current().get.filter(col("tick") === 4L).count()
      === t4Feats,
      "the re-adjudication's feats tick survives the next tick")
    assert(quar.resolvedIds.current().get.count() === resolvedBefore,
      "the re-adjudication's resolutions survive the next tick")

    // re-gate under the gating model: tick 2's cohort legitimately
    // re-windows (the takedown removed members — feats resolve through
    // the tombstones), but the re-adjudication tick's own window was
    // computed POST-takedown from exactly its stored cohort, so its
    // quality rejection must stand
    IngestLoop.regateTick(st, quar, replay, weights, lowFrac = lf).collect()
    assert(quar.resolvedIds.current().get
      .join(reqIds, Seq("doc_id"), "left_semi").count() === 0L,
      "the re-adjudication-time window must reproduce under the gating model")
    // inverted model: the re-adjudication-time quality rejections flip
    // out of their tick's window and RE-ADMIT from their re-quarantined
    // rows — the loop the re-quarantine policy exists to close
    val repInv = IngestLoop.regateTick(st, quar, replay,
      weights.map(x => -x), lowFrac = lf).collect()
    assert(repInv.map(_.getLong(3)).sum > 0)
    assert(quar.resolvedIds.current().get
      .join(reqIds, Seq("doc_id"), "left_semi").count() > 0,
      "a re-adjudication-time quality rejection re-opens via the model loop")
  }

  test("quality re-gate (q134): store ≡ live under the chosen model; the base model is a no-op; re-admitted docs fold back") {
    val root = Files.createTempDirectory("graft_regate").toString
    val live = rows(Provenance.q134QualityReadjudication(docs))
    assert(live.forall(_(1) === "retrain"),
      "precondition: the default trigger takes the retrain branch here")
    assert(live.map(_(4).asInstanceOf[Long]).sum > 0,
      "the model swap must re-admit someone")

    def build(name: String) = {
      val st = IngestLoop.stores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      val quar = IngestLoop.quarantine(spark, root, name)
      IngestLoop.bootstrapQuarantine(st, quar, corpus)
      val replay = IngestLoop.replayLeg(spark, root, name)
      IngestLoop.bootstrapReplay(replay, corpus)
      IngestLoop.runTick(st, t1, weights,
        legs = IngestLoop.Legs(quar = Some(quar), replay = Some(replay)))
      (st, quar, replay)
    }
    val (st, quar, replay) = build("regate1")

    // the live form's chosen model: retrain on corpus ∪ tick-1
    // admissions (the same memoized scope the live q134 resolves)
    val admIds = st.hashes.current().get.select("doc_id")
      .filter(pmod(col("doc_id"), lit(Provenance.BatchMod)) >= 10)
    val wFresh = QualityModel.weights(
      corpus.union(docs.join(admIds, Seq("doc_id"), "left_semi")),
      scope = s"adaptive${Provenance.BatchMod}")
    val rep = rows(IngestLoop.regateTick(st, quar, replay, wFresh))
    assert(rep === live.map(r => r.patch(1, Nil, 1)),
      "the store-backed re-gate must equal the live q134 minus its decision column")

    // a second re-gate under the SAME model re-admits nothing more
    // (the flip set no longer intersects the live quarantine)
    val rep2 = IngestLoop.regateTick(st, quar, replay, wFresh).collect()
    assert(rep2.map(_.getLong(3)).sum === 0L,
      "re-gate must be idempotent under an unchanged model")

    // base-model re-gate on a fresh loop: window identical to tick
    // time — zero flips in either direction
    val (stB, quarB, replayB) = build("regate_base")
    val repB = IngestLoop.regateTick(stB, quarB, replayB, weights).collect()
    assert(repB.map(_.getLong(3)).sum === 0L &&
      repB.map(_.getLong(5)).sum === 0L,
      "the tick-time model must reproduce the tick-time window exactly")

    // fold-back: the re-admitted docs' later copies reject
    val readm = quar.resolvedIds.current().get
      .join(st.hashes.current().get.select("doc_id"), Seq("doc_id"),
        "left_semi")
    val n = readm.count()
    assert(n === live.map(_(4).asInstanceOf[Long]).sum)
    val resub = IngestLoop.runTick(st,
      docs.join(readm, Seq("doc_id"), "left_semi"), weights).collect()
    assert(resub.map(_.getLong(2)).sum === n,
      "every re-admitted doc's resubmitted copy must be dup_exact")
  }

  test("q143 takedown-severed re-adjudication: severed ≡ quarantined ∩ retraction class, the verdict partition is exact per source, and a severed doc can never re-admit (the r16 resurface direction's live form)") {
    val out = Provenance.q143TakedownQuarantineSever(docs).collect()
    // every quarantined doc lands in EXACTLY one class — severed docs
    // leave the re-judged cohort entirely, so by construction none can
    // surface under n_readmitted (the q131 contrast: without severing,
    // gen-sf0.1 shows seven sources re-admitting takedown-named docs)
    out.foreach { r =>
      assert(r.getAs[Long]("n_quarantined") ===
        r.getAs[Long]("n_severed") + r.getAs[Long]("n_still_exact") +
          r.getAs[Long]("n_still_fuzzy") + r.getAs[Long]("n_low_quality") +
          r.getAs[Long]("n_readmitted"),
        s"partition invariant broken for ${r.getAs[String]("source")}")
    }
    assert(out.map(_.getAs[Long]("n_severed")).sum > 0,
      "the sf0.01 fixture must exercise the severing")
    // severed is exactly the quarantine's q117 retraction-class slice:
    // the takedown demand names content wherever it sits
    val p = Provenance.multiTickParts(docs, 0.2, 0.25)
    val quarIds = p.v1
      .filter(col("ch").isNotNull || col("fid").isNotNull)
      .select("doc_id")
    val expected = quarIds.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod))
        === Provenance.RetractRem).count()
    assert(out.map(_.getAs[Long]("n_severed")).sum === expected)
  }
}
