package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{CurateTick, Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tick agreement across every tick kind, kept in the fast gate
  * (the composed-tick suites are all slow): a deployment builds ONE
  * [[IngestLoop.Legs]] value — quarantine, replay, census and mix legs
  * here — and passes it to every step, and each ingest tick, takedown,
  * re-adjudication and re-gate advances EVERY attached store's maxTick
  * together, by exactly one, on a text and on a multimodal loop. Also
  * the refusals the entry points make before any store moves, and the
  * takedown's replay rule and its subtraction of live docs only. sf0.01
  * (the BudgetedTickSpec split); the takedown re-runs (after a refused
  * compaction, after refused ticks) on sf0.001. */
class TickAgreementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docsOf(sf: String) = Tables.load(spark, sf, "documents")
  private def docs = docsOf(sf)
  private def isBatch = pmod(col("doc_id"), lit(Provenance.BatchMod)) === 0
  private def corpus = docs.filter(!isBatch)
  private def batch = docs.filter(isBatch)
  private def weights = QualityModel.weights(corpus,
    scope = s"admission${Provenance.BatchMod}")

  private final class Loop(val st: IngestLoop.StoreSet,
                           val quar: IngestLoop.Quarantine,
                           val replay: IngestLoop.ReplayLeg,
                           val cen: ArtifactStore.GramCensus,
                           val mix: ArtifactStore.DomainMix) {
    /** The deployment's one legs value. */
    def legs(withMix: Boolean,
             curate: Boolean = false): IngestLoop.Legs =
      IngestLoop.Legs(census = Some(cen),
        mix = if (withMix) Some(mix) else None,
        quar = Some(quar), replay = Some(replay),
        curate = if (curate) Some(IngestLoop.CurateLeg(cen)) else None)
    def ticks(withMix: Boolean): Seq[Long] =
      (st.all ++ Seq(quar.rows, quar.resolvedIds, replay.feats,
        cen.store) ++
        (if (withMix) Seq(mix.store) else Nil)).map(_.maxTick)
  }

  private def build(root: String, name: String, mm: Boolean = false,
                    corpus: DataFrame = corpus): Loop = {
    val st: IngestLoop.StoreSet =
      if (mm) {
        val s = IngestLoop.mmStores(spark, root, name)
        IngestLoop.bootstrap(s, corpus)
        s
      } else {
        val s = IngestLoop.stores(spark, root, name)
        IngestLoop.bootstrap(s, corpus)
        s
      }
    val quar = IngestLoop.quarantine(spark, root, name)
    if (mm) IngestLoop.bootstrapMmQuarantine(quar, corpus)
    else IngestLoop.bootstrapQuarantine(quar, corpus)
    val replay = IngestLoop.replayLeg(spark, root, name)
    IngestLoop.bootstrapReplay(replay, corpus)
    val cen = ArtifactStore.gramCensusIncremental(spark, root, s"${name}_cen",
      k = CurateTick.DefaultStripK)
    cen.bootstrap(corpus)
    val mix = ArtifactStore.mixIncremental(spark, root, name)
    mix.bootstrap(corpus)
    new Loop(st, quar, replay, cen, mix)
  }

  private def takedownOf(l: Loop): DataFrame =
    l.st.text.hashes.current().get.select("doc_id")
      .filter(pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)

  /** Ingest tick → takedown → re-adjudication → re-gate, every step
    * with the same `legs`, asserting after each step that every
    * attached store moved to the same, next tick. */
  private def chain(l: Loop, legs: IngestLoop.Legs)(
      ingest: => Unit)(readjudicate: => Unit): Unit = {
    val withMix = legs.mix.isDefined
    def step(what: String)(run: => Unit): Unit = {
      val before = l.ticks(withMix)
      assert(before.distinct.size === 1, s"before $what: $before")
      run
      assert(l.ticks(withMix).distinct === Seq(before.head + 1),
        s"$what must advance every attached store together by one")
    }
    step("ingest tick")(ingest)
    step("retractTick")(IngestLoop.retractTick(l.st, takedownOf(l),
      docs = Some(docs), legs = legs))
    step("readjudicate")(readjudicate)
    step("regateTick")(IngestLoop.regateTick(l.st, l.quar, l.replay,
      weights.map(x => -x), legs = legs).collect())
  }

  private def textChain(l: Loop, legs: IngestLoop.Legs)(
      ingest: => Unit): Unit = {
    val st = l.st.asInstanceOf[IngestLoop.Stores]
    chain(l, legs)(ingest)(IngestLoop.readjudicateTick(st, l.quar, weights,
      legs = legs).collect())
  }

  test("tick agreement: runTick → retractTick → readjudicateTick → regateTick advance every attached store together") {
    val root = Files.createTempDirectory("graft_agree").toString
    val l = build(root, "agree")
    val legs = l.legs(withMix = true, curate = true)
    textChain(l, legs) {
      IngestLoop.runTick(l.st.asInstanceOf[IngestLoop.Stores], batch,
        weights, legs = legs).collect()
    }
  }

  test("tick agreement with a mix leg: runBudgetedTick → retractTick → readjudicateTick → regateTick advance every attached store together") {
    val root = Files.createTempDirectory("graft_agree_mix").toString
    val l = build(root, "agree_mix")
    val legs = l.legs(withMix = true)
    textChain(l, legs) {
      IngestLoop.runBudgetedTick(l.st.asInstanceOf[IngestLoop.Stores], batch,
        weights, IngestLoop.QuotaLeg(l.mix), legs = legs).collect()
    }
  }

  test("multimodal tick agreement: runMmTick → retractTick → readjudicateMmTick → regateTick advance all five stores and the legs together") {
    val root = Files.createTempDirectory("graft_agree_mm").toString
    val l = build(root, "agree_mm", mm = true)
    val st = l.st.asInstanceOf[IngestLoop.MmStores]
    val legs = l.legs(withMix = true)
    chain(l, legs) {
      IngestLoop.runTick(st, batch, weights, legs = legs).collect()
    } {
      IngestLoop.readjudicateTick(st, l.quar, weights, legs = legs)
        .collect()
    }
    assert(st.all.size === 5)
  }

  /** Runs `refused`, expecting the refusal, and asserts that no store
    * of `l` (nor `extra`) moved. */
  private def refusedBeforeAnyMove(l: Loop,
                                   extra: ArtifactStore.IngestStateStore*)(
      refused: => Any): Unit = {
    val stores = l.st.all ++ Seq(l.st.text.tombs, l.quar.rows,
      l.quar.resolvedIds, l.replay.feats, l.cen.store,
      l.mix.store) ++ extra
    val before = stores.map(_.maxTick)
    intercept[IllegalArgumentException](refused)
    assert(stores.map(_.maxTick) === before,
      "the refused call must not move any store")
  }

  test("a curate leg whose census is not the tick's census leg is refused before any store moves") {
    val root = Files.createTempDirectory("graft_agree_cur").toString
    val l = build(root, "agree_cur")
    val idx = ArtifactStore.bm25Incremental(spark, root, "agree_cur")
    idx.bootstrap(corpus)
    val other = ArtifactStore.gramCensusIncremental(spark, root,
      "agree_cur_other", k = CurateTick.DefaultStripK)
    other.bootstrap(corpus)
    refusedBeforeAnyMove(l, idx.store, other.store) {
      IngestLoop.runTick(l.st.asInstanceOf[IngestLoop.Stores], batch,
        weights, legs = IngestLoop.Legs(idx = Some(idx),
          census = Some(l.cen), mix = Some(l.mix),
          curate = Some(IngestLoop.CurateLeg(other))))
    }
  }

  test("retractTick takes the retracted documents exactly when a census or mix leg is attached") {
    val root = Files.createTempDirectory("graft_agree_docs").toString
    val l = build(root, "agree_docs")
    refusedBeforeAnyMove(l) {
      IngestLoop.retractTick(l.st, takedownOf(l),
        legs = IngestLoop.Legs(mix = Some(l.mix)))
    }
    refusedBeforeAnyMove(l) {
      IngestLoop.retractTick(l.st, takedownOf(l), docs = Some(docs))
    }
  }

  test("a multimodal tick refuses a curate leg before any store moves") {
    val root = Files.createTempDirectory("graft_agree_mmcur").toString
    val l = build(root, "agree_mmcur", mm = true)
    val st = l.st.asInstanceOf[IngestLoop.MmStores]
    val legs = l.legs(withMix = false, curate = true)
    refusedBeforeAnyMove(l)(IngestLoop.runTick(st, batch, weights,
      legs = legs))
    refusedBeforeAnyMove(l)(IngestLoop.readjudicateTick(st, l.quar,
      weights, legs = legs))
  }

  test("a re-judging tick refuses legs carrying a different quarantine or replay leg") {
    val root = Files.createTempDirectory("graft_agree_req").toString
    val l = build(root, "agree_req")
    val st = l.st.asInstanceOf[IngestLoop.Stores]
    val otherQuar = IngestLoop.quarantine(spark, root, "agree_req_other")
    IngestLoop.bootstrapQuarantine(otherQuar, corpus)
    val otherReplay = IngestLoop.replayLeg(spark, root, "agree_req_other")
    IngestLoop.bootstrapReplay(otherReplay, corpus)
    refusedBeforeAnyMove(l, otherQuar.rows) {
      IngestLoop.readjudicateTick(st, l.quar, weights,
        legs = l.legs(withMix = false).copy(quar = Some(otherQuar)))
    }
    refusedBeforeAnyMove(l, otherReplay.feats) {
      IngestLoop.regateTick(st, l.quar, l.replay, weights,
        legs = l.legs(withMix = false).copy(replay = Some(otherReplay)))
    }
  }

  test("a folding stream refuses a mix or replay leg before it starts") {
    val root = Files.createTempDirectory("graft_agree_stream").toString
    val l = build(root, "agree_stream")
    val mm = build(root, "agree_stream_mm", mm = true)
    val hashes = Provenance.corpusHashState(corpus)
    refusedBeforeAnyMove(l) {
      graft.streaming.DocStream.foldingGatedAdmissionQuery(batch, hashes,
        l.st.asInstanceOf[IngestLoop.Stores], weights, s"$root/out",
        s"$root/ck", legs = IngestLoop.Legs(mix = Some(l.mix)))
    }
    refusedBeforeAnyMove(mm) {
      graft.streaming.DocStream.foldingGatedAdmissionQuery(batch, hashes,
        mm.st.asInstanceOf[IngestLoop.MmStores], weights, s"$root/out_mm",
        s"$root/ck_mm", legs = IngestLoop.Legs(replay = Some(mm.replay)))
    }
  }

  test("a takedown repeated after a compaction, or naming a quarantined doc, leaves census and mix as one takedown left them") {
    val root = Files.createTempDirectory("graft_agree_repeat").toString
    val l = build(root, "repeat")
    val legs = l.legs(withMix = true)
    IngestLoop.runTick(l.st.asInstanceOf[IngestLoop.Stores], batch, weights,
      legs = legs).collect()
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def counts = (sorted(l.cen.read()), sorted(l.mix.read()))
    // the ids outlive the compaction, which folds them out of the state
    val ids = takedownOf(l).localCheckpoint()
    IngestLoop.retractTick(l.st, ids, Some(docs), legs)
    val once = counts
    assert(IngestLoop.compactIfNeeded(l.st, 0L, legs) &&
      l.st.text.tombs.current().isEmpty,
      "precondition: the compaction folded and cleared the tombstones")
    IngestLoop.retractTick(l.st, ids, Some(docs), legs)
    assert(counts === once,
      "a takedown repeated after a compaction must not subtract again")
    // a quarantined doc was never counted; its takedown still tombstones
    val quarantined = l.quar.rows.current().get.select("doc_id").limit(1)
      .localCheckpoint()
    assert(quarantined.count() === 1L, "precondition: a doc was quarantined")
    IngestLoop.retractTick(l.st, quarantined, Some(docs), legs)
    assert(counts === once,
      "a takedown of a quarantined doc must not subtract from census or mix")
    assert(l.st.text.tombs.current().get
      .join(quarantined, Seq("doc_id"), "left_semi").count() === 1L,
      "the quarantined doc is tombstoned all the same")
  }

  test("a takedown that failed after its subtraction legs re-runs to the clean result: census and mix subtract once, stores at the clean tick") {
    val small = docsOf("/root/testdata/sf0.001")
    val isB = pmod(col("doc_id"), lit(Provenance.BatchMod)) === 0
    val (corp, bat) = (small.filter(!isB), small.filter(isB))
    val w = QualityModel.weights(corp,
      scope = s"admission${Provenance.BatchMod}")
    val root = Files.createTempDirectory("graft_agree_rerun").toString
    def run(name: String)(takedown: (Loop, IngestLoop.Legs) => Unit)
        : (Seq[String], Seq[String], Seq[Long]) = {
      val l = build(root, name, corpus = corp)
      val legs = l.legs(withMix = true)
      IngestLoop.runTick(l.st.asInstanceOf[IngestLoop.Stores], bat, w,
        legs = legs).collect()
      takedown(l, legs)
      def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      (sorted(l.cen.read()), sorted(l.mix.read()), l.ticks(withMix = true))
    }
    val clean = run("clean") { (l, legs) =>
      IngestLoop.retractTick(l.st, takedownOf(l), Some(small), legs)
    }
    // the unlearn of a model store never bootstrapped fails the first
    // run after its tombstones landed; the re-run goes without the
    // model leg
    def failed(l: Loop, legs: IngestLoop.Legs): Unit = {
      val model = ArtifactStore.modelStore(spark, root, "never_bootstrapped")
      intercept[IllegalArgumentException] {
        IngestLoop.retractTick(l.st, takedownOf(l), Some(small),
          legs.copy(model = Some(model)))
      }
    }
    val rerun = run("rerun") { (l, legs) =>
      failed(l, legs)
      IngestLoop.retractTick(l.st, takedownOf(l), Some(small), legs)
    }
    // a compaction between the failure and the re-run is refused: its
    // fold would drop the docs from the state before the census and mix
    // subtracted them
    def refusedRun(l: Loop)(run: => Any): Unit = {
      val before = (l.ticks(withMix = true), l.st.text.tombs.maxTick)
      intercept[IllegalArgumentException](run)
      assert((l.ticks(withMix = true), l.st.text.tombs.maxTick) === before,
        "a refused run must move no store")
    }
    val refused = run("refused") { (l, legs) =>
      failed(l, legs)
      refusedRun(l)(IngestLoop.compactIfNeeded(l.st, 0L, legs))
      IngestLoop.retractTick(l.st, takedownOf(l), Some(small), legs)
      assert(IngestLoop.compactIfNeeded(l.st, 0L, legs) &&
        l.st.text.tombs.current().isEmpty,
        "once the takedown finished, the compaction folds and clears")
    }
    // so is an ingest or re-judging tick: taking the takedown's tick, it
    // would turn the re-run into a complete-replay no-op that never
    // subtracts
    val refusedTicks = run("refused_ticks") { (l, legs) =>
      val st = l.st.asInstanceOf[IngestLoop.Stores]
      failed(l, legs)
      refusedRun(l)(IngestLoop.runTick(st, bat, w, legs = legs))
      refusedRun(l)(IngestLoop.readjudicateTick(st, l.quar, w, legs = legs))
      IngestLoop.retractTick(l.st, takedownOf(l), Some(small), legs)
    }
    for ((what, r) <- Seq("re-run" -> rerun, "re-run after a refused " +
        "compaction" -> refused, "re-run after refused ticks" -> refusedTicks)) {
      assert(r._1 === clean._1, s"$what: the census must subtract exactly once")
      assert(r._2 === clean._2, s"$what: the mix must subtract exactly once")
      assert(r._3 === clean._3, s"$what: the stores must end at the clean tick")
    }
  }

  test("a takedown over fewer stores than the next tick is complete: the next tick redoes its tick") {
    val root = Files.createTempDirectory("graft_agree_narrow").toString
    val l = build(root, "narrow")
    val w = weights
    val st = l.st.asInstanceOf[IngestLoop.Stores]
    val legs = IngestLoop.Legs(quar = Some(l.quar))
    def ticks = (st.all ++ Seq(l.quar.rows, l.quar.resolvedIds)).map(_.maxTick)
    IngestLoop.runTick(st, batch, w, legs = legs).collect()
    // the takedown leaves the quarantine out: its stores stay a tick
    // behind, and the tombstones retract their rows all the same
    val k = IngestLoop.retractTick(st, takedownOf(l))
    assert(ticks === Seq(3L, 3L, 3L, 2L, 2L) && st.tombs.maxTick === k,
      s"precondition: the takedown moved only the text stores: $ticks")
    IngestLoop.readjudicateTick(st, l.quar, w, legs = legs).collect()
    assert(ticks.distinct === Seq(k),
      s"the re-adjudication must redo the takedown's tick: $ticks")
  }
}
