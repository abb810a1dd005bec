package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{CurateTick, Provenance, QualityModel}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tick agreement across every tick kind, kept in the fast gate
  * (the composed-tick suites are all slow): with quarantine, replay,
  * census and mix legs attached, each ingest tick, takedown,
  * re-adjudication and re-gate advances EVERY attached store's maxTick
  * together, by exactly one. sf0.01, the BudgetedTickSpec split.
  * `runTick` has no census or mix parameter: its census rides as the
  * curate leg's census, and the mix chain opens with
  * `runBudgetedTick`, the ingest tick that carries all four legs. */
class TickAgreementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def isBatch = pmod(col("doc_id"), lit(Provenance.BatchMod)) === 0
  private def corpus = docs.filter(!isBatch)
  private def batch = docs.filter(isBatch)
  private def weights = QualityModel.weights(corpus,
    scope = s"admission${Provenance.BatchMod}")

  private final class Loop(val st: IngestLoop.Stores,
                           val quar: IngestLoop.Quarantine,
                           val replay: IngestLoop.ReplayLeg,
                           val cen: ArtifactStore.GramCensusIncrementalIndex,
                           val mix: ArtifactStore.MixIncrementalIndex) {
    def ticks(withMix: Boolean): Seq[Long] =
      (Seq(st.hashes, st.bands, st.shingles, quar.rows, quar.resolvedIds,
        replay.feats, cen.censusStore) ++
        (if (withMix) Seq(mix.mixStore) else Nil)).map(_.maxTick)
  }

  private def build(root: String, name: String): Loop = {
    val st = IngestLoop.stores(spark, root, name)
    IngestLoop.bootstrap(st, corpus)
    val quar = IngestLoop.quarantine(spark, root, name)
    IngestLoop.bootstrapQuarantine(quar, corpus)
    val replay = IngestLoop.replayLeg(spark, root, name)
    IngestLoop.bootstrapReplay(replay, corpus)
    val cen = ArtifactStore.gramCensusIncremental(spark, root, s"${name}_cen",
      k = CurateTick.DefaultStripK)
    cen.bootstrap(corpus)
    val mix = ArtifactStore.mixIncremental(spark, root, name)
    mix.bootstrap(corpus)
    new Loop(st, quar, replay, cen, mix)
  }

  /** Ingest tick → takedown → re-adjudication → re-gate, asserting
    * after each step that every attached store moved to the same,
    * next tick. */
  private def chain(l: Loop, withMix: Boolean)(ingest: => Unit): Unit = {
    val w = weights
    def step(what: String)(run: => Unit): Unit = {
      val before = l.ticks(withMix)
      assert(before.distinct.size === 1, s"before $what: $before")
      run
      assert(l.ticks(withMix).distinct === Seq(before.head + 1),
        s"$what must advance every attached store together by one")
    }
    val mix = if (withMix) Some(l.mix) else None
    step("ingest tick")(ingest)
    val takedown = l.st.hashes.current().get.select("doc_id")
      .filter(pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    step("retractTick")(IngestLoop.retractTick(l.st, takedown,
      census = Some((l.cen, docs)), mix = mix.map(m => (m, docs)),
      quar = Some(l.quar), replay = Some(l.replay)))
    step("readjudicateTick")(IngestLoop.readjudicateTick(l.st, l.quar, w,
      census = Some(l.cen), mix = mix, replay = Some(l.replay)).collect())
    step("regateTick")(IngestLoop.regateTick(l.st, l.quar, l.replay,
      w.map(x => -x), census = Some(l.cen), mix = mix).collect())
  }

  test("tick agreement: runTick → retractTick → readjudicateTick → regateTick advance every attached store together") {
    val root = Files.createTempDirectory("graft_agree").toString
    val l = build(root, "agree")
    chain(l, withMix = false) {
      IngestLoop.runTick(l.st, batch, weights, quar = Some(l.quar),
        replay = Some(l.replay),
        curate = Some(IngestLoop.CurateLeg(l.cen))).collect()
    }
  }

  test("tick agreement with a mix leg: runBudgetedTick → retractTick → readjudicateTick → regateTick advance every attached store together") {
    val root = Files.createTempDirectory("graft_agree_mix").toString
    val l = build(root, "agree_mix")
    chain(l, withMix = true) {
      IngestLoop.runBudgetedTick(l.st, batch, weights,
        IngestLoop.QuotaLeg(l.mix), census = Some(l.cen), mix = Some(l.mix),
        quar = Some(l.quar), replay = Some(l.replay)).collect()
    }
  }

  test("a curate leg whose census is not the tick's census leg is refused before any store moves") {
    val root = Files.createTempDirectory("graft_agree_cur").toString
    val l = build(root, "agree_cur")
    val idx = ArtifactStore.bm25Incremental(spark, root, "agree_cur")
    idx.bootstrap(corpus)
    val other = ArtifactStore.gramCensusIncremental(spark, root,
      "agree_cur_other", k = CurateTick.DefaultStripK)
    other.bootstrap(corpus)
    val stores = Seq(l.st.hashes, l.st.bands, l.st.shingles, idx.tfStore,
      l.cen.censusStore, other.censusStore, l.mix.mixStore)
    val before = stores.map(_.maxTick)
    intercept[IllegalArgumentException] {
      IngestLoop.runFullTick(l.st, idx, l.cen, batch, weights,
        mix = Some(l.mix), curate = Some(IngestLoop.CurateLeg(other)))
    }
    assert(stores.map(_.maxTick) === before,
      "the refused tick must not move any store")
  }
}
