package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Provenance, QualityModel}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The serving quality model as a state family with a takedown leg
  * ([[ArtifactStore.ModelStore]], q128's deployment form): the
  * reservoir equivalence (unlearn-from-reservoir ≡
  * retrain-from-corpus, ZERO text reads), the three decision tiers
  * (prefix hit → retrain; tail-only hit → same weights, new
  * generation, zero train runs; outside reservoir → full no-op),
  * generation crash discipline, the exhaustion guard, and the
  * [[IngestLoop.retractTick]] integration with a replayed takedown. */
class ModelStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"
  private val trainN = 64
  private val iters = 4

  private def docs = Tables.load(spark, sf, "documents")
  private def base = docs.filter(
    pmod(col("doc_id"), lit(Provenance.BatchMod)) =!= 0)

  private def store(root: String, slack: Int = 2) =
    ArtifactStore.modelStore(spark, root, "m", iters, trainN, slack)

  private def ids(xs: Seq[Long]) = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  /** Reservoir doc_ids in (hv, doc_id) order, from the corpus itself. */
  private def rankedIds(n: Int): Seq[Long] =
    QualityModel.labeledReservoir(base, n)
      .orderBy("hv", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSeq

  test("bootstrap ≡ train-from-corpus; prefix-hit unlearn ≡ retrain-without, decisive, zero text reads by construction") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    val st = store(root)
    val w0 = st.bootstrap(base)
    assert(w0 === QualityModel.train(base, iters, trainN),
      "bootstrap must serve exactly the corpus-trained weights")
    assert(st.generation === 1L)

    // retract label-heavy docs FROM THE TRAINING PREFIX (decisive)
    val ranked = rankedIds(2 * trainN)
    val prefix = ranked.take(trainN)
    val enPrefix = QualityModel.labeledReservoir(base, 2 * trainN)
      .filter(col("y") === 1.0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val hit = prefix.filter(enPrefix.contains).take(12) match {
      case h if h.nonEmpty => h
      case _               => prefix.take(12)
    }
    val w1 = st.unlearn(ids(hit))
    assert(st.generation === 2L)
    val expected = QualityModel.train(
      base.filter(!col("doc_id").isin(hit: _*)), iters, trainN)
    assert(w1 === expected,
      "unlearn-from-reservoir must equal retrain-from-surviving-corpus")
    assert(w1 !== w0, "a training-prefix takedown must move the weights")
    assert(st.servingWeights() === w1)
    // reservoir shrunk by exactly the retracted rows
    assert(st.reservoir().count() === 2L * trainN - hit.length)
  }

  test("tail-only hit: new generation, same weights, zero train runs; outside reservoir: full no-op") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    val st = store(root)
    val w0 = st.bootstrap(base)
    val ranked = rankedIds(2 * trainN)
    val tail = ranked.drop(trainN).take(8)
    assert(tail.nonEmpty)

    val before = QualityModel.trainRuns.get()
    val w1 = st.unlearn(ids(tail))
    assert(QualityModel.trainRuns.get() === before,
      "a tail-only takedown must not retrain")
    assert(w1 === w0)
    assert(st.generation === 2L,
      "the reservoir shrank: a new generation must record it")
    assert(st.reservoir().count() === 2L * trainN - tail.length)

    // outside the reservoir entirely: provably never trained on —
    // weights, generation, and reservoir all stand
    val outside = base.select("doc_id")
      .filter(!col("doc_id").isin(ranked: _*))
      .limit(5).collect().map(_.getLong(0)).toSeq
    assert(outside.nonEmpty, "sf0.01 base must exceed the reservoir")
    val w2 = st.unlearn(ids(outside))
    assert(w2 === w0)
    assert(st.generation === 2L, "outside-reservoir takedown is a no-op")
  }

  test("exhaustion guard: fewer than trainN survivors throws (the re-bootstrap trigger)") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    val st = store(root)
    st.bootstrap(base)
    val ranked = rankedIds(2 * trainN)
    val tooMany = ranked.take(trainN + 1) // leaves trainN - 1 survivors
    val e = intercept[IllegalArgumentException](st.unlearn(ids(tooMany)))
    assert(e.getMessage.contains("exhausted"))
  }

  test("generation crash discipline: uncommitted build leaves the old model serving; re-run is idempotent") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    val st = store(root)
    val w0 = st.bootstrap(base)
    val ranked = rankedIds(2 * trainN)
    val hit = ranked.take(6)

    // crash seam: generation-2 data written, marker never committed
    val res = st.reservoir().join(ids(hit), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    st.writeGenData(2L, res, Seq.fill(QualityModel.NumW)(99.0))
    assert(st.generation === 1L, "uncommitted generation must be invisible")
    assert(st.servingWeights() === w0)

    // the re-run overwrites the partial build and commits
    val w1 = st.unlearn(ids(hit))
    assert(st.generation === 2L)
    assert(st.servingWeights() === w1)
    assert(w1 !== Seq.fill(QualityModel.NumW)(99.0),
      "the re-run must overwrite the crashed build's data")
    assert(w1 === QualityModel.train(
      base.filter(!col("doc_id").isin(hit: _*)), iters, trainN))
  }

  test("retractTick model leg: takedown unlearns once; a replayed takedown does not re-shrink the reservoir") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    val st = IngestLoop.stores(spark, root, "mloop")
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    IngestLoop.bootstrap(st, corpus)
    val ms = store(root)
    val w0 = ms.bootstrap(corpus)

    val ranked = QualityModel.labeledReservoir(corpus, 2 * trainN)
      .orderBy("hv", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val hit = ranked.take(6)
    IngestLoop.retractTick(st, ids(hit),
      legs = IngestLoop.Legs(model = Some(ms)))
    assert(ms.generation === 2L)
    val w1 = ms.servingWeights()
    assert(w1 === QualityModel.train(
      corpus.filter(!col("doc_id").isin(hit: _*)), iters, trainN))
    assert(w1 !== w0)

    // replay: every id already tombstoned → the model leg must not run
    IngestLoop.retractTick(st, ids(hit),
      legs = IngestLoop.Legs(model = Some(ms)))
    assert(ms.generation === 2L,
      "a replayed takedown must not open a new model generation")
    assert(ms.servingWeights() === w1)
  }

  test("the q113 retrain choice rides refresh: serving weights follow the measured decision exactly") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    // default iters/trainN — the store must serve exactly the weights
    // the live q113 compares and gates with
    val ms = ArtifactStore.modelStore(spark, root, "adaptive")
    val w0 = ms.bootstrap(corpus)
    assert(w0 === QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}"),
      "bootstrap must serve the frozen model q113 measures against")

    // q113's measurement: tick-1 admissions → post-tick snapshot →
    // candidate weights → flips vs frozen at the operating point
    val p = Provenance.multiTickParts(docs, 0.2, 0.25)
    val adm1Docs = docs.join(
      p.v1.filter(col("lq") === false).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val snapshot = corpus.union(adm1Docs)
    val wFresh = QualityModel.weights(snapshot,
      scope = s"adaptive${Provenance.BatchMod}")
    val flips = QualityModel.flipCount(docs, w0, wFresh)

    // the choice's CONSEQUENCE on the serving artifact: refresh on
    // retrain, stand otherwise — generations record which
    val serving =
      if (flips > 4) ms.refresh(snapshot) else ms.servingWeights()
    assert(serving === (if (flips > 4) wFresh else w0),
      "the store must serve exactly the branch the measurement chose")
    assert(ms.generation === (if (flips > 4) 2L else 1L))
  }
}
