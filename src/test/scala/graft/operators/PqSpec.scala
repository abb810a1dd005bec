package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.TestSpark
import graft.io.ArtifactStore
import org.scalatest.funsuite.AnyFunSuite

/** q87 product quantization: codebook shape, memoized training, the
  * re-rank dominance invariant, and the ArtifactStore train-or-load
  * path. */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("codebooks: m×kCb entries of subDim dims, memo trains once") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t0 = Pq.trainRuns.get()
    val cb = Pq.codebooks(emb, m = 8, subDim = 8, kCb = 4, iters = 1, trainN = 256)
    assert(Pq.trainRuns.get() === t0 + 1)
    assert(cb.length === 8 * 4)
    assert(cb.forall(_._3.length === 8))
    assert(cb.map(r => (r._1, r._2)).toSet ===
      (for (s <- 0 until 8; i <- 0 until 4) yield (s, i)).toSet)
    // second call with identical knobs serves the memo
    Pq.codebooks(emb, m = 8, subDim = 8, kCb = 4, iters = 1, trainN = 256)
    assert(Pq.trainRuns.get() === t0 + 1, "memo must serve the second call")
  }

  test("q87: bounds hold and exact re-rank never loses to raw ADC") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Pq.q87PqRecall(emb).collect()
    assert(out.length === Pq.DefaultNQueries)
    out.foreach { r =>
      val (hAdc, rAdc) = (r.getLong(1), r.getDouble(2))
      val (hRr, rRr) = (r.getLong(3), r.getDouble(4))
      assert(hAdc >= 0 && hAdc <= Pq.DefaultTopK && rAdc >= 0.0 && rAdc <= 1.0)
      assert(hRr >= 0 && hRr <= Pq.DefaultTopK && rRr >= 0.0 && rRr <= 1.0)
      // any ground-truth vector in ADC top-k is in the shortlist, and
      // exact re-rank ranks it ≤ its global rank ≤ k — so re-rank
      // recall dominates structurally, not statistically
      assert(hRr >= hAdc, s"re-rank lost hits for qid ${r.getLong(0)}")
    }
  }

  test("q107 residual coding beats raw coding at identical budget on a clustered corpus") {
    import spark.implicits._
    // a corpus with genuine cluster structure — 8 tight clusters of 32
    // — where the §V argument bites: raw codes mostly re-encode WHICH
    // cluster a vector sits in (information the IVF prune already
    // spent), so within-cluster neighbors collapse onto the same
    // codes; residual codes spend the identical 4-bit budget on the
    // within-cluster offsets, the only thing the pruned scan still has
    // to rank. (The driver's iid-Gaussian embeddings have NO cluster
    // structure — residuals ≈ the vectors themselves there, so this
    // property is measurable only on a clustered corpus; fixed seed →
    // deterministic outcome.)
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, 64)(rnd.nextGaussian())
    val data = (0 until 256).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = data.toDF("vec_id", "embedding")
    val raw = Pq.q94IvfPqRecall(emb).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(5))).toMap
    val res = Pq.q107IvfPqResidual(emb).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(5))).toMap
    assert(raw.keySet === res.keySet)
    val meanRawAdc = raw.values.map(_._1).sum / raw.size
    val meanResAdc = res.values.map(_._1).sum / res.size
    val meanRawRr = raw.values.map(_._2).sum / raw.size
    val meanResRr = res.values.map(_._2).sum / res.size
    assert(meanResAdc > meanRawAdc,
      s"residual ADC recall ($meanResAdc) must beat raw ($meanRawAdc) " +
        "on a clustered corpus at the same nprobe/code budget")
    assert(meanResRr >= meanRawRr,
      s"residual re-rank recall ($meanResRr) must not lose to raw ($meanRawRr)")
  }

  test("artifact store: residual codebooks load (not retrain) on a copied corpus; q107 bit-identical") {
    def tmpDir(p: String) = Files.createTempDirectory(p).toString
    val root = tmpDir("graft_artifacts_pqres")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dst = tmpDir("graft_copy_emb_pqres")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$dst/embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val embCopy = spark.read.parquet(s"$dst/embeddings.parquet")
    val c1 = ArtifactStore.pqResidualCodebooksOrTrain(root, emb)
    val t1 = Pq.trainRuns.get()
    val c2 = ArtifactStore.pqResidualCodebooksOrTrain(root, embCopy)
    assert(Pq.trainRuns.get() === t1, "copied corpus must load, not retrain")
    assert(c2 === c1)
    val a = Pq.q107IvfPqResidual(emb).collect().toSeq
    val b = Pq.q107IvfPqResidual(embCopy).collect().toSeq
    assert(Pq.trainRuns.get() === t1,
      "q107 on the copy must ride the loaded artifact, training nothing")
    assert(a === b)
    // and the residual artifact is keyed apart from the raw one
    assert(ArtifactStore.listArtifacts(spark, root).map(_._1).contains("pq_res_codebooks"))
  }

  test("incremental IVF-PQ: tick-appended codes ≡ full re-encode under frozen artifacts; compaction invisible; zero retrains") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = Files.createTempDirectory("graft_ivfpq_inc").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // frozen artifacts, loaded once (the serving posture)
    val cents = Kmeans.centroidTable(emb)
    val rcb = Pq.residualCodebookTable(emb)
    val t0 = Pq.trainRuns.get()
    val k0 = Kmeans.trainRuns.get()

    val m = pmod(col("vec_id"), lit(17L))
    val base = emb.filter(m =!= 0)
    val tick = emb.filter(m === 0)
    val idx = ArtifactStore.ivfPqIncremental(spark, root, "serveV")
    idx.appendVectorsAt(1, base, cents, rcb)
    assert(idx.compact() > 0, "bootstrap tick must compact into a generation")
    idx.appendVectorsAt(2, tick, cents, rcb)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id", "sub").collect().map(_.toSeq).toSeq
    val accumulated = rows(idx.codes())
    val full = rows(Pq.residualCodes(emb, cents, rcb))
    assert(accumulated.nonEmpty)
    assert(accumulated === full,
      "per-tick encoded codes must be bit-equal to a full re-encode — " +
        "the scan over them is then trivially identical")
    assert(Pq.trainRuns.get() === t0 && Kmeans.trainRuns.get() === k0,
      "appending vectors must never retrain any artifact")
  }

  test("q120 ANN recall canary: keep branch reachable at the same operating point where a drifted tick trips recluster") {
    import org.apache.spark.sql.functions.{col, expr, lit, pmod, when}
    // sf0.01: the canary needs a probe population whose neighbors the
    // retrain can actually move (sf0.001's ~60-vector appended slice is
    // too small for a stable net gain)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    // default gate (1 recovered hit): on the driver corpus the retrain
    // nets a small gain — recluster fires
    val rep = Pq.q120AnnRecallCanary(emb).collect()
    assert(rep.nonEmpty)
    assert(rep.map(_.getString(7)).distinct.toSeq === Seq("recluster"))
    val netGain = rep.map(_.getLong(3)).sum - rep.map(_.getLong(2)).sum
    assert(netGain >= 1L)

    // operating point G: above the stationary corpus's net gain — the
    // frozen artifacts stand, and the measurement rows are identical
    val G = netGain + 5
    val held = Pq.q120AnnRecallCanary(emb, minGainHits = G).collect()
    assert(held.map(_.getString(7)).distinct.toSeq === Seq("keep"))
    assert(held.map(_.toSeq.dropRight(1)).toSeq ===
      rep.map(_.toSeq.dropRight(1)).toSeq,
      "the gate must not change the measurement, only the decision")

    // DELIBERATE drift: every vector appended since bootstrap (the
    // non-1..9 classes) shifts into a region the bootstrap-trained
    // quantizer never saw — frozen-artifact recall collapses, the
    // retrained index dedicates capacity to the appended mass, and at
    // the SAME operating point G the trigger flips
    val drifted = emb.withColumn("embedding",
      when(!pmod(col("vec_id"), lit(17L)).between(1, 9),
        expr("transform(embedding, x -> x + CAST(5.0 AS FLOAT))"))
        .otherwise(col("embedding")))
    val drift = Pq.q120AnnRecallCanary(drifted, minGainHits = G).collect()
    assert(drift.map(_.getString(7)).distinct.toSeq === Seq("recluster"),
      "the drifted tick must trip the trigger at the operating point " +
        "the stationary corpus held")
    val driftGain = drift.map(_.getLong(3)).sum - drift.map(_.getLong(2)).sum
    assert(driftGain > netGain,
      s"retraining must recover more on the drifted tick ($driftGain) " +
        s"than on the stationary corpus ($netGain)")
  }

  test("artifact store: copied corpus loads the codebook, q87 bit-identical") {
    def tmpDir(p: String) = Files.createTempDirectory(p).toString
    val root = tmpDir("graft_artifacts_pq")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dst = tmpDir("graft_copy_emb_pq")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$dst/embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val embCopy = spark.read.parquet(s"$dst/embeddings.parquet")
    val t0 = Pq.trainRuns.get()
    val c1 = ArtifactStore.pqCodebooksOrTrain(root, emb, m = 4, subDim = 16,
      kCb = 4, iters = 1, trainN = 256)
    assert(Pq.trainRuns.get() === t0 + 1, "first call must train")
    val t1 = Pq.trainRuns.get()
    val c2 = ArtifactStore.pqCodebooksOrTrain(root, embCopy, m = 4, subDim = 16,
      kCb = 4, iters = 1, trainN = 256)
    assert(Pq.trainRuns.get() === t1, "copied corpus must load, not retrain")
    assert(c2 === c1, "loaded codebooks must equal the trained ones")
    // default-knob artifact + preload → the real q87 path, bit-identical
    ArtifactStore.pqCodebooksOrTrain(root, emb)
    val tq = Pq.trainRuns.get()
    ArtifactStore.pqCodebooksOrTrain(root, embCopy)
    val a = Pq.q87PqRecall(emb).collect().toSeq
    val b = Pq.q87PqRecall(embCopy).collect().toSeq
    assert(Pq.trainRuns.get() === tq, "q87 on the copy must ride the loaded artifact")
    assert(a === b)
  }

  test("q122 recluster response: each branch's served census ≡ a re-encode under that branch's artifacts") {
    import org.apache.spark.sql.functions.{col, countDistinct, lit, pmod, sum}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(pmod(col("vec_id"), lit(17L)).between(1, 9))
    def censusUnder(cents: org.apache.spark.sql.DataFrame,
                    rcb: org.apache.spark.sql.DataFrame) =
      Pq.residualCodes(emb, cents, rcb).groupBy("cid")
        .agg(countDistinct("vec_id").as("exact_n_vectors"),
          sum(col("sub") * Pq.DefaultKCb + col("code")).as("code_sum"))
        .orderBy("cid").collect().map(_.toSeq).toSeq
    // gate far above any possible gain → keep: frozen artifacts serve
    val keep = Pq.q122AnnRecluster(emb, minGainHits = 1000000L).collect()
    assert(keep.map(_.getString(3)).distinct.toSeq === Seq("keep"))
    assert(keep.map(_.toSeq.take(3)).toSeq ===
      censusUnder(Kmeans.centroidTable(base), Pq.residualCodebookTable(base)),
      "keep must serve the codes encoded under the FROZEN artifacts")
    // gate below any gain (retraining can only help or tie) → recluster
    val re = Pq.q122AnnRecluster(emb, minGainHits = -1000000L).collect()
    assert(re.map(_.getString(3)).distinct.toSeq === Seq("recluster"))
    assert(re.map(_.toSeq.take(3)).toSeq ===
      censusUnder(Kmeans.centroidTable(emb), Pq.residualCodebookTable(emb)),
      "recluster must serve the codes re-encoded under the FRESH artifacts")
    // served hits = the branch's canary total — keep reports the frozen
    // total, recluster the fresh one; recall columns are constants
    assert(keep.map(_.getLong(4)).distinct.length === 1)
    assert(re.map(_.getLong(4)).distinct.length === 1)
  }

  test("recluster deployment form: generation swap is marker-last crash-safe, bakes retractions in, and serves the retrained artifacts") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = Files.createTempDirectory("graft_ivfpq_reclus").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val m17 = pmod(col("vec_id"), lit(17L))
    val base = emb.filter(m17.between(1, 9))
    val tick = emb.filter(!m17.between(1, 9))
    val cFz = Kmeans.centroidTable(base)
    val rcbFz = Pq.residualCodebookTable(base)

    val idx = ArtifactStore.ivfPqIncremental(spark, root, "serveG")
    idx.bootstrap(base, cFz, rcbFz)
    idx.appendVectorsAt(2, tick, cFz, rcbFz)
    // takedown before the recluster: the re-encode must exclude it
    val gone = emb.select("vec_id").orderBy("vec_id").limit(1)
    idx.retractVectorsAt(3, gone)
    val goneId = gone.collect()(0).getLong(0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id", "sub").collect().map(_.toSeq).toSeq
    val beforeSwap = rows(idx.codes())
    assert(idx.generation === 1L && idx.servingArtifacts().isEmpty)

    // CRASH: next generation fully built but the marker never commits —
    // every reader still resolves generation 1, bit-for-bit
    val cFr = Kmeans.centroidTable(emb)
    val rcbFr = Pq.residualCodebookTable(emb)
    val g2 = idx.buildNextGeneration(emb, cFr, rcbFr)
    assert(g2 === 2L)
    assert(idx.generation === 1L, "uncommitted generation must not serve")
    assert(rows(idx.codes()) === beforeSwap,
      "a crashed recluster must leave the old generation serving")

    // re-run after the crash: rebuilds generation 2 idempotently and
    // commits — served codes = a full re-encode of the LIVE corpus
    // (retraction baked in) under the fresh artifacts
    assert(idx.recluster(emb, cFr, rcbFr) === 2L)
    assert(idx.generation === 2L)
    val live = emb.filter(col("vec_id") =!= goneId)
    assert(rows(idx.codes()) === rows(Pq.residualCodes(live, cFr, rcbFr)))
    assert(idx.codes().filter(col("vec_id") === goneId).count() === 0L)
    val (sc, sr) = idx.servingArtifacts().get
    assert(rows2(sc) === rows2(cFr) && rows2(sr) === rows2(rcbFr),
      "the new generation must serve the artifacts it was built under")

    // the post-swap index is a full citizen: appends encode into the
    // new generation's store, retraction works on it
    val n2 = idx.codes().count()
    idx.retractVectorsAt(4, emb.select("vec_id")
      .filter(col("vec_id") =!= goneId).orderBy("vec_id").limit(1))
    assert(idx.codes().count() < n2,
      "retraction must keep working after the swap")
  }

  private def rows2(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case x => x
    }).toSeq.sortBy(_.toString)
}
