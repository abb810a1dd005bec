package graft.multimodal

import graft.TestSpark
import graft.io.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing AND real-codec semantics: schema contracts,
  * determinism, partition preservation, feature shape, payload pruning
  * over the documents table (whose UTF-8 payloads sniff as
  * kind='unknown'), plus kind-dependent behavior over synthesized real
  * containers (PNG / animated GIF / WAV from [[Codecs]]). */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val withContent = Multimodal.withPayload(docs)
  private lazy val decoded = Multimodal.decodeMeta(withContent)

  /** One payload per kind the codecs claim, plus an unclaimed one. */
  private lazy val fixtures = {
    import spark.implicits._
    Seq(
      (1L, Codecs.synthPng(1L, 16, 8)),
      (2L, Codecs.synthPng(2L, 32, 16)),
      (3L, Codecs.synthGif(3L, 8, 8, 61)),  // video: frames 0,30,60 sampled
      (4L, Codecs.synthGif(4L, 8, 8, 31)),  // video: frames 0,30 sampled
      (5L, Codecs.synthWav(5L, 8000, 100)),
      (6L, "plain text payload".getBytes("UTF-8")))
      .toDF("doc_id", "content").repartition(2)
  }
  private lazy val decodedFix = Multimodal.decodeMeta(fixtures)

  test("payload + metadata schema contract") {
    assert(withContent.schema("content").dataType.typeName === "binary")
    val meta = decoded.schema("meta").dataType
    assert(meta === Multimodal.MediaMetaType)
    assert(decoded.count() === docs.count())
  }

  test("real codecs decode correct metadata per container kind") {
    val m = decodedFix.select("doc_id", "meta.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    // PNG: dims + 3 channels, single frame
    assert(m(1L).getString(1) === "image" && m(1L).getInt(2) === 16 && m(1L).getInt(3) === 8)
    assert(m(2L).getString(1) === "image" && m(2L).getInt(2) === 32 && m(2L).getInt(3) === 16)
    assert(m(1L).getInt(4) === 3 && m(1L).getInt(6) === 1)
    // animated GIF: kind=video with the true frame count
    assert(m(3L).getString(1) === "video" && m(3L).getInt(6) === 61)
    assert(m(4L).getString(1) === "video" && m(4L).getInt(6) === 31)
    // WAV: mono PCM header fields
    assert(m(5L).getString(1) === "audio" && m(5L).getInt(4) === 1)
    assert(m(5L).getInt(5) === 8000 && m(5L).getInt(6) === 100)
    // unclaimed payload: kind=unknown, true n_bytes, no failure
    assert(m(6L).getString(1) === "unknown")
    assert(m(6L).getLong(7) === "plain text payload".getBytes("UTF-8").length.toLong)
  }

  test("decode is deterministic and content-derived") {
    val a = decoded.select("doc_id", "meta").collect().sortBy(_.getLong(0))
    val b = Multimodal.decodeMeta(withContent)
      .select("doc_id", "meta").collect().sortBy(_.getLong(0))
    assert(a.map(_.toString) === b.map(_.toString))
    // n_bytes must equal the true payload size (not stubbed)
    val r = decoded.selectExpr("length(content)", "meta.n_bytes").head()
    assert(r.getInt(0).toLong === r.getLong(1))
  }

  test("decode preserves partitioning (no shuffle)") {
    val before = withContent.rdd.getNumPartitions
    assert(decoded.rdd.getNumPartitions === before)
    assert(!decoded.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("features: fixed 16-dim simplex vector") {
    val rows = Multimodal.byteHistogramFeatures(withContent)
      .select("doc_id", "features").collect()
    rows.foreach { r =>
      val f = r.getSeq[Double](1)
      assert(f.length === 16)
      assert(math.abs(f.sum - 1.0) < 1e-9, s"doc ${r.getLong(0)} not normalized")
      assert(f.forall(v => v >= 0.0 && v <= 1.0))
    }
  }

  test("frame sampling: every-30th index, bounded by n_frames") {
    val sampled = Multimodal.sampleFrames(decodedFix)
    val video = sampled.filter("meta.kind = 'video'")
      .select("meta.n_frames", "sampled_frames").collect()
    assert(video.length === 2, "both animated GIFs must decode as video")
    video.foreach { r =>
      val n = r.getInt(0)
      val s = r.getSeq[Int](1)
      assert(s.head === 0 && s.last <= n - 1)
      assert(s.zip(s.tail).forall { case (a, b) => b - a === 30 })
    }
    // 61 frames → 0,30,60; 31 frames → 0,30
    assert(video.map(_.getSeq[Int](1).length).sorted === Seq(2, 3))
    // non-video rows get the degenerate single-frame list
    sampled.filter("meta.kind <> 'video'").select("sampled_frames").collect()
      .foreach(r => assert(r.getSeq[Int](0) === Seq(0)))
  }

  test("resize: real decode→scale→re-encode for images, pass-through otherwise") {
    val resized = Multimodal.resize(decodedFix, targetW = 64, targetH = 32)
    assert(resized.schema === decodedFix.schema, "resize must preserve the schema contract")
    val rows = resized
      .select("doc_id", "meta.kind", "meta.width", "meta.height", "meta.n_bytes",
        "content", "meta.n_frames")
      .collect().map(r => r.getLong(0) -> r).toMap
    val orig = decodedFix.select("doc_id", "meta", "content").collect()
      .map(r => r.getLong(0) -> r).toMap
    // image/gif payloads take the REAL path: output decodes as a 64x32 PNG,
    // and the meta honestly describes it — kind='image', n_frames=1 even for
    // the animated GIFs (frame 0 only; resizeFrames keeps every frame)
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      val r = rows(id)
      assert(r.getString(1) === "image" && r.getInt(2) === 64 && r.getInt(3) === 32)
      assert(r.getInt(6) === 1, s"doc $id: single-frame PNG must say n_frames=1")
      val decodedBack = Codecs.pixelSum(r.getAs[Array[Byte]](5))
      assert(decodedBack.isDefined, s"doc $id: resized payload must decode")
      val (w, h, _) = decodedBack.get
      assert(w === 64 && h === 32)
      assert(r.getLong(4) === r.getAs[Array[Byte]](5).length.toLong)
    }
    // unclaimed payloads (WAV, text) pass through BYTE-IDENTICAL with meta
    // untouched — no byte-resample blow-up on non-image corpora
    Seq(5L, 6L).foreach { id =>
      val o = orig(id)
      assert(rows(id).getAs[Array[Byte]](5).toSeq === o.getAs[Array[Byte]](2).toSeq,
        s"doc $id: unclaimed payload must survive resize byte-identical")
      assert(resized.filter(s"doc_id = $id").select("meta").head().getStruct(0)
        === o.getStruct(1), s"doc $id: meta must be untouched on pass-through")
    }
    // deterministic: same input → same bytes
    val again = Multimodal.resize(decodedFix, 64, 32)
      .select("doc_id", "content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    rows.values.foreach(r => assert(again(r.getLong(0)) === r.getAs[Array[Byte]](5).toSeq))
  }

  test("resizeFrames: every GIF frame resized, kind/n_frames preserved") {
    val resized = Multimodal.resizeFrames(decodedFix, targetW = 16, targetH = 16)
    assert(resized.schema === decodedFix.schema)
    val rows = resized
      .select("doc_id", "meta.kind", "meta.width", "meta.height", "meta.n_frames",
        "content", "meta.n_bytes")
      .collect().map(r => r.getLong(0) -> r).toMap
    // animated GIFs stay video with the SAME frame count, re-decodable
    Seq(3L -> 61, 4L -> 31).foreach { case (id, nf) =>
      val r = rows(id)
      assert(r.getString(1) === "video" && r.getInt(4) === nf,
        s"doc $id: frame-complete resize must keep kind=video/n_frames=$nf")
      val back = Codecs.decode(r.getAs[Array[Byte]](5))
      assert(back.kind === "video" && back.nFrames === nf)
      assert(back.width === 16 && back.height === 16)
      assert(r.getLong(6) === r.getAs[Array[Byte]](5).length.toLong)
    }
    // single-frame images become 16x16 PNGs, kind=image/n_frames=1
    Seq(1L, 2L).foreach { id =>
      val r = rows(id)
      assert(r.getString(1) === "image" && r.getInt(4) === 1)
      val (w, h, _) = Codecs.pixelSum(r.getAs[Array[Byte]](5)).get
      assert(w === 16 && h === 16)
    }
    // unclaimed payloads pass through byte-identical
    val orig = decodedFix.select("doc_id", "content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    Seq(5L, 6L).foreach { id =>
      assert(rows(id).getAs[Array[Byte]](5).toSeq === orig(id))
    }
  }

  test("q110: every planted near-identical image is caught through the real decode path; dHash is shift-invariant by design") {
    val census = Multimodal.q110ImageDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(census.nonEmpty)
    // the planted pairs: (id−3, id) for every id ≡ 3 (mod 7) with a base
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = ids.filter(id => id >= 3 && id % 7 == 3 && ids(id - 3))
      .map(id => (id - 3, id))
    assert(planted.nonEmpty)
    val found = census.map(p => (p._1, p._2)).toSet
    planted.foreach(p => assert(found(p),
      s"planted near-identical pair $p must be in the census"))
    // planted pairs sit far inside the verify threshold (sparse
    // perturbation flips only the few sampled-and-bumped gradients)
    val plantedH = census.filter(p => planted((p._1, p._2))).map(_._3)
    assert(plantedH.max <= 4)
    // non-planted census members are the formula corpus's
    // brightness-congruent images (same dims, 131·Δseed ≡ small
    // mod 256): a CONSTANT luminance shift preserves every gradient
    // sign except at wraps — dHash's deliberate shift invariance, the
    // property that makes it a perceptual hash rather than a byte
    // hash. Verify the claim: each such pair has identical dims.
    // dims of the RENDERED image (a planted doc borrows its base's)
    val renderSeed = (id: Long) => if (id >= 3 && id % 7 == 3) id - 3 else id
    val dims = (id: Long) => {
      val s = renderSeed(id); (8 + s % 24, 8 + (s / 3) % 16)
    }
    val nonPlanted = census.filter(p => !planted((p._1, p._2)))
    val coincidences = nonPlanted.filter(p => dims(p._1) != dims(p._2))
    // different-dims members can only be near-threshold gradient
    // coincidences — they must be rare and never planted-tight
    assert(coincidences.length <= math.max(1, census.length / 10),
      s"different-dims coincidences must stay rare: $coincidences")
    coincidences.foreach(p => assert(p._3 > plantedH.max,
      s"coincidence $p must rank above every planted pair's distance"))
    // and unrelated images do NOT flood the census: candidates are
    // band-gated, so the census is a tiny fraction of all pairs
    val n = ids.size.toLong
    assert(census.length < n * (n - 1) / 20,
      "census must stay sparse — banding is the gate, not all-pairs")
  }

  test("q116 audio census: every planted near-identical clip caught through the real javax.sound decode path; census sparse") {
    val census = Multimodal.q116AudioDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(census.nonEmpty)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = ids.filter(id => id >= 2 && id % 5 == 2 && ids(id - 2))
      .map(id => (id - 2, id))
    assert(planted.nonEmpty)
    val found = census.map(p => (p._1, p._2)).toSet
    planted.foreach(p => assert(found(p),
      s"planted near-identical clip pair $p must be in the census"))
    val plantedH = census.filter(p => planted((p._1, p._2))).map(_._3)
    assert(plantedH.max <= 4,
      "sparse perturbation must flip only a few envelope bits")
    val n = ids.size.toLong
    assert(census.length < n * (n - 1) / 20,
      "census must stay sparse — banding gates, envelopes decorrelate")
  }

  test("q114 image admission: persisted signature state ≡ live; folding admitted sigs rejects a replayed batch") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, count, lit, pmod}
    val root = Files.createTempDirectory("graft_imgsig_state").toString
    val m = pmod(col("doc_id"), lit(17L))
    val live = Multimodal.q114ImageAdmission(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // deployment form: corpus signatures persisted once (8 bytes/image),
    // the batch judged against the STORE — bit-equal to the live report
    val st = graft.io.ArtifactStore.ingestState(spark, root, "imgsigs")
    st.appendTickAt(1, Multimodal.imageSigs(docs.filter(m =!= 0)))
    val batchSigs = Multimodal.imageSigs(docs.filter(m === 0)).localCheckpoint()
    val flagged = Multimodal.flaggedAgainstState(
      st.current().get, batchSigs, maxDist = 10, maxBand = 64)
    val stored = docs.filter(m === 0).select(col("doc_id"), col("source"))
      .join(flagged, col("doc_id") === col("fid"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"), count(col("fid")).as("n_dup_image"),
        (count(lit(1)) - count(col("fid"))).as("n_new"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stored.toSeq === live.toSeq,
      "state-backed image admission must equal the oracle-checked live form")

    // fold: admitted (new) sigs append as the next tick — a REPLAYED
    // batch is then rejected in full (hamming 0 vs its own folded sig)
    val admitted = batchSigs.join(flagged,
      col("doc_id") === col("fid"), "left_anti")
    st.appendTickAt(2, admitted)
    val flagged2 = Multimodal.flaggedAgainstState(
      st.current().get, batchSigs, maxDist = 10, maxBand = 64)
    assert(flagged2.count() === batchSigs.count(),
      "after folding, every replayed batch image must be a perceptual dup")
  }

  test("metadata summary partitions rows by kind") {
    val rows = Multimodal.metaSummary(decoded).collect()
    assert(rows.map(_.getLong(1)).sum === docs.count())
    val kinds = rows.map(_.getString(0)).toSet
    assert(kinds.subsetOf(Set("image", "audio", "video", "unknown")))
  }

  test("metadata-only analytics over persisted decode never read payload bytes") {
    // the realistic pipeline: decode once, persist, analyze many times —
    // the analytic scan must prune `content` (the ~all-the-bytes column)
    // down to the meta struct
    val dir = java.nio.file.Files.createTempDirectory("graft-mm").resolve("d").toString
    decoded.write.mode("overwrite").parquet(dir)
    val summary = Multimodal.metaSummary(spark.read.parquet(dir))
    summary.collect()
    val scan = summary.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema"), scan)
    assert(!scan.contains("content"),
      "metadata pass must not read the binary payload column:\n" + scan)
  }
}
