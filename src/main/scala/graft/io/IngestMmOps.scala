package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Provenance
import graft.operators.Provenance.Evidence

/** The unified MULTIMODAL admission section of [[IngestLoop]] (q118's
  * deployment form and its re-adjudication), in its own file like
  * IngestLegOps. The self-type reaches the loop's shared
  * pieces ([[IngestLoop.MmStores]], the leg case classes,
  * [[IngestLoop.Legs]], `foldAdmitted`, the leg-ops flags), and
  * `object IngestLoop extends ... with IngestMmOps`, so every
  * `IngestLoop.*` call site reads unchanged. The takedown, re-gate,
  * compaction and quiesce entry points take any
  * [[IngestLoop.StoreSet]], so they serve this loop too. */
trait IngestMmOps { self: IngestLoop.type =>

  def mmStores(spark: SparkSession, root: String, name: String): MmStores =
    MmStores(stores(spark, root, name),
      ArtifactStore.ingestState(spark, root, s"$name/img_sigs"),
      ArtifactStore.ingestState(spark, root, s"$name/aud_sigs"))

  /** Seed all five stores from the existing corpus — tick 1,
    * idempotent ([[bootstrap]]'s contract): corpus text is read once,
    * each payload is decoded once at the codec seam. */
  def bootstrapMm(st: MmStores, corpusDocs: DataFrame): Unit = {
    bootstrap(st.text, corpusDocs)
    st.imgSigs.appendTickAt(1,
      graft.multimodal.Multimodal.imageSigs(corpusDocs))
    st.audSigs.appendTickAt(1,
      graft.multimodal.Multimodal.audioSigs(corpusDocs))
  }

  /** One UNIFIED multimodal admission tick — the deployment form of
    * [[graft.multimodal.Multimodal.q118MultimodalAdmission]]: the batch
    * is judged once across all modalities (precedence exact text →
    * fuzzy text → image sig → audio sig → low_quality → new) against
    * the accumulated five-store state, and ONLY admitted docs fold back
    * into every store — so tick N+1 rejects an image/audio near-dup of
    * what tick N admitted (MmIngestSpec pins the fold-back per
    * modality, and the replay across a crash between any per-store
    * writes: the tick agreement over all five stores redoes a lagging
    * tick). State reads resolve through the shared tombstone store —
    * [[retractTick]] retracts a doc's signatures too. The consumer
    * legs (BM25 postings / gram census / served ANN codes / packed
    * export / domain mix) are [[runTick]]'s: the multimodal loop is not
    * a reduced deployment — its admitted docs feed every consumer a
    * text-only loop feeds, from the one mm verdict frame. A curate leg
    * is refused: the mm fold serves the raw admitted text. */
  def runMmTick(st: MmStores, batchDocs: DataFrame, w: Seq[Double],
                threshold: Double = 0.2, lowFrac: Double = 0.25,
                maxDist: Int = 10, maxBand: Int = 64,
                legs: Legs = Legs()): DataFrame = {
    import graft.multimodal.Multimodal
    refuseCurate(legs)
    val t = legs.tick(st)
    val (state, fuzzy) = textEvidence(st.text, t, batchDocs, threshold)
    // batch signatures derive map-side at the codec seam; severed — the
    // flag chain reads each twice and the fold-back a third time
    val (batchISigs, batchASigs) = graft.operators.Materialize.par2(
      Multimodal.imageSigs(batchDocs), Multimodal.audioSigs(batchDocs))
    val imFlag = Multimodal.flaggedAgainstState(
        st.text.lineage.resolve(st.imgSigs.currentUpTo(t - 1).get),
        batchISigs, maxDist, maxBand)
      .select(col("fid").as("ifid"))
    val auFlag = Multimodal.flaggedAgainstState(
        st.text.lineage.resolve(st.audSigs.currentUpTo(t - 1).get),
        batchASigs, maxDist, maxBand)
      .select(col("fid").as("afid"))
    // the q118 rungs plus the classes of the attached legs
    val flags = Seq(Evidence.Fuzzy -> fuzzy, Evidence.Image -> imFlag,
        Evidence.Audio -> auFlag) ++
      legs.sem.map(leg => Evidence.Semantic ->
        semFlags(st.text, leg, t, batchDocs.select("doc_id"))) ++
      legs.eval.map { leg =>
        // text channels ∪ the q140 modality channels (when attached):
        // one `contaminated` class — every channel means "this doc
        // leaks the eval set", and it outranks the dup_image/dup_audio
        // DEDUP evidence below
        Evidence.Contaminated -> (Seq(contamFlags(leg, batchDocs)) ++
          mmContamFlags(leg, batchISigs, batchASigs))
          .reduce(_ union _).distinct()
      }
    val ladder = Provenance.ladder(flags.map(_._1): _*)
    val v = Provenance.gatedTickFrame(batchDocs, state, flags, w, lowFrac)
    val admIds = v.filter(col("lq") === false).select("doc_id")
    val admDocs = batchDocs.join(admIds, Seq("doc_id"), "left_semi")
    // every consumer a text-only loop feeds, from the ONE mm verdict
    // frame; every attached store is in the tick agreement above, so a
    // crash between any pair of appends (including across modality/
    // consumer seams) redoes the whole tick idempotently (MmIngestSpec
    // pins the legs)
    foldAdmitted(t, st.text, v.filter(col("lq") === false)
        .select(col("doc_id"), col("h").as("ch")), admIds, admDocs, admDocs,
      Seq(st.imgSigs -> batchISigs.join(admIds, Seq("doc_id"), "left_semi"),
        st.audSigs -> batchASigs.join(admIds, Seq("doc_id"), "left_semi")),
      legs)
    // QUARANTINE leg (q133): mm quarantine rows additionally carry the
    // doc's 8-byte signatures, so a re-adjudication re-judges the
    // image/audio legs without ever re-reading payloads
    legs.quar.foreach { qs =>
      val rej = v.filter(!Provenance.novel(ladder) || col("lq") === true)
        .withColumn("verdict", Provenance.verdictOf(ladder))
        .join(batchDocs.select("doc_id", "text"), "doc_id")
        .join(batchISigs.select(col("doc_id"), col("sig").as("img_sig")),
          Seq("doc_id"), "left")
        .join(batchASigs.select(col("doc_id"), col("sig").as("aud_sig")),
          Seq("doc_id"), "left")
        .select("doc_id", "source", "text", "img_sig", "aud_sig", "verdict")
      qs.rows.appendTickAt(t, rej)
      qs.resolvedIds.appendTickAt(t, admIds.limit(0))
    }
    // REPLAY leg: a replay-attached readjudicateMmTick can never land
    // its agreement on a lagging feats store
    appendReplay(legs, t, v, batchDocs)
    Provenance.gatedTickReport(v, ladder)
  }

  /** The mm folds hand the consumers the raw admitted text: a curate
    * leg would be silently skipped, so it is refused. */
  private def refuseCurate(legs: Legs): Unit =
    require(legs.curate.isEmpty,
      "a multimodal tick has no curated fold-back: detach the curate leg")

  /** RE-ADJUDICATE a multimodal quarantine — the deployment form of
    * [[graft.multimodal.Multimodal.q133MmReadjudication]], run at a
    * quiesce point after a takedown: the live quarantine's dup-class
    * rows (all FOUR evidence classes) re-judge against the current
    * five-store state under the frozen model and the full q118 gate —
    * exact and fuzzy from the text stores, image/audio from the sig
    * stores via the STORED 8-byte signatures (no payload reads; a
    * doc's signature is a function of the doc, not of the state).
    * Docs that now pass fold into every store and consumer leg; the
    * re-adjudication is a tick in the mm store agreement with the
    * same crash/replay discipline as [[readjudicateTick]].
    * MmIngestSpec pins store ≡ the live q133 and the image-leg
    * decisive contrast. */
  def readjudicateMmTick(st: MmStores, quar: Quarantine, w: Seq[Double],
                         threshold: Double = 0.2, lowFrac: Double = 0.25,
                         maxDist: Int = 10, maxBand: Int = 64,
                         legs: Legs = Legs()): DataFrame = {
    import graft.multimodal.Multimodal
    refuseCurate(legs)
    val l = withRequired(legs, Legs(quar = Some(quar)))
    val t = l.tick(st)
    // semantic / contaminated rows re-judge only with their leg
    // attached (its state is the gate)
    val ladder = Provenance.ladder(Seq(Evidence.Image, Evidence.Audio) ++
      l.sem.map(_ => Evidence.Semantic) ++
      l.eval.map(_ => Evidence.Contaminated): _*)
    val dupRows = rejudgeable(st.text, quar, t, ladder)
    val (state, fuzzy) = textEvidence(st.text, t, dupRows, threshold)
    val imFlag = Multimodal.flaggedAgainstState(
        st.text.lineage.resolve(st.imgSigs.currentUpTo(t - 1).get),
        dupRows.select(col("doc_id"), col("img_sig").as("sig")),
        maxDist, maxBand)
      .select(col("fid").as("ifid"))
    val auFlag = Multimodal.flaggedAgainstState(
        st.text.lineage.resolve(st.audSigs.currentUpTo(t - 1).get),
        dupRows.select(col("doc_id"), col("aud_sig").as("sig")),
        maxDist, maxBand)
      .select(col("fid").as("afid"))
    val v = Provenance.gatedTickFrame(
      dupRows.select("doc_id", "source", "text"), state,
      Seq(Evidence.Fuzzy -> fuzzy, Evidence.Image -> imFlag,
        Evidence.Audio -> auFlag) ++
        l.sem.map(leg => Evidence.Semantic ->
          semFlags(st.text, leg, t, dupRows.select("doc_id"))) ++
        l.eval.map { leg =>
          // the modality eval channels re-judge from the STORED 8-byte
          // signatures, like the dup legs — no payload reads
          Evidence.Contaminated ->
            (Seq(contamFlags(leg, dupRows.select("doc_id", "text"))) ++
              mmContamFlags(leg,
                dupRows.select(col("doc_id"), col("img_sig").as("sig")),
                dupRows.select(col("doc_id"), col("aud_sig").as("sig"))))
              .reduce(_ union _).distinct()
        },
      w, lowFrac)
    val admIds = v.filter(col("lq") === false).select("doc_id")
    val admDocs = dupRows.join(admIds, Seq("doc_id"), "left_semi")
    foldAdmitted(t, st.text, v.filter(col("lq") === false)
        .select(col("doc_id"), col("h").as("ch")), admIds, admDocs, admDocs,
      st.sigCols.map { case (s, c) => s -> storedSigs(admDocs, c) }, l)
    // quality-rejected docs RE-QUARANTINE (the readjudicateTick rule),
    // keeping their stored 8-byte signatures so a later mm
    // re-adjudication of a regate-readmitted partner still has them
    quar.rows.appendTickAt(t, v.filter(col("lq") === true)
      .select("doc_id")
      .join(dupRows.select("doc_id", "source", "text", "img_sig",
        "aud_sig"), "doc_id")
      .select(col("doc_id"), col("source"), col("text"), col("img_sig"),
        col("aud_sig"), lit("low_quality").as("verdict")))
    // the q131 resolution rule: only RE-ADMITTED docs resolve
    quar.resolvedIds.appendTickAt(t,
      v.filter(col("lq") === false).select("doc_id"))
    appendReplay(l, t, v, dupRows.select("doc_id", "text"))
    Provenance.readjReport(v,
      dupRows.select(col("doc_id"), col("verdict").as("verdict_t1")), ladder)
  }
}
