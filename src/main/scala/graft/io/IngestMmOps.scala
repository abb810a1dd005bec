package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fuzzy, Provenance, QualityModel}
import graft.operators.Provenance.Evidence

/** The unified MULTIMODAL admission section of [[IngestLoop]] (q118's
  * deployment form and its consumer/maintenance twins) — moved whole
  * from IngestLoop.scala (r15 verdict item 7: file hygiene before the
  * 2k line mark; pure move, the IngestLegOps precedent). The
  * self-type keeps every cross-reference (Stores, the leg case
  * classes, `resolved`, `nextTickOf`, the leg-ops flags) identical,
  * and `object IngestLoop extends ... with IngestMmOps`, so every
  * `IngestLoop.*` call site — including `IngestLoop.MmStores` —
  * reads unchanged. */
trait IngestMmOps { self: IngestLoop.type =>


  /** The store bundle of a multimodal ingest loop: the text [[Stores]]
    * (hashes/bands/shingles + the SHARED tombstone store — one takedown
    * retracts a doc from every modality at once) plus per-modality
    * 8-byte perceptual-signature stores (doc_id, sig). */
  final case class MmStores(text: Stores,
                            imgSigs: ArtifactStore.IngestStateStore,
                            audSigs: ArtifactStore.IngestStateStore) {
    private[io] def all: Seq[ArtifactStore.IngestStateStore] =
      Seq(text.hashes, text.bands, text.shingles, imgSigs, audSigs)
  }

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
    * writes: [[nextTickOf]] over all five stores redoes a lagging
    * tick). State reads resolve through the shared tombstone store —
    * [[retractTick]] on `st.text` retracts a doc's signatures too.
    * The optional consumer legs (BM25 postings / gram census / served
    * ANN codes / packed export / domain mix) mirror [[runFullTick]]'s
    * exactly: the multimodal loop is not a reduced deployment — its
    * admitted docs feed every consumer a text-only loop feeds, from
    * the one mm verdict frame. */
  def runMmTick(st: MmStores, batchDocs: DataFrame, w: Seq[Double],
                threshold: Double = 0.2, lowFrac: Double = 0.25,
                maxDist: Int = 10, maxBand: Int = 64,
                idx: Option[ArtifactStore.Bm25IncrementalIndex] = None,
                census: Option[ArtifactStore.GramCensusIncrementalIndex] = None,
                ann: Option[AnnLeg] = None,
                export: Option[ExportLeg] = None,
                mix: Option[ArtifactStore.MixIncrementalIndex] = None,
                quar: Option[Quarantine] = None,
                replay: Option[ReplayLeg] = None,
                sem: Option[SemLeg] = None,
                eval: Option[EvalLeg] = None)
      : DataFrame = {
    import graft.multimodal.Multimodal
    val t = nextTickOf(st.all.map(_.maxTick)
      ++ idx.map(_.tfStore.maxTick) ++ census.map(_.censusStore.maxTick)
      ++ ann.map(_.idx.codeStore.maxTick) ++ export.map(_.store.maxTick)
      ++ mix.map(_.mixStore.maxTick) ++ sem.map(_.sigs.maxTick)
      ++ eval.map(_.docGrams.maxTick) ++ replay.map(_.feats.maxTick)
      ++ quar.toSeq.flatMap(q => Seq(q.rows.maxTick, q.resolvedIds.maxTick)))
    val state = resolved(st.text, st.text.hashes.currentUpTo(t - 1).getOrElse(
        sys.error("multimodal loop not bootstrapped")))
      .select("ch").distinct()
    val fuzzy = Fuzzy.lshPairsAgainstState(
        resolved(st.text, st.text.bands.currentUpTo(t - 1).get),
        resolved(st.text, st.text.shingles.currentUpTo(t - 1).get),
        batchDocs, threshold)
      .select(col("eval_id").as("fid")).distinct()
    // batch signatures derive map-side at the codec seam; severed — the
    // flag chain reads each twice and the fold-back a third time
    val (batchISigs, batchASigs) = graft.operators.Materialize.par2(
      Multimodal.imageSigs(batchDocs), Multimodal.audioSigs(batchDocs))
    val imFlag = Multimodal.flaggedAgainstState(
        resolved(st.text, st.imgSigs.currentUpTo(t - 1).get),
        batchISigs, maxDist, maxBand)
      .select(col("fid").as("ifid"))
    val auFlag = Multimodal.flaggedAgainstState(
        resolved(st.text, st.audSigs.currentUpTo(t - 1).get),
        batchASigs, maxDist, maxBand)
      .select(col("fid").as("afid"))
    // the q118 rungs plus the classes of the attached legs
    val flags = Seq(Evidence.Fuzzy -> fuzzy, Evidence.Image -> imFlag,
        Evidence.Audio -> auFlag) ++
      sem.map(leg => Evidence.Semantic ->
        semFlags(st.text, leg, t, batchDocs.select("doc_id"))) ++
      eval.map { leg =>
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
    st.text.hashes.appendTickAt(t, v.filter(col("lq") === false)
      .select(col("doc_id"), col("h").as("ch")))
    st.text.bands.appendTickAt(t, Fuzzy.corpusBandState(admDocs))
    st.text.shingles.appendTickAt(t, Fuzzy.corpusShingleHashes(admDocs))
    st.imgSigs.appendTickAt(t,
      batchISigs.join(admIds, Seq("doc_id"), "left_semi"))
    st.audSigs.appendTickAt(t,
      batchASigs.join(admIds, Seq("doc_id"), "left_semi"))
    sem.foreach(leg => leg.sigs.appendTickAt(t,
      graft.operators.SemanticGate.sigRowsOf(leg.vectors, admIds,
        leg.nTables, leg.bits, leg.dim)))
    eval.foreach(leg => leg.docGrams.appendTickAt(t,
      graft.operators.Contamination.grams(admDocs, leg.n)))
    // consumer legs — the [[runFullTick]] symmetry for the multimodal
    // loop: a deployment that ingests text+image+audio docs serves the
    // same four consumers (retrieval, curation census, ANN, export)
    // from the ONE mm verdict frame; every attached store participates
    // in the tick agreement above, so a crash between any pair of
    // appends (including across modality/consumer seams) redoes the
    // whole tick idempotently (MmIngestSpec pins the legs).
    idx.foreach(_.appendDocsAt(t, admDocs))
    census.foreach(_.appendDocsAt(t, admDocs))
    ann.foreach { leg =>
      val (c, r) = leg.idx.servingArtifacts().getOrElse((leg.cents, leg.rcb))
      leg.idx.appendVectorsAt(t, leg.vectors.join(
        admIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        c, r)
    }
    export.foreach(leg => leg.store.appendDocsAt(t, admDocs, leg.ms))
    // MIX leg (q127's state) — the runFullTick symmetry: the mm loop's
    // admitted counts maintain the same domain-mix table
    mix.foreach(_.appendDocsAt(t, admDocs))
    // QUARANTINE leg (q133): mm quarantine rows additionally carry the
    // doc's 8-byte signatures, so a re-adjudication re-judges the
    // image/audio legs without ever re-reading payloads
    quar.foreach { qs =>
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
    // REPLAY leg (r12 advice — the runTickImpl symmetry): the mm tick's
    // novel cohort persists its gate features + tick-time verdict, so a
    // replay-attached mmReadjudicateTick can never land its agreement
    // on a lagging feats store and overwrite this tick's increments.
    replay.foreach { leg =>
      val cohort = v.filter(col("lq").isNotNull)
        .select(col("doc_id"), col("source"), col("lq"))
      leg.feats.appendTickAt(t, cohort
        .join(QualityModel.gateFeatures(batchDocs), "doc_id")
        .withColumn("tick", lit(t))
        .select(Seq(col("doc_id"), col("source"), col("tick"), col("lq")) ++
          (0 until QualityModel.NumW).map(j => col(s"x$j")): _*))
    }
    Provenance.gatedTickReport(v, ladder)
  }

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
                         idx: Option[ArtifactStore.Bm25IncrementalIndex]
                           = None,
                         census: Option[
                           ArtifactStore.GramCensusIncrementalIndex] = None,
                         ann: Option[AnnLeg] = None,
                         export: Option[ExportLeg] = None,
                         mix: Option[ArtifactStore.MixIncrementalIndex]
                           = None,
                         replay: Option[ReplayLeg] = None,
                         sem: Option[SemLeg] = None,
                         eval: Option[EvalLeg] = None)
      : DataFrame = {
    import graft.multimodal.Multimodal
    val t = nextTickOf(st.all.map(_.maxTick)
      ++ idx.map(_.tfStore.maxTick) ++ census.map(_.censusStore.maxTick)
      ++ ann.map(_.idx.codeStore.maxTick) ++ export.map(_.store.maxTick)
      ++ mix.map(_.mixStore.maxTick) ++ sem.map(_.sigs.maxTick)
      ++ eval.map(_.docGrams.maxTick)
      ++ replay.map(_.feats.maxTick)
      ++ Seq(quar.rows.maxTick, quar.resolvedIds.maxTick))
    val rows = quar.rows.currentUpTo(t - 1).getOrElse(
      sys.error("quarantine not bootstrapped: no tick-1 base"))
    val liveRows = resolved(st.text,
      quar.resolvedIds.currentUpTo(t - 1)
        .fold(rows)(r => rows.join(r.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")))
    // the readjudicateTick supersede rule: a doc re-quarantined as
    // low_quality has already reached its post-dup verdict; semantic /
    // contaminated rows re-judge only with their leg attached (its
    // state is the gate)
    val ladder = Provenance.ladder(Seq(Evidence.Image, Evidence.Audio) ++
      sem.map(_ => Evidence.Semantic) ++
      eval.map(_ => Evidence.Contaminated): _*)
    val dupRows = liveRows
      .filter(col("verdict").isin(ladder.map(_.verdict): _*))
      .join(liveRows.filter(col("verdict") === "low_quality")
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val state = resolved(st.text,
        st.text.hashes.currentUpTo(t - 1).getOrElse(
          sys.error("multimodal loop not bootstrapped")))
      .select("ch").distinct()
    val fuzzy = Fuzzy.lshPairsAgainstState(
        resolved(st.text, st.text.bands.currentUpTo(t - 1).get),
        resolved(st.text, st.text.shingles.currentUpTo(t - 1).get),
        dupRows, threshold)
      .select(col("eval_id").as("fid")).distinct()
    val imFlag = Multimodal.flaggedAgainstState(
        resolved(st.text, st.imgSigs.currentUpTo(t - 1).get),
        dupRows.select(col("doc_id"), col("img_sig").as("sig")),
        maxDist, maxBand)
      .select(col("fid").as("ifid"))
    val auFlag = Multimodal.flaggedAgainstState(
        resolved(st.text, st.audSigs.currentUpTo(t - 1).get),
        dupRows.select(col("doc_id"), col("aud_sig").as("sig")),
        maxDist, maxBand)
      .select(col("fid").as("afid"))
    val v = Provenance.gatedTickFrame(
      dupRows.select("doc_id", "source", "text"), state,
      Seq(Evidence.Fuzzy -> fuzzy, Evidence.Image -> imFlag,
        Evidence.Audio -> auFlag) ++
        sem.map(leg => Evidence.Semantic ->
          semFlags(st.text, leg, t, dupRows.select("doc_id"))) ++
        eval.map { leg =>
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
    st.text.hashes.appendTickAt(t, v.filter(col("lq") === false)
      .select(col("doc_id"), col("h").as("ch")))
    st.text.bands.appendTickAt(t, Fuzzy.corpusBandState(admDocs))
    st.text.shingles.appendTickAt(t, Fuzzy.corpusShingleHashes(admDocs))
    st.imgSigs.appendTickAt(t, admDocs
      .select(col("doc_id"), col("img_sig").as("sig"))
      .filter(col("sig").isNotNull))
    st.audSigs.appendTickAt(t, admDocs
      .select(col("doc_id"), col("aud_sig").as("sig"))
      .filter(col("sig").isNotNull))
    sem.foreach(leg => leg.sigs.appendTickAt(t,
      graft.operators.SemanticGate.sigRowsOf(leg.vectors, admIds,
        leg.nTables, leg.bits, leg.dim)))
    eval.foreach(leg => leg.docGrams.appendTickAt(t,
      graft.operators.Contamination.grams(admDocs, leg.n)))
    idx.foreach(_.appendDocsAt(t, admDocs))
    census.foreach(_.appendDocsAt(t, admDocs))
    ann.foreach { leg =>
      val (c, r) = leg.idx.servingArtifacts().getOrElse((leg.cents, leg.rcb))
      leg.idx.appendVectorsAt(t, leg.vectors.join(
        admIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        c, r)
    }
    export.foreach(leg => leg.store.appendDocsAt(t, admDocs, leg.ms))
    mix.foreach(_.appendDocsAt(t, admDocs))
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
    replay.foreach { leg =>
      val cohort = v.filter(col("lq").isNotNull)
        .select(col("doc_id"), col("source"), col("lq"))
      leg.feats.appendTickAt(t, cohort
        .join(QualityModel.gateFeatures(
          dupRows.select("doc_id", "text")), "doc_id")
        .withColumn("tick", lit(t))
        .select(Seq(col("doc_id"), col("source"), col("tick"), col("lq")) ++
          (0 until QualityModel.NumW).map(j => col(s"x$j")): _*))
    }
    Provenance.readjReport(v,
      dupRows.select(col("doc_id"), col("verdict").as("verdict_t1")), ladder)
  }

  /** RE-GATE the quality window of a MULTIMODAL loop under a NEW model
    * — [[regateTick]]'s mm twin (the r12 replay-leg symmetry carried to
    * its conclusion: [[runMmTick]] now persists gate features, so the
    * q134 model loop must reach mm deployments too, and a text-Stores
    * regate against an mm loop would leave imgSigs/audSigs lagging one
    * tick — the silent-overwrite class). Identical algebra to
    * [[regateTick]]; additionally the re-admitted docs' STORED 8-byte
    * signatures (the mm quarantine rows carry them) fold into the
    * modality sig stores, so a later mm tick rejects an image/audio
    * near-dup of a regate-readmitted doc — no payload reads. */
  def regateMmTick(st: MmStores, quar: Quarantine, replay: ReplayLeg,
                   wNew: Seq[Double], lowFrac: Double = 0.25,
                   idx: Option[ArtifactStore.Bm25IncrementalIndex] = None,
                   census: Option[
                     ArtifactStore.GramCensusIncrementalIndex] = None,
                   ann: Option[AnnLeg] = None,
                   export: Option[ExportLeg] = None,
                   mix: Option[ArtifactStore.MixIncrementalIndex] = None,
                   sem: Option[SemLeg] = None,
                   eval: Option[EvalLeg] = None,
                   curate: Option[CurateLeg] = None)
      : DataFrame = {
    val t = nextTickOf(st.all.map(_.maxTick)
      ++ idx.map(_.tfStore.maxTick) ++ census.map(_.censusStore.maxTick)
      ++ ann.map(_.idx.codeStore.maxTick) ++ export.map(_.store.maxTick)
      ++ mix.map(_.mixStore.maxTick) ++ sem.map(_.sigs.maxTick)
      ++ eval.map(_.docGrams.maxTick)
      ++ curate.map(_.census.censusStore.maxTick)
      ++ Seq(replay.feats.maxTick, quar.rows.maxTick,
        quar.resolvedIds.maxTick))
    val feats = resolved(st.text, replay.feats.currentUpTo(t - 1).getOrElse(
      sys.error("replay leg not bootstrapped: no tick-1 base")))
    val rescored = QualityModel.withScoreFromFeatures(
      feats.withColumnRenamed("lq", "was_lowq"), wNew)
      .localCheckpoint()
    val flipped = rescored
      .join(graft.operators.RankGate.lowFracFlagsBy(rescored, "tick", lowFrac),
        col("doc_id") === col("lqid"))
      .select(col("doc_id"), col("source"), col("was_lowq"),
        col("lq").as("lq2"))
      .localCheckpoint()
    val rows = quar.rows.currentUpTo(t - 1).getOrElse(
      sys.error("quarantine not bootstrapped: no tick-1 base"))
    val liveQuar = resolved(st.text,
      quar.resolvedIds.currentUpTo(t - 1)
        .fold(rows)(r => rows.join(r.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")))
      .filter(col("verdict") === "low_quality")
    // admitted = flipped out of the window AND still quarantined; the
    // mm quarantine row carries text AND the stored signatures
    val admRows = liveQuar
      .join(flipped.filter(col("was_lowq") && !col("lq2"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val admDocs = admRows.select("doc_id", "source", "text")
    val admIds = admDocs.select("doc_id")
    val servedDocs = curate.map { cl =>
      graft.operators.CurateTick.curatedDocs(admDocs,
        cl.census.censusStore.currentUpTo(t - 1).getOrElse(
          sys.error("curate leg not bootstrapped: no census base")),
        admDocs, cl.census.k, cl.topN)
        .select("doc_id", "source", "text").localCheckpoint()
    }.getOrElse(admDocs)
    st.text.hashes.appendTickAt(t, admDocs.select(col("doc_id"),
      Provenance.contentHash60(col("text")).as("ch")))
    st.text.bands.appendTickAt(t, Fuzzy.corpusBandState(admDocs))
    st.text.shingles.appendTickAt(t, Fuzzy.corpusShingleHashes(admDocs))
    st.imgSigs.appendTickAt(t, admRows
      .select(col("doc_id"), col("img_sig").as("sig"))
      .filter(col("sig").isNotNull))
    st.audSigs.appendTickAt(t, admRows
      .select(col("doc_id"), col("aud_sig").as("sig"))
      .filter(col("sig").isNotNull))
    sem.foreach(leg => leg.sigs.appendTickAt(t,
      graft.operators.SemanticGate.sigRowsOf(leg.vectors, admIds,
        leg.nTables, leg.bits, leg.dim)))
    eval.foreach(leg => leg.docGrams.appendTickAt(t,
      graft.operators.Contamination.grams(admDocs, leg.n)))
    idx.foreach(_.appendDocsAt(t, servedDocs))
    census.foreach(_.appendDocsAt(t, admDocs))
    curate.filter(cl => !census.contains(cl.census))
      .foreach(_.census.appendDocsAt(t, admDocs))
    ann.foreach { leg =>
      val (c, r) = leg.idx.servingArtifacts().getOrElse((leg.cents, leg.rcb))
      leg.idx.appendVectorsAt(t, leg.vectors.join(
        admIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        c, r)
    }
    export.foreach(leg => leg.store.appendDocsAt(t, servedDocs, leg.ms))
    mix.foreach(_.appendDocsAt(t, admDocs))
    quar.rows.appendTickAt(t, rows.limit(0))
    quar.resolvedIds.appendTickAt(t, admIds)
    replay.feats.appendTickAt(t, feats.limit(0))
    val admSet = admIds.withColumnRenamed("doc_id", "aid")
    flipped
      .join(admSet, col("doc_id") === col("aid"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_novel"),
        count(when(col("was_lowq"), lit(1))).as("n_lowq_t1"),
        count(when(col("aid").isNotNull, lit(1))).as("n_readmitted"),
        count(when(col("was_lowq") && col("lq2"), lit(1)))
          .as("n_still_lowq"),
        count(when(!col("was_lowq") && col("lq2"), lit(1)))
          .as("n_demoted"))
      .orderBy("source")
  }

  /** [[compactIfNeeded]] over all five multimodal stores — tombstones
    * fold out of every modality's state; cleared only when every store
    * folded (same read-path-idempotence argument). An attached sem
    * leg's sig store and an eval leg's docGrams resolve through the
    * SAME shared tombstones, so they MUST fold in the same pass —
    * clearing after folding only the five mm stores would resurface
    * retracted rows at the next flag / retro-catch read (the
    * compactIfNeeded argument, which the mm form was missing for the
    * eval leg). */
  def compactMmIfNeeded(st: MmStores, maxDataFiles: Long = 64,
                        sem: Option[SemLeg] = None,
                        eval: Option[EvalLeg] = None,
                        quar: Option[Quarantine] = None,
                        replay: Option[ReplayLeg] = None): Boolean = {
    // quarantine rows / replay feats share the text tombstone lineage
    // (readjudicateMmTick/regateMmTick read them through `resolved`) —
    // the compactIfNeeded resurface argument, r16 self-audit
    val all = st.all ++ sem.map(_.sigs) ++ eval.map(_.docGrams) ++
      quar.toSeq.flatMap(q => Seq(q.rows, q.resolvedIds)) ++
      replay.map(_.feats)
    val need = all.exists(_.dataFileCount > maxDataFiles)
    if (need) {
      val folded = all.map(_.compactWith(df => resolved(st.text, df)))
      if (st.text.tombs.current().isDefined && folded.forall(_ > 0))
        st.text.tombs.reset()
    }
    need
  }
}
