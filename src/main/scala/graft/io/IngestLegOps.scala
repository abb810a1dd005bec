package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.Fuzzy

/** The semantic-leg and eval-leg operation groups of
  * [[IngestLoop]] — moved whole from IngestLoop.scala (r14 verdict
  * item 6: file hygiene, pure move). The self-type keeps every
  * cross-reference (Stores, the leg case classes, `nextTickOf`)
  * identical, and `object IngestLoop extends IngestLegOps`, so every
  * `IngestLoop.*` call site reads unchanged. */
trait IngestLegOps { self: IngestLoop.type =>

  def semLeg(spark: SparkSession, root: String, name: String,
             vectors: DataFrame): SemLeg =
    SemLeg(ArtifactStore.ingestState(spark, root, s"$name/sem_sigs"), vectors)

  /** Build-or-load a SELF-SIZED semantic leg (q139, r12 verdict item
    * 3): at FIRST bootstrap the bits knob derives from the corpus
    * vector count ([[graft.operators.SemanticGate.sizedBits]] — the
    * bits ≈ log₂N occupancy rule) and the chosen (tables, bits, dim)
    * are RECORDED in a params artifact next to the sig store; every
    * later load serves the RECORDED knob and ignores the live count —
    * signatures accumulated across ticks must all be derived at one
    * width, so verdicts stay re-derivable as the corpus grows past the
    * sizing count, and re-sizing is an explicit new generation
    * ([[resizeSemLeg]]), never a silent drift. Crash-safe: the params
    * write is an idempotent overwrite, read only once committed — a
    * crash mid-write falls through to the sizing path and rewrites; a
    * replay after the commit always reads the recorded values. */
  def semLegSized(spark: SparkSession, root: String, name: String,
                  vectors: DataFrame,
                  nTables: Int =
                    graft.operators.SemanticGate.ProductionTables,
                  dim: Int = graft.operators.SemanticGate.DefaultDim,
                  simThreshold: Double =
                    graft.operators.SemanticGate.DefaultSimThreshold)
      : SemLeg = {
    val pPath = s"$root/ingest_state/$name/sem_params"
    // the read branch gates on the commit, not bare existence: a crash
    // mid-write of sem_params leaves an uncommitted dir; reading it
    // would throw forever, where falling through re-derives and
    // overwrites
    val (t, b, d) =
      if (ArtifactStore.exists(spark, pPath)) {
        val r = spark.read.parquet(pPath).head()
        (r.getAs[Int]("tables"), r.getAs[Int]("bits"), r.getAs[Int]("dim"))
      } else {
        val bits = graft.operators.SemanticGate.sizedBits(vectors.count())
        import spark.implicits._
        Seq((nTables, bits, dim)).toDF("tables", "bits", "dim")
          .coalesce(1).write.mode("overwrite").parquet(pPath)
        (nTables, bits, dim)
      }
    SemLeg(ArtifactStore.ingestState(spark, root, s"$name/sem_sigs"),
      vectors, t, b, d, simThreshold)
  }

  /** RE-SIZE a semantic leg into a NEW store generation (the q122
    * recluster discipline minus the re-gate: the hyperplanes are fixed
    * functions of (table, dim), so past verdicts stay valid — only
    * candidate fan-out changes). Signatures re-derive from the vectors
    * side table at the new width for every SURVIVING ingested doc
    * (tombstones baked in) and land as tick 1 of the fresh generation
    * FIRST; the params overwrite under the new name is the COMMIT
    * POINT (r13 verdict item 4 — params-first left a crash window
    * where recorded params pointed at an unbootstrapped store and the
    * next tick died on the coverage guard instead of refusing). A
    * crash between the two leaves the old generation's params
    * untouched and serving; a replay overwrites the same tick-1 rows
    * idempotently and then commits. `name` MUST be a fresh generation
    * — a name whose params artifact is already committed is REFUSED
    * (the scaladoc safety argument depends on it: resizing in place
    * would mix two signature widths in one store). Run at quiesce
    * points, like every generation swap; SemIngestSpec pins the kill
    * window and the same-name refusal. */
  def resizeSemLeg(st: Stores, leg: SemLeg, spark: SparkSession,
                   root: String, name: String,
                   nTables: Int, bits: Int): SemLeg = {
    val pPath = s"$root/ingest_state/$name/sem_params"
    require(!ArtifactStore.exists(spark, pPath),
      s"resizeSemLeg requires a FRESH generation name: '$name' already " +
        "carries committed sem_params — a resize is a new store " +
        "generation, never an in-place rewrite")
    val next = SemLeg(
      ArtifactStore.ingestState(spark, root, s"$name/sem_sigs"),
      leg.vectors, nTables, bits, leg.dim, leg.simThreshold)
    val ingested = st.lineage.resolve(leg.sigs.current().get)
      .select("doc_id").distinct()
    next.sigs.appendTickAt(1, graft.operators.SemanticGate.sigRowsOf(
      leg.vectors, ingested, nTables, bits, leg.dim))
    // params LAST — the commit point: once this write commits, the
    // generation is fully bootstrapped and loadable by semLegSized
    import spark.implicits._
    Seq((nTables, bits, leg.dim)).toDF("tables", "bits", "dim")
      .coalesce(1).write.mode("overwrite").parquet(pPath)
    next
  }

  /** OCCUPANCY DRIFT CANARY for a semantic leg (q141's deployment
    * form, r13 verdict item 3): the quiesce-point census of the leg's
    * RESOLVED signature store under its serving bits — per table the
    * occupied buckets, the hottest bucket, and the exact projected
    * candidate fan-out Σ k·(k−1)/2, with `resize_recommended` once the
    * live doc count exceeds [[graft.operators.SemanticGate
    * .OccupancySlack]] × 2^bits (the q120 recall-canary discipline
    * applied to the q139 sizing knob). Reads ONLY the stored 3-long
    * sig rows — no embeddings, no text — so it is cheap enough for
    * every quiesce point, where the candidate join it guards is
    * O(N²/2^bits) when drifted. */
  def semCanaryReport(st: Stores, leg: SemLeg): DataFrame = {
    val sigs = st.lineage.resolve(leg.sigs.current().getOrElse(
      sys.error("semantic leg not bootstrapped: no tick-1 sig base")))
    val nLive = sigs.select("doc_id").distinct().count()
    graft.operators.SemanticGate.occupancyCensus(sigs, nLive, leg.bits)
  }

  /** The canary's TRIGGER form: census, and when the rule recommends,
    * re-size into `nextName`'s generation at [[graft.operators
    * .SemanticGate.sizedBits]] of the live count ([[resizeSemLeg]]'s
    * commit discipline — sigs first, params last, fresh name
    * enforced). Returns the serving leg: the fresh generation when a
    * resize ran, the given leg otherwise — the deployment calls this
    * at quiesce points and keeps whatever comes back. */
  def semCanaryTick(st: Stores, leg: SemLeg, spark: SparkSession,
                    root: String, nextName: String): SemLeg = {
    val rec = semCanaryReport(st, leg)
      .select("resize_recommended", "n_live").head()
    if (!rec.getBoolean(0)) leg
    else resizeSemLeg(st, leg, spark, root, nextName, leg.nTables,
      graft.operators.SemanticGate.sizedBits(rec.getLong(1)))
  }

  /** IDEMPOTENT tick-1 bootstrap of a semantic leg: the corpus docs'
    * signature rows, derived once from the vectors side table. */
  def bootstrapSem(leg: SemLeg, corpusDocs: DataFrame): Unit =
    leg.sigs.appendTickAt(1, graft.operators.SemanticGate.sigRowsOf(
      leg.vectors, corpusDocs.select("doc_id"),
      leg.nTables, leg.bits, leg.dim))

  /** Batch ids semantically flagged against the leg's resolved state
    * as of tick `t − 1` — shared by the ingest tick and the
    * re-adjudication. */
  private[io] def semFlags(st: Stores, leg: SemLeg, t: Long,
                       batchIds: DataFrame): DataFrame =
    graft.operators.SemanticGate.flaggedAgainstState(
      st.lineage.resolve(leg.sigs.currentUpTo(t - 1).getOrElse(
        sys.error("semantic leg not bootstrapped: no tick-1 sig base"))),
      leg.vectors, batchIds,
      leg.nTables, leg.bits, leg.dim, leg.simThreshold)

  def evalLeg(spark: SparkSession, root: String, name: String,
              n: Int = graft.operators.Decontam.DefaultN,
              threshold: Double = 0.2): EvalLeg =
    EvalLeg(
      ArtifactStore.ingestState(spark, root, s"$name/eval_grams"),
      ArtifactStore.ingestState(spark, root, s"$name/eval_bands"),
      ArtifactStore.ingestState(spark, root, s"$name/eval_shingles"),
      ArtifactStore.ingestState(spark, root, s"$name/eval_tombs"),
      ArtifactStore.ingestState(spark, root, s"$name/doc_grams"),
      n, threshold)

  /** IDEMPOTENT tick-1 bootstrap of a decontamination leg: the
    * corpus's doc-granular grams (the retro-catch reverse index) and
    * the initial eval set's gram/band/shingle state. Decontaminating
    * the EXISTING corpus against the initial set is the caller's
    * bootstrap pass (q66/q88) — this leg maintains cleanliness from
    * here on. An mm leg ([[mmEvalLeg]]) additionally seeds the eval
    * media's perceptual signatures. */
  def bootstrapEval(leg: EvalLeg, corpusDocs: DataFrame,
                    evalDocs: DataFrame): Unit = {
    leg.docGrams.appendTickAt(1,
      graft.operators.Contamination.grams(corpusDocs, leg.n))
    leg.grams.appendTickAt(1,
      graft.operators.Contamination.grams(evalDocs, leg.n))
    leg.bands.appendTickAt(1, Fuzzy.corpusBandState(evalDocs))
    leg.shingles.appendTickAt(1, Fuzzy.corpusShingleHashes(evalDocs))
    leg.imgSigs.foreach(_.appendTickAt(1, Multimodal.imageSigs(evalDocs)))
    leg.audSigs.foreach(_.appendTickAt(1, Multimodal.audioSigs(evalDocs)))
  }

  /** An [[EvalLeg]] with the q140 MODALITY channels attached — for a
    * multimodal loop whose eval set contains media: eval images/clips
    * contribute 8-byte perceptual signatures, and a batch doc whose
    * image/audio renders one verdicts `contaminated` (text evidence
    * and modality-eval evidence share the class — both mean "this doc
    * leaks the eval set"). */
  def mmEvalLeg(spark: SparkSession, root: String, name: String,
                n: Int = graft.operators.Decontam.DefaultN,
                threshold: Double = 0.2): EvalLeg =
    evalLeg(spark, root, name, n, threshold).copy(
      imgSigs = Some(
        ArtifactStore.ingestState(spark, root, s"$name/eval_img_sigs")),
      audSigs = Some(
        ArtifactStore.ingestState(spark, root, s"$name/eval_aud_sigs")))

  /** Batch ids contaminated by the LIVE eval set — the q136 rule's two
    * text channels (verbatim gram hits + verified fuzzy near-dups) and,
    * per modality of `sigs` (with the docs' (doc_id, sig) relation)
    * whose rung the leg holds eval media for, the q140 channel: a
    * signature popcount-matching a live eval item's. Withdrawals
    * resolve through the eval tombstones (the sig rows are eval-id
    * keyed). */
  private[graft] def contamFlags(leg: EvalLeg, batchDocs: DataFrame,
                                 sigs: Seq[(Modality, DataFrame)])
      : DataFrame = {
    val vb = graft.operators.Contamination.grams(batchDocs, leg.n)
      .join(leg.lineage.resolve(leg.grams.current().getOrElse(
          sys.error("eval leg not bootstrapped: no gram base")))
        .select("h"), Seq("h"), "left_semi")
      .select("doc_id")
    val fz = Fuzzy.lshPairsAgainstState(
        leg.lineage.resolve(leg.bands.current().get),
        leg.lineage.resolve(leg.shingles.current().get),
        batchDocs, leg.threshold)
      .select(col("eval_id").as("doc_id"))
    val media = sigs.flatMap { case (m, s) =>
      leg.sigsOf(m.rung).map(store => Multimodal.flaggedAgainstState(
          leg.lineage.resolve(store.current().getOrElse(
            sys.error("mm eval leg not bootstrapped: no sig base"))),
          s.filter(col("sig").isNotNull), Multimodal.MaxDist,
          Multimodal.MaxBand)
        .select(col("fid").as("doc_id")))
    }
    (vb +: fz +: media).reduce(_ union _).distinct()
      .select(col("doc_id").as("cid"))
  }

  /** EVAL-SET UPDATE — a quiesce-point operation (like a takedown or a
    * compaction: no tick in flight; a replayed crashed update passes
    * the same `updateId` and overwrites idempotently): `withdrawIds`
    * tombstone out of every eval-state read, `addDocs`' gram/band/
    * shingle rows append, and the RETRO-CATCH runs — ingested docs
    * hitting the ADDED items on either channel, probed from the
    * maintained `docGrams` reverse index and the loop's own
    * band/shingle state, with zero corpus-text reads. Returns the
    * caught doc ids (severed): the deployment passes them to
    * [[retractTick]] (the measured choice) and then re-adjudicates the
    * quarantine with the leg attached (withdrawals re-open past
    * contamination verdicts — the other direction).
    *
    * Per modality of `st` whose rung the leg holds eval media for (the
    * q140 leg on a multimodal loop), the eval-side signature store
    * advances with the same update id (appended concurrently with the
    * gram/band/shingle stores), and the retro-catch also probes the
    * loop's MAINTAINED doc signature store against the added items'
    * signatures — an
    * already-ingested doc whose image renders a newly-held-out eval
    * image is caught with zero payload re-reads. */
  def evalUpdateTick(st: StoreSet, leg: EvalLeg, addDocs: DataFrame,
                     withdrawIds: DataFrame,
                     updateId: Long = -1L): DataFrame = {
    val u = if (updateId > 0) updateId else evalTickOf(leg)
    leg.lineage.retractAt(u, withdrawIds)
    val media = st.modalities.flatMap(m => leg.sigsOf(m.rung).map(m -> _))
    val addSigs = media.zip(graft.operators.Materialize.par(
      media.map(_._1.derive(addDocs))))
    // the eval-side appends, as concurrent branches: each to its own
    // store, each a tick-keyed overwrite
    graft.operators.Materialize.branches(addDocs.sparkSession, Seq(
        () => leg.grams.appendTickAt(u,
          graft.operators.Contamination.grams(addDocs, leg.n)),
        () => leg.bands.appendTickAt(u, Fuzzy.corpusBandState(addDocs)),
        () => leg.shingles.appendTickAt(u,
          Fuzzy.corpusShingleHashes(addDocs))) ++
      addSigs.map { case ((_, store), a) => () => store.appendTickAt(u, a) })
    val lineage = st.text.lineage
    val vb = lineage.resolve(leg.docGrams.current().getOrElse(
        sys.error("eval leg not bootstrapped: no docGrams base")))
      .join(graft.operators.Contamination.grams(addDocs, leg.n)
        .select("h"), Seq("h"), "left_semi")
      .select("doc_id")
    val fz = Fuzzy.lshPairsAgainstState(
        lineage.resolve(st.text.bands.current().get),
        lineage.resolve(st.text.shingles.current().get),
        addDocs, leg.threshold)
      .select(col("train_id").as("doc_id"))
    val caught = addSigs.map { case ((m, _), a) =>
      Multimodal.flaggedAgainstState(a,
          lineage.resolve(m.sigs.current().get),
          Multimodal.MaxDist, Multimodal.MaxBand)
        .select(col("fid").as("doc_id"))
    }
    (vb +: fz +: caught).reduce(_ union _).distinct().localCheckpoint()
  }

  /** The id an eval update without an explicit `updateId` runs at,
    * crash-stable: the eval-side appends share one id, and a replay must
    * land the laggards at the SAME id a crashed run started — deriving
    * it from one store would open a SECOND id once that store had
    * committed, leaving duplicate eval rows that inflate
    * lshPairsAgainstState intersection counts. So the id is
    * [[nextTickOf]] over EVERY attached data store (a crash lands any
    * subset of their concurrent appends, and the max is redone),
    * clamped by the tombstone store's maxTick — tombs has no tick-1
    * bootstrap (and [[compactEval]] resets it), so it only raises the
    * agreement when it is the one that got ahead (the appends run
    * tombs-first). */
  private def evalTickOf(leg: EvalLeg): Long =
    math.max(nextTickOf(leg.data.map(_.maxTick)), leg.tombs.maxTick)

  /** [[compactEval]] under the [[compactIfNeeded]] file-count trigger
    * — the quiesce bundle's eval-lineage step (r15 advice: the bundle
    * folded only eval.docGrams via the loop-lineage pass, so eval
    * withdrawals never folded for a deployment relying solely on the
    * bundle; now they fold under the same production trigger).
    * Returns whether the fold ran. */
  def compactEvalIfNeeded(leg: EvalLeg, maxDataFiles: Long = 64): Boolean = {
    val need = leg.data.exists(_.dataFileCount > maxDataFiles)
    if (need) compactEval(leg)
    need
  }

  /** Fold the eval-side stores' withdrawals into their generations and
    * clear the eval tombstones — the [[compactIfNeeded]] discipline on
    * the eval lineage (run at quiesce points; the q140 modality sig
    * stores resolve through the same eval tombstones, so they fold in
    * the same pass). */
  def compactEval(leg: EvalLeg): Unit = leg.lineage.fold(leg.data)
}
