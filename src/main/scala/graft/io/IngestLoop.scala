package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.{Fuzzy, Materialize, Provenance, QualityModel}
import graft.operators.Provenance.Evidence

/** The DEPLOYMENT form of the multi-tick ingest loop (q106,
  * `Provenance.q106MultiTickIngest`) — the r9 verdict's top item: the
  * state-maintenance closure that makes tick N+1 reject near-dups of
  * what tick N admitted. Three [[ArtifactStore.IngestStateStore]]s
  * accumulate the corpus dedup state across ticks:
  *
  *   - `hashes`:   distinct 60-bit content hashes (`ch`) — exact gate
  *   - `bands`:    MinHash-LSH band rows (doc_id, band, x, y) — fuzzy
  *                 candidate generation
  *   - `shingles`: distinct 60-bit shingle hashes (doc_id, h) — fuzzy
  *                 exact verification
  *
  * [[bootstrap]] seeds all three from the existing corpus (tick 1 —
  * the ONLY time corpus text is read); each [[runTick]] judges its
  * batch against `current()` state (the q103 verdict precedence:
  * exact → fuzzy → low_quality → new) and appends the ADMITTED docs'
  * increments as the next tick — exact/fuzzy dups were never ingested
  * and low-quality docs were rejected, so neither enters the state,
  * and a near-dup of a tick-1 reject stays `new` at tick 2
  * (IngestLoopSpec pins both directions against the live q106).
  * [[compactIfNeeded]] folds the accumulated tick files into a
  * generation when their count crosses the trigger — the 100 TB
  * scan-throughput concern `IngestStateStore.compact` documents —
  * without changing any subsequent verdict (spec-pinned).
  *
  * Scale shape per tick: the batch derives hashes/bands/shingles
  * map-side from its own (tick-sized) text; the state side is probed
  * parquet — 8–26-byte rows, partitioned once, NEVER corpus text. The
  * one window is the tick-scoped budget rank (the q103 documented
  * exception). Fold-back writes are one small parquet append per
  * store. Difference vs the live q106 (documented, negligible): fuzzy
  * verification joins 60-bit shingle HASHES (the persisted state) not
  * shingle strings — identical up to 2^-60/pair md5 collisions
  * ([[Fuzzy.lshPairsAgainstState]]); the spec pins equality on real
  * data.
  *
  * ONE [[Legs]] VALUE PER DEPLOYMENT: a deployment builds the legs it
  * attaches beyond the dedup stores once and passes that same value as
  * `legs` to every entry point — each tick kind (ingest, budgeted,
  * re-adjudication, re-gate), the takedown ([[retractTick]]),
  * maintenance ([[compactIfNeeded]], [[quiesce]]) and the streaming
  * folds. No entry point takes a leg of its own, so no step can run
  * with a subset of the stores its neighbours advance.
  *
  * ONE [[StoreSet]] SHAPE FOR BOTH LOOPS: a multimodal loop is a text
  * loop with two [[Modality]]s (image, audio). Every entry point takes
  * a [[StoreSet]] and walks its modality list — each modality adds its
  * ladder rung, its signature fold-back and its quarantine column — so
  * one body serves a text loop (`Nil`) and a multimodal one.
  *
  * One tick = agreement → judge → [[foldAdmitted]]: fix the tick from
  * the one store list every attached store shares ([[Legs]]`.tick`,
  * which refuses while a takedown is in flight; a takedown takes
  * `agreedTick`), judge the cohort against the state as of the
  * previous tick, then append the admitted docs' increments through
  * the one fold-back. Compaction, quiesce and takedowns walk the one
  * tombstone lineage ([[Legs]]`.lineage`).
  */
object IngestLoop extends IngestLegOps {

  /** The state stores of one named ingest loop: three doc-keyed data
    * stores plus the RETRACTION tombstone store (r10 verdict item 1 —
    * the takedown leg). `hashes` rows are DOC-GRANULAR (doc_id, ch)
    * ([[Provenance.corpusDocHashes]]): retracting one of two ingested
    * docs that share a hash must keep the hash, which a bare distinct-ch
    * store cannot express. `tombs` holds (doc_id) rows of retracted
    * docs; EVERY state read resolves through their [[lineage]], so
    * correctness never depends on whether a compaction has folded
    * tombstones into the generations — the anti-join is idempotent, and
    * a crash at any point of the fold sequence leaves verdicts
    * unchanged. */
  final case class Stores(hashes: ArtifactStore.IngestStateStore,
                          bands: ArtifactStore.IngestStateStore,
                          shingles: ArtifactStore.IngestStateStore,
                          tombs: ArtifactStore.IngestStateStore)
      extends StoreSet {
    def text: Stores = this
    /** The corpus tombstone lineage every state read resolves through
      * (the streaming folds resolve their state reads through it too,
      * so a quiesce-point takedown between stream runs reaches the
      * stream's fuzzy/signature judgement as well). */
    def lineage: ArtifactStore.Lineage = ArtifactStore.Lineage(tombs, "doc_id")
    private[io] def all: Seq[ArtifactStore.IngestStateStore] =
      Seq(hashes, bands, shingles)
    private[graft] def modalities: Seq[Modality] = Nil
    type Self = Stores
    private[io] def under(spark: SparkSession, root: String,
                          name: String): Stores = stores(spark, root, name)
  }

  /** The store bundle of a multimodal ingest loop: the text [[Stores]]
    * (hashes/bands/shingles + the SHARED tombstone store — one takedown
    * retracts a doc from every modality at once) plus per-modality
    * 8-byte perceptual-signature stores (doc_id, sig). */
  final case class MmStores(text: Stores,
                            imgSigs: ArtifactStore.IngestStateStore,
                            audSigs: ArtifactStore.IngestStateStore)
      extends StoreSet {
    private[io] def all: Seq[ArtifactStore.IngestStateStore] =
      text.all ++ modalities.map(_.sigs)
    private[graft] def modalities: Seq[Modality] = Seq(
      Modality(imgSigs, Evidence.Image, "img_sig", Multimodal.imageSigs),
      Modality(audSigs, Evidence.Audio, "aud_sig", Multimodal.audioSigs))
    type Self = MmStores
    private[io] def under(spark: SparkSession, root: String,
                          name: String): MmStores = mmStores(spark, root, name)
  }

  /** One modality of a loop: its doc signature store (doc_id, sig), its
    * ladder rung, the quarantine column that carries a rejected doc's
    * STORED signature (so a re-judgment never re-reads payloads), and
    * the codec-seam derivation of a doc frame's signatures. */
  private[graft] final case class Modality(
      sigs: ArtifactStore.IngestStateStore, rung: Evidence, quarCol: String,
      derive: DataFrame => DataFrame) {
    /** The ids of `batchSigs` whose signature matches a doc in this
      * modality's state as of tick `upTo`, read through `lineage`, as
      * the rung's flag column. */
    private[graft] def flagged(lineage: ArtifactStore.Lineage, upTo: Long,
                               batchSigs: DataFrame): DataFrame =
      Multimodal.flaggedAgainstState(
          lineage.resolve(sigs.currentUpTo(upTo).get), batchSigs,
          Multimodal.MaxDist, Multimodal.MaxBand)
        .select(col("fid").as(rung.flag))
  }

  /** The one store shape every entry point takes: `text` (the dedup
    * stores and the tombstones every read resolves through), the `all`
    * core stores a tick advances, and the loop's `modalities` (`Nil`
    * for a text loop, image and audio for a multimodal one). `under`
    * names a fresh bundle of the same shape. */
  sealed trait StoreSet {
    type Self <: StoreSet
    def text: Stores
    private[io] def all: Seq[ArtifactStore.IngestStateStore]
    private[graft] def modalities: Seq[Modality]
    private[io] def under(spark: SparkSession, root: String,
                          name: String): Self
  }

  def stores(spark: SparkSession, root: String, name: String): Stores =
    Stores(
      ArtifactStore.ingestState(spark, root, s"$name/hashes"),
      ArtifactStore.ingestState(spark, root, s"$name/bands"),
      ArtifactStore.ingestState(spark, root, s"$name/shingles"),
      ArtifactStore.ingestState(spark, root, s"$name/tombs"))

  def mmStores(spark: SparkSession, root: String, name: String): MmStores =
    MmStores(stores(spark, root, name),
      ArtifactStore.ingestState(spark, root, s"$name/img_sigs"),
      ArtifactStore.ingestState(spark, root, s"$name/aud_sigs"))

  /** Seed the loop's state from the existing corpus — tick 1 in each
    * store, written IDEMPOTENTLY (`appendTickAt(1)`): a bootstrap that
    * crashed between the per-store writes is simply re-run and
    * overwrites the same tick-1 directories — an auto-increment append
    * here would instead add a SECOND copy of the corpus state, whose
    * duplicate rows break the ≤1-match state join and inflate fuzzy
    * intersection counts (the review-found hazard). The only
    * corpus-text scan the loop ever performs; each modality's payloads
    * are decoded once at the codec seam. */
  def bootstrap(st: StoreSet, corpusDocs: DataFrame): Unit = {
    st.text.hashes.appendTickAt(1, Provenance.corpusDocHashes(corpusDocs))
    st.text.bands.appendTickAt(1, Fuzzy.corpusBandState(corpusDocs))
    st.text.shingles.appendTickAt(1, Fuzzy.corpusShingleHashes(corpusDocs))
    st.modalities.foreach(m => m.sigs.appendTickAt(1, m.derive(corpusDocs)))
  }

  /** RETRACT ingested documents (takedowns: copyright, post-admission
    * PII, re-judged docs) at DOCUMENT granularity — one tombstone
    * append; no state row is rewritten until the next compaction folds
    * the tombstones. After this, a retracted doc's hash leaves the
    * exact gate (unless a surviving ingested doc shares it), its
    * band/shingle rows leave the fuzzy gate — so its duplicates stop
    * being rejected and the doc itself is re-admittable — and, when
    * the loop serves retrieval, its BM25 postings leave the index
    * (df/dl/stats re-derive exactly). Run at quiesce points only (no
    * tick in flight), like compaction: a replayed crashed tick must
    * see the same tombstone set its first run did. Works on a text and
    * a multimodal loop alike: the sig stores resolve through the shared
    * tombstones and advance with the takedown tick.
    *
    * A TAKEDOWN IS A TICK, run with the deployment's one `legs` value:
    * the subtraction legs (census, mix) land their negative increments
    * as tick-keyed writes, so every attached store advances to the
    * takedown tick `k` TOGETHER ([[Legs]]`.agreedTick`) — stores with
    * nothing to subtract get an empty tick. Otherwise the census/mix
    * stores would sit one tick ahead, the next ingest tick would
    * resolve to `k` and OVERWRITE the negative increment, silently
    * losing the takedown. `docs` is the retracted documents' table
    * (text and source): census and mix rows carry no doc_id to
    * anti-join, so it is required exactly when a census (the census
    * leg, else the curate leg's) or mix leg is attached. They subtract
    * only the docs live in the loop state below `k` — the docs their
    * increments counted: a quarantined or never-admitted doc, or one a
    * compaction already folded out (a takedown repeated after
    * [[compactIfNeeded]] cleared the tombstones), subtracts nothing.
    * [[compactIfNeeded]] refuses while a takedown is in flight, so a
    * doc leaves that state only after its takedown subtracted it.
    *
    * Replay rule, TOMBS FIRST: the takedown's ids are the ones not
    * tombstoned by an EARLIER tick; they are tombstoned at `k` before
    * anything else moves, the side effects that are not tick-keyed
    * (model unlearn, the BM25/ANN tombstones, the export re-pack — each
    * idempotent for one id set) run next, and the tick-keyed writes
    * run last. A re-run after a crash therefore either redoes `k`
    * (some store lags, the id set is the same) or finds every id
    * tombstoned below the next tick (complete-replay no-op) — it can
    * never subtract twice. Streaming deployments run takedowns at
    * RESTART boundaries ([[rollover]]): batch-id-keyed fold ticks would
    * otherwise collide with the takedown tick.
    *
    * Returns the tombstone tick number. The live, oracle-checked form
    * of the whole retraction loop is [[Provenance.q117RetractionTick]];
    * RetractionSpec pins this store form ≡ that live form. */
  def retractTick(st: StoreSet, docIds: DataFrame,
                  docs: Option[DataFrame] = None,
                  legs: Legs = Legs()): Long = {
    require(docs.isDefined == legs.subtracts,
      "retractTick takes the retracted documents (`docs`) exactly when " +
        "a census or mix leg is attached: those legs subtract by text " +
        "and source, not by doc_id")
    val lineage = st.text.lineage
    val k = legs.agreedTick(st)
    val fresh = lineage.resolve(docIds.select("doc_id"), below = k)
      .localCheckpoint()
    if (fresh.isEmpty) return lineage.tombs.maxTick // complete-replay no-op
    lineage.retractAt(k, fresh)
    // MODEL leg (q128): unlearn — retrain from the persisted reservoir
    // when the takedown reaches the serving model's training sample (a
    // generation swap; a second call with the same ids finds none of
    // them in the reservoir). The BM25 / ANN tombstones leave every
    // postings / codes read, and the EXPORT leg (q125) re-packs the
    // affected epochs — both idempotent.
    legs.model.foreach(_.unlearn(fresh))
    legs.idx.foreach(_.retractDocsAt(k, fresh))
    legs.ann.foreach(_.idx.retractVectorsAt(k,
      fresh.select(col("doc_id").as("vec_id"))))
    legs.export.foreach(_.store.retractDocs(fresh))
    // the tick-keyed writes, last. The sem sig rows and the decontam
    // docGrams carry doc_id, so the shared tombstone anti-join IS their
    // retraction — every lineage store only needs the empty tick. The
    // signed indexes (census, mix) subtract the fresh docs live in the
    // state below k: tombstones read below k, since on a redo tick k's
    // own tombstones already hold them
    legs.lineage(st.all).foreach(_.emptyTickAt(k))
    lazy val gone = docs.get.join(fresh, Seq("doc_id"), "left_semi")
      .join(lineage.resolve(st.text.hashes.currentBelow(k).get, below = k)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    legs.consumers.foreach(_.takedownAt(k, gone))
    legs.export.foreach(_.store.appendEmptyEpochAt(k))
    k
  }

  /** Roll the loop into a FRESH store generation at a stream restart
    * boundary — the executable form of the streaming takedown
    * discipline ([[graft.streaming.DocStream.foldingGatedAdmissionQuery]]'s
    * scaladoc): a Structured Streaming query restarted with a fresh
    * checkpoint resets micro-batch ids to 0, so its batch-id-keyed fold
    * ticks would COLLIDE with the previous run's; and the exact-hash
    * layer seeds from `corpusHashes` only at first start, so a takedown
    * of exact content needs a re-seed anyway. `rollover` snapshots the
    * old stores' RESOLVED state (tombstones baked in — one read per
    * store, no text; on a multimodal loop the sig stores too) as tick 1
    * of a new store generation of the same shape: the new run folds
    * from tick 2 up with no collisions, seeds its exact layer from the
    * new `hashes` tick-1 state, and every retracted doc's rows are
    * physically absent from the rolled state. DocStreamSpec pins the
    * full boundary flow: run → quiesce takedown → rollover → run, with
    * the retracted doc's exact copy and near-dup both re-admitted and a
    * surviving doc's duplicate still rejected (and, multimodal, the
    * quarantine recovery). */
  def rollover(st: StoreSet, spark: SparkSession, root: String,
               name: String): st.Self = {
    val next = st.under(spark, root, name)
    next.all.zip(st.all).foreach { case (n, s) =>
      n.appendTickAt(1, st.text.lineage.resolve(s.current().get)) }
    next
  }

  /** [[rollover]] for an attached SEMANTIC leg: the sig
    * store re-seeds — resolved through the OLD generation's tombstones
    * — as tick 1 of a fresh store under the rolled loop's name, so a
    * sem-attached tick after rollover starts from an aligned agreement
    * instead of hitting the `currentUpTo` coverage guard, and every
    * retracted doc's signature rows are physically absent from the
    * rolled state. Parameters (tables/bits/dim/threshold) and the
    * vectors side table carry over unchanged — semantic verdicts stay
    * re-derivable across the boundary, and the carried knob is
    * RE-RECORDED under the new name with [[resizeSemLeg]]'s commit
    * discipline (r14 self-audit: without the params artifact, a
    * restart that reconstructs the rolled leg via [[semLegSized]]
    * would re-size from the live count and serve a width the rolled
    * tick-1 sigs were never derived at — the silent mismatch the
    * recorded-knob rule exists to prevent; sigs land first, the params
    * overwrite is the commit point, and a name whose params are
    * already committed is refused). For a multimodal loop pass
    * `st.text` (the shared tombstone lineage). */
  def rolloverSem(st: Stores, leg: SemLeg, spark: SparkSession,
                  root: String, name: String): SemLeg = {
    val pPath = s"$root/ingest_state/$name/sem_params"
    require(!ArtifactStore.exists(spark, pPath),
      s"rolloverSem requires a FRESH generation name: '$name' already " +
        "carries committed sem_params")
    val next = SemLeg(
      ArtifactStore.ingestState(spark, root, s"$name/sem_sigs"),
      leg.vectors, leg.nTables, leg.bits, leg.dim, leg.simThreshold)
    next.sigs.appendTickAt(1, st.lineage.resolve(leg.sigs.current().get))
    import spark.implicits._
    Seq((leg.nTables, leg.bits, leg.dim)).toDF("tables", "bits", "dim")
      .coalesce(1).write.mode("overwrite").parquet(pPath)
    next
  }

  /** [[rollover]] for an attached DECONTAM leg (r12 advice): the
    * doc-side reverse index (`docGrams`) re-seeds through the CORPUS
    * tombstones and the eval-side gram/band/shingle state through the
    * EVAL tombstones — both lineages baked in — as tick 1 of a fresh
    * leg, with the new eval tombstone store empty. Without this a
    * stale docGrams (read via `current()`, unguarded) silently kept
    * pre-rollover rows, so an eval-set addition could retro-catch docs
    * the takedown had just retracted. */
  def rolloverEval(st: Stores, leg: EvalLeg, spark: SparkSession,
                   root: String, name: String): EvalLeg = {
    val next = evalLeg(spark, root, name, leg.n, leg.threshold).copy(
      imgSigs = leg.imgSigs.map(_ =>
        ArtifactStore.ingestState(spark, root, s"$name/eval_img_sigs")),
      audSigs = leg.audSigs.map(_ =>
        ArtifactStore.ingestState(spark, root, s"$name/eval_aud_sigs")))
    next.docGrams.appendTickAt(1,
      st.lineage.resolve(leg.docGrams.current().get))
    next.data.zip(leg.data).foreach { case (n, s) =>
      n.appendTickAt(1, leg.lineage.resolve(s.current().get)) }
    next
  }

  /** Roll an attached quarantine into the same fresh generation as
    * [[rollover]]'s stores: the LIVE quarantine ([[quarantineRows]])
    * re-seeds as tick 1 of a new
    * [[Quarantine]], with an empty resolvedIds base — so the rolled
    * bundle's tick agreement aligns with the rolled stores' (both at
    * tick 1) and a quiesce-point [[readjudicateTick]] recovers
    * stream-rejected docs after a takedown (the streaming quarantine
    * fold's restart-boundary contract). */
  def rolloverQuarantine(st: Stores, quar: Quarantine, spark: SparkSession,
                         root: String, name: String): Quarantine = {
    val next = quarantine(spark, root, name)
    val (rows, live) = quarantineRows(st, quar, _.current())
    next.rows.appendTickAt(1, live)
    next.resolvedIds.appendTickAt(1, rows.select("doc_id").limit(0))
    next
  }

  /** The quarantine rows `read` returns, and the LIVE part of them: rows
    * minus the ids a re-adjudication or re-gate resolved, minus the
    * corpus tombstones (a doc taken down while quarantined never
    * re-admits). */
  private def quarantineRows(st: Stores, quar: Quarantine,
                             read: ArtifactStore.IngestStateStore =>
                               Option[DataFrame]): (DataFrame, DataFrame) = {
    val rows = read(quar.rows).getOrElse(
      sys.error("quarantine not bootstrapped: no tick-1 base"))
    (rows, st.lineage.resolve(
      ArtifactStore.Lineage.minus(rows, read(quar.resolvedIds), "doc_id")))
  }

  /** The live quarantine's RE-JUDGEABLE rows as of tick `t − 1`: rows
    * whose verdict is a dup class of `ladder`, minus docs re-quarantined
    * as low_quality (they already reached a post-dup verdict — the
    * low_quality row supersedes their dup rows). Severed. */
  private[io] def rejudgeable(st: Stores, quar: Quarantine, t: Long,
                              ladder: Seq[Evidence]): DataFrame = {
    val live = quarantineRows(st, quar, _.currentUpTo(t - 1))._2
    live.filter(col("verdict").isin(ladder.map(_.verdict): _*))
      .join(live.filter(col("verdict") === "low_quality").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
  }

  /** The tick this run should PRODUCE, with crash recovery: normally
    * every store agrees on maxTick T and the next tick is T+1; after a
    * crash between the per-store writes the stores disagree, and the
    * incomplete tick (the max) must be REDONE — judged against
    * `currentUpTo(t−1)` and rewritten idempotently, so a partial fold
    * can neither self-dup the replayed batch nor leave a store behind
    * (IngestLoopSpec pins the replay). Every attached consumer store
    * takes part: a crash AFTER the shingles append but BEFORE the
    * postings append would otherwise leave the three dedup stores
    * agreeing at tick T, the replay would judge the batch against its
    * own tick-T admissions, and the index would miss tick T for good. */
  private[io] def nextTickOf(done: Seq[Long]): Long = {
    require(done.min >= 1,
      "ingest loop not bootstrapped (every store — including the BM25 " +
        "index / census / ANN / export legs when attached — needs its " +
        "tick-1 base)")
    if (done.distinct.size == 1) done.head + 1 else done.max
  }

  /** The legs a deployment attaches beyond the dedup stores — built
    * ONCE and passed as the same value to every tick, takedown,
    * compaction and quiesce entry point. Every entry point checks its
    * legs before reading or writing any store, so a configuration it
    * would mishandle is refused before anything moves. */
  final case class Legs(
      idx: Option[ArtifactStore.Bm25IncrementalIndex] = None,
      census: Option[ArtifactStore.GramCensus] = None,
      ann: Option[AnnLeg] = None,
      export: Option[ExportLeg] = None,
      mix: Option[ArtifactStore.DomainMix] = None,
      quar: Option[Quarantine] = None,
      replay: Option[ReplayLeg] = None,
      sem: Option[SemLeg] = None,
      eval: Option[EvalLeg] = None,
      curate: Option[CurateLeg] = None,
      model: Option[ArtifactStore.ModelStore] = None) {
    // a takedown subtracts from the raw census only: a curate leg with a
    // census of its own would lag the takedown tick, and the next tick
    // would redo that tick, overwriting the takedown's negative census
    // and mix increments
    require(curate.forall(cl => census.forall(_ eq cl.census)),
      "a curate leg's census must be the tick's census leg")

    /** The census fed the RAW admitted text: the census leg, else the
      * curate leg's. */
    private[io] def rawCensus: Option[ArtifactStore.GramCensus] =
      census.orElse(curate.map(_.census))

    /** Every store in the CORPUS tombstone lineage: the `core` dedup
      * stores plus the legs' doc-keyed stores (sem sigs, eval docGrams,
      * quarantine rows/resolvedIds, replay feats). All of them read
      * through [[Stores.lineage]], so a takedown tick advances every
      * one, and a compaction that resets the tombstones must fold every
      * one in the same pass — folding a subset and resetting would
      * resurface a retracted doc's rows (and a re-adjudication could
      * then RE-ADMIT a doc the takedown named). */
    private[io] def lineage(core: Seq[ArtifactStore.IngestStateStore])
        : Seq[ArtifactStore.IngestStateStore] =
      core ++ sem.map(_.sigs) ++ eval.map(_.docGrams) ++
        quar.toSeq.flatMap(q => Seq(q.rows, q.resolvedIds)) ++
        replay.map(_.feats)

    /** The consumer indexes (BM25 postings, raw census, ANN codes,
      * domain mix), each with its own compaction and gc — every index
      * folds its OWN retraction lineage (BM25 and ANN their private
      * tombstones; census and mix subtract). */
    private[io] def consumers: Seq[ArtifactStore.MaintainedIndex] =
      idx.toSeq ++ rawCensus ++ ann.map(_.idx) ++ mix

    /** The maxTick of the stores every takedown over `st` moves and the
      * tombstones do not stand in for: the text core stores (moved
      * after the takedown's non-tick-keyed effects), every consumer
      * store and the export (moved last, the census and mix
      * subtraction among them). */
    private def takedownTicks(st: StoreSet): Seq[Long] =
      (st.text.all ++ consumers.map(_.store)).map(_.maxTick) ++
        export.map(_.store.maxTick)

    /** The maxTick of the rest of the tick agreement: the doc-keyed
      * stores of the lineage over `st.all` beyond the text core (the mm
      * sig stores, the legs' lineage stores), whose rows the tombstones
      * retract. A takedown over fewer of them (`retractTick(st.text, …)`,
      * or without the quarantine leg) is complete. */
    private def docKeyedTicks(st: StoreSet): Seq[Long] =
      lineage(st.all).filterNot(st.text.all.contains).map(_.maxTick)

    /** THE TICK AGREEMENT — the tick a takedown over `st` plus these
      * legs produces: [[nextTickOf]] over every store's maxTick. Only
      * [[retractTick]] takes it directly; every other run takes [[tick]]. */
    private[io] def agreedTick(st: StoreSet): Long =
      nextTickOf(takedownTicks(st) ++ docKeyedTicks(st))

    /** Whether a takedown over `st` is IN FLIGHT, given its
      * [[takedownTicks]] `moved`: its tombstones landed at a tick one of
      * those stores has not reached — it failed before its tick-keyed
      * writes, and only a re-run finishes it. A lagging doc-keyed store
      * alone is no takedown in flight: the next tick redoes its tick. */
    private def inFlight(st: StoreSet, moved: Seq[Long]): Boolean =
      st.text.tombs.maxTick > moved.min

    /** The tick agreement of an ingest, re-adjudication or re-gate run
      * over `st`, refused while a takedown is [[inFlight]]: the run
      * would take the takedown's tick, and the takedown's re-run would
      * then find its ids tombstoned below the next tick and return as a
      * complete replay — its subtraction, model unlearn, BM25/ANN
      * tombstones and export re-pack would never run. */
    private[io] def tick(st: StoreSet): Long = {
      val moved = takedownTicks(st)
      require(!inFlight(st, moved),
        "a takedown is in flight (its tombstones are ahead of the stores): " +
          "re-run retractTick with the same ids before the next tick")
      nextTickOf(moved ++ docKeyedTicks(st))
    }

    /** Whether a takedown is subtracting: a census or mix leg is
      * attached (the signed indexes, which carry no doc_id to
      * tombstone). */
    private[io] def subtracts: Boolean = rawCensus.isDefined || mix.isDefined

    /** Whether a SUBTRACTING takedown is [[inFlight]]. Only the
      * subtraction reads the live state a fold changes; a doc-keyed
      * store's re-run after a fold repeats an idempotent tombstone. */
    private[io] def takedownPending(st: StoreSet): Boolean =
      subtracts && inFlight(st, takedownTicks(st))

    /** Compact each consumer index whose store crossed `maxDataFiles`. */
    private[io] def compactConsumers(maxDataFiles: Long): Unit =
      consumers.filter(_.store.dataFileCount > maxDataFiles)
        .foreach(_.compact())

    /** gc every attached store — the lineage over `core` and `tombs`,
      * the eval-side stores, the consumer indexes, the export and the
      * model. Returns the bytes freed. */
    private[io] def gc(core: Seq[ArtifactStore.IngestStateStore],
                       tombs: ArtifactStore.IngestStateStore): Long =
      (lineage(core :+ tombs) ++ eval.toSeq.flatMap(l => l.data :+ l.tombs))
        .map(_.gc()).sum +
        consumers.map(_.gc()).sum +
        export.map(_.store.gc()).getOrElse(0L) +
        model.map(_.gc()).getOrElse(0L)
  }

  /** `legs` with the quarantine (and replay leg) of `req` — what a
    * re-judging tick requires — attached; a `legs` already carrying a
    * different one is refused: the tick would advance one and re-judge
    * the other. */
  private[io] def withRequired(legs: Legs, req: Legs): Legs = {
    require(legs.quar.forall(q => req.quar.forall(_ == q)),
      "legs.quar must be the quarantine this tick re-judges")
    require(legs.replay.forall(r => req.replay.forall(_ == r)),
      "legs.replay must be the replay leg this tick re-gates")
    legs.copy(quar = req.quar.orElse(legs.quar),
      replay = req.replay.orElse(legs.replay))
  }

  /** THE FOLD-BACK — every tick kind's admitted docs append their
    * increments at tick `t` through here, so dedup state and every
    * consumer can never disagree about what was ingested: `hashes` (the
    * caller's (doc_id, ch) frame), the admitted docs' bands and
    * shingles, the modality `sigs` increments, and each attached leg —
    * sem signature rows, eval docGrams (the retro-catch reverse index),
    * BM25 postings and the packed export (from `served`: the curated
    * text when a curate leg is attached), the RAW census increment, ANN
    * codes under the index's CURRENT serving artifacts, and the mix
    * counts. Every append is a tick-keyed overwrite, so a redone tick
    * rewrites identical increments. */
  private[graft] def foldAdmitted(t: Long, st: Stores, hashes: DataFrame,
                                  admIds: DataFrame, admDocs: DataFrame,
                                  served: DataFrame,
                                  sigs: Seq[(ArtifactStore.IngestStateStore,
                                             DataFrame)],
                                  legs: Legs): Unit = {
    st.hashes.appendTickAt(t, hashes)
    st.bands.appendTickAt(t, Fuzzy.corpusBandState(admDocs))
    st.shingles.appendTickAt(t, Fuzzy.corpusShingleHashes(admDocs))
    sigs.foreach { case (s, df) => s.appendTickAt(t, df) }
    legs.sem.foreach(leg => leg.sigs.appendTickAt(t,
      graft.operators.SemanticGate.sigRowsOf(leg.vectors, admIds,
        leg.nTables, leg.bits, leg.dim)))
    legs.eval.foreach(leg => leg.docGrams.appendTickAt(t,
      graft.operators.Contamination.grams(admDocs, leg.n)))
    legs.idx.foreach(_.appendDocsAt(t, served))
    legs.rawCensus.foreach(_.appendDocsAt(t, admDocs))
    legs.ann.foreach { leg =>
      val (c, r) = leg.idx.servingArtifacts().getOrElse((leg.cents, leg.rcb))
      leg.idx.appendVectorsAt(t, leg.vectors.join(
        admIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        c, r)
    }
    legs.export.foreach(leg => leg.store.appendDocsAt(t, served, leg.ms))
    legs.mix.foreach(_.appendDocsAt(t, admDocs))
  }

  /** The exact-gate state and the fuzzy flags of `docs` against the
    * text stores as of tick `t − 1`, both resolved through the
    * tombstones. */
  private[io] def textEvidence(st: Stores, t: Long, docs: DataFrame,
                               threshold: Double): (DataFrame, DataFrame) = {
    val state = st.lineage.resolve(st.hashes.currentUpTo(t - 1).getOrElse(
        sys.error("ingest loop not bootstrapped: hash state is empty")))
      .select("ch").distinct()
    val fuzzy = Fuzzy.lshPairsAgainstState(
        st.lineage.resolve(st.bands.currentUpTo(t - 1).get),
        st.lineage.resolve(st.shingles.currentUpTo(t - 1).get),
        docs, threshold)
      .select(col("eval_id").as("fid")).distinct()
    (state, fuzzy)
  }

  /** The REPLAY leg's append (q134): the cohort that reached the quality
    * gate (`lq` non-null — no evidence of ANY dup class) with its gate
    * features from `texts` and its tick-time verdict, so a later model
    * re-gates it with zero text reads. */
  private[io] def appendReplay(legs: Legs, t: Long,
                               v: DataFrame, texts: DataFrame): Unit =
    legs.replay.foreach(_.feats.appendTickAt(t, v.filter(col("lq").isNotNull)
      .select(col("doc_id"), col("source"), col("lq"))
      .join(QualityModel.gateFeatures(texts), "doc_id")
      .withColumn("tick", lit(t))
      .select(replayCols: _*)))

  private def replayCols =
    Seq(col("doc_id"), col("source"), col("tick"), col("lq")) ++
      (0 until QualityModel.NumW).map(j => col(s"x$j"))

  /** A curate leg's rows for `adm` (q137): census-stripped against the
    * census as of tick `t − 1` ∪ `batch` (the winner rule), then
    * PII-scrubbed — with the per-doc rewrite counts the audit reads.
    * Severed: read by the consumer appends AND the audit. */
  private[graft] def curatedRows(cl: CurateLeg, t: Long, adm: DataFrame,
                                 batch: DataFrame): DataFrame =
    graft.operators.CurateTick.curatedDocs(adm,
      cl.census.store.currentUpTo(t - 1).getOrElse(
        sys.error("curate leg not bootstrapped: no census base")),
      batch, cl.census.increment.k, cl.topN).localCheckpoint()

  /** The text the serving consumers receive: the curated (doc_id,
    * source, text) rows with a curate leg, `adm` itself without. */
  private def servedOf(legs: Legs, t: Long, adm: DataFrame,
                       batch: DataFrame): DataFrame =
    legs.curate.map(curatedRows(_, t, adm, batch)
      .select("doc_id", "source", "text")).getOrElse(adm)

  /** The q137 rewrite audit per source: what was stripped/redacted, and
    * the curated content signature the export serves. */
  private[graft] def curateAudit(cur: DataFrame): DataFrame =
    cur.select(col("source"), col("n_tokens"), col("n_removed"),
        col("chars_redacted"),
        Provenance.contentHash60(col("text")).as("chc"))
      .groupBy("source")
      .agg(sum("n_tokens").as("tokens_raw"),
        sum("n_removed").as("tokens_removed"),
        sum("chars_redacted").as("chars_redacted"),
        expr("bit_xor(chc)").as("exact_curated_sig"))

  /** The QUOTA leg of a budgeted deployment tick (q130,
    * [[Provenance.q130BudgetedAdmission]]): per-source token budgets
    * derived from the MAINTAINED mixture counts ([[ArtifactStore
    * .DomainMix]] — zero recounts; bootstrap the mix
    * store from the corpus and usually ALSO attach it as the [[Legs]]'
    * `mix` leg so the budgets track admissions and takedowns).
    * Within each source, the tick's novel docs admit in quality-rank
    * order while the running token sum stays inside
    * `budgetFrac × novel_tokens × source_share` — only the under-budget
    * prefix folds back, so a LATER exact copy of an over-budget doc is
    * still admittable (it was never ingested; IngestLoopSpec pins it).
    * Over-budget docs are NOT quarantined: they are rate-limited, not
    * rejected on evidence — a deployment re-enqueues them upstream. */
  final case class QuotaLeg(mix: ArtifactStore.DomainMix,
                            budgetFrac: Double =
                              Provenance.DefaultBudgetFrac)

  /** The QUARANTINE of an ingest loop (q131,
    * [[Provenance.q131Readjudication]]): rejected docs are not
    * discarded — a dup verdict is derived from state rows that a later
    * takedown may remove, so rejections are held re-judgeable. `rows`
    * accumulates (doc_id, source, text, verdict) per tick —
    * quarantine is the ONE store that must keep text, because
    * re-judgment re-hashes, re-bands and re-scores it; `resolvedIds`
    * accumulates the doc_ids a [[readjudicateTick]] resolved — docs
    * that escaped the dup gates and reached a post-dup verdict
    * (re-admitted OR quality-rejected; only still-dup docs stay
    * re-judgeable) — the anti-join that removes them from the live
    * quarantine (append-only like every store; ids are arrival-unique,
    * so by-id suppression is exact). BOTH stores append every
    * tick (empty frames when nothing changed), so they participate in
    * the tick agreement and a crash between any pair of appends forces
    * a visible redo. */
  final case class Quarantine(rows: ArtifactStore.IngestStateStore,
                              resolvedIds: ArtifactStore.IngestStateStore)

  def quarantine(spark: SparkSession, root: String,
                 name: String): Quarantine =
    Quarantine(
      ArtifactStore.ingestState(spark, root, s"$name/quar_rows"),
      ArtifactStore.ingestState(spark, root, s"$name/quar_resolved"))

  /** Seed an attached quarantine's tick-1 base (idempotent, the
    * [[bootstrap]] contract): both stores start EMPTY — the corpus was
    * ingested, not rejected — but need their tick-1 directories so the
    * tick agreement's min-tick check holds. The rows take the loop's
    * [[quarantineLayout]]: each modality's signature column, a typed
    * null `long`, before `verdict` — every tick of one store must share
    * a schema. */
  def bootstrapQuarantine(st: StoreSet, quar: Quarantine,
                          corpusDocs: DataFrame): Unit = {
    quar.rows.appendTickAt(1, corpusDocs
      .select((Seq(col("doc_id"), col("source"), col("text")) ++
        st.modalities.map(m => lit(null).cast("long").as(m.quarCol)) :+
        lit("").as("verdict")): _*).limit(0))
    quar.resolvedIds.appendTickAt(1, corpusDocs.select("doc_id").limit(0))
  }

  /** The REPLAY leg of a deployment tick (q134,
    * [[Provenance.q134QualityReadjudication]]): each tick persists its
    * NOVEL cohort's 7-double gate features plus the tick-time quality
    * verdict — (doc_id, source, tick, lq, x0..x6) — so any LATER model
    * can re-gate any tick's quality window with zero text reads (the
    * q128 reservoir argument applied to the admission gate). Rows are
    * ~70 bytes/doc of the novel slice only; the store participates in
    * the tick agreement. */
  final case class ReplayLeg(feats: ArtifactStore.IngestStateStore)

  def replayLeg(spark: SparkSession, root: String, name: String): ReplayLeg =
    ReplayLeg(ArtifactStore.ingestState(spark, root, s"$name/gate_feats"))

  /** Tick-1 base for an attached replay leg: EMPTY (the corpus was
    * never gated), idempotent, schema-complete. */
  def bootstrapReplay(leg: ReplayLeg, corpusDocs: DataFrame): Unit =
    leg.feats.appendTickAt(1,
      QualityModel.gateFeatures(corpusDocs)
        .join(corpusDocs.select("doc_id", "source"), "doc_id")
        .withColumn("tick", lit(1L)).withColumn("lq", lit(false))
        .select(replayCols: _*)
        .limit(0))

  /** The SEMANTIC-DEDUP leg of a deployment tick (q135,
    * [[graft.operators.SemanticGate.q135SemanticAdmission]]) — the
    * verdict precedence extends to exact → fuzzy → SEMANTIC →
    * low_quality: the loop maintains the RP-LSH signature rows
    * (doc_id, tbl, code) of every ingested doc's embedding; each tick
    * flags batch docs that bucket-collide AND cosine-verify against
    * the state ([[graft.operators.SemanticGate.flaggedAgainstState]]),
    * and only admitted docs' signature rows fold back. `vectors` is
    * the (vec_id, embedding) side table keyed by doc_id (the
    * [[AnnLeg]] contract). The hyperplanes are FIXED deterministic
    * functions — no trained artifact, so there is no recluster re-gate
    * for this leg (the [[graft.operators.SemanticGate]] design note):
    * semantic verdicts are purely state-dependent and re-open exactly
    * like exact/fuzzy ones — [[retractTick]] frees a takedown's sig
    * rows through the shared doc-keyed tombstone anti-join, and
    * [[readjudicateTick]] re-judges quarantined `dup_semantic` docs
    * against the surviving state (cosine re-derived from the side
    * table; no payloads). The sig store participates in the tick
    * agreement. SemIngestSpec pins store ≡ live q135, both decisive
    * directions, crash replay, and the quarantine loop. */
  final case class SemLeg(sigs: ArtifactStore.IngestStateStore,
                          vectors: DataFrame,
                          nTables: Int = graft.operators.SemanticGate.DefaultTables,
                          bits: Int = graft.operators.SemanticGate.DefaultBits,
                          dim: Int = graft.operators.SemanticGate.DefaultDim,
                          simThreshold: Double =
                            graft.operators.SemanticGate.DefaultSimThreshold)

  // (sem-leg ops: semLeg/semLegSized/resizeSemLeg/semCanary*/
  // bootstrapSem/semFlags — and eval-leg ops: evalLeg/mmEvalLeg/
  // bootstrapEval/evalUpdate*Tick/compactEval/contamFlags — moved
  // to IngestLegOps.scala, mixed in below; r14 item 6 file hygiene)


  /** The DECONTAMINATION leg of a deployment tick (q136,
    * [[graft.operators.Decontam.q136DecontamTick]]) — the verdict
    * precedence extends to … → CONTAMINATED → low_quality: the loop
    * maintains EVAL-SET state (verbatim 8-gram hashes, the q66 rule,
    * plus the q88 fuzzy band/shingle state — both keyed by the eval
    * item's id) and flags batch docs hitting a LIVE eval item on
    * either channel. `docGrams` is the corpus-side doc-granular gram
    * state (doc_id, h) of every ADMITTED doc — the reverse index that
    * makes an eval-set ADDITION reach backward ([[evalUpdateTick]]'s
    * retro-catch) with zero corpus-text re-reads; it folds per loop
    * tick, participates in the tick agreement, and retracts through
    * the shared corpus tombstones like every doc-keyed store. The
    * eval-side stores have their OWN lineage (an eval update is a
    * quiesce-point operation like a takedown, never a loop tick);
    * withdrawals tombstone eval ids in `tombs` — every eval-state read
    * resolves through it, so a withdrawal takes effect without
    * rewriting any row, and [[readjudicateTick]] with this leg
    * re-judges quarantined `contaminated` docs against the live set
    * (the q131 shape: an eval set is to contamination what state rows
    * are to dup verdicts). DecontamIngestSpec pins store ≡ live q136,
    * both update directions, crash replay, and the quarantine loop. */
  final case class EvalLeg(grams: ArtifactStore.IngestStateStore,
                           bands: ArtifactStore.IngestStateStore,
                           shingles: ArtifactStore.IngestStateStore,
                           tombs: ArtifactStore.IngestStateStore,
                           docGrams: ArtifactStore.IngestStateStore,
                           n: Int = graft.operators.Decontam.DefaultN,
                           threshold: Double = 0.2,
                           // MODALITY channels (q140, r12 verdict item
                           // 6): perceptual signatures of the eval
                           // MEDIA — a held-out eval image/audio clip
                           // reaching the corpus verdicts
                           // `contaminated` like any text hit. Eval-id
                           // keyed, so the shared eval tombstones are
                           // their withdrawal too. None = text-only
                           // (q136's channels).
                           imgSigs: Option[ArtifactStore.IngestStateStore]
                             = None,
                           audSigs: Option[ArtifactStore.IngestStateStore]
                             = None) {
    /** The eval-side data stores — everything the eval tombstones
      * retract from, and the stores an eval update advances. */
    def data: Seq[ArtifactStore.IngestStateStore] =
      Seq(grams, bands, shingles) ++ imgSigs ++ audSigs

    /** The eval media signature store of a loop modality's rung. */
    private[graft] def sigsOf(rung: Evidence)
        : Option[ArtifactStore.IngestStateStore] =
      if (rung == Evidence.Image) imgSigs
      else if (rung == Evidence.Audio) audSigs
      else None

    /** The eval withdrawal lineage (eval ids — a lineage of its own). */
    def lineage: ArtifactStore.Lineage = ArtifactStore.Lineage(tombs, "doc_id")
  }


  /** The CURATED FOLD-BACK leg of a deployment tick (q137,
    * [[graft.operators.CurateTick.q137CuratedFoldback]]): admitted
    * docs' text is TRANSFORMED — census-strip (q129's winner rule over
    * the referenced maintained gram census, at ITS granularity) then
    * PII scrub (q78) — before it reaches the SERVING consumers (BM25
    * postings, packed export). Two-column provenance: the dedup stores
    * and the quarantine keep the RAW text's evidence (a later raw copy
    * still rejects; takedowns and re-adjudication see raw), and the
    * census leg keeps folding RAW text (it is the strip-rule source).
    * `census` must be the SAME index as the [[Legs]]' census leg when
    * one is attached ([[Legs]] refuses another: a takedown subtracts
    * from one raw census only, so a second census would lag the
    * takedown tick); without a census leg the RAW increment folds into
    * it, and [[retractTick]] subtracts from it. CurateTickSpec pins
    * store report ≡ live q137, the physical export slices carrying the
    * curated hashes, and raw dedup behavior unchanged by the
    * transform. */
  final case class CurateLeg(census: ArtifactStore.GramCensus,
                             topN: Int =
                               graft.operators.CurateTick.DefaultTopN)

  /** The ANN SERVING leg of a deployment tick (q124,
    * [[graft.operators.Pq.q124AnnIngestTick]]): the loop additionally
    * maintains an IVF-PQ index over the admitted docs' embeddings —
    * `vectors` is the (vec_id, embedding) side table keyed by doc_id,
    * semi-joined per tick on the admitted set; codes encode under the
    * index's CURRENT serving artifacts ([[ArtifactStore
    * .IvfPqIncrementalIndex.servingArtifacts]] — post-recluster
    * generations carry their own) falling back to the bootstrap
    * `cents`/`rcb` the caller trained on the ingested corpus. The code
    * store participates in the tick agreement, so a crash between any
    * pair of per-store appends (including after the census but before
    * the codes) redoes the whole tick idempotently. A recluster
    * between loop ticks must pass `baseTick = <current loop tick>` so
    * the rebuilt generation re-enters the agreement at the loop's tick
    * instead of resetting to 1 (AnnIngestSpec pins both). */
  final case class AnnLeg(idx: ArtifactStore.IvfPqIncrementalIndex,
                          vectors: DataFrame,
                          cents: DataFrame, rcb: DataFrame)

  /** RECALL DRIFT CANARY for an ANN leg (q120's trigger form — the
    * [[semCanaryTick]] discipline applied to the retrieval index): at
    * a quiesce point, measure frozen-vs-retrained IVFADC recall on the
    * drift-exposed split of the index's LIVE vectors
    * ([[graft.operators.Pq.annRecallDecision]]) and, when retraining
    * recovers at least `minGainHits` ground-truth hits, run the q122
    * response — [[ArtifactStore.IvfPqIncrementalIndex.recluster]] into
    * a fresh generation under the retrained artifacts (generation-swap,
    * marker-last crash discipline), re-entering the tick agreement at
    * `baseTick`. Returns the serving leg: artifacts swapped to the
    * retrained tables when the recluster ran, the given leg otherwise.
    * Unlike the ~1 s sem census this costs a bounded retrain +
    * canary-sized ground truth (the q120 scale shape) — still a
    * quiesce-point cost, not a per-tick one. */
  def annCanaryTick(leg: AnnLeg, baseTick: Long,
                    nQueries: Int = 32,
                    kTop: Int = graft.operators.Pq.DefaultTopK,
                    minGainHits: Long = 1L): AnnLeg = {
    val live = leg.vectors.join(
      leg.idx.codes().select("vec_id").distinct(), Seq("vec_id"),
      "left_semi")
    val (resize, cFr, rcbFr) = graft.operators.Pq.annRecallDecision(
      live, nQueries = nQueries, kTop = kTop, minGainHits = minGainHits)
    if (!resize) leg
    else {
      leg.idx.recluster(live, cFr, rcbFr, baseTick = baseTick)
      leg.copy(cents = cFr, rcb = rcbFr)
    }
  }

  /** The EXPORT leg of a deployment tick (q125,
    * [[graft.operators.Packing.q125ExportRetraction]]): the loop
    * additionally maintains the physical training shards — each tick's
    * ADMITTED docs pack tick-locally under the FROZEN merge list `ms`
    * (retraining the tokenizer is the q119 gated choice, never an
    * implicit per-tick side effect) and land as their own export epoch
    * ([[ArtifactStore.PackedExportStore]]). The export participates in
    * the tick agreement via its maxTick, so a crash between any other
    * append and the export's makes the lag visible and the whole tick
    * redoes; the export side of a REDONE tick writes identical slices
    * as the tick's next revision (complete-or-invisible), so replays
    * are idempotent in effect. [[retractTick]]'s export leg re-packs
    * affected epochs from stored counts — the takedown reaches the
    * shards a training job actually streams. */
  final case class ExportLeg(store: ArtifactStore.PackedExportStore,
                             ms: Seq[String])

  /** CERTIFY-AT-QUIESCE hook for the export leg (r13 verdict item 1):
    * seal the store under the LOOP'S OWN tombstone state — the q132
    * liveness input is the corpus takedown set the loop already
    * maintains, so certification needs nothing the deployment doesn't
    * have. Run at quiesce points after the tick(s)/takedowns/
    * compactions that advanced the store; until sealed, the new
    * epochs/revisions are refused by [[ArtifactStore.PackedExportStore
    * .servedSlices]] (the training read path) and by
    * [[ArtifactStore.ConsumptionStore.record]]'s structural overload —
    * the gate binds at the boundary, not at the consumer's discretion.
    * `docSources` is the narrow (doc_id, source) relation for the mix
    * check. STREAMS inherit the same seam: a stream-folded export is
    * sealed at the stream's quiesce/rollover boundary with the same
    * call (the stores' tombstone lineage is shared — for a multimodal
    * loop pass `st.text`), after which the roll → seal → record
    * recipe makes streaming consumption auditable end to end
    * (DocStreamSpec pins the flow). ORDERING caveat for manual
    * composition (r15 advice): this reads `st.tombs` LIVE — a
    * [[compactIfNeeded]] run in the same quiesce resets it, so seal
    * BEFORE compacting, or use [[quiesce]], whose kernel captures
    * the tombstone set at bundle entry and is immune to the
    * ordering. */
  def sealExport(st: Stores, leg: ExportLeg, docSources: DataFrame,
                 minFillMicro: Long =
                   graft.operators.Packing.DefaultMinFillMicro,
                 mixTolMicros: Long =
                   graft.operators.Packing.DefaultMixTolMicros)
      : DataFrame = {
    val tombs = st.tombs.current().map(_.select("doc_id"))
      .getOrElse(docSources.select("doc_id").limit(0))
    leg.store.seal(docSources, tombs, minFillMicro, mixTolMicros)
  }

  /** Judge one batch against the accumulated state, fold the admitted
    * docs' increments back, and return the per-source q103 report
    * (n_batch / n_dup_exact / n_dup_fuzzy / n_low_quality / n_new).
    * `w` is the frozen quality model — a deployment retrains between
    * ticks (the q104 monitoring read), never within one.
    *
    * Crash discipline: the tick number is
    * fixed up front ([[Legs]]`.tick`), the state is read AS OF the
    * previous tick (`currentUpTo` — a half-written fold from a crashed
    * run of THIS tick is invisible), and all fold-back writes are
    * tick-keyed overwrites — so re-running a crashed tick reproduces
    * identical verdicts and completes the missing store writes instead
    * of judging admitted docs against their own half-folded hashes.
    *
    * The admitted set is derived once from the checkpointed verdict
    * frame and feeds every store the `legs` attach — BM25 postings,
    * the gram census, the served IVF-PQ codes, the packed export epoch
    * and the domain mix — so no store can disagree about what was
    * ingested, and every one of them takes part in the tick agreement
    * (IngestLoopSpec pins the consumer legs and the replay).
    *
    * On a MULTIMODAL loop ([[MmStores]]) this is the deployment form of
    * [[graft.multimodal.Multimodal.q118MultimodalAdmission]]: the batch
    * is judged once across all modalities (precedence exact text →
    * fuzzy text → image sig → audio sig → low_quality → new) against
    * the accumulated five-store state, and ONLY admitted docs fold back
    * into every store — so tick N+1 rejects an image/audio near-dup of
    * what tick N admitted (MmIngestSpec pins the fold-back per modality
    * and the replay across a crash between any per-store writes). The
    * batch signatures derive once at the codec seam; an mm quarantine
    * row carries them, so a re-adjudication re-judges the modality
    * rungs without re-reading payloads, and an attached eval leg's
    * media stores (q140) add their channels to `contaminated`. A curate
    * leg is refused: the modality folds serve the raw admitted text. */
  def runTick(st: StoreSet, batchDocs: DataFrame, w: Seq[Double],
              threshold: Double = 0.2, lowFrac: Double = 0.25,
              legs: Legs = Legs()): DataFrame =
    runTickImpl(st, batchDocs, w, threshold, lowFrac, None, legs)

  private def runTickImpl(st: StoreSet, batchDocs: DataFrame, w: Seq[Double],
                          threshold: Double, lowFrac: Double,
                          quota: Option[QuotaLeg], legs: Legs): DataFrame = {
    refuseCurate(st, legs)
    val t = legs.tick(st)
    // every state read resolves through the tombstone store: retracted
    // docs' rows are invisible whether or not a compaction folded them
    val (state, fuzzy) = textEvidence(st.text, t, batchDocs, threshold)
    // batch signatures derive map-side at the codec seam; severed — the
    // flag chain reads each twice and the fold-back a third time
    val sigs = batchSigs(st, batchDocs)
    // the q103/q106 kernel over the ladder of the attached legs (q135
    // semantic, q136 contamination) and the loop's modalities; the
    // returned frame is checkpointed, so the fold-back writes and the
    // report never re-run the chain
    val flags = Seq(Evidence.Fuzzy -> fuzzy) ++
      legs.sem.map(leg => Evidence.Semantic ->
        semFlags(st.text, leg, t, batchDocs.select("doc_id"))) ++
      legs.eval.map(leg => Evidence.Contaminated ->
        contamFlags(leg, batchDocs, sigs)) ++
      sigs.map { case (m, s) => m.rung -> m.flagged(st.text.lineage, t - 1, s) }
    val ladder = Provenance.ladder(flags.map(_._1): _*)
    val v = Provenance.gatedTickFrame(batchDocs, state, flags, w, lowFrac)
    // the admitted set: every novel doc — or, on a BUDGETED tick
    // (q130), the quality-ranked under-budget prefix per source, with
    // budgets derived from the maintained mix counts
    val (admIds, report) = quota match {
      case None =>
        (v.filter(col("lq") === false).select("doc_id"),
          Provenance.gatedTickReport(v, ladder))
      case Some(q) =>
        val srcCounts = q.mix.read()
          .select(col("source"), col("n_docs").as("n_src"))
        val bf = Provenance.budgetedFrame(v, batchDocs, srcCounts,
          q.budgetFrac)
        (bf.filter(col("admitted")).select("doc_id"),
          Provenance.budgetedTickReport(v, bf, srcCounts, q.budgetFrac,
            ladder))
    }
    val admDocs = batchDocs.join(admIds, Seq("doc_id"), "left_semi")
    // CURATED FOLD-BACK (q137): the serving consumers receive the
    // transformed text; the dedup stores keep folding RAW evidence
    // (two-column provenance)
    val curRows = legs.curate.map(curatedRows(_, t, admDocs, batchDocs))
    foldAdmitted(t, st.text, v.join(admIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("h").as("ch")), admIds, admDocs,
      curRows.map(_.select("doc_id", "source", "text")).getOrElse(admDocs),
      sigs.map { case (m, s) =>
        m.sigs -> s.join(admIds, Seq("doc_id"), "left_semi") },
      legs)
    // QUARANTINE leg (q131): evidence/quality rejections are held
    // re-judgeable, with their batch signatures on a multimodal loop;
    // over-budget docs are NOT quarantined (rate-limited, not rejected
    // on evidence — see QuotaLeg). resolvedIds appends an empty frame
    // so both quarantine stores stay in the tick agreement.
    legs.quar.foreach { qs =>
      val rej = v.filter(!Provenance.novel(ladder) || col("lq") === true)
        .withColumn("verdict", Provenance.verdictOf(ladder))
        .join(batchDocs.select("doc_id", "text"), "doc_id")
      qs.rows.appendTickAt(t, quarantineLayout(rej, sigs))
      qs.resolvedIds.appendTickAt(t, admIds.limit(0))
    }
    appendReplay(legs, t, v, batchDocs)
    // with a curate leg the report carries the q137 rewrite audit
    curRows match {
      case None => report
      case Some(cr) =>
        report.join(curateAudit(cr), Seq("source"), "left")
          .withColumn("tokens_raw", coalesce(col("tokens_raw"), lit(0L)))
          .withColumn("tokens_removed",
            coalesce(col("tokens_removed"), lit(0L)))
          .withColumn("chars_redacted",
            coalesce(col("chars_redacted"), lit(0L)))
          .withColumn("exact_curated_sig",
            coalesce(col("exact_curated_sig"), lit(0L)))
          .orderBy("source")
    }
  }

  /** A multimodal fold serves the raw admitted text: a curate leg would
    * be silently skipped, so a loop with modalities refuses it. */
  private def refuseCurate(st: StoreSet, legs: Legs): Unit =
    require(st.modalities.isEmpty || legs.curate.isEmpty,
      "a multimodal tick has no curated fold-back: detach the curate leg")

  /** Each modality of `st` with the (doc_id, sig) signatures of `docs`,
    * derived at the codec seam and severed concurrently (`Nil` on a text
    * loop: nothing runs). */
  private[graft] def batchSigs(st: StoreSet, docs: DataFrame)
      : Seq[(Modality, DataFrame)] =
    st.modalities.zip(Materialize.par(st.modalities.map(_.derive(docs))))

  /** Rejected rows (doc_id, source, text, verdict) in the quarantine row
    * layout of the loop: each modality's batch signature joins in as
    * its quarantine column, before `verdict`. */
  private[graft] def quarantineLayout(rej: DataFrame,
                                      sigs: Seq[(Modality, DataFrame)])
      : DataFrame =
    sigs.foldLeft(rej) { case (acc, (m, s)) =>
        acc.join(s.select(col("doc_id"), col("sig").as(m.quarCol)),
          Seq("doc_id"), "left")
      }
      .select((Seq("doc_id", "source", "text") ++ sigs.map(_._1.quarCol) :+
        "verdict").map(col): _*)

  /** File-count-triggered compaction (the production trigger the r9
    * verdict names): when any store's backing data-file count crosses
    * `maxDataFiles`, fold every store of the tombstone lineage
    * ([[Legs]]`.lineage` over `st.all` — on a multimodal loop the sig
    * stores too) into its current generation —
    * applying the tombstone anti-join while folding, so retracted docs'
    * rows physically leave the state. The tombstone store is cleared
    * only once every data store folded (a skipped single-gen fold keeps
    * it; the read-path anti-join makes either outcome verdict-invariant,
    * which is also why any crash ordering here is safe — spec-pinned).
    * Returns whether compaction ran. Run at quiesce points only (see
    * `IngestStateStore.currentUpTo`). The eval-SIDE stores fold via
    * compactEval — their tombstones are eval ids, a separate lineage.
    *
    * Refused while a takedown with a census or mix leg is in flight
    * ([[Legs]]`.takedownPending`): the fold would drop its docs from
    * the state before the census and mix subtracted them, and its
    * re-run — which subtracts only docs live in that state — would then
    * never subtract them. */
  def compactIfNeeded(st: StoreSet, maxDataFiles: Long = 64,
                      legs: Legs = Legs()): Boolean = {
    require(!legs.takedownPending(st),
      "a takedown is in flight (its tombstones are ahead of the stores): " +
        "re-run retractTick with the same ids before compacting")
    val all = legs.lineage(st.all)
    val need = all.exists(_.dataFileCount > maxDataFiles)
    if (need) st.text.lineage.fold(all)
    need
  }

  /** What [[quiesce]] did: the compaction flags (loop lineage /
    * eval lineage), the SERVING legs the deployment keeps (fresh
    * generations when a canary resized / reclustered, the given legs
    * otherwise), the export's re-seal certificate, and the bytes the
    * gc step freed. */
  final case class QuiesceResult(compacted: Boolean,
                                 sem: Option[SemLeg],
                                 semResized: Boolean,
                                 ann: Option[AnnLeg],
                                 annReclustered: Boolean,
                                 cert: Option[DataFrame],
                                 evalCompacted: Boolean = false,
                                 gcBytes: Long = 0L)

  /** THE QUIESCE COMPOSE-POINT (r14 verdict item 3): one call a
    * deployment makes between ticks that runs the whole maintenance
    * bundle over its one `legs` value, so drift detection is STRUCTURAL
    * — attached to the quiesce point itself, not to the caller
    * remembering each canary (the same move [[ArtifactStore
    * .PackedExportStore.seal]] made for certification: a deployment
    * that grows 2×+ past its bootstrap sizing resizes because it
    * quiesces, not because a test or an operator wired the canary).
    * Works on a text and a multimodal loop alike: the image/audio sig
    * stores resolve through the SHARED text tombstones, so they fold in
    * the same pass before those tombstones reset, and gc covers them
    * too. Runs, in order:
    *
    *  1. [[compactIfNeeded]] — loop-lineage store folds + the shared
    *     tombstone reset (an attached sem leg's sigs, an eval leg's
    *     docGrams, the quarantine stores, and a replay leg's feats
    *     fold in this pass — they all resolve through the SHARED
    *     corpus tombstones, which is why the deployment's one `legs`
    *     value matters: a leg left out here would resurface a
    *     taken-down doc's rows after the reset);
    *  2. [[IngestLegOps.compactEvalIfNeeded]] when an eval leg is
    *     attached — the EVAL-side lineage (grams/bands/shingles +
    *     modality sigs, withdrawals via the eval tombstones) folds
    *     under the same file-count trigger — and so do the CONSUMER
    *     indexes ([[Legs]]`.compactConsumers`: BM25 postings, raw
    *     census, domain mix, ANN codes, each through its own
    *     `compact()` and its own retraction lineage);
    *  3. [[semCanaryTick]] when a sem leg is attached — the ~1 s
    *     occupancy census (q141), resizing into `semNextName`'s
    *     generation at the occupancy width when drifted;
    *  4. [[annCanaryTick]] when an ANN leg is attached AND
    *     `annBaseTick` is set — the q120 recall canary, reclustering
    *     under retrained artifacts when retraining recovers hits
    *     (opt-in per quiesce via `annBaseTick`: unlike the census it
    *     costs a bounded retrain, so a deployment states the tick the
    *     rebuilt generation re-enters the agreement at);
    *  5. gc (opt-out via `gcStores = false`) — every attached store's
    *     `gc()` ([[Legs]]`.gc`): whatever steps 1–4 just shadowed
    *     (folded generations, superseded recluster generations, stale
    *     revisions) and crash leftovers. Runs after the canaries so a
    *     bundle-triggered resize/recluster is collected in the same
    *     quiesce, and before the seal so the certificate still lands
    *     LAST;
    *  6. [[sealExport]] when an export leg is attached — LAST, so the
    *     recorded certificate covers whatever state the bundle left.
    *     The seal's liveness input is the tombstone set CAPTURED AT
    *     BUNDLE ENTRY (r15 advice): step 1's fold resets the shared
    *     tombstone store, and sealing from the post-reset (empty)
    *     tombs would certify 'serve' for an export that still carries
    *     a retracted doc (a takedown that ran without the export leg
    *     attached) — the pre-compaction capture catches exactly that.
    *
    * Returns the serving legs; the deployment keeps what comes back
    * (the [[semCanaryTick]] contract, now bundle-wide). */
  def quiesce(st: StoreSet, spark: SparkSession, root: String,
              legs: Legs = Legs(),
              semNextName: Option[String] = None,
              annBaseTick: Option[Long] = None,
              annMinGainHits: Long = 1L,
              docSources: Option[DataFrame] = None,
              maxDataFiles: Long = 64,
              minFillMicro: Long =
                graft.operators.Packing.DefaultMinFillMicro,
              mixTolMicros: Long =
                graft.operators.Packing.DefaultMixTolMicros,
              gcStores: Boolean = true)
      : QuiesceResult = {
    require(legs.sem.isEmpty || semNextName.isDefined,
      "quiesce with a sem leg needs semNextName — the fresh generation " +
        "name a canary-triggered resize lands under (resizeSemLeg " +
        "refuses a committed name, so pass a new one per resize)")
    require(legs.export.isEmpty || docSources.isDefined,
      "quiesce with an export leg needs docSources — the (doc_id, " +
        "source) relation the seal's mix certificate reads")
    // the seal's liveness input, captured BEFORE the fold can reset
    // the shared tombstone store (r15 advice — see step 6 above);
    // localCheckpoint: the frame must survive the reset's file deletes
    val preTombs = legs.export.flatMap(_ => st.text.tombs.current()
      .map(_.select("doc_id").localCheckpoint()))
    val compacted = compactIfNeeded(st, maxDataFiles, legs)
    val evalCompacted = legs.eval.exists(l =>
      compactEvalIfNeeded(l, maxDataFiles))
    legs.compactConsumers(maxDataFiles)
    val semServed = legs.sem.map(l =>
      semCanaryTick(st.text, l, spark, root, semNextName.get))
    val semResized = legs.sem.zip(semServed).exists { case (a, b) => a ne b }
    val annServed = (legs.ann, annBaseTick) match {
      case (Some(l), Some(bt)) =>
        Some(annCanaryTick(l, bt, minGainHits = annMinGainHits))
      case _ => legs.ann
    }
    val annReclustered =
      legs.ann.zip(annServed).exists { case (a, b) => a ne b }
    val gcBytes = if (gcStores) legs.gc(st.all, st.text.tombs) else 0L
    val cert = legs.export.map { leg =>
      val tombs = preTombs.getOrElse(
        docSources.get.select("doc_id").limit(0))
      leg.store.seal(docSources.get, tombs, minFillMicro, mixTolMicros)
    }
    QuiesceResult(compacted, semServed, semResized,
      annServed, annReclustered, cert, evalCompacted, gcBytes)
  }

  /** One BUDGETED admission tick — the deployment form of
    * [[Provenance.q130BudgetedAdmission]]: the q103 gate runs
    * unchanged, then each source's novel docs admit in quality-rank
    * order under the [[QuotaLeg]] token budgets; ONLY the under-budget
    * prefix folds back into the state (and any consumer legs), and the
    * report carries the q130 accounting columns. Same crash/replay
    * discipline as [[runTick]]. */
  def runBudgetedTick(st: Stores, batchDocs: DataFrame, w: Seq[Double],
                      quota: QuotaLeg,
                      threshold: Double = 0.2, lowFrac: Double = 0.25,
                      legs: Legs = Legs()): DataFrame =
    runTickImpl(st, batchDocs, w, threshold, lowFrac, Some(quota), legs)

  /** RE-ADJUDICATE the quarantine — the deployment form of
    * [[Provenance.q131Readjudication]], run after a [[retractTick]]
    * (or any state change) at a quiesce point: the live quarantine's
    * DUP-CLASS rows (exact/fuzzy — evidence-dependent verdicts;
    * low-quality rows re-enter via the model loop — [[regateTick]],
    * q134 — not this one)
    * re-judge against the CURRENT state under the frozen model and the
    * full gate discipline, and docs that now pass fold back into every
    * state store and consumer leg like any admission. The
    * re-adjudication is itself a tick in the store agreement: all
    * writes are tick-keyed overwrites, the state is read as of the
    * previous tick, and `resolvedIds` records the re-admitted ids (the
    * anti-join that removes them from the live quarantine) — so a
    * crash between any pair of appends redoes the tick with identical
    * verdicts. Quarantine reads resolve through the shared tombstone
    * store too: a doc taken down WHILE quarantined never re-admits.
    *
    * Returns the q131 report (per source, original × re-adjudicated
    * verdict counts). ReadjudicationSpec pins store form ≡ the live
    * q131, the no-takedown control (nothing re-admits), replay
    * idempotence, and the fold-back (a later duplicate of a re-admitted
    * doc is rejected).
    *
    * An attached [[ReplayLeg]] advances with this tick too (without
    * it, a loop running ticks with both legs would leave feats
    * one tick behind, and the NEXT replay-attached tick's agreement
    * would resolve to this tick and silently overwrite it — the same
    * class as the takedown-tick bug): the quality-windowed cohort's
    * gate features append at `t` with their re-adjudication-time
    * verdicts, which is also what re-opens a re-adjudication-time
    * quality rejection via [[regateTick]] — such a doc is
    * RE-QUARANTINED under verdict 'low_quality' (its dup rows become
    * historical: a low_quality row supersedes a doc's dup-class rows in
    * the live-dup selection), so a later model swap can still flip it
    * and its text is still at hand. Only RE-ADMITTED docs resolve.
    *
    * On a MULTIMODAL loop ([[MmStores]]) this is the deployment form of
    * [[graft.multimodal.Multimodal.q133MmReadjudication]]: the image and
    * audio rows re-judge too, from the sig stores via the quarantine
    * rows' STORED 8-byte signatures (no payload reads; a doc's
    * signature is a function of the doc, not of the state), and the
    * re-admitted docs' signatures fold into the sig stores. MmIngestSpec
    * pins store ≡ the live q133 and the image-leg decisive contrast. */
  def readjudicateTick(st: StoreSet, quar: Quarantine, w: Seq[Double],
                       threshold: Double = 0.2, lowFrac: Double = 0.25,
                       legs: Legs = Legs()): DataFrame = {
    refuseCurate(st, legs)
    val l = withRequired(legs, Legs(quar = Some(quar)))
    val t = l.tick(st)
    // the ladder of the attached legs and the loop's modalities:
    // semantic / contaminated rows re-judge ONLY when their leg is
    // attached — without its state the re-judgment would silently skip
    // that gate and wrongly re-admit them
    val mods = st.modalities
    val ladder = Provenance.ladder(l.sem.map(_ => Evidence.Semantic).toSeq ++
      l.eval.map(_ => Evidence.Contaminated) ++ mods.map(_.rung): _*)
    val dupRows = rejudgeable(st.text, quar, t, ladder)
    val (state, fuzzy) = textEvidence(st.text, t, dupRows, threshold)
    // the stored signatures, per modality
    val sigs = mods.map(m =>
      m -> dupRows.select(col("doc_id"), col(m.quarCol).as("sig")))
    val v = Provenance.gatedTickFrame(
      dupRows.select("doc_id", "source", "text"), state,
      Seq(Evidence.Fuzzy -> fuzzy) ++
        l.sem.map(leg => Evidence.Semantic ->
          semFlags(st.text, leg, t, dupRows.select("doc_id"))) ++
        l.eval.map(leg => Evidence.Contaminated ->
          contamFlags(leg, dupRows.select("doc_id", "text"), sigs)) ++
        sigs.map { case (m, s) =>
          m.rung -> m.flagged(st.text.lineage, t - 1, s) },
      w, lowFrac)
    val admIds = v.filter(col("lq") === false).select("doc_id")
    val admDocs = dupRows.join(admIds, Seq("doc_id"), "left_semi")
    // the re-judged cohort is the batch for the curate winner rule
    foldAdmitted(t, st.text, v.filter(col("lq") === false)
        .select(col("doc_id"), col("h").as("ch")), admIds, admDocs,
      servedOf(l, t, admDocs.select("doc_id", "source", "text"),
        dupRows.select("doc_id", "source", "text")),
      mods.map(m => m.sigs -> storedSigs(admDocs, m.quarCol)), l)
    // docs that escaped the dup gates but landed in the quality window
    // RE-QUARANTINE under their NEW evidence class: their dup verdicts
    // are gone, and a low_quality row is what regateTick's model loop
    // re-opens — dropping them would make re-adjudication-time quality
    // rejections terminal, contradicting the q134 symmetry. The new row
    // supersedes the doc's dup rows in [[rejudgeable]] and keeps the
    // stored signatures (a later re-adjudication of a regate-readmitted
    // partner still has them); tick-keyed, so a replay overwrites it.
    val keep = (Seq("doc_id", "source", "text") ++ mods.map(_.quarCol))
      .map(col)
    quar.rows.appendTickAt(t, v.filter(col("lq") === true)
      .select("doc_id")
      .join(dupRows.select(keep: _*), "doc_id")
      .select(keep :+ lit("low_quality").as("verdict"): _*))
    // RESOLVED = re-admitted (folded into the state above): still-dup
    // docs stay re-judgeable under their dup rows; quality-rejected
    // docs stay re-judgeable under their new low_quality rows.
    quar.resolvedIds.appendTickAt(t,
      v.filter(col("lq") === false).select("doc_id"))
    // the re-adjudication's quality-windowed cohort is this tick's
    // novel cohort
    appendReplay(l, t, v, dupRows.select("doc_id", "text"))
    Provenance.readjReport(v,
      dupRows.select(col("doc_id"), col("verdict").as("verdict_t1")), ladder)
  }

  /** RE-GATE the quality window under a NEW model — the deployment
    * form of [[Provenance.q134QualityReadjudication]], run at a quiesce
    * point after a q113 model swap (pass
    * `modelStore.servingWeights()`): every persisted tick's NOVEL
    * cohort re-scores from its STORED gate features (zero text reads)
    * and the quality window recomputes PER TICK (tick-sized windows —
    * never a corpus-sized sort). A doc quality-rejected at tick time
    * that now clears its tick's window re-admits — its text comes from
    * the live quarantine, it folds into every store and consumer leg,
    * and its id joins `resolvedIds`; a repeated re-gate under the same
    * model is a no-op (the flip set is intersected with the LIVE
    * quarantine). Demotions (admitted docs the new model ranks into
    * the window) are REPORTED, never retracted — admission is
    * append-only short of a takedown, and the count is the audit
    * signal. Same tick/crash discipline as [[readjudicateTick]];
    * state reads resolve through the tombstone store, so a retracted
    * doc leaves the re-gate cohort too.
    *
    * Returns per source: n_novel, n_lowq_t1, n_readmitted,
    * n_still_lowq, n_demoted (the q134 columns minus the live form's
    * decision column — the CHOICE happened upstream in the q113/q128
    * machinery that produced `wNew`).
    *
    * On a MULTIMODAL loop ([[MmStores]]: its [[runTick]] persists gate
    * features too) the five mm stores advance together, and the
    * re-admitted docs' STORED 8-byte signatures (the mm quarantine rows
    * carry them) fold into the modality sig stores — a later mm tick
    * rejects an image/audio near-dup of a regate-readmitted doc, with
    * no payload reads. */
  def regateTick(st: StoreSet, quar: Quarantine, replay: ReplayLeg,
                 wNew: Seq[Double], lowFrac: Double = 0.25,
                 legs: Legs = Legs()): DataFrame = {
    val l = withRequired(legs, Legs(quar = Some(quar), replay = Some(replay)))
    val t = l.tick(st)
    val feats = st.text.lineage.resolve(replay.feats.currentUpTo(t - 1).getOrElse(
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
    // the actually-re-admittable set: flipped out of the window AND
    // still quarantined (text and stored signatures live there;
    // already-resolved docs and takedowns drop out here)
    val (rows, live) = quarantineRows(st.text, quar, _.currentUpTo(t - 1))
    val admRows = live.filter(col("verdict") === "low_quality")
      .join(flipped.filter(col("was_lowq") && !col("lq2"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .select((Seq("doc_id", "source", "text") ++ st.modalities.map(_.quarCol))
        .map(col): _*)
      .localCheckpoint()
    val admDocs = admRows.select("doc_id", "source", "text")
    val admIds = admDocs.select("doc_id")
    foldAdmitted(t, st.text, admDocs.select(col("doc_id"),
        Provenance.contentHash60(col("text")).as("ch")), admIds, admDocs,
      servedOf(l, t, admDocs, admDocs),
      st.modalities.map(m => m.sigs -> storedSigs(admRows, m.quarCol)), l)
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

  /** A multimodal quarantine column's STORED signatures as sig-store rows
    * (doc_id, sig) — docs without that modality drop out. */
  private[io] def storedSigs(rows: DataFrame, c: String): DataFrame =
    rows.select(col("doc_id"), col(c).as("sig")).filter(col("sig").isNotNull)
}
