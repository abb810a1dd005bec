package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.{ArtifactStore, IngestLoop}
import graft.operators.Provenance.Evidence

/** Streaming deduplication over a document stream — the incremental
  * form of the batch exact-dedup operator (q21): emit each distinct
  * content exactly once, on first arrival.
  *
  * Built on Structured Streaming's stateful `dropDuplicates` family —
  * the Spark-first answer (no custom state operator needed): the state
  * store keeps one entry per distinct key and the first-seen row wins,
  * deterministically, across micro-batches and restarts (state is
  * checkpointed).
  *
  * Scale posture: state is keyed by the 128-bit content hash, NOT the
  * text — O(16 bytes + rocksdb overhead) per distinct document, and the
  * hash is computed map-side so only (doc_id, hash) ever shuffles. For
  * an unbounded corpus the unbounded variant's state grows with
  * distinct contents; [[dedupWithinWatermark]] is the bounded-state
  * deployment mode — duplicates are only suppressed within the
  * watermark horizon, after which state is evicted (the standard
  * trade: re-admitted late duplicates vs bounded memory).
  */
object DocStream {

  /** Stream element: a document with an ingestion timestamp (ns). */
  case class Doc(doc_id: Long, ts: Long, text: String)

  /** Unbounded first-seen exact dedup: one output row per distinct
    * content, the first arrival. Append-mode safe. */
  def dedupFirstSeen(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .dropDuplicates("text_md5")

  /** Watermark-bounded dedup: suppress duplicates arriving within
    * `watermark` of the original (event-time); state for keys older
    * than the watermark is evicted, so a duplicate after the horizon
    * re-emits. `ts` is nanoseconds (integral `div`, not `/`: double
    * division corrupts the low microseconds above 2^53). */
  def dedupWithinWatermark(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .select(col("doc_id"),
        timestamp_micros(expr("ts div 1000")).as("ts_utc"),
        md5(col("text")).as("text_md5"))
      .withWatermark("ts_utc", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming corpus curation — the incremental form of the batch q40
    * pipeline: quality/language gate (the same row-local
    * [[graft.operators.LangQuality]] expressions — stateless, map-side)
    * → first-seen exact dedup (stateful, hash-keyed) → per-language
    * token accounting over event-time windows (watermarked, append-mode
    * emittable once the window closes).
    *
    * This is the shape of a production ingest loop: every operator is
    * the already-vetted batch expression, and the only state is the
    * dedup keys plus one open aggregation window per language. Near-dup
    * (Jaccard) removal stays a batch compaction pass (q22/q56) — its
    * pair relation is inherently cross-document and unbounded-lookback,
    * exactly what streaming state must not be. */
  def curatedStream(docs: DataFrame, qmin: Double = 0.4,
                    watermark: String = "1 hour",
                    window: String = "1 hour"): DataFrame = {
    val gated = graft.operators.LangQuality.withLangQuality(docs)
      .withColumn("n_bpe_tokens", graft.operators.LangQuality.bpeTokens)
      .filter(col("quality") >= qmin)
      .select(col("doc_id"), col("ts"), col("lang_pred"), col("n_bpe_tokens"),
        md5(col("text")).as("text_md5"))
    gated
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_utc", watermark)
      .dropDuplicatesWithinWatermark("text_md5")
      .groupBy(org.apache.spark.sql.functions.window(col("ts_utc"), window),
        col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
           sum("n_bpe_tokens").as("sum_bpe_tokens"))
      .select(col("window.start").as("win_start"), col("lang_pred"),
        col("n_docs"), col("sum_bpe_tokens"))
  }

  /** Per-document admission verdict emitted by [[admissionStream]]. */
  case class Admission(doc_id: Long, h: Long, verdict: String)

  /** Dedup-state payload: whether the hash was seeded from the batch
    * corpus (vs first seen on the stream). One boolean per distinct
    * hash — with the 8-byte key, ~9 bytes of state per distinct
    * document content, same footprint argument as batch q73. */
  case class AdmitState(fromCorpus: Boolean)

  /** Bootstrapped streaming admission — the streaming twin of the batch
    * incremental-dedup report (q73, `Provenance.q73IncrementalDedup`):
    * a continuous ingest stream is admitted against the EXISTING
    * corpus, without ever rescanning corpus text.
    *
    * `corpusHashes` is the persisted corpus state — one `h` column of
    * the portable 60-bit content hashes (the q70 manifest / q73 state
    * convention: `conv(substring(md5(text),1,15),16,10)`). It seeds
    * `flatMapGroupsWithState`'s `initialState`, so the state store
    * starts as the corpus membership set and the stream then maintains
    * it incrementally: each arriving document is verdicted
    * `dup_corpus` (hash seeded from the corpus), `dup_stream` (first
    * seen earlier ON the stream — including earlier in the same
    * micro-batch, ordered by doc_id), or `new` (admit it).
    *
    * Scale shape: the corpus side reduces to 8-byte hashes map-side
    * and is shuffled ONCE into the state store's key partitioning at
    * query start; per micro-batch, only the batch's (doc_id, h) pairs
    * shuffle — the exact cost profile of the batch q73 join, but with
    * the corpus-state scan amortized across all future ticks instead
    * of re-read per tick. Unbounded-corpus deployments bound state the
    * same way [[dedupWithinWatermark]] does — this variant is the
    * exact-membership mode.
    *
    * Durability: state (including the corpus seed) lives in the
    * checkpointed state store — a restarted query restores it from the
    * checkpoint and does NOT re-seed from `initialState`, so kill +
    * restart loses nothing and re-verdicts nothing (DocStreamSpec's
    * kill/restart test pins this, with the corpus side loaded from the
    * persisted [[graft.io.ArtifactStore]] hash artifact). */
  def admissionStream(docs: DataFrame, corpusHashes: DataFrame): Dataset[Admission] = {
    val spark = docs.sparkSession
    import spark.implicits._
    admissionStreamWithText(docs, corpusHashes)
      .map(a => Admission(a.doc_id, a.h, a.verdict))
  }

  /** [[Admission]] plus the document text — the fuzzy path's input:
    * text rides along so the per-batch refinement can shingle 'new'
    * docs without a second source read. */
  case class AdmissionDoc(doc_id: Long, h: Long, verdict: String, text: String)

  /** [[admissionStream]] with the text column carried through the state
    * operator — the ONE stateful definition both forms share (the state
    * key, payload, and verdict logic are identical, so checkpoints are
    * interchangeable between the two). */
  def admissionStreamWithText(docs: DataFrame,
                              corpusHashes: DataFrame): Dataset[AdmissionDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs
      .select(col("doc_id").cast("long"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"),
        col("text"))
      .as[(Long, Long, String)]
    val init = corpusHashes.select(col("h").cast("long")).distinct().as[Long]
      .groupByKey(identity).mapValues(_ => AdmitState(fromCorpus = true))
    hashed
      .groupByKey(_._2)
      .flatMapGroupsWithState[AdmitState, AdmissionDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), init) {
        case (h, rows, state: GroupState[AdmitState]) =>
          // deterministic within-batch order: lowest doc_id is "first"
          val sorted = rows.toSeq.sortBy(_._1)
          val verdicts =
            if (state.exists && state.get.fromCorpus)
              sorted.map(r => AdmissionDoc(r._1, h, "dup_corpus", r._3))
            else if (state.exists)
              sorted.map(r => AdmissionDoc(r._1, h, "dup_stream", r._3))
            else
              AdmissionDoc(sorted.head._1, h, "new", sorted.head._3) ::
                sorted.tail.map(r => AdmissionDoc(r._1, h, "dup_stream", r._3)).toList
          if (!state.exists) state.update(AdmitState(fromCorpus = false))
          verdicts.iterator
      }
  }

  /** Per-micro-batch fuzzy refinement — the q92 near-dup gate applied
    * to a micro-batch's exact verdicts: docs the exact pass called
    * 'new' but whose shingles band-collide with the PERSISTED corpus
    * LSH state (and exact-verify at Jaccard ≥ threshold —
    * [[graft.operators.Fuzzy.lshPairsAgainstState]]) downgrade to
    * 'dup_corpus_fuzzy'. A plain batch transform, run inside
    * foreachBatch where the full batch API (groupBy, joins) is legal —
    * chaining a second stateful/aggregating operator after
    * flatMapGroupsWithState is not, and the corpus side is static
    * state anyway.
    *
    * Deliberately corpus-only: near-dups of earlier STREAM docs are
    * NOT caught here — that would require unbounded cross-doc text
    * state in the store, exactly what [[curatedStream]]'s scaladoc
    * argues streaming state must never hold. A deployment folds
    * admitted docs into the corpus band/shingle artifacts between
    * ticks (the q73 state-maintenance loop), which also upgrades
    * stream-vs-stream near-dups to corpus ones at the next tick. */
  def refineFuzzy(batch: DataFrame, corpusBands: DataFrame,
                  corpusShingles: DataFrame, threshold: Double): DataFrame =
    refineBy(batch, Evidence.Fuzzy,
      fuzzyFlags(corpusBands, corpusShingles, threshold))

  /** The fuzzy rung's flags: the `newDocs` whose shingles band-collide
    * with the corpus LSH state and verify at Jaccard ≥ `threshold`. */
  private def fuzzyFlags(corpusBands: DataFrame, corpusShingles: DataFrame,
                         threshold: Double)(newDocs: DataFrame): DataFrame =
    graft.operators.Fuzzy
      .lshPairsAgainstState(corpusBands, corpusShingles, newDocs, threshold)
      .select(col("eval_id").as("fid")).distinct()

  /** One rung's refinement — the stream's form of a ladder rung, applied
    * per rung in ladder order: `flagsOf` maps the docs every earlier
    * rung left 'new' (doc_id, text) to the rung's flag ids, and each
    * flagged doc takes the rung's [[streamVerdict]]. */
  private def refineBy(batch: DataFrame, rung: Evidence,
                       flagsOf: DataFrame => DataFrame): DataFrame = {
    val isNew = col("verdict") === "new"
    batch.join(flagsOf(batch.filter(isNew).select("doc_id", "text")),
        col("doc_id") === col(rung.flag), "left")
      .withColumn("verdict",
        when(isNew && col(rung.flag).isNotNull, lit(streamVerdict(rung)))
          .otherwise(col("verdict")))
      .select("doc_id", "h", "verdict", "text")
  }

  /** The stream verdict of a rung the stream refines by flags: evidence
    * `dup_x` against the folded corpus state is `dup_corpus_x`;
    * contamination keeps its class. */
  private def streamVerdict(rung: Evidence): String =
    if (rung.verdict.startsWith("dup_"))
      "dup_corpus_" + rung.verdict.stripPrefix("dup_")
    else rung.verdict

  /** THE stream → ladder verdict map, which the quarantine fold applies:
    * `dup_corpus`/`dup_stream` → dup_exact (both are hash-state
    * evidence after the fold-back), each rung's [[streamVerdict]] → its
    * ladder verdict, and `low_quality` kept as is. */
  private[graft] def ladderVerdict(v: Column): Column = {
    val labels = Seq("dup_corpus" -> Evidence.Exact,
      "dup_stream" -> Evidence.Exact) ++
      Evidence.Ladder.tail.map(e => streamVerdict(e) -> e)
    labels.tail.foldLeft(when(v === labels.head._1,
        lit(labels.head._2.verdict))) { case (c, (label, e)) =>
      c.when(v === label, lit(e.verdict))
    }.otherwise(v)
  }

  /** Per-micro-batch learned quality gate — q103's BUDGET verdict in
    * the stream: among this batch's post-fuzzy 'new' docs, the bottom
    * `lowFrac` by FROZEN-model score drop to 'low_quality'. The
    * weights are literals (trained once — or ArtifactStore-loaded —
    * when the query is built), so a restarted query trivially scores
    * identically; the cume_dist window is global but scoped to ONE
    * micro-batch's novel docs (tick-sized — the q103 documented
    * exception), and the budget is per tick BY CONSTRUCTION.
    *
    * BATCH-INTERNAL-DUP CAVEAT (r9 advice): the window here ranges
    * over post-fuzzy 'new' docs, which EXCLUDES batch-internal exact
    * duplicates — the stream verdicts those 'dup_stream' upstream,
    * a category batch q103 does not have: q103 counts such docs as
    * novel and includes them in its cume_dist denominator. On a tick
    * containing internal exact duplicates the two low_quality sets
    * therefore diverge (the stream's denominator is smaller); on
    * dup-free ticks they agree exactly. DocStreamSpec reconciles on
    * the latter; a deployment that needs bit-equal budgets on dup
    * ticks runs the batch q103 report instead. */
  def refineQuality(batch: DataFrame, weights: Seq[Double],
                    lowFrac: Double): DataFrame = {
    val scored = graft.operators.QualityModel.scores(
      batch.filter(col("verdict") === "new").select("doc_id", "text"), weights)
    val lq = graft.operators.RankGate.lowFracFlags(scored, lowFrac)
      .filter(col("lq")).select(col("lqid"))
    batch.join(lq, col("doc_id") === col("lqid"), "left")
      .withColumn("verdict",
        when(col("lqid").isNotNull, lit("low_quality")).otherwise(col("verdict")))
      .select("doc_id", "h", "verdict", "text")
  }

  /** Bootstrapped FUZZY admission query — the streaming twin of q92:
    * exact first-seen dedup upstream in the checkpointed state store
    * ([[admissionStreamWithText]]), per-batch fuzzy refinement +
    * parquet write inside foreachBatch. Each micro-batch overwrites
    * its own `batch=<id>` partition directory, so a batch REPLAYED
    * after a crash rewrites the same files instead of appending
    * duplicates — idempotent sink, exactly-once output under
    * at-least-once foreachBatch semantics. Restart-safe end to end:
    * exact state restores from the checkpoint (never re-seeded), and
    * the band/shingle state is fingerprint-keyed ArtifactStore parquet
    * re-loaded identically on restart (DocStreamSpec pins both across
    * a kill). */
  def fuzzyAdmissionQuery(docs: DataFrame, corpusHashes: DataFrame,
                          corpusBands: DataFrame, corpusShingles: DataFrame,
                          outPath: String, checkpoint: String,
                          threshold: Double = 0.2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    admissionStreamWithText(docs, corpusHashes)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[AdmissionDoc], batchId: Long) =>
        refineFuzzy(b.toDF(), corpusBands, corpusShingles, threshold)
          .drop("text")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** GATED admission query — the streaming twin of q103 (the complete
    * ingest tick): exact first-seen dedup in the checkpointed state
    * store, then per-batch fuzzy refinement against the persisted
    * corpus LSH state, then the learned budget gate under frozen
    * weights — verdict precedence dup_corpus → dup_stream →
    * dup_corpus_fuzzy → low_quality → new, written idempotently per
    * micro-batch like [[fuzzyAdmissionQuery]]. DocStreamSpec pins
    * reconciliation with the batch q103 report on the same split —
    * exact on ticks without batch-internal exact duplicates; see
    * [[refineQuality]] for the documented divergence when a tick
    * carries internal dups (the stream's budget denominator excludes
    * its dup_stream docs, a category q103 lacks). */
  def gatedAdmissionQuery(docs: DataFrame, corpusHashes: DataFrame,
                          corpusBands: DataFrame, corpusShingles: DataFrame,
                          weights: Seq[Double],
                          outPath: String, checkpoint: String,
                          threshold: Double = 0.2, lowFrac: Double = 0.25)
      : org.apache.spark.sql.streaming.StreamingQuery =
    admissionStreamWithText(docs, corpusHashes)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[AdmissionDoc], batchId: Long) =>
        refineQuality(
          refineFuzzy(b.toDF(), corpusBands, corpusShingles, threshold),
          weights, lowFrac)
          .drop("text")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** FOLDING gated admission — the streaming closure of the ingest
    * state loop (r9 verdict item 1, stream form): like
    * [[gatedAdmissionQuery]], but between micro-batches the ADMITTED
    * docs' band/shingle/hash increments are folded into the
    * [[graft.io.IngestLoop.StoreSet]], so batch N+1's fuzzy refinement
    * judges against base corpus ∪ everything admitted through batch N.
    * This upgrades the documented [[refineFuzzy]] stream-vs-stream
    * near-dup miss into caught-at-next-tick, exactly as that scaladoc
    * promises.
    *
    * Per micro-batch, the docs the exact pass called 'new' refine once
    * per ladder rung, in ladder order ([[refineBy]]): fuzzy text
    * against the folded LSH state, then each attached leg's rung — the
    * SEMANTIC leg against the folded RP-LSH signature state (q135), the
    * DECONTAM leg against the LIVE eval set (q136; withdrawals resolve
    * through the eval tombstones at every batch, and an mm eval leg's
    * media channels, q140, join the class) — then, on a MULTIMODAL loop
    * ([[graft.io.IngestLoop.MmStores]]), image and audio perceptual
    * signatures against the folded sig stores. The verdict precedence
    * is q118's with the stream's exact layer spliced in: dup_corpus /
    * dup_stream → dup_corpus_fuzzy → dup_corpus_semantic → contaminated
    * → dup_corpus_image → dup_corpus_audio → low_quality → new. The
    * batch signatures derive once at the codec seam for the WHOLE
    * micro-batch; ONLY admitted docs fold back into every store — so
    * batch N+1 rejects an image/audio near-dup of what batch N
    * admitted, without waiting for a batch tick.
    *
    * Replay discipline (exactly-once under at-least-once foreachBatch):
    * fold ticks are keyed BY MICRO-BATCH ID
    * (`IngestStateStore.appendTickAt(batchId + 2)` — tick 1 is the
    * bootstrap), and the refinement reads `currentUpTo(batchId + 1)` —
    * the state as of the PREVIOUS batch. A replayed batch therefore
    * excludes its own possibly-already-written fold tick and reproduces
    * its verdicts bit-identically, then overwrites the same fold tick
    * and the same `batch=<id>` output partition — idempotent end to
    * end (DocStreamSpec pins verdicts across a kill/restart). The
    * exact-dedup state needs no folding: it lives in the streaming
    * checkpoint and [[admissionStreamWithText]] maintains it in-stream
    * — `corpusHashes` (the persisted ArtifactStore artifact, per the
    * other admission queries) only SEEDS it at first start, which is
    * also why it is a parameter rather than a read of
    * `stores.text.hashes`: the seed must survive compaction of the fold
    * stores. Compact the stores only while the query is stopped and
    * committed (`IngestStateStore.currentUpTo` throws if a replay
    * would need increments a compaction folded away).
    *
    * Consumer legs (BM25 postings, gram census, ANN codes, packed
    * export) fold each micro-batch's admitted docs through
    * [[graft.io.IngestLoop.foldAdmitted]] — the batch ticks' one
    * fold-back — under the same batch-id-keyed tick, so a replayed
    * batch overwrites its own increments and no served state lags the
    * stream's admissions (DocStreamSpec pins served ranking, census,
    * codes and export slices ≡ a batch rebuild over base ∪ all
    * admissions). Every index must be bootstrapped from the same
    * corpus as the stores (tick 1) before the query starts. `legs` is
    * the deployment's one [[graft.io.IngestLoop.Legs]] value; a mix or
    * replay leg is refused. Streaming export epochs are
    * micro-batch-sized; a deployment with small batches compacts by
    * re-exporting at quiesce points.
    *
    * Takedown caveat: the fuzzy/signature state resolves through the
    * shared tombstone store at every batch, so a quiesce-point
    * [[graft.io.IngestLoop.retractTick]] between stream runs reaches
    * it; the EXACT-hash layer, however, lives in the streaming
    * checkpoint (seeded once from `corpusHashes`), so a takedown of
    * exact content requires restarting the query with a fresh
    * checkpoint re-seeded from the post-retraction hash state — run
    * takedowns at stream restart boundaries
    * ([[graft.io.IngestLoop.rollover]]). The same boundary governs the
    * quality `weights`: they are frozen for the run (a literal folded
    * into every micro-batch's scoring projection), so a takedown that
    * unlearns the serving model ([[graft.io.ArtifactStore.ModelStore]])
    * or a q113 refresh takes effect at the next start — pass
    * `modelStore.servingWeights()` there, never a stale copy. */
  def foldingGatedAdmissionQuery(docs: DataFrame, corpusHashes: DataFrame,
                                 stores: IngestLoop.StoreSet,
                                 weights: Seq[Double],
                                 outPath: String, checkpoint: String,
                                 threshold: Double = 0.2,
                                 lowFrac: Double = 0.25,
                                 legs: IngestLoop.Legs = IngestLoop.Legs())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    streamLegs(legs)
    val st = stores.text
    admissionStreamWithText(docs, corpusHashes)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[AdmissionDoc], batchId: Long) =>
        val stateTick = batchId + 1 // bootstrap=1, batch k folds at k+2
        val batch = b.toDF()
        // state reads resolve through the shared tombstone store: a
        // quiesce-point takedown between stream runs stops rejecting
        // the retracted docs' near-dups here too
        val rs = (df: DataFrame) => st.lineage.resolve(df)
        // severed: read by the flag joins, the fold-back AND the
        // quarantine (its rows carry every rejected doc's signatures)
        val sigs = IngestLoop.batchSigs(stores, batch.select("doc_id"))
        val rungs: Seq[(Evidence, DataFrame => DataFrame)] =
          Seq(Evidence.Fuzzy -> fuzzyFlags(
            rs(st.bands.currentUpTo(stateTick).get),
            rs(st.shingles.currentUpTo(stateTick).get), threshold) _) ++
          legs.sem.map(leg => Evidence.Semantic -> ((newDocs: DataFrame) =>
            graft.operators.SemanticGate.flaggedAgainstState(
              rs(leg.sigs.currentUpTo(stateTick).getOrElse(
                sys.error("semantic leg not bootstrapped"))),
              leg.vectors, newDocs.select("doc_id"),
              leg.nTables, leg.bits, leg.dim, leg.simThreshold))) ++
          legs.eval.map(leg => Evidence.Contaminated -> ((newDocs: DataFrame) =>
            IngestLoop.contamFlags(leg, newDocs, sigs))) ++
          sigs.map { case (m, s) => m.rung -> ((_: DataFrame) =>
            m.flagged(st.lineage, stateTick, s)) }
        val refined = refineQuality(
            rungs.foldLeft(batch) { case (acc, (rung, flagsOf)) =>
              refineBy(acc, rung, flagsOf) },
            weights, lowFrac)
          // severed: read by the sink write AND the fold increments
          .localCheckpoint()
        refined.drop("text")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        val adm = refined.filter(col("verdict") === "new")
          .select("doc_id", "text")
        val served = curatedServed(refined, batch.select("doc_id", "text"),
          stateTick, outPath, batchId, legs, adm)
        IngestLoop.foldAdmitted(stateTick + 1, st,
          graft.operators.Provenance.corpusDocHashes(adm),
          adm.select("doc_id"), adm, served,
          sigs.map { case (m, s) => m.sigs ->
            s.join(adm.select("doc_id"), Seq("doc_id"), "left_semi") } ++
            quarantineAppends(refined, legs, sigs),
          legs)
      }
      .start()
  }

  /** The legs a folding stream refuses before it starts: a mix leg (the
    * wire schema carries no `source` column to count by) and a replay
    * leg (the stream's quality gate persists no features, so the feats
    * store would lag every fold tick). */
  private def streamLegs(legs: IngestLoop.Legs): Unit = {
    require(legs.mix.isEmpty,
      "a folding stream cannot maintain a mix leg: the wire schema has " +
        "no source column")
    require(legs.replay.isEmpty,
      "a folding stream cannot maintain a replay leg: it persists no " +
        "gate features")
  }

  /** CURATE leg (the q137 symmetry in streaming): the stream serves
    * the same census-stripped + PII-scrubbed text as the batch tick,
    * through the same [[graft.io.IngestLoop.curatedRows]] and
    * [[graft.io.IngestLoop.curateAudit]]. Admitted docs strip against
    * the maintained census ∪ the micro-batch's own increment (the
    * q129/q137 winner rule, at the census's granularity) then scrub,
    * and the CURATED form is what the fold-back feeds the serving
    * consumers (BM25 postings, packed export) — while the dedup
    * stores, the quarantine, and the
    * census keep folding RAW text (the two-column provenance
    * discipline; the census is the strip-rule source). The per-batch
    * rewrite audit (the q137 report columns: tokens_raw /
    * tokens_removed / chars_redacted / `exact_curated_sig`) lands
    * idempotently under `outPath/batch=<id>/_audit` — the underscore
    * prefix keeps it invisible to whole-tree reads of the verdict
    * output, and the batch's verdict overwrite (which wipes the batch
    * dir) runs BEFORE this, so a replayed batch rewrites the same
    * audit like everything else it writes. Returns
    * the (doc_id, text=CURATED) frame for the consumer folds (`adm`
    * unchanged when no leg is attached). */
  private def curatedServed(refined: DataFrame, rawBatch: DataFrame,
                            stateTick: Long, outPath: String, batchId: Long,
                            legs: IngestLoop.Legs,
                            adm: DataFrame): DataFrame = legs.curate match {
    case None => adm
    case Some(cl) =>
      val cur = IngestLoop.curatedRows(cl, stateTick + 1,
        refined.filter(col("verdict") === "new")
          .select(col("doc_id"), lit("stream").as("source"), col("text")),
        rawBatch)
      IngestLoop.curateAudit(cur)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId/_audit")
      cur.select("doc_id", "text")
  }

  /** The QUARANTINE fold's appends, for the batch's one fold-back (the
    * q131 symmetry in streaming — rejected ≠ discarded holds for stream
    * arrivals too): each micro-batch's rejected docs land in the
    * quarantine store under the same batch-id-keyed tick, with the
    * stream verdicts mapped to the batch evidence classes
    * ([[ladderVerdict]]) and, on a multimodal loop, the docs' batch
    * signatures — so a quiesce-point re-adjudication
    * re-judges every evidence class without re-reading payloads. The
    * wire schema carries no `source` column, so quarantine rows carry
    * the literal 'stream'. A quiesce-point takedown then recovers
    * stream rejections through the SAME batch-side
    * [[graft.io.IngestLoop.readjudicateTick]] — after
    * [[graft.io.IngestLoop.rollover]] +
    * [[graft.io.IngestLoop.rolloverQuarantine]], whose tick-1 re-seed
    * keeps the two bundles' tick agreements aligned (DocStreamSpec pins
    * the full boundary flow). */
  private def quarantineAppends(refined: DataFrame, legs: IngestLoop.Legs,
                                sigs: Seq[(IngestLoop.Modality, DataFrame)])
      : Seq[(ArtifactStore.IngestStateStore, DataFrame)] =
    legs.quar.toSeq.flatMap { qs =>
      val rej = refined.filter(col("verdict") =!= "new")
        .select(col("doc_id"), lit("stream").as("source"), col("text"),
          ladderVerdict(col("verdict")).as("verdict"))
      Seq(qs.rows -> IngestLoop.quarantineLayout(rej, sigs),
        qs.resolvedIds -> refined.select("doc_id").limit(0))
    }

  /** JSONL wire schema for a document drop directory. */
  val JsonlDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("ts", LongType),
    StructField("text", StringType)))

  /** End-to-end streaming curation over the engine's OWN wire format:
    * a JSONL drop directory ([[graft.io.JsonLines.readStream]] — files
    * landing in `dir` are picked up per micro-batch) feeding
    * [[curatedStream]], with the JSONL source's corrupt-line accounting
    * preserved: returns (curated windows, corrupt lines). A malformed
    * line never kills the ingest loop and never silently vanishes — it
    * flows to the second stream, where a production deployment counts
    * or dead-letters it. The corrupt branch keeps `doc_id` in its
    * projection so the scan never references ONLY the internal corrupt
    * column (which Spark disallows on unparsed-file sources). */
  def curatedJsonlStream(spark: SparkSession, dir: String, qmin: Double = 0.4,
                         watermark: String = "1 hour",
                         window: String = "1 hour"): (DataFrame, DataFrame) = {
    val raw = graft.io.JsonLines.readStream(spark, dir, JsonlDocSchema)
    val clean = raw.filter(col(graft.io.JsonLines.CorruptCol).isNull)
      .drop(graft.io.JsonLines.CorruptCol)
    val bad = raw.filter(col(graft.io.JsonLines.CorruptCol).isNotNull)
      .select(col("doc_id"), col(graft.io.JsonLines.CorruptCol))
    (curatedStream(clean, qmin, watermark, window), bad)
  }
}
