package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Provenance.Evidence

/** The SEMANTIC-DEDUP leg of the admission gate (q135) — the r11
  * verdict's top ask: the q103/q106 verdict precedence was blind to
  * embedding-level near-duplicates, so a paraphrase of an ingested doc
  * (near-identical embedding, no shared shingles) admitted every tick.
  * Here the precedence extends to
  *
  *   exact text → fuzzy text → SEMANTIC → low_quality → new
  *
  * with the semantic flag judged against MAINTAINED vector state: the
  * loop keeps the RP-LSH signature rows (doc_id, tbl, code — 3 longs
  * per table per ingested doc, [[RpLsh.signatures]]) of everything it
  * admitted; a batch doc is `dup_semantic` when it bucket-collides
  * with a state doc in ≥ 1 table AND the exact cosine over the two
  * embeddings verifies ≥ `simThreshold` (the q72 candidate→verify
  * shape — the candidate join is an EQUI-join on (tbl, code), never
  * all-pairs; only verified candidate pairs touch the vector table,
  * id-keyed).
  *
  * WHY RP-LSH state and not the IVF-PQ index ([[graft.io.ArtifactStore
  * .IvfPqIncrementalIndex]]): (a) the PQ codes are a LOSSY encoding —
  * ADC distances are approximations, wrong as dup EVIDENCE (a verdict
  * that later feeds retraction/re-adjudication must re-derive exactly;
  * cosine over the true embeddings does, ADC does not); (b) the IVF
  * coarse quantizer is TRAINED state that a q122 recluster swaps —
  * gating on it would make every past semantic verdict
  * artifact-dependent, re-opening the q134 problem for one more state
  * family. RP-LSH hyperplanes are FIXED deterministic functions of
  * (table, dim) — no artifact, no drift, no re-gate-on-recluster:
  * semantic verdicts are purely STATE-dependent, so they re-open
  * exactly like exact/fuzzy verdicts (takedown → q131-shape
  * re-adjudication), which is the discipline the loop already has
  * ([[graft.io.IngestLoop.readjudicateTick]]'s dup_semantic class).
  * The recall/fan-out knob is `bits` (per-table bucket occupancy is
  * N/2^bits; production sets bits ≈ log₂N — the [[RpLsh]] scaladoc's
  * tuning rule; the defaults here are sized for the test corpora,
  * 16×4-bit catching 55/59 planted pairs).
  *
  * No reference analogue (the reference has no embeddings at all);
  * this extends the engine's own q103/q117/q131 loop family.
  */
object SemanticGate {

  val DefaultTables = 16
  val DefaultBits = 4
  val DefaultDim = 64
  val DefaultSimThreshold = 0.4

  /** Production table count (the gen-scale rehearsal setting): fewer,
    * deeper tables — the OR-recall knob once `bits` is occupancy-sized. */
  val ProductionTables = 8
  /** Self-sizing clamp: below MinBits the candidate join degenerates
    * toward all-pairs even on tiny corpora; above MaxBits (16 M buckets
    * per table) fan-out is no longer the binding cost at any corpus
    * size this engine targets. */
  val MinBits = 4
  val MaxBits = 24

  /** The occupancy rule (bits ≈ log₂N, the [[RpLsh]] scaladoc's tuning
    * rule) made executable and ORACLE-PORTABLE: the smallest b in
    * [MinBits, MaxBits] with 2^b ≥ n — expected per-table bucket
    * occupancy ≤ 1, so per-table candidate work stays ~O(N) instead of
    * N²/2^bits blowing up as the corpus grows past the knob (the r12
    * failure mode: test-sized 4-bit defaults projected ~200 M candidate
    * pairs at 20 k vectors). Integer-exact in both engines: Spark
    * compares 1L << b, DuckDB pow(2, b) — exact doubles far past any
    * clamped b. */
  def sizedBits(n: Long): Int =
    (MinBits to MaxBits).find(b => (1L << b) >= n).getOrElse(MaxBits)

  private def dot(a: Column, b: Column): Column =
    graft.catalyst.native.dotProduct(a, b)
  private def norm2(a: Column): Column = dot(a, a)

  /** The corpus-wide VERIFIED semantic pair relation (ida < idb) — the
    * q72 kernel parameterized for the gate: RP-LSH bucket-collision
    * candidates (OR over tables, deduplicated), exact-cosine verified.
    * One sig relation, one equi-join, id-keyed verify joins. */
  def semVerifiedPairs(embeddings: DataFrame,
                       nTables: Int = DefaultTables, bits: Int = DefaultBits,
                       dim: Int = DefaultDim,
                       simThreshold: Double = DefaultSimThreshold): DataFrame = {
    val sig = RpLsh.signatures(embeddings, nTables, bits, dim)
    val cand = sig.as("a")
      .join(sig.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"))
      .distinct()
    val n = embeddings.select(col("vec_id"), col("embedding").as("ed"))
      .withColumn("nrm", sqrt(norm2(col("ed"))))
    val sim = round(dot(col("na.ed"), col("nb.ed"))
      / (col("na.nrm") * col("nb.nrm")), 6)
    cand
      .join(n.as("na"), col("ida") === col("na.vec_id"))
      .join(n.as("nb"), col("idb") === col("nb.vec_id"))
      .filter(sim >= simThreshold)
      .select(col("ida"), col("idb"))
  }

  /** The signature STATE ROWS of a doc set — what the ingest loop's
    * semantic leg persists per tick: (doc_id, tbl, code), derived
    * map-side from the vectors side table semi-joined on the ids. */
  def sigRowsOf(vectors: DataFrame, docIds: DataFrame,
                nTables: Int = DefaultTables, bits: Int = DefaultBits,
                dim: Int = DefaultDim): DataFrame =
    RpLsh.signatures(
        vectors.join(docIds.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"),
        nTables, bits, dim)
      .select(col("vec_id").as("doc_id"), col("tbl"), col("code"))

  /** Batch ids semantically flagged AGAINST STATE — the
    * [[Fuzzy.lshPairsAgainstState]] shape on the vector leg: batch
    * signatures derive map-side from the side table; candidates come
    * from the (tbl, code) equi-join against the maintained state rows;
    * only candidates rejoin the vector table for the exact-cosine
    * verify. Returns distinct flagged batch doc_ids as `sid`. */
  def flaggedAgainstState(stateSigs: DataFrame, vectors: DataFrame,
                          batchIds: DataFrame,
                          nTables: Int = DefaultTables,
                          bits: Int = DefaultBits, dim: Int = DefaultDim,
                          simThreshold: Double = DefaultSimThreshold)
      : DataFrame = {
    val bSigs = sigRowsOf(vectors, batchIds, nTables, bits, dim)
    val cand = stateSigs.select(col("doc_id").as("sa"), col("tbl"), col("code"))
      .join(bSigs.select(col("doc_id").as("sb"), col("tbl"), col("code")),
        Seq("tbl", "code"))
      .filter(col("sa") =!= col("sb"))
      .select("sa", "sb").distinct()
    val n = vectors.select(col("vec_id"), col("embedding").as("ed"))
      .withColumn("nrm", sqrt(norm2(col("ed"))))
    val sim = round(dot(col("na.ed"), col("nb.ed"))
      / (col("na.nrm") * col("nb.nrm")), 6)
    cand
      .join(n.as("na"), col("sa") === col("na.vec_id"))
      .join(n.as("nb"), col("sb") === col("nb.vec_id"))
      .filter(sim >= simThreshold)
      .select(col("sb").as("sid")).distinct()
  }

  /** q135: the SEMANTIC admission loop, decisive in BOTH directions in
    * one oracle-checked frame — three phases (the q117 shape with the
    * semantic class live in every gate):
    *
    *   1. tick 1 — batch doc_id % 17 ≥ 10 judged against the base
    *      corpus under the frozen base model, precedence exact → fuzzy
    *      → semantic → quality; semantic rejects do NOT fold back
    *      (they were never ingested);
    *   2. TAKEDOWN — the q117 retraction class (ingested-through-
    *      tick-1 docs with doc_id % 3 == 1) leaves every state
    *      relation INCLUDING the semantic signature state;
    *   3. tick 2 — batch doc_id % 17 == 0 judged against the
    *      post-retraction state: a doc whose only semantic partner was
    *      a TICK-1 ADMISSION is `dup_semantic` (the fold-back
    *      direction — planted pair (238, 287): 287 admits at tick 1,
    *      238 rejects at tick 2); a doc whose only semantic partner
    *      was RETRACTED re-scores `new` and its count lands in
    *      `n_sem_readmitted` (the takedown direction — planted pair
    *      (7, 425): corpus doc 7 is in the retraction class, so 425
    *      admits where the pre-takedown state flags it).
    *
    * Output per (tick, source): the q103 columns + `n_dup_semantic` +
    * `n_sem_readmitted` (docs semantically flagged by the
    * PRE-takedown state but admitted post-takedown — the within-frame
    * certificate of the takedown direction; 0 at tick 1 by
    * construction). The oracle re-derives the text LSH chain, the
    * RP-LSH planes/signatures/candidates, both cosine verifies, the
    * training pass, the fold-back, and the retraction in ONE WITH
    * clause.
    *
    * Deployment form: [[graft.io.IngestLoop.runTick]] with a
    * [[graft.io.IngestLoop.SemLeg]] — the signature store participates
    * in the tick agreement, semantic rejections quarantine as
    * `dup_semantic` with re-adjudication re-deriving the cosine from
    * the vectors side table (no payloads), and
    * [[graft.io.IngestLoop.retractTick]] frees a takedown's signature
    * rows through the shared doc-keyed tombstone anti-join (the sig
    * rows carry doc_id — the same retraction algebra as bands).
    * SemIngestSpec pins store ≡ this live form, both decisive
    * directions against controls, crash replay, and the quarantine
    * loop.
    *
    * Scale shape: ONE text-LSH chain + ONE sig relation over the
    * vectors (3 longs/table/vector — the embedding never shuffles),
    * candidate equi-joins, id-keyed verifies, one bounded training
    * pass, ≤1-match gate joins, tick-scoped windows. The retraction is
    * an id-keyed anti-join per state relation. */
  def q135SemanticAdmission(documents: DataFrame, embeddings: DataFrame,
                            threshold: Double = 0.2, lowFrac: Double = 0.25,
                            nTables: Int = DefaultTables,
                            bits: Int = DefaultBits, dim: Int = DefaultDim,
                            simThreshold: Double = DefaultSimThreshold)
      : DataFrame = {
    val m = (c: Column) => pmod(c, lit(Provenance.BatchMod))
    val corpus = documents.filter(m(col("doc_id")).between(1, 9))
    val t1 = documents.filter(m(col("doc_id")) >= 10)
    val t2 = documents.filter(m(col("doc_id")) === 0)
    // ONE verified relation per modality, checkpointed (each is read by
    // both ticks' flags — the q106 marker discipline) without a
    // broadcast hint: each feeds only a union, which drops it. Text and
    // vector legs are independent, so they materialize concurrently
    // (guide §2.6)
    val Seq(pr, sp) = Materialize.branches(documents.sparkSession, Seq(
      () => Fuzzy.lshVerifiedPairs(documents, threshold).select("ida", "idb")
        .localCheckpoint(),
      () => semVerifiedPairs(embeddings, nTables, bits, dim, simThreshold)
        .localCheckpoint()))
    val adj = pr.union(pr.select(col("idb"), col("ida"))).toDF("a", "b")
    val sadj = sp.union(sp.select(col("idb"), col("ida"))).toDF("a", "b")
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")
    val fz1 = adj.filter(m(col("b")) >= 10 && m(col("a")).between(1, 9))
      .select(col("b").as("fid")).distinct()
    val sm1 = sadj.filter(m(col("b")) >= 10 && m(col("a")).between(1, 9))
      .select(col("b").as("sid")).distinct()
    val v1 = Provenance.gatedTickFrame(t1, Provenance.corpusHashState(corpus),
      Seq(Evidence.Fuzzy -> fz1, Evidence.Semantic -> sm1), w, lowFrac)
    val adm1 = v1.filter(col("lq") === false).select("doc_id")
    val ing1 = Materialize.sever(corpus.select("doc_id").union(adm1))
    val keep = ing1.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) =!=
        Provenance.RetractRem)
    val keepDocs = documents.join(keep, Seq("doc_id"), "left_semi")
    val c1r = Provenance.corpusHashState(keepDocs)
    val keepA = keep.withColumnRenamed("doc_id", "a")
    val fz2r = adj.filter(m(col("b")) === 0)
      .join(keepA, Seq("a"), "left_semi")
      .select(col("b").as("fid")).distinct()
    val sm2r = sadj.filter(m(col("b")) === 0)
      .join(keepA, Seq("a"), "left_semi")
      .select(col("b").as("sid")).distinct()
    // the PRE-takedown semantic flags — the contrast column's source
    val sm2p = sadj.filter(m(col("b")) === 0)
      .join(ing1.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("spre")).distinct()
    val v2 = Provenance.gatedTickFrame(t2, c1r,
      Seq(Evidence.Fuzzy -> fz2r, Evidence.Semantic -> sm2r), w, lowFrac)
    val r1 = Provenance.gatedTickReport(v1,
      Provenance.ladder(Evidence.Semantic))
      .withColumn("tick", lit(1))
      .withColumn("n_sem_readmitted", lit(0L))
    val r2 = v2.join(sm2p, col("doc_id") === col("spre"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        count(col("ch")).as("n_dup_exact"),
        count(when(col("ch").isNull, col("fid"))).as("n_dup_fuzzy"),
        count(when(col("ch").isNull && col("fid").isNull, col("sid")))
          .as("n_dup_semantic"),
        count(when(col("lq") === true, lit(1))).as("n_low_quality"),
        count(when(col("lq") === false, lit(1))).as("n_new"),
        count(when(col("lq") === false, col("spre")))
          .as("n_sem_readmitted"))
      .withColumn("tick", lit(2))
    r1.select(col("tick"), col("source"), col("n_batch"),
        col("n_dup_exact"), col("n_dup_fuzzy"), col("n_dup_semantic"),
        col("n_low_quality"), col("n_new"), col("n_sem_readmitted"))
      .union(r2.select(col("tick"), col("source"), col("n_batch"),
        col("n_dup_exact"), col("n_dup_fuzzy"), col("n_dup_semantic"),
        col("n_low_quality"), col("n_new"), col("n_sem_readmitted")))
      .orderBy("tick", "source")
  }

  /** q135's oracle: text LSH + RP-LSH planes/sigs/verify + training +
    * both gated ticks + the takedown, one WITH clause — DuckDB
    * re-derives the semantic evidence itself, so a hash match
    * certifies the whole precedence including the new class. */
  def q135Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              nTables: Int = DefaultTables, bits: Int = DefaultBits,
              dim: Int = DefaultDim,
              simThreshold: Double = DefaultSimThreshold,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String =
    semAdmissionSql(threshold, lowFrac, nTables, bits, dim, simThreshold,
      iters, trainN, sized = false)

  /** q139: q135's semantic admission loop under SELF-SIZED occupancy
    * (r12 verdict item 3) — the manual production `bits` knob replaced
    * by [[sizedBits]] over the corpus vector count, derived INSIDE the
    * query (and inside the oracle, from the same table), with the
    * sizing decision visible in the report: every row carries
    * (n_vectors, sig_tables, sig_bits). The gate itself is q135's —
    * both decisive directions re-derive at the sized parameters — so a
    * first deployment against a real corpus needs no scratch driver to
    * pick the knob: the occupancy census IS the query. Deployment
    * form: [[graft.io.IngestLoop.semLegSized]] records the chosen
    * (tables, bits) in a params artifact next to the sig store;
    * re-sizing is a new store generation
    * ([[graft.io.IngestLoop.resizeSemLeg]] — verdict history stays
    * valid because the hyperplanes are fixed; only fan-out changes). */
  def q139SelfSizedAdmission(documents: DataFrame, embeddings: DataFrame,
                             threshold: Double = 0.2,
                             lowFrac: Double = 0.25,
                             nTables: Int = ProductionTables,
                             dim: Int = DefaultDim,
                             simThreshold: Double = DefaultSimThreshold)
      : DataFrame = {
    // ONE count — the bootstrap sizing read (a metadata-cheap aggregate
    // over the vector table, never the embeddings themselves)
    val n = embeddings.count()
    val bits = sizedBits(n)
    q135SemanticAdmission(documents, embeddings, threshold, lowFrac,
        nTables, bits, dim, simThreshold)
      .withColumn("n_vectors", lit(n))
      .withColumn("sig_tables", lit(nTables))
      .withColumn("sig_bits", lit(bits))
  }

  /** q139's oracle: q135's WITH clause with the bits knob replaced by
    * the same smallest-b occupancy rule over `count(*) FROM embeddings`
    * — DuckDB re-derives the SIZING too, so a hash match certifies the
    * rule, the planes at the sized width, and the whole precedence. */
  def q139Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              nTables: Int = ProductionTables, dim: Int = DefaultDim,
              simThreshold: Double = DefaultSimThreshold,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String =
    semAdmissionSql(threshold, lowFrac, nTables, bits = 0, dim,
      simThreshold, iters, trainN, sized = true)

  /** q141's drift model: the recorded knob was sized when the corpus
    * was 1/SnapshotFrac of its current count — the long-lived
    * deployment whose corpus grew 16× past its bootstrap sizing. */
  val SnapshotFrac = 16
  /** Recommend a resize once the live count exceeds `OccupancySlack ×
    * 2^recorded_bits` — occupancy ≤ 1 is the sizing target
    * ([[sizedBits]]), so 2× is real drift, not jitter around the
    * power-of-two boundary. */
  val OccupancySlack = 2

  /** q141: the OCCUPANCY DRIFT CANARY for the self-sized semantic gate
    * (r13 verdict item 3) — q139 sizes `bits` at FIRST bootstrap and
    * every later load correctly serves the recorded knob (accumulated
    * signatures share one width), but when the corpus grows past
    * 2^bits the (tbl, code) candidate join degrades quadratically in
    * the occupancy excess and nothing noticed: [[graft.io.IngestLoop
    * .resizeSemLeg]] existed, yet only a human could decide to call
    * it. This is the q120 recall-canary discipline applied to the
    * sizing knob: a quiesce-point census of per-table bucket occupancy
    * under the RECORDED bits — here modeled as the knob a 1/16-sized
    * bootstrap recorded ([[SnapshotFrac]]) — against the LIVE corpus,
    * reporting per table the occupied-bucket count, the hottest
    * bucket, and the exact projected candidate fan-out Σ k·(k−1)/2
    * (the join work the next tick would do), plus the rule's verdict:
    * `resize_bits` = [[sizedBits]] at the live count and
    * `resize_recommended` once live N exceeds [[OccupancySlack]] ×
    * 2^recorded. Deployment form: [[graft.io.IngestLoop
    * .semCanaryReport]] runs the same census over the leg's RESOLVED
    * sig store (no embedding reads at all — the stored 3-long rows are
    * the census input) and [[graft.io.IngestLoop.semCanaryTick]]
    * triggers the resize (SemIngestSpec pins canary → resize →
    * canary-green with planted-pair recall intact).
    *
    * Scale shape: one sig derivation (3 longs/table/vector, embeddings
    * never shuffle), two partial-aggregating groupBys, an 8-row
    * report. The canary costs O(N·tables) rows — the POINT is that it
    * is cheap enough to run at every quiesce point, where the join it
    * guards is O(N²/2^bits) when drifted. */
  def q141OccupancyCanary(embeddings: DataFrame,
                          nTables: Int = ProductionTables,
                          dim: Int = DefaultDim): DataFrame = {
    // ONE count — the canary's only corpus read beyond the sig rows
    val n = embeddings.count()
    val snapN = (n + SnapshotFrac - 1) / SnapshotFrac
    val recorded = sizedBits(snapN)
    occupancyCensus(
      RpLsh.signatures(embeddings, nTables, recorded, dim)
        .select(col("vec_id").as("doc_id"), col("tbl"), col("code")),
      n, recorded)
  }

  /** The shared census body: per-table occupancy of `sigRows`
    * ((doc_id, tbl, code) — a sig relation or a resolved leg store)
    * under `recordedBits`, with the sizing verdict against `nLive`. */
  private[graft] def occupancyCensus(sigRows: DataFrame, nLive: Long,
                                     recordedBits: Int): DataFrame = {
    val slots = 1L << recordedBits
    sigRows
      .groupBy("tbl", "code").agg(count(lit(1)).as("k"))
      .groupBy("tbl")
      .agg(count(lit(1)).as("n_occupied"),
        max("k").as("max_bucket"),
        // integer div — `/` on longs is double division, inexact past 2^53
        sum(expr("(k * (k - 1)) div 2")).cast("long").as("cand_pairs"))
      .select(col("tbl"),
        lit(nLive).as("n_live"),
        lit(recordedBits).as("recorded_bits"),
        lit(slots).as("n_slots"),
        col("n_occupied"), col("max_bucket"), col("cand_pairs"),
        lit(sizedBits(nLive)).as("resize_bits"),
        lit(nLive > OccupancySlack * slots).as("resize_recommended"))
      .orderBy("tbl")
  }

  /** q141's oracle: DuckDB re-derives the snapshot sizing, the planes
    * at the recorded width, the signatures, and the full occupancy
    * census — a hash match certifies the census AND the recommendation
    * rule, integer-exact end to end (the only doubles are the plane
    * sign tests, the q72Sql-pinned IEEE ops). */
  def q141Sql(nTables: Int = ProductionTables, dim: Int = DefaultDim)
      : String = {
    val comp = s"(CAST(concat('0x', substr(md5(p || '-' || d), 1, 15)) AS BIGINT)" +
      s" % 2000001) / 1000000.0::DOUBLE - 1.0::DOUBLE"
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |sn AS (SELECT (n + ${SnapshotFrac - 1}) // $SnapshotFrac AS s
       |       FROM nn),
       |rb AS (SELECT CAST(coalesce(min(b), $MaxBits) AS INT) AS bits
       |       FROM range($MinBits, ${MaxBits + 1}) t(b), sn
       |       WHERE pow(2, CAST(b AS INT)) >= sn.s),
       |lb AS (SELECT CAST(coalesce(min(b), $MaxBits) AS INT) AS bits
       |       FROM range($MinBits, ${MaxBits + 1}) t(b), nn
       |       WHERE pow(2, CAST(b AS INT)) >= nn.n),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
       |planes AS (SELECT p, [$comp FOR d IN range(0, $dim)] AS pv
       |           FROM range(0, ${nTables * MaxBits}) t(p), rb
       |           WHERE p < $nTables * rb.bits),
       |sig AS (SELECT e.vec_id, CAST(pl.p // rb.bits AS INT) AS tbl,
       |          CAST(sum(CASE WHEN list_dot_product(e.ed, pl.pv) >= 0
       |                        THEN 1 << CAST(pl.p % rb.bits AS INT)
       |                        ELSE 0 END) AS BIGINT) AS code
       |        FROM e, planes pl, rb GROUP BY 1, 2),
       |occ AS (SELECT tbl, code, count(*) AS k FROM sig GROUP BY 1, 2)
       |SELECT occ.tbl,
       |  nn.n AS n_live,
       |  rb.bits AS recorded_bits,
       |  CAST(1 << rb.bits AS BIGINT) AS n_slots,
       |  count(*) AS n_occupied,
       |  max(occ.k) AS max_bucket,
       |  CAST(sum(occ.k * (occ.k - 1) // 2) AS BIGINT) AS cand_pairs,
       |  lb.bits AS resize_bits,
       |  nn.n > $OccupancySlack * (1 << rb.bits) AS resize_recommended
       |FROM occ, nn, rb, lb
       |GROUP BY occ.tbl, nn.n, rb.bits, lb.bits
       |ORDER BY tbl""".stripMargin
  }

  /** The shared q135/q139 oracle body. `sized = true` derives `bits`
    * in-SQL (CTEs `nn`/`bb`: the [[sizedBits]] rule) and appends the
    * sizing columns; otherwise the passed literal `bits` is used. */
  private def semAdmissionSql(threshold: Double, lowFrac: Double,
                              nTables: Int, bits: Int, dim: Int,
                              simThreshold: Double,
                              iters: Int, trainN: Int,
                              sized: Boolean): String = {
    val bm = Provenance.BatchMod
    val rm = Provenance.RetractMod
    val rr = Provenance.RetractRem
    // the q72Sql plane component (::DOUBLE pins IEEE division — see the
    // q72Sql comment)
    val comp = s"(CAST(concat('0x', substr(md5(p || '-' || d), 1, 15)) AS BIGINT)" +
      s" % 2000001) / 1000000.0::DOUBLE - 1.0::DOUBLE"
    // the sizing CTEs and the three bits injection points
    val preCtes = if (!sized) "" else
      s"""nn AS (SELECT count(*) AS n FROM embeddings),
         |bb AS (SELECT CAST(coalesce(min(b), $MaxBits) AS INT) AS bits
         |       FROM range($MinBits, ${MaxBits + 1}) t(b), nn
         |       WHERE pow(2, CAST(b AS INT)) >= nn.n),
         |""".stripMargin
    val planesFrom =
      if (sized) s"FROM range(0, ${nTables * MaxBits}) t(p), bb " +
        s"WHERE p < $nTables * bb.bits"
      else s"FROM range(0, ${nTables * bits}) t(p)"
    val bitsRef = if (sized) "bb.bits" else s"$bits"
    val ssgFrom = if (sized) "FROM e, planes pl, bb" else "FROM e, planes pl"
    val finalSelect =
      if (sized)
        s"""SELECT u.*, nn.n AS n_vectors, $nTables AS sig_tables,
           |  bb.bits AS sig_bits
           |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) u, nn, bb
           |ORDER BY tick, source""".stripMargin
      else
        """SELECT * FROM r1 UNION ALL SELECT * FROM r2
          |ORDER BY tick, source""".stripMargin
    def report(tick: Int, v: String, readm: String) =
      s"""SELECT $tick AS tick, source, count(*) AS n_batch,
         |  count(ch) AS n_dup_exact,
         |  count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
         |  count(CASE WHEN ch IS NULL AND fid IS NULL THEN sid END)
         |    AS n_dup_semantic,
         |  count(CASE WHEN lq THEN 1 END) AS n_low_quality,
         |  count(CASE WHEN lq = false THEN 1 END) AS n_new,
         |  $readm AS n_sem_readmitted
         |FROM $v GROUP BY source""".stripMargin
    s"""WITH $preCtes${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents)",
         threshold)},
       |adj AS MATERIALIZED (SELECT ida AS a, idb AS b FROM pairs
       |       UNION ALL SELECT idb AS a, ida AS b FROM pairs),
       |h AS MATERIALIZED (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |c0 AS MATERIALIZED (SELECT DISTINCT h FROM h
       |      WHERE doc_id % $bm BETWEEN 1 AND 9),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings),
       |planes AS (SELECT p, [$comp FOR d IN range(0, $dim)] AS pv
       |           $planesFrom),
       |ssg AS (SELECT e.vec_id, CAST(pl.p // $bitsRef AS INT) AS tbl,
       |          CAST(sum(CASE WHEN list_dot_product(e.ed, pl.pv) >= 0
       |                        THEN 1 << CAST(pl.p % $bitsRef AS INT)
       |                        ELSE 0 END) AS BIGINT) AS code
       |        $ssgFrom GROUP BY 1, 2),
       |scand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |          FROM ssg a JOIN ssg b
       |            ON a.tbl = b.tbl AND a.code = b.code
       |           AND a.vec_id < b.vec_id),
       |en AS (SELECT vec_id, ed, sqrt(list_dot_product(ed, ed)) AS nrm FROM e),
       |sem AS MATERIALIZED (SELECT c.ida, c.idb FROM scand c
       |       JOIN en na ON c.ida = na.vec_id
       |       JOIN en nb ON c.idb = nb.vec_id
       |       WHERE round(list_dot_product(na.ed, nb.ed)
       |             / (na.nrm * nb.nrm), 6) >= $simThreshold),
       |sadj AS MATERIALIZED (SELECT ida AS a, idb AS b FROM sem
       |        UNION ALL SELECT idb AS a, ida AS b FROM sem),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |t1 AS (SELECT doc_id, source, h FROM h WHERE doc_id % $bm >= 10),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm >= 10)", "b1_")},
       |sc1 AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |       FROM b1_feat, ctr_w w),
       |fz1 AS (SELECT DISTINCT b AS fid FROM adj
       |        WHERE b % $bm >= 10 AND a % $bm BETWEEN 1 AND 9),
       |sm1 AS (SELECT DISTINCT b AS sid FROM sadj
       |        WHERE b % $bm >= 10 AND a % $bm BETWEEN 1 AND 9),
       |j1 AS MATERIALIZED (SELECT t1.doc_id, t1.source, t1.h AS hh,
       |        c0.h AS ch, fz1.fid, sm1.sid, sc1.p
       |      FROM t1 LEFT JOIN c0 ON t1.h = c0.h
       |      LEFT JOIN fz1 ON fz1.fid = t1.doc_id
       |      LEFT JOIN sm1 ON sm1.sid = t1.doc_id
       |      JOIN sc1 ON sc1.doc_id = t1.doc_id),
       |lq1 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j1 WHERE ch IS NULL AND fid IS NULL AND sid IS NULL),
       |v1 AS MATERIALIZED (SELECT j1.*, lq1.lq FROM j1
       |      LEFT JOIN lq1 ON lq1.doc_id = j1.doc_id),
       |adm1 AS MATERIALIZED (SELECT doc_id FROM v1 WHERE lq = false),
       |ing1 AS (SELECT doc_id FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |         UNION ALL SELECT doc_id FROM adm1),
       |keep AS MATERIALIZED (SELECT doc_id FROM ing1
       |         WHERE doc_id % $rm <> $rr),
       |c1r AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |        JOIN keep k ON k.doc_id = h.doc_id),
       |fz2r AS (SELECT DISTINCT adj.b AS fid FROM adj
       |         JOIN keep k ON adj.a = k.doc_id WHERE adj.b % $bm = 0),
       |sm2r AS (SELECT DISTINCT sadj.b AS sid FROM sadj
       |         JOIN keep k ON sadj.a = k.doc_id WHERE sadj.b % $bm = 0),
       |sm2p AS (SELECT DISTINCT sadj.b AS spre FROM sadj
       |         JOIN ing1 i ON sadj.a = i.doc_id WHERE sadj.b % $bm = 0),
       |t2 AS (SELECT doc_id, source, h FROM h WHERE doc_id % $bm = 0),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm = 0)", "b2_")},
       |sc2 AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |       FROM b2_feat, ctr_w w),
       |j2 AS MATERIALIZED (SELECT t2.doc_id, t2.source, c1r.h AS ch,
       |        fz2r.fid, sm2r.sid, sm2p.spre, sc2.p
       |      FROM t2 LEFT JOIN c1r ON t2.h = c1r.h
       |      LEFT JOIN fz2r ON fz2r.fid = t2.doc_id
       |      LEFT JOIN sm2r ON sm2r.sid = t2.doc_id
       |      LEFT JOIN sm2p ON sm2p.spre = t2.doc_id
       |      JOIN sc2 ON sc2.doc_id = t2.doc_id),
       |lq2 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j2 WHERE ch IS NULL AND fid IS NULL AND sid IS NULL),
       |v2 AS MATERIALIZED (SELECT j2.*, lq2.lq FROM j2
       |      LEFT JOIN lq2 ON lq2.doc_id = j2.doc_id),
       |r1 AS (${report(1, "v1", "CAST(0 AS BIGINT)")}),
       |r2 AS (${report(2, "v2",
         "count(CASE WHEN lq = false THEN spre END)")})
       |$finalSelect""".stripMargin
  }
}
