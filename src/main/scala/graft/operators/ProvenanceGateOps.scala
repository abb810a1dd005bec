package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ADMISSION-GATE operator family of [[Provenance]] (q103 and its
  * whole descendant line: multi-tick ingest q106, drift series q111,
  * manifest series q112, adaptive q113, retraction q117, mixture
  * rebalance q127, budgeted q130, re-adjudication q131, quality
  * re-adjudication q134, plus the shared gated-tick frames and the
  * unrolled oracle CTE builders) — moved whole from Provenance.scala
  * (r15 verdict item 7: file hygiene before the 2k line mark; pure
  * move, the IngestLegOps precedent). The self-type keeps every
  * cross-reference (contentHash60, corpusHashState, BatchMod, the
  * admission reports) identical, and
  * `object Provenance extends ProvenanceGateOps`, so every
  * `Provenance.*` call site reads unchanged. */
trait ProvenanceGateOps { self: Provenance.type =>

  /** q103: the COMPLETE ingest gate — q92's exact + fuzzy dedup
    * verdicts plus the q101 learned quality gate, composed into the one
    * per-tick report a production admission loop actually logs. A
    * batch doc is judged in precedence order: `dup_corpus_exact`
    * (content hash already ingested) → `dup_corpus_fuzzy` (verified
    * near-dup of a corpus doc) → `low_quality` → `new` (admitted).
    *
    * The filter is trained on the CORPUS side only — the model a
    * deployment has is one fitted to what it already ingested, never
    * to the batch it is judging — on the bounded hash-ranked sample.
    * The quality verdict is BUDGET-BASED, not an absolute threshold:
    * the bottom `lowFrac` of the tick's NOVEL docs by learned score
    * (cume_dist ≤ lowFrac over (p, doc_id)) drop. An absolute cut
    * silently degenerates to drop-everything/keep-everything when the
    * score distribution shifts (or, as on the driver corpus, when the
    * teacher is uninformative and scores cluster at the base rate); a
    * rank budget is the operating point a deployment actually holds
    * fixed. The rank window is GLOBAL but scoped to one tick's novel
    * docs — tick-sized by definition, never corpus-sized (documented
    * exception to the no-global-window rule).
    *
    * Scale shape: the dedup legs are q92's (persistable 8–26-byte
    * state, map-side batch hashing/banding, candidate-driven verify);
    * the quality leg adds one FIXED-cost training pass (bounded
    * sample, 7-double collects) and a row-local scoring projection
    * over the batch. The four verdict counts partition n_batch (all
    * joins ≤1-match). Oracle: q92's chain plus the unrolled logreg
    * CTEs trained on the corpus-side slice, scores joined on doc_id,
    * the same cume_dist over the novel slice. */
  def q103AdmissionGate(documents: DataFrame, threshold: Double = 0.2,
                        lowFrac: Double = 0.25): DataFrame = {
    val (_, _, v) = admissionFrame(documents, threshold, lowFrac)
    gatedTickReport(v, ladder())
  }

  /** The q103 split and verdict frame — (corpus, batch, v) — shared by
    * q103's report and q130's budget accounting. */
  private def admissionFrame(documents: DataFrame, threshold: Double,
                             lowFrac: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val isBatch = (c: org.apache.spark.sql.Column) =>
      pmod(c, lit(BatchMod)) === 0
    val corpus = documents.filter(!isBatch(col("doc_id")))
    val batch = documents.filter(isBatch(col("doc_id")))
    val fuzzy = Fuzzy.lshCrossPairs(documents, isBatch, threshold)
      .select(col("eval_id").as("fid")).distinct()
    val w = QualityModel.weights(corpus, scope = s"admission$BatchMod")
    (corpus, batch, gatedTickFrame(batch, corpusHashState(corpus),
      Seq(Evidence.Fuzzy -> fuzzy), w, lowFrac))
  }

  /** The q103 oracle chain through the verdict CTEs (`... j, lq`) —
    * shared by [[q103Sql]] and the queries that compose the gate with a
    * downstream consumer of its ADMITTED set (q124's ANN serving tick:
    * `adm` = j ⟕ lq WHERE lq.lq = false). */
  private[operators] def gateSqlCtes(threshold: Double, lowFrac: Double,
                                     iters: Int, trainN: Int): String =
    s"""${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents)",
         threshold)},
       |h AS (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |b AS (SELECT doc_id, source, h FROM h WHERE doc_id % $BatchMod = 0),
       |c AS (SELECT DISTINCT h FROM h WHERE doc_id % $BatchMod <> 0),
       |fz AS (SELECT DISTINCT CASE WHEN ida % $BatchMod = 0 THEN ida ELSE idb END AS fid
       |       FROM pairs WHERE (ida % $BatchMod = 0) <> (idb % $BatchMod = 0)),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $BatchMod <> 0)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $BatchMod = 0)", "bf_")},
       |s AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |      FROM bf_feat, ctr_w w),
       |j AS (SELECT b.doc_id, b.source, c.h AS ch, fz.fid, s.p
       |      FROM b LEFT JOIN c ON b.h = c.h
       |      LEFT JOIN fz ON fz.fid = b.doc_id
       |      JOIN s ON s.doc_id = b.doc_id),
       |lq AS (SELECT doc_id,
       |         cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |       FROM j WHERE ch IS NULL AND fid IS NULL)""".stripMargin

  def q103Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String =
    s"""WITH ${gateSqlCtes(threshold, lowFrac, iters, trainN)}
       |SELECT j.source, count(*) AS n_batch, count(j.ch) AS n_dup_exact,
       |  count(CASE WHEN j.ch IS NULL THEN j.fid END) AS n_dup_fuzzy,
       |  count(CASE WHEN lq.lq THEN 1 END) AS n_low_quality,
       |  count(CASE WHEN lq.lq = false THEN 1 END) AS n_new
       |FROM j LEFT JOIN lq ON lq.doc_id = j.doc_id
       |GROUP BY j.source ORDER BY source""".stripMargin

  /** q106: the MULTI-TICK ingest loop — the state-maintenance closure
    * of q103 (r9 verdict item 1): TWO q103-shaped ticks where the
    * dedup state tick 2 judges against INCLUDES what tick 1 admitted.
    * Split by doc_id % [[BatchMod]]: classes 1–9 are the base corpus,
    * 10–16 tick 1, 0 tick 2 (GenData plants dup sources 1–11 ids back,
    * so class-0 near-dups of class-10–16 sources exist — the decisive
    * fold-back cases). Per tick, the q103 verdict precedence:
    * `dup_corpus_exact` (hash in accumulated state) →
    * `dup_corpus_fuzzy` (verified near-dup of a STATE doc — base corpus
    * for tick 1; base ∪ tick-1-admitted for tick 2) → `low_quality`
    * (bottom `lowFrac` of the tick's novel docs under the FROZEN
    * base-corpus model — a deployment retrains between ticks, not
    * within them) → `new`. Only `new` docs fold back: exact/fuzzy dups
    * were never ingested and low-quality docs were rejected, so tick 2
    * must re-reject a near-dup of a tick-1 reject — spec-pinned in
    * IngestLoopSpec. Within-tick near-dups are NOT flagged (the
    * q92/q103 convention: the state is what you judge against; a tick
    * is atomic).
    *
    * Scale shape: ONE LSH chain over the table (checkpointed, read by
    * both ticks' fuzzy flags — the q103 marker discipline), ONE bounded
    * training pass, two row-local scoring projections, and per tick the
    * q92 join shape (≤1-match joins; verdict columns partition
    * n_batch). The live form here computes state functionally so the
    * DuckDB oracle can re-derive both ticks from one WITH clause; the
    * DEPLOYMENT form is [[graft.io.IngestLoop]], where the state lives
    * in [[graft.io.ArtifactStore.IngestStateStore]] parquet
    * (appendTickAt per tick, generational compaction) and corpus text is
    * never rescanned — IngestLoopSpec pins the two forms equal. */
  /** The two gated tick frames + frozen weights of the q106 split —
    * shared by the q106 report and the q111 drift series (both
    * checkpointed; each consumer aggregates without re-running the
    * LSH/training chain). */
  /** Everything of the q106 split EXCEPT tick 2's labeled frame — so
    * q113 can gate tick 2 under a canary-CHOSEN model while sharing
    * tick 1 and the fold-back state verbatim. */
  private[graft] final case class MultiTickParts(
      v1: DataFrame, t2: DataFrame, c1: DataFrame, fz2: DataFrame,
      w: Seq[Double], adj: DataFrame)

  private[graft] def multiTickParts(documents: DataFrame,
                                    threshold: Double,
                                    lowFrac: Double): MultiTickParts = {
    val m = (c: org.apache.spark.sql.Column) => pmod(c, lit(BatchMod))
    val corpus = documents.filter(m(col("doc_id")).between(1, 9))
    val t1 = documents.filter(m(col("doc_id")) >= 10)
    val t2 = documents.filter(m(col("doc_id")) === 0)
    // ONE verified pair relation over the whole table, severed: both
    // ticks' fuzzy flags read it (un-severed, the LSH chain would
    // re-execute per reference — the q103 localCheckpoint lesson)
    val pr = Fuzzy.lshVerifiedPairs(documents, threshold)
      .select("ida", "idb").localCheckpoint()
    val adj = pr.union(pr.select(col("idb"), col("ida"))).toDF("a", "b")
    val w = QualityModel.weights(corpus, scope = s"multitick$BatchMod")
    // tick 1 against the base-corpus state
    val fz1 = adj.filter(m(col("b")) >= 10 && m(col("a")).between(1, 9))
      .select(col("b").as("fid")).distinct()
    val v1 = gatedTickFrame(t1, corpusHashState(corpus),
      Seq(Evidence.Fuzzy -> fz1), w, lowFrac)
    // fold-back: ONLY tick 1's admitted docs join the state tick 2 sees
    val adm1 = v1.filter(col("lq") === false).select(col("doc_id"), col("h"))
    val c1 = corpusHashState(corpus)
      .union(adm1.select(col("h").as("ch"))).distinct()
    val fz2 = adj.filter(m(col("b")) === 0)
      .join(adm1.select(col("doc_id").as("aid")), col("a") === col("aid"), "left")
      .filter(m(col("a")).between(1, 9) || col("aid").isNotNull)
      .select(col("b").as("fid")).distinct()
    MultiTickParts(v1, t2, c1, fz2, w, adj)
  }

  private[graft] def multiTickFrames(documents: DataFrame,
                                     threshold: Double, lowFrac: Double)
      : (DataFrame, DataFrame, Seq[Double]) = {
    val p = multiTickParts(documents, threshold, lowFrac)
    (p.v1, gatedTickFrame(p.t2, p.c1, Seq(Evidence.Fuzzy -> p.fz2), p.w,
      lowFrac), p.w)
  }

  def q106MultiTickIngest(documents: DataFrame, threshold: Double = 0.2,
                          lowFrac: Double = 0.25): DataFrame = {
    val (v1, v2, _) = multiTickFrames(documents, threshold, lowFrac)
    gatedTickReport(v1, ladder()).withColumn("tick", lit(1))
      .union(gatedTickReport(v2, ladder()).withColumn("tick", lit(2)))
      .select(col("tick"), col("source"), col("n_batch"), col("n_dup_exact"),
        col("n_dup_fuzzy"), col("n_low_quality"), col("n_new"))
      .orderBy("tick", "source")
  }

  /** (doc_id, ft) membership of the INGESTED corpus per q106 tick —
    * ft = 0 base corpus, 1/2 = that tick's ADMITTED docs (lq = false;
    * dups and rejects never enter). THE one definition of ingested
    * membership, shared by q111/q112/q115 (review finding: it had
    * been copy-pasted into each). */
  private[operators] def ingestedMembership(documents: DataFrame,
                                            v1: DataFrame,
                                            v2: DataFrame): DataFrame =
    documents
      .filter(pmod(col("doc_id"), lit(BatchMod)).between(1, 9))
      .select(col("doc_id"), lit(0).as("ft"))
      .union(v1.filter(col("lq") === false).select(col("doc_id"), lit(1).as("ft")))
      .union(v2.filter(col("lq") === false).select(col("doc_id"), lit(2).as("ft")))

  /** q111: the PER-TICK drift series (r9 verdict item 8 — the q104
    * two-snapshot read extended over the ingest loop's generations):
    * under the FROZEN base-corpus model, the score histogram of the
    * INGESTED corpus after each tick — tick 0 = base corpus, tick 1 =
    * base ∪ tick-1 admissions, tick 2 = ∪ tick-2 admissions (only
    * `new`-verdict docs enter a snapshot: dups and low-quality rejects
    * were never ingested, exactly the q106/IngestLoop state). Per
    * (tick, bucket): count, fraction of that snapshot, and the delta
    * vs the tick-0 fraction — the monitoring table a deployment
    * charts, whose drifting rows feed the q109 retrain canary.
    *
    * Scale shape: the q106 chain once (checkpointed frames), ONE
    * row-local scoring projection over the table, membership as a
    * 3-arm union of id/first-tick pairs, one explode to ≤ 3 rows per
    * doc, a (tick, bucket) aggregate — no window, no new shuffle
    * beyond the ≤ 30-group aggregate. Oracle: the q106 WITH chain plus
    * one more feature prefix and the histogram CTEs. */
  def q111DriftSeries(documents: DataFrame, threshold: Double = 0.2,
                      lowFrac: Double = 0.25): DataFrame = {
    val (v1, v2, w) = multiTickFrames(documents, threshold, lowFrac)
    val hist = ingestedMembership(documents, v1, v2)
      .join(QualityModel.scores(documents, w), "doc_id")
      .select(explode(expr("sequence(ft, 2)")).as("tick"),
        least(floor(col("p") * 10), lit(9)).cast("int").as("bucket"))
      .groupBy("tick", "bucket").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint() // read by totals, the tick-0 baseline, and the report
    val tots = hist.groupBy("tick").agg(sum("n_docs").as("tot"))
    val base = hist.filter(col("tick") === 0)
      .select(col("bucket").as("b0"), col("n_docs").as("n0"))
    val tot0 = tots.filter(col("tick") === 0).select(col("tot").as("tot0"))
    hist.join(tots, "tick")
      .join(base, col("bucket") === col("b0"), "left")
      .crossJoin(broadcast(tot0))
      .select(col("tick"), col("bucket"), col("n_docs"),
        round(col("n_docs") / col("tot"), 6).as("frac"),
        round(col("n_docs") / col("tot") -
          coalesce(col("n0"), lit(0L)) / col("tot0"), 6).as("delta"))
      .orderBy("tick", "bucket")
  }

  /** Merge bucket-level manifest rows (any number of partial q70
    * manifests unioned) into one manifest — the mergeability the q70
    * scaladoc promises, as an operator: XOR is associative and
    * commutative, counts/bytes sum, id bounds min/max, so partial
    * manifests from independent file groups (or ingest ticks) combine
    * WITHOUT touching any document. This is what makes per-tick
    * manifest maintenance O(buckets) instead of O(corpus): each tick
    * appends the manifest of its admitted docs to an
    * [[graft.io.ArtifactStore.IngestStateStore]] and the current
    * corpus manifest is one `buckets`-group aggregate over those tiny
    * rows (IngestLoopSpec pins merge(incrementals) ≡ a full
    * [[q70Manifest]] of the materialized snapshot). */
  def mergeManifests(parts: DataFrame): DataFrame =
    parts.groupBy("bucket")
      .agg(sum("n_docs").as("n_docs"),
        expr("bit_xor(content_sig)").as("content_sig"),
        min("min_id").as("min_id"), max("max_id").as("max_id"),
        sum("sum_chars").as("sum_chars"))
      .orderBy("bucket")

  /** q112: the MANIFEST SERIES over the ingest loop's snapshots — q70
    * corpus versioning maintained per tick: for each tick the manifest
    * of the INGESTED corpus (base ∪ admissions through that tick, the
    * q106/IngestLoop state — dups and rejects never enter a
    * signature). One row per (tick, bucket) with the q70 columns, so a
    * deployment's manifest log is diffable tick-to-tick with the q75
    * machinery and any transported snapshot verifies against the row
    * for its tick. The live form derives membership functionally (the
    * q106 chain) so the oracle re-derives it; the deployment form
    * appends per-tick partial manifests and merges
    * ([[mergeManifests]]) — spec-pinned equal.
    *
    * Scale shape: the q106 chain (checkpointed, shared), one id-keyed
    * join to recover (text, n_chars), a ≤ 3-rows-per-doc explode, and
    * a (tick, bucket) aggregate — the manifest itself stays
    * O(ticks × buckets). */
  def q112ManifestSeries(documents: DataFrame, threshold: Double = 0.2,
                         lowFrac: Double = 0.25,
                         buckets: Int = 64): DataFrame = {
    val (v1, v2, _) = multiTickFrames(documents, threshold, lowFrac)
    ingestedMembership(documents, v1, v2)
      .join(documents.select(col("doc_id"), col("text"), col("n_chars")), "doc_id")
      .select(explode(expr("sequence(ft, 2)")).as("tick"),
        pmod(col("doc_id"), lit(buckets.toLong)).as("bucket"),
        col("doc_id"),
        contentHash60(concat_ws("|", col("doc_id"), col("text"))).as("h"),
        col("n_chars"))
      .groupBy("tick", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("content_sig"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum("n_chars").as("sum_chars"))
      .orderBy("tick", "bucket")
  }

  def q112Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              buckets: Int = 64,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    s"""WITH ${multiTickSqlCtes(threshold, lowFrac, iters, trainN)},
       |ftk AS (SELECT doc_id, 0 AS ft FROM documents
       |          WHERE doc_id % $bm BETWEEN 1 AND 9
       |        UNION ALL SELECT doc_id, 1 AS ft FROM v1 WHERE lq = false
       |        UNION ALL SELECT doc_id, 2 AS ft FROM v2 WHERE lq = false),
       |hx AS (SELECT CAST(tt.tick AS INT) AS tick,
       |         f.doc_id % $buckets AS bucket, f.doc_id,
       |         CAST(concat('0x', substr(md5(concat_ws('|', f.doc_id, d.text)), 1, 15))
       |           AS BIGINT) AS hh,
       |         d.n_chars
       |       FROM ftk f JOIN documents d ON d.doc_id = f.doc_id,
       |            unnest(range(f.ft, 3)) tt(tick))
       |SELECT tick, bucket, count(*) AS n_docs, bit_xor(hh) AS content_sig,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM hx GROUP BY tick, bucket ORDER BY tick, bucket""".stripMargin
  }

  /** One rung of the ADMISSION LADDER — an evidence class: its ≤1-match
    * flag column on the verdict frame, its quarantine verdict label, its
    * tick-report column, and its two re-adjudication report columns
    * (the original class, the class that still holds). */
  private[graft] final case class Evidence(flag: String, verdict: String,
                                           nTick: String, nT1: String,
                                           nStill: String)

  /** THE admission ladder, the one definition of verdict precedence
    * every gate in the engine reads (q103 and its loop family, the
    * semantic/decontamination legs, the unified multimodal tick, their
    * deployment forms and re-adjudications):
    *
    *   exact → fuzzy → [semantic] → [contaminated] → [image → audio]
    *   → low_quality → new
    *
    * A doc takes the verdict of the FIRST rung whose flag is set; a doc
    * no rung flags enters the quality window (`low_quality` for the
    * bottom `lowFrac`, else `new`). Exact (the hash join of `h` against
    * the state's `ch`) and fuzzy are always attached; a bracketed rung
    * only when its leg is. Text-derived evidence outranks the modality
    * signatures. Report specs read columns by position, so this order
    * and these names are the contract. */
  private[graft] object Evidence {
    val Exact = Evidence("ch", "dup_exact", "n_dup_exact",
      "n_exact_t1", "n_still_exact")
    val Fuzzy = Evidence("fid", "dup_fuzzy", "n_dup_fuzzy",
      "n_fuzzy_t1", "n_still_fuzzy")
    val Semantic = Evidence("sid", "dup_semantic", "n_dup_semantic",
      "n_sem_t1", "n_still_semantic")
    val Contaminated = Evidence("cid", "contaminated", "n_contaminated",
      "n_contam_t1", "n_still_contaminated")
    val Image = Evidence("ifid", "dup_image", "n_dup_image",
      "n_image_t1", "n_still_image")
    val Audio = Evidence("afid", "dup_audio", "n_dup_audio",
      "n_audio_t1", "n_still_audio")
    val Ladder = Seq(Exact, Fuzzy, Semantic, Contaminated, Image, Audio)
  }

  /** The rungs a gate runs, in precedence order: exact and fuzzy plus
    * the classes of the legs it has attached. Its `verdict`s are the
    * quarantine classes a re-adjudication can re-judge. */
  private[graft] def ladder(legs: Evidence*): Seq[Evidence] =
    Evidence.Ladder.filter(e =>
      e == Evidence.Exact || e == Evidence.Fuzzy || legs.contains(e))

  /** No rung of `ladder` flagged the doc — the quality window's cohort. */
  private[graft] def novel(ladder: Seq[Evidence]): Column =
    ladder.map(e => col(e.flag).isNull).reduce(_ && _)

  /** The quarantine verdict label: the first flagged rung's, else
    * `low_quality` (callers filter to rejected docs). */
  private[graft] def verdictOf(ladder: Seq[Evidence]): Column =
    ladder.tail.foldLeft(
      when(col(ladder.head.flag).isNotNull, lit(ladder.head.verdict))) {
      (c, e) => c.when(col(e.flag).isNotNull, lit(e.verdict))
    }.otherwise(lit("low_quality"))

  /** Per rung, the count of docs whose FIRST flagged rung it is. */
  private def firstHits(ladder: Seq[Evidence],
                        name: Evidence => String): Seq[Column] =
    ladder.zipWithIndex.map { case (e, i) =>
      val hit =
        if (i == 0) col(e.flag) else when(novel(ladder.take(i)), col(e.flag))
      count(hit).as(name(e))
    }

  /** One gated tick's labeled frame — the q103/q106 j∘lq kernel against
    * an ARBITRARY exact-hash state (`ch` column) under frozen weights
    * `w`, with `flags` the flag-id frames of every other attached rung
    * (fuzzy always; id column named as the rung's flag), joined in
    * [[Evidence]] ladder order. Per batch doc: (doc_id, source, h, ch,
    * the flags, p, lq) with `lq` true = bottom `lowFrac` of the docs no
    * rung flagged, by score; false = admitted; null = dup. Every join is
    * ≤1-match, so the verdict classes partition the batch. Checkpointed
    * twice (the q103 marker discipline — un-severed, each reference
    * would re-expand and RE-EXECUTE the flag chains): `j` is read by the
    * budget window and the final join; the returned frame by the report
    * AND any fold-back consumer ([[graft.io.IngestLoop.runTick]]). */
  private[graft] def gatedTickFrame(batch: DataFrame, state: DataFrame,
                                    flags: Seq[(Evidence, DataFrame)],
                                    w: Seq[Double],
                                    lowFrac: Double): DataFrame = {
    val ids = flags.toMap
    val rungs = ladder(flags.map(_._1): _*)
    val j0 = batch
      .select(col("doc_id"), col("source"), contentHash60(col("text")).as("h"))
      .join(state, col("h") === col("ch"), "left")
    val j = rungs.tail.foldLeft(j0) { (acc, e) =>
        acc.join(ids(e).select(e.flag), col("doc_id") === col(e.flag), "left")
      }
      .join(QualityModel.scores(batch, w), "doc_id")
      .localCheckpoint()
    val lq = RankGate.lowFracFlags(j.filter(novel(rungs)), lowFrac)
    j.join(lq, col("doc_id") === col("lqid"), "left").localCheckpoint()
  }

  /** The per-source report of a [[gatedTickFrame]]: n_batch, one
    * count per rung of `ladder`, n_low_quality, n_new. */
  private[graft] def gatedTickReport(v: DataFrame,
                                     ladder: Seq[Evidence]): DataFrame = {
    val aggs = count(lit(1)).as("n_batch") +: firstHits(ladder, _.nTick) ++:
      Seq(count(when(col("lq") === true, lit(1))).as("n_low_quality"),
        count(when(col("lq") === false, lit(1))).as("n_new"))
    v.groupBy("source").agg(aggs.head, aggs.tail: _*).orderBy("source")
  }

  /** The per-source RE-ADJUDICATION report of a re-judged quarantine
    * frame `vr` (q131/q133 and their deployment forms): quarantine size
    * split by ORIGINAL verdict (`quar` carries (doc_id, verdict_t1))
    * and by re-adjudicated verdict, one count per rung of `ladder`. */
  private[graft] def readjReport(vr: DataFrame, quar: DataFrame,
                                 ladder: Seq[Evidence]): DataFrame = {
    val aggs = count(lit(1)).as("n_quarantined") +:
      ladder.map(e =>
        count(when(col("verdict_t1") === e.verdict, lit(1))).as(e.nT1)) ++:
      firstHits(ladder, _.nStill) ++:
      Seq(count(when(col("lq") === true, lit(1))).as("n_low_quality"),
        count(when(col("lq") === false, lit(1))).as("n_readmitted"))
    vr.join(quar.withColumnRenamed("doc_id", "qid"),
        col("doc_id") === col("qid"))
      .groupBy("source")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("source")
  }

  /** The q106 oracle chain through tick 1, the fold-back state, and
    * tick 2's features/candidates (`...v1, adm1, c1, t2, b2_feat,
    * fz2`) — WITHOUT tick 2's scoring/verdict, so q113 can splice a
    * canary-chosen weight row in. [[multiTickSqlCtes]] appends the
    * standard base-model tick 2. */
  private[operators] def multiTickCoreSqlCtes(threshold: Double,
                                              lowFrac: Double,
                                              iters: Int, trainN: Int): String = {
    val bm = BatchMod
    s"""${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents)",
         threshold)},
       |adj AS MATERIALIZED (SELECT ida AS a, idb AS b FROM pairs
       |       UNION ALL SELECT idb AS a, ida AS b FROM pairs),
       |h AS MATERIALIZED (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |c0 AS MATERIALIZED (SELECT DISTINCT h FROM h
       |      WHERE doc_id % $bm BETWEEN 1 AND 9),
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
       |j1 AS MATERIALIZED (SELECT t1.doc_id, t1.source, t1.h AS hh,
       |        c0.h AS ch, fz1.fid, sc1.p
       |      FROM t1 LEFT JOIN c0 ON t1.h = c0.h
       |      LEFT JOIN fz1 ON fz1.fid = t1.doc_id
       |      JOIN sc1 ON sc1.doc_id = t1.doc_id),
       |lq1 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j1 WHERE ch IS NULL AND fid IS NULL),
       |v1 AS MATERIALIZED (SELECT j1.*, lq1.lq FROM j1
       |      LEFT JOIN lq1 ON lq1.doc_id = j1.doc_id),
       |adm1 AS MATERIALIZED (SELECT doc_id, hh FROM v1 WHERE lq = false),
       |c1 AS MATERIALIZED (SELECT DISTINCT h FROM
       |        (SELECT h FROM c0 UNION ALL SELECT hh AS h FROM adm1)),
       |t2 AS (SELECT doc_id, source, h FROM h WHERE doc_id % $bm = 0),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm = 0)", "b2_")},
       |fz2 AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        LEFT JOIN adm1 ON adj.a = adm1.doc_id
       |        WHERE adj.b % $bm = 0
       |          AND (adj.a % $bm BETWEEN 1 AND 9 OR adm1.doc_id IS NOT NULL))"""
      .stripMargin
  }

  /** Tick 2's scoring/verdict CTEs under an arbitrary one-row weight
    * alias `wRel` — `s2 … v2` (v2 MATERIALIZED). `stateRel`/`fuzzyRel`
    * name the hash-state / fuzzy-flag relations tick 2 judges against
    * (default: the q106 fold-back state; q117 passes its
    * post-RETRACTION versions). */
  private def tick2SqlCtes(lowFrac: Double, wRel: String,
                           stateRel: String = "c1",
                           fuzzyRel: String = "fz2"): String =
    s"""sc2 AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |       FROM b2_feat, $wRel w),
       |j2 AS MATERIALIZED (SELECT t2.doc_id, t2.source, $stateRel.h AS ch,
       |        $fuzzyRel.fid, sc2.p
       |      FROM t2 LEFT JOIN $stateRel ON t2.h = $stateRel.h
       |      LEFT JOIN $fuzzyRel ON $fuzzyRel.fid = t2.doc_id
       |      JOIN sc2 ON sc2.doc_id = t2.doc_id),
       |lq2 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j2 WHERE ch IS NULL AND fid IS NULL),
       |v2 AS MATERIALIZED (SELECT j2.*, lq2.lq FROM j2
       |      LEFT JOIN lq2 ON lq2.doc_id = j2.doc_id)""".stripMargin

  /** The q106 oracle chain through `v1`/`v2` (both MATERIALIZED) —
    * shared by q106Sql, q111Sql and q112Sql. */
  private[operators] def multiTickSqlCtes(threshold: Double, lowFrac: Double,
                                          iters: Int, trainN: Int): String =
    s"""${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |${tick2SqlCtes(lowFrac, "ctr_w")}""".stripMargin

  def q106Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    def reportSql(tick: Int, v: String) =
      s"""SELECT $tick AS tick, source, count(*) AS n_batch,
         |  count(ch) AS n_dup_exact,
         |  count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
         |  count(CASE WHEN lq THEN 1 END) AS n_low_quality,
         |  count(CASE WHEN lq = false THEN 1 END) AS n_new
         |FROM $v GROUP BY source""".stripMargin
    s"""WITH ${multiTickSqlCtes(threshold, lowFrac, iters, trainN)},
       |r1 AS (${reportSql(1, "v1")}),
       |r2 AS (${reportSql(2, "v2")})
       |SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |ORDER BY tick, source""".stripMargin
  }

  def q111Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    s"""WITH ${multiTickSqlCtes(threshold, lowFrac, iters, trainN)},
       |${QualityModel.featureSqlCtes("documents", "av_")},
       |sall AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |         FROM av_feat, ctr_w w),
       |ftk AS (SELECT doc_id, 0 AS ft FROM documents
       |          WHERE doc_id % $bm BETWEEN 1 AND 9
       |        UNION ALL SELECT doc_id, 1 AS ft FROM v1 WHERE lq = false
       |        UNION ALL SELECT doc_id, 2 AS ft FROM v2 WHERE lq = false),
       |hist AS MATERIALIZED (
       |  SELECT CAST(tt.tick AS INT) AS tick,
       |    CAST(least(floor(s.p * 10), 9) AS int) AS bucket,
       |    count(*) AS n_docs
       |  FROM ftk f JOIN sall s ON s.doc_id = f.doc_id,
       |       unnest(range(f.ft, 3)) tt(tick)
       |  GROUP BY 1, 2),
       |tots AS (SELECT tick, CAST(sum(n_docs) AS BIGINT) AS tot
       |         FROM hist GROUP BY tick),
       |b0 AS (SELECT bucket, n_docs AS n0 FROM hist WHERE tick = 0),
       |t0 AS (SELECT tot AS tot0 FROM tots WHERE tick = 0)
       |SELECT h.tick, h.bucket, h.n_docs,
       |  round(h.n_docs / CAST(t.tot AS double), 6) AS frac,
       |  round(h.n_docs / CAST(t.tot AS double)
       |        - coalesce(b0.n0, 0) / CAST(t0.tot0 AS double), 6) AS delta
       |FROM hist h JOIN tots t ON t.tick = h.tick
       |LEFT JOIN b0 ON b0.bucket = h.bucket, t0
       |ORDER BY h.tick, h.bucket""".stripMargin
  }

  /** q113: the ADAPTIVE ingest tick — the q109 canary actually CLOSING
    * the retrain loop: after tick 1's admissions, retrain on the
    * post-tick ingested corpus (base ∪ tick-1 admissions — never on
    * rejects) and count admission flips vs the frozen model over the
    * bounded canary sample ([[QualityModel.flipCount]]); if flips
    * exceed `maxFlips`, tick 2 is gated by the RETRAINED model,
    * otherwise the frozen one stands — drift response as a measured
    * decision, not an operator's hunch. Output is the q106 report plus
    * a `model` column recording which weights gated each tick
    * ('base' for tick 1 by construction; data-dependent for tick 2).
    *
    * Oracle: the q106 core chain + a third unrolled training chain
    * over the snapshot relation + the q109 canary CTEs + a per-weight
    * CASE row (`wsel`) — the model CHOICE itself is re-derived by
    * DuckDB, so a hash match certifies the whole closed loop:
    * state fold-back ∘ retrain ∘ canary ∘ conditional gating.
    *
    * Scale shape: q106's shape + one more fixed-cost training pass +
    * the sample-sized canary windows + ONE scalar barrier (the flip
    * count — a single long to the driver, which selects the literal
    * weight vector the tick-2 projection folds in). */
  def q113AdaptiveIngest(documents: DataFrame, threshold: Double = 0.2,
                         lowFrac: Double = 0.25, maxFlips: Int = 4,
                         evalN: Int = QualityModel.DefaultTrainN): DataFrame = {
    val p = multiTickParts(documents, threshold, lowFrac)
    val corpus = documents.filter(
      pmod(col("doc_id"), lit(BatchMod)).between(1, 9))
    val adm1Docs = documents.join(
      p.v1.filter(col("lq") === false).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val wFresh = QualityModel.weights(corpus.union(adm1Docs),
      scope = s"adaptive$BatchMod")
    val flips = QualityModel.flipCount(documents, p.w, wFresh, lowFrac, evalN)
    val retrain = flips > maxFlips
    val v2 = gatedTickFrame(p.t2, p.c1, Seq(Evidence.Fuzzy -> p.fz2),
      if (retrain) wFresh else p.w, lowFrac)
    gatedTickReport(p.v1, ladder())
      .withColumn("tick", lit(1)).withColumn("model", lit("base"))
      .union(gatedTickReport(v2, ladder())
        .withColumn("tick", lit(2))
        .withColumn("model", lit(if (retrain) "fresh" else "base")))
      .select(col("tick"), col("source"), col("model"), col("n_batch"),
        col("n_dup_exact"), col("n_dup_fuzzy"), col("n_low_quality"),
        col("n_new"))
      .orderBy("tick", "source")
  }

  def q113Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              maxFlips: Int = 4,
              evalN: Int = QualityModel.DefaultTrainN,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    val ws = (0 until QualityModel.NumW)
      .map(j => s"CASE WHEN n.flips > $maxFlips THEN f.w$j ELSE b.w$j END AS w$j")
      .mkString(", ")
    s"""WITH ${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |csnap AS (SELECT doc_id FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |          UNION ALL SELECT doc_id FROM adm1),
       |${QualityModel.featureSqlCtes(
         "(SELECT d.* FROM documents d JOIN csnap cs ON cs.doc_id = d.doc_id)",
         "fr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "fr_")},
       |${QualityModel.featureSqlCtes("documents", "cv_")},
       |csmp AS MATERIALIZED (
       |  SELECT doc_id, ${QualityModel.scoreSql("wb")} AS pb,
       |         ${QualityModel.scoreSql("wf")} AS pf
       |  FROM (SELECT * FROM cv_feat ORDER BY hv, doc_id LIMIT $evalN) f,
       |       ctr_w wb, fr_w wf),
       |cfl AS (SELECT cume_dist() OVER (ORDER BY pb, doc_id) <= $lowFrac AS lb,
       |          cume_dist() OVER (ORDER BY pf, doc_id) <= $lowFrac AS lf
       |        FROM csmp),
       |nflip AS (SELECT count(CASE WHEN lb <> lf THEN 1 END) AS flips FROM cfl),
       |wsel AS (SELECT $ws FROM ctr_w b, fr_w f, nflip n),
       |${tick2SqlCtes(lowFrac, "wsel")},
       |r1 AS (SELECT 1 AS tick, source, 'base' AS model, count(*) AS n_batch,
       |         count(ch) AS n_dup_exact,
       |         count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
       |         count(CASE WHEN lq THEN 1 END) AS n_low_quality,
       |         count(CASE WHEN lq = false THEN 1 END) AS n_new
       |       FROM v1 GROUP BY source),
       |r2 AS (SELECT 2 AS tick, source,
       |         (SELECT CASE WHEN flips > $maxFlips THEN 'fresh' ELSE 'base' END
       |          FROM nflip) AS model,
       |         count(*) AS n_batch, count(ch) AS n_dup_exact,
       |         count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
       |         count(CASE WHEN lq THEN 1 END) AS n_low_quality,
       |         count(CASE WHEN lq = false THEN 1 END) AS n_new
       |       FROM v2 GROUP BY source)
       |SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |ORDER BY tick, source""".stripMargin
  }

  /** Batch-membership modulus of the q117 RETRACTION set: among the
    * docs ingested through tick 1 (base corpus ∪ tick-1 admissions),
    * those with doc_id % 3 == 1 are retracted — deterministic,
    * engine-portable, coprime to [[BatchMod]] and to GenData's planting
    * strides, so the retraction set contains exact-hash and near-dup
    * partners of tick-2 batch docs (the decisive re-admission cases). */
  val RetractMod = 3L
  val RetractRem = 1L

  /** q117: the RETRACTION tick — the r10 verdict's top item, retiring
    * the append-only-state assumption: a production corpus must process
    * takedowns (copyright, post-admission PII, re-judged docs), and a
    * retracted document's state must stop rejecting its duplicates.
    * Three phases, all re-derived by the oracle in one WITH clause:
    *
    *   1. tick 1 — the q106 tick verbatim (batch doc_id % 17 ≥ 10
    *      judged against the base corpus under the frozen base model);
    *   2. RETRACTION — every ingested doc (base ∪ tick-1 admissions)
    *      with doc_id % [[RetractMod]] == [[RetractRem]] is removed
    *      from the state at DOCUMENT granularity: its content hash
    *      leaves the exact gate UNLESS a surviving ingested doc shares
    *      it (the doc-granular [[corpusDocHashes]] argument), and its
    *      band/shingle rows leave the fuzzy gate;
    *   3. tick 2 — the q106 tick-2 batch (doc_id % 17 == 0) judged
    *      against the POST-RETRACTION state: an exact or near dup of a
    *      retracted doc with no surviving partner is verdicted `new`
    *      (re-admittable) where q106 rejected it.
    *
    * Output: the q106 report plus `n_state` — the distinct-hash count
    * of the state each tick was judged against, which certifies the
    * retraction magnitude inside the oracle-checked result (tick 2's
    * n_state < tick 1's n_state + tick-1 admissions).
    *
    * The DEPLOYMENT form is [[graft.io.IngestLoop.retractTick]]:
    * doc_id tombstones in a sibling store, anti-joined at every state
    * read (idempotent — correctness never depends on whether a
    * compaction has folded them), folded into the generation at
    * compaction. RetractionSpec pins store form ≡ this live form,
    * post-retraction BM25 ranking ≡ a rebuild without the docs, and
    * verdict-invariant tombstone folding.
    *
    * Scale shape: q106's (one LSH chain, one bounded training pass,
    * ≤1-match joins) plus one id-keyed anti-join per state relation —
    * the retraction set is takedown-sized, broadcast against 8–26-byte
    * state rows; corpus text is never rescanned to retract. */
  def q117RetractionTick(documents: DataFrame, threshold: Double = 0.2,
                         lowFrac: Double = 0.25): DataFrame = {
    val p = multiTickParts(documents, threshold, lowFrac)
    val m = (c: org.apache.spark.sql.Column) => pmod(c, lit(BatchMod))
    val corpus = documents.filter(m(col("doc_id")).between(1, 9))
    // ingested-through-tick-1 membership, minus the retraction set
    val ing1 = corpus.select("doc_id")
      .union(p.v1.filter(col("lq") === false).select("doc_id"))
    val keep = ing1.filter(pmod(col("doc_id"), lit(RetractMod)) =!= RetractRem)
    val keepDocs = documents.join(keep, Seq("doc_id"), "left_semi")
    // post-retraction state: hash present iff a SURVIVING doc has it
    val c1r = corpusHashState(keepDocs)
    val fz2r = p.adj.filter(m(col("b")) === 0)
      .join(keep.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("fid")).distinct()
    val v2 = gatedTickFrame(p.t2, c1r, Seq(Evidence.Fuzzy -> fz2r), p.w,
      lowFrac)
    val ns1 = corpusHashState(corpus).agg(count(lit(1)).as("n_state"))
    val ns2 = c1r.agg(count(lit(1)).as("n_state"))
    gatedTickReport(p.v1, ladder()).withColumn("tick", lit(1))
      .crossJoin(broadcast(ns1))
      .union(gatedTickReport(v2, ladder()).withColumn("tick", lit(2))
        .crossJoin(broadcast(ns2)))
      .select(col("tick"), col("source"), col("n_batch"), col("n_dup_exact"),
        col("n_dup_fuzzy"), col("n_low_quality"), col("n_new"), col("n_state"))
      .orderBy("tick", "source")
  }

  def q117Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    def reportSql(tick: Int, v: String, ns: String) =
      s"""SELECT $tick AS tick, source, count(*) AS n_batch,
         |  count(ch) AS n_dup_exact,
         |  count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
         |  count(CASE WHEN lq THEN 1 END) AS n_low_quality,
         |  count(CASE WHEN lq = false THEN 1 END) AS n_new,
         |  n_state
         |FROM $v, $ns GROUP BY source, n_state""".stripMargin
    s"""WITH ${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |ing1 AS (SELECT doc_id FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |         UNION ALL SELECT doc_id FROM adm1),
       |keep AS MATERIALIZED (SELECT doc_id FROM ing1
       |         WHERE doc_id % $RetractMod <> $RetractRem),
       |c1r AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |        JOIN keep k ON k.doc_id = h.doc_id),
       |fz2r AS (SELECT DISTINCT adj.b AS fid FROM adj
       |         JOIN keep k ON adj.a = k.doc_id
       |         WHERE adj.b % $bm = 0),
       |${tick2SqlCtes(lowFrac, "ctr_w", "c1r", "fz2r")},
       |ns1 AS (SELECT count(*) AS n_state FROM c0),
       |ns2 AS (SELECT count(*) AS n_state FROM c1r),
       |r1 AS (${reportSql(1, "v1", "ns1")}),
       |r2 AS (${reportSql(2, "v2", "ns2")})
       |SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |ORDER BY tick, source""".stripMargin
  }

  /** Default rebalance trigger for [[q127MixtureRebalance]]: maximum
    * per-source share drift, in micro-units (1e-6 of the corpus). 2,000
    * µ = 0.2 % — small enough that the planted tick-1 admission skew
    * trips it on the test corpora (the interesting branch under oracle
    * check), large enough that a no-drift tick keeps the old mixture
    * (MixStatsSpec pins the keep branch at a raised trigger). */
  val DefaultMixDriftMicros = 2000L

  /** q127: the MIXTURE maintenance loop — the q109/q113/q119/q122
    * measurement→choice→consequence discipline applied to the DOMAIN
    * MIX: as admission ticks accumulate, the ingested corpus's source
    * mixture drifts away from what the sampling weights were derived
    * on, and the q69/q97 mixture tables silently go stale (the same
    * staleness class as frozen ANN centroids or frozen BPE merges).
    *
    *   1. MEASUREMENT — after the q106 tick 1, the ingested snapshot's
    *      per-source share (corpus ∪ tick-1 admissions) is compared to
    *      the bootstrap corpus share, in exact micro-units;
    *   2. CHOICE — if any source drifted more than `maxDriftMicros`,
    *      the mixture REBALANCES: the q97 temperature weights re-derive
    *      over the ingested counts; otherwise the bootstrap-derived
    *      weights keep serving (both branches in the output's
    *      `decision` column, the q109 canary shape);
    *   3. CONSEQUENCE — the CHOSEN rate table gates tick 2's batch:
    *      per source, the deterministic q58/q97 hash filter admits
    *      `n_sampled` of `n_batch` arrivals — the next tick actually
    *      samples under the maintained mixture, not the stale one.
    *
    * The oracle re-derives all three phases — the gated tick-1 chain
    * (training pass included), the drift census, the branch, the
    * exponentiated weights, and the tick-2 hash admission — in ONE
    * WITH clause. MixStatsSpec pins both branches reachable and the
    * keep branch degenerating to the bootstrap-mix q97 table exactly.
    *
    * Scale shape: q106's tick-1 chain plus two groupBy(source)
    * aggregates (domains are few), two 1-row broadcasts, and one
    * narrow batch scan against a broadcast rate table — the mixture
    * machinery adds no data-sized shuffle. Integer-deterministic
    * throughout (micro-unit shares, micro-unit thresholds, the 60-bit
    * doc hash): both engines compare the same longs. */
  def q127MixtureRebalance(documents: DataFrame, threshold: Double = 0.2,
                           lowFrac: Double = 0.25, alpha: Double = 0.7,
                           budgetFrac: Double = 0.5,
                           maxDriftMicros: Long = DefaultMixDriftMicros)
      : DataFrame = {
    val p = multiTickParts(documents, threshold, lowFrac)
    val m = (c: org.apache.spark.sql.Column) => pmod(c, lit(BatchMod))
    val corpus = documents.filter(m(col("doc_id")).between(1, 9))
    val adm1 = p.v1.filter(col("lq") === false).select("doc_id")
    val ing = corpus.select("source")
      .union(documents.join(adm1, Seq("doc_id"), "left_semi").select("source"))
    val mixC = corpus.groupBy("source").agg(count(lit(1)).as("n_corpus"))
    val mixI = ing.groupBy("source").agg(count(lit(1)).as("n_ingested"))
    // full join: a source first seen in an admission tick still gets a
    // row (n_corpus = 0); the share arithmetic stays exact micro-units
    val mx = mixC.join(mixI, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_ingested"), lit(0L)).as("n_ingested"))
    val tots = mx.agg(sum("n_corpus").as("tc"), sum("n_ingested").as("ti"))
    val dr = mx.crossJoin(broadcast(tots))
      .withColumn("drift",
        abs(round(col("n_corpus") * lit(1e6) / col("tc")).cast("long") -
          round(col("n_ingested") * lit(1e6) / col("ti")).cast("long")))
      .select("source", "n_corpus", "n_ingested", "drift")
    val trig = dr.agg(max("drift").as("max_drift"))
    val sel = dr.crossJoin(broadcast(trig))
      .withColumn("decision",
        when(col("max_drift") > maxDriftMicros, lit("rebalance"))
          .otherwise(lit("keep")))
      .withColumn("n_sel",
        when(col("decision") === "rebalance", col("n_ingested"))
          .otherwise(col("n_corpus")))
    val rates = Curate.temperatureRates(sel, "n_sel", alpha, budgetFrac)
      .withColumn("thr", round(col("rate") * 1e6).cast("long"))
      .select("source", "n_corpus", "n_ingested", "drift", "decision",
        "weight", "rate", "thr")
    val hm = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L)
    p.t2.select(col("source"), hm.as("hm"))
      .join(broadcast(rates), "source")
      .groupBy(col("source"), col("n_corpus"), col("n_ingested"),
        col("drift"), col("decision"), col("weight"), col("rate"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("hm") < col("thr"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("source")
  }

  def q127Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              alpha: Double = 0.7, budgetFrac: Double = 0.5,
              maxDriftMicros: Long = DefaultMixDriftMicros,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    s"""WITH ${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |mixc AS (SELECT source, count(*) AS n_corpus FROM documents
       |         WHERE doc_id % $bm BETWEEN 1 AND 9 GROUP BY source),
       |ingd AS (SELECT source FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |         UNION ALL
       |         SELECT d.source FROM documents d
       |         JOIN adm1 ON adm1.doc_id = d.doc_id),
       |mixi AS (SELECT source, count(*) AS n_ingested FROM ingd GROUP BY source),
       |mx AS (SELECT COALESCE(mixc.source, mixi.source) AS source,
       |         COALESCE(n_corpus, 0) AS n_corpus,
       |         COALESCE(n_ingested, 0) AS n_ingested
       |       FROM mixc FULL JOIN mixi ON mixi.source = mixc.source),
       |tots AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS tc,
       |         CAST(sum(n_ingested) AS BIGINT) AS ti FROM mx),
       |dr AS (SELECT source, n_corpus, n_ingested,
       |         abs(CAST(round(n_corpus * 1e6 / tc) AS BIGINT)
       |           - CAST(round(n_ingested * 1e6 / ti) AS BIGINT)) AS drift
       |       FROM mx, tots),
       |mdr AS (SELECT max(drift) AS max_drift FROM dr),
       |sel AS (SELECT source, n_corpus, n_ingested, drift,
       |         CASE WHEN max_drift > $maxDriftMicros
       |              THEN 'rebalance' ELSE 'keep' END AS decision,
       |         CASE WHEN max_drift > $maxDriftMicros
       |              THEN n_ingested ELSE n_corpus END AS n_sel
       |       FROM dr, mdr),
       |w1 AS (SELECT *, CAST(round(pow(CAST(n_sel AS DOUBLE), $alpha) * 1e6)
       |         AS BIGINT) AS wm FROM sel),
       |t2tot AS (SELECT CAST(sum(wm) AS BIGINT) AS denom,
       |          CAST(sum(n_sel) AS BIGINT) AS n_total FROM w1),
       |r AS (SELECT source, n_corpus, n_ingested, drift, decision,
       |        round(wm / denom, 6) AS weight,
       |        round(least(1.0,
       |          $budgetFrac * n_total * wm / denom / n_sel), 6) AS rate
       |      FROM w1, t2tot)
       |SELECT r.source, CAST(r.n_corpus AS BIGINT) AS n_corpus,
       |  CAST(r.n_ingested AS BIGINT) AS n_ingested, r.drift, r.decision,
       |  r.weight, r.rate, count(*) AS n_batch,
       |  CAST(sum(CASE WHEN
       |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) % 1000000 < CAST(round(r.rate * 1e6) AS BIGINT)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE d.doc_id % $bm = 0
       |GROUP BY 1, 2, 3, 4, 5, 6, 7 ORDER BY r.source""".stripMargin
  }

  // ---- q130: BUDGETED admission (mixture quotas enforced at ingest) ----

  /** Default per-tick token budget as a fraction of the tick's novel
    * tokens: 0.5 makes both admission outcomes (under/over budget)
    * well-populated on the test corpora, so the oracle check exercises
    * the cutoff, not a degenerate all-admit. */
  val DefaultBudgetFrac = 0.5

  /** q130: BUDGETED admission — the q127 loop closed INTO the gate.
    * q127 maintains the mixture and re-derives sampling rates, but
    * admission itself never enforces the mix: a tick dominated by one
    * source ingests everything novel and the corpus drifts anyway
    * (rate-sampling decides per doc independently; it bounds the
    * EXPECTED share, not the realized one). The budgeted tick makes the
    * mixture a hard per-tick constraint, the way a training-data
    * pipeline caps each domain's token contribution:
    *
    *   1. the q103 gate runs unchanged (exact → fuzzy → low-quality);
    *   2. each source gets a TOKEN budget for this tick:
    *      `budgetFrac × (tick's total novel tokens) × (source's target
    *      share)` — target shares here are the bootstrap corpus mix
    *      (the deployment form reads the maintained
    *      [[graft.io.ArtifactStore.DomainMix]] counts, so the
    *      budget tracks the SERVED mixture with zero recounts);
    *   3. within each source, novel docs admit in QUALITY-RANK order
    *      (model score desc, doc_id tie-break) while the running token
    *      sum stays inside the budget — the prefix rule: deterministic,
    *      oracle-expressible as one windowed sum, and rank-monotone (an
    *      admitted doc is never outranked by a rejected one; a
    *      smaller-but-worse doc never back-fills the budget).
    *
    * Output per source: the q103 verdict columns plus novel/budget/
    * admitted token accounting — `n_new` splits into `n_admitted` +
    * `n_over_budget`, and `admitted_tokens ≤ budget_tokens` is part of
    * the oracle-checked result. A source with no corpus presence gets
    * the minimum budget of 1 token (documented floor, mirrored in the
    * oracle).
    *
    * Deployment form: [[graft.io.IngestLoop.runBudgetedTick]] — only
    * under-budget docs fold back into the state stores, so a LATER
    * exact copy of an over-budget doc is still admittable (it was never
    * ingested), pinned decisive in IngestLoopSpec.
    *
    * Scale shape: the q103 chain plus one narrow (source, p, n_tokens)
    * frame of the tick's NOVEL docs. The per-source window is
    * tick-sized, not corpus-sized — a 100 TB deployment's tick is the
    * arrival batch; the window partitions by source (dozens of
    * partitions), and each partition's ordered prefix sum is the
    * textbook quota shape. Budgets are an O(sources) broadcast. */
  def q130BudgetedAdmission(documents: DataFrame, threshold: Double = 0.2,
                            lowFrac: Double = 0.25,
                            budgetFrac: Double = DefaultBudgetFrac)
      : DataFrame = {
    val (corpus, batch, v) = admissionFrame(documents, threshold, lowFrac)
    val srcCounts = corpus.groupBy("source").agg(count(lit(1)).as("n_src"))
    budgetedTickReport(v, budgetedFrame(v, batch, srcCounts, budgetFrac),
      srcCounts, budgetFrac, ladder())
  }

  /** The per-doc budget annotation of a tick's NOVEL docs: quality-rank
    * prefix admission under per-source token budgets derived from
    * `srcCounts` (source, n_src) target shares. Returns
    * (doc_id, source, p, n_tokens, cum_tokens, budget_tokens,
    * admitted). Shared by the live q130 form and the deployment tick
    * ([[graft.io.IngestLoop.runBudgetedTick]], which passes the
    * maintained mix counts). */
  private[graft] def budgetedFrame(v: DataFrame, batchDocs: DataFrame,
                                   srcCounts: DataFrame,
                                   budgetFrac: Double): DataFrame = {
    val nv = v.filter(col("lq") === false)
      .select(col("doc_id"), col("source"), col("p"))
      .join(batchDocs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
    val tots = srcCounts.agg(sum("n_src").as("tc"))
    val tn = nv.agg(coalesce(sum("n_tokens"), lit(0L)).as("t_novel"))
    val bud = srcCounts.crossJoin(broadcast(tots)).crossJoin(broadcast(tn))
      .select(col("source"), greatest(lit(1L),
        round(lit(budgetFrac) * col("t_novel") * col("n_src") / col("tc"))
          .cast("long")).as("budget_tokens"))
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("p").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    nv.withColumn("cum_tokens", sum("n_tokens").over(wdw))
      .join(broadcast(bud), Seq("source"), "left")
      .withColumn("budget_tokens", coalesce(col("budget_tokens"), lit(1L)))
      .withColumn("admitted", col("cum_tokens") <= col("budget_tokens"))
      // severed: the deployment tick reads this twice (admitted-id fold
      // + report) — un-severed, the gate chain would re-execute per read
      .localCheckpoint()
  }

  /** The q130 report: the [[gatedTickReport]] verdict columns of
    * `ladder` (n_new as n_novel) + the budget accounting over a
    * precomputed [[budgetedFrame]] `bf`. */
  private[graft] def budgetedTickReport(v: DataFrame, bf: DataFrame,
                                        srcCounts: DataFrame,
                                        budgetFrac: Double,
                                        ladder: Seq[Evidence]): DataFrame = {
    val nrep = bf.groupBy("source")
      .agg(sum("n_tokens").as("novel_tokens"),
        count(when(col("admitted"), lit(1))).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens"))).as("admitted_tokens"),
        count(when(!col("admitted"), lit(1))).as("n_over_budget"))
    val tots = srcCounts.agg(sum("n_src").as("tc"))
    val tn = bf.agg(coalesce(sum("n_tokens"), lit(0L)).as("t_novel"))
    val bud = srcCounts.crossJoin(broadcast(tots)).crossJoin(broadcast(tn))
      .select(col("source"), greatest(lit(1L),
        round(lit(budgetFrac) * col("t_novel") * col("n_src") / col("tc"))
          .cast("long")).as("budget_tokens"))
    gatedTickReport(v, ladder).withColumnRenamed("n_new", "n_novel")
      .join(broadcast(bud), Seq("source"), "left")
      .join(broadcast(nrep), Seq("source"), "left")
      .select(Seq(col("source"), col("n_batch")) ++
        ladder.map(e => col(e.nTick)) ++ Seq(
        col("n_low_quality"), col("n_novel"),
        coalesce(col("novel_tokens"), lit(0L)).as("novel_tokens"),
        coalesce(col("budget_tokens"), lit(1L)).as("budget_tokens"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("admitted_tokens"), lit(0L)).as("admitted_tokens"),
        coalesce(col("n_over_budget"), lit(0L)).as("n_over_budget")): _*)
      .orderBy("source")
  }

  def q130Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              budgetFrac: Double = DefaultBudgetFrac,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    s"""WITH ${gateSqlCtes(threshold, lowFrac, iters, trainN)},
       |nv AS (SELECT j.doc_id, j.source, j.p,
       |         CAST(len(regexp_split_to_array(d.text, ' ')) AS BIGINT)
       |           AS n_tokens
       |       FROM j JOIN lq ON lq.doc_id = j.doc_id
       |       JOIN documents d ON d.doc_id = j.doc_id
       |       WHERE lq.lq = false),
       |srcs AS (SELECT source, count(*) AS n_src FROM documents
       |         WHERE doc_id % $bm <> 0 GROUP BY source),
       |tcs AS (SELECT CAST(sum(n_src) AS BIGINT) AS tc FROM srcs),
       |tns AS (SELECT COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) AS t_novel
       |        FROM nv),
       |bud AS (SELECT source, greatest(1,
       |          CAST(round($budgetFrac * t_novel * n_src / tc) AS BIGINT))
       |          AS budget_tokens
       |        FROM srcs, tcs, tns),
       |cum AS (SELECT nv.*, sum(n_tokens) OVER (PARTITION BY source
       |          ORDER BY p DESC, doc_id ROWS UNBOUNDED PRECEDING)
       |          AS cum_tokens FROM nv),
       |cb AS (SELECT cum.*,
       |         (cum_tokens <= COALESCE(bud.budget_tokens, 1)) AS admitted
       |       FROM cum LEFT JOIN bud ON bud.source = cum.source),
       |r AS (SELECT j.source, count(*) AS n_batch, count(j.ch) AS n_dup_exact,
       |        count(CASE WHEN j.ch IS NULL THEN j.fid END) AS n_dup_fuzzy,
       |        count(CASE WHEN lq.lq THEN 1 END) AS n_low_quality,
       |        count(CASE WHEN lq.lq = false THEN 1 END) AS n_novel
       |      FROM j LEFT JOIN lq ON lq.doc_id = j.doc_id GROUP BY j.source),
       |nrep AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS novel_tokens,
       |           count(CASE WHEN admitted THEN 1 END) AS n_admitted,
       |           CAST(sum(CASE WHEN admitted THEN n_tokens END) AS BIGINT)
       |             AS admitted_tokens,
       |           count(CASE WHEN NOT admitted THEN 1 END) AS n_over_budget
       |         FROM cb GROUP BY source)
       |SELECT r.source, r.n_batch, r.n_dup_exact, r.n_dup_fuzzy,
       |  r.n_low_quality, r.n_novel,
       |  COALESCE(nrep.novel_tokens, 0) AS novel_tokens,
       |  COALESCE(bud.budget_tokens, 1) AS budget_tokens,
       |  COALESCE(nrep.n_admitted, 0) AS n_admitted,
       |  COALESCE(nrep.admitted_tokens, 0) AS admitted_tokens,
       |  COALESCE(nrep.n_over_budget, 0) AS n_over_budget
       |FROM r LEFT JOIN bud ON bud.source = r.source
       |LEFT JOIN nrep ON nrep.source = r.source
       |ORDER BY r.source""".stripMargin
  }

  // ---- q131: RE-ADJUDICATION (rejected ≠ discarded) ---------------------

  /** q131: quarantine RE-ADJUDICATION — the takedown loop's missing
    * half. q117 made a retracted doc's FUTURE duplicates admissible,
    * but a doc already rejected on evidence that was later taken down
    * stays rejected forever: its verdict was derived from state rows
    * that no longer exist. A production corpus quarantines rejections
    * instead of discarding them, and a takedown triggers re-judgment:
    *
    *   1. tick 1 — the q106 tick verbatim; its DUP-rejected docs
    *      (exact or fuzzy — evidence-dependent verdicts) form the
    *      QUARANTINE (low-quality rejections are NOT re-adjudicated
    *      here: a quality verdict depends on the MODEL, not on state
    *      rows, so it changes via the MODEL loop — q134's re-gate — re-scoring
    *      the same doc under the same frozen weights reproduces the
    *      same score, and re-ranking it inside a different cohort
    *      would flip verdicts for cohort-composition reasons, not
    *      evidence reasons);
    *   2. TAKEDOWN — the q117 retraction class (doc_id %
    *      [[RetractMod]] == [[RetractRem]] of the ingested-through-
    *      tick-1 docs) leaves every state relation;
    *   3. RE-ADJUDICATION — the quarantined docs re-judge against the
    *      post-retraction state under the frozen model and the full
    *      gate discipline (exact → fuzzy → quality): a doc whose only
    *      dup partners were retracted becomes `new` (re-admitted)
    *      unless it lands in the bottom `lowFrac` of the re-judged
    *      novel cohort.
    *
    * Output per source: quarantine size split by ORIGINAL verdict
    * (n_exact_t1 / n_fuzzy_t1) × RE-ADJUDICATED verdict
    * (n_still_exact / n_still_fuzzy / n_low_quality / n_readmitted) —
    * the oracle re-derives tick 1, the takedown, and the re-judgment
    * in one WITH clause. GenData's planted dups make the contrast
    * decisive: tick-1 batch dups of retracted base docs re-admit,
    * dups of surviving docs stay rejected (and the no-takedown control
    * re-admits nothing — spec-pinned).
    *
    * Deployment form: [[graft.io.IngestLoop.readjudicateTick]] over a
    * [[graft.io.IngestLoop.Quarantine]] store pair — rejected docs are
    * quarantined per tick, a re-adjudication is itself a tick in the
    * store agreement, and re-admitted docs fold into every state store
    * and consumer leg like any admission.
    *
    * Scale shape: q106's chain (one LSH relation, one bounded training
    * pass) plus quarantine-sized work — the quarantine is a rejected
    * subset of one tick's batch, the takedown anti-joins are id-keyed
    * against 8–26-byte state rows, and the re-judgment is the q103
    * join shape over quarantine-sized inputs. Corpus text is never
    * rescanned. */
  def q131Readjudication(documents: DataFrame, threshold: Double = 0.2,
                         lowFrac: Double = 0.25): DataFrame = {
    val p = multiTickParts(documents, threshold, lowFrac)
    val m = (c: org.apache.spark.sql.Column) => pmod(c, lit(BatchMod))
    val corpus = documents.filter(m(col("doc_id")).between(1, 9))
    val quar = p.v1.filter(!novel(ladder()))
      .select(col("doc_id"), verdictOf(ladder()).as("verdict_t1"))
    val quarDocs = documents.join(quar.select("doc_id"),
      Seq("doc_id"), "left_semi")
    val ing1 = corpus.select("doc_id")
      .union(p.v1.filter(col("lq") === false).select("doc_id"))
    val keep = ing1.filter(pmod(col("doc_id"), lit(RetractMod)) =!= RetractRem)
    val keepDocs = documents.join(keep, Seq("doc_id"), "left_semi")
    val c1r = corpusHashState(keepDocs)
    val fzq = p.adj
      .join(quar.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .join(keep.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("fid")).distinct()
    val vr = gatedTickFrame(quarDocs, c1r, Seq(Evidence.Fuzzy -> fzq), p.w,
      lowFrac)
    readjReport(vr, quar, ladder())
  }

  def q131Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    s"""WITH ${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |quar AS MATERIALIZED (SELECT doc_id, source,
       |          (ch IS NOT NULL) AS was_exact
       |        FROM v1 WHERE ch IS NOT NULL OR fid IS NOT NULL),
       |ing1 AS (SELECT doc_id FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |         UNION ALL SELECT doc_id FROM adm1),
       |keep AS MATERIALIZED (SELECT doc_id FROM ing1
       |         WHERE doc_id % $RetractMod <> $RetractRem),
       |c1r AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |        JOIN keep k ON k.doc_id = h.doc_id),
       |fzq AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        JOIN keep k ON adj.a = k.doc_id
       |        JOIN quar q ON adj.b = q.doc_id),
       |${QualityModel.featureSqlCtes(
         "(SELECT d.* FROM documents d JOIN quar q ON q.doc_id = d.doc_id)",
         "qr_")},
       |scq AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |        FROM qr_feat, ctr_w w),
       |jq AS MATERIALIZED (SELECT q.doc_id, q.source, q.was_exact,
       |        c1r.h AS ch, fzq.fid, scq.p
       |      FROM quar q
       |      JOIN h hh ON hh.doc_id = q.doc_id
       |      LEFT JOIN c1r ON hh.h = c1r.h
       |      LEFT JOIN fzq ON fzq.fid = q.doc_id
       |      JOIN scq ON scq.doc_id = q.doc_id),
       |lqq AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM jq WHERE ch IS NULL AND fid IS NULL)
       |SELECT jq.source, count(*) AS n_quarantined,
       |  count(CASE WHEN was_exact THEN 1 END) AS n_exact_t1,
       |  count(CASE WHEN NOT was_exact THEN 1 END) AS n_fuzzy_t1,
       |  count(ch) AS n_still_exact,
       |  count(CASE WHEN ch IS NULL THEN fid END) AS n_still_fuzzy,
       |  count(CASE WHEN lqq.lq THEN 1 END) AS n_low_quality,
       |  count(CASE WHEN lqq.lq = false THEN 1 END) AS n_readmitted
       |FROM jq LEFT JOIN lqq ON lqq.doc_id = jq.doc_id
       |GROUP BY jq.source ORDER BY jq.source""".stripMargin
  }

  /** q143: TAKEDOWN-SEVERED re-adjudication — the live, oracle-checked
    * twin of the r16 quarantine-fold fix. q131's takedown names only
    * INGESTED docs; a real takedown demand names CONTENT, and a copy
    * of that content may be sitting in quarantine. Such a quarantined
    * copy must be SEVERED — removed from the quarantine, never
    * re-judged — because the same takedown typically removes its dup
    * partner from the state, so an un-severed copy would re-judge
    * clean and RE-ADMIT the very content the takedown named (the
    * resurface defect class; the store form folds quarantine rows
    * with the shared tombstones — [[graft.io.IngestLoop
    * .compactIfNeeded]]'s quar attachment, QuiesceBundleSpec pins it).
    *
    * Chain: tick 1 (q106) → quarantine = dup-rejected docs → the q117
    * retraction class ([[RetractMod]]/[[RetractRem]]) leaves the
    * state AND severs its quarantined members → the SURVIVING
    * quarantine re-judges against the kept state under the frozen
    * model (q131's algebra). Output per source: quarantine size, the
    * severed count, and the survivors' re-adjudicated verdict split.
    * A severed doc is counted ONLY as severed — by construction it
    * can never appear under n_readmitted, which is the whole point.
    *
    * Scale shape: q131's (quarantine-sized re-judge, id-keyed
    * anti-joins); the sever filter is one row-local modulus. */
  def q143TakedownQuarantineSever(documents: DataFrame,
                                  threshold: Double = 0.2,
                                  lowFrac: Double = 0.25): DataFrame = {
    val p = multiTickParts(documents, threshold, lowFrac)
    val m = (c: org.apache.spark.sql.Column) => pmod(c, lit(BatchMod))
    val corpus = documents.filter(m(col("doc_id")).between(1, 9))
    val quar = p.v1.filter(col("ch").isNotNull || col("fid").isNotNull)
      .select(col("doc_id"), col("source"))
    val severed = quar.filter(
      pmod(col("doc_id"), lit(RetractMod)) === RetractRem)
    val live = quar.join(severed.select("doc_id"),
      Seq("doc_id"), "left_anti")
    val liveDocs = documents.join(live.select("doc_id"),
      Seq("doc_id"), "left_semi")
    val ing1 = corpus.select("doc_id")
      .union(p.v1.filter(col("lq") === false).select("doc_id"))
    val keep = ing1.filter(
      pmod(col("doc_id"), lit(RetractMod)) =!= RetractRem)
    val keepDocs = documents.join(keep, Seq("doc_id"), "left_semi")
    val c1r = corpusHashState(keepDocs)
    val fzq = p.adj
      .join(live.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .join(keep.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("fid")).distinct()
    val vr = gatedTickFrame(liveDocs, c1r, Seq(Evidence.Fuzzy -> fzq), p.w,
      lowFrac)
    val quarSrc = quar.groupBy("source")
      .agg(count(lit(1)).as("n_quarantined"))
    val sevSrc = severed.groupBy("source")
      .agg(count(lit(1)).as("n_severed"))
    val vrAgg = vr.groupBy("source")
      .agg(count(col("ch")).as("n_still_exact"),
        count(when(col("ch").isNull, col("fid"))).as("n_still_fuzzy"),
        count(when(col("lq") === true, lit(1))).as("n_low_quality"),
        count(when(col("lq") === false, lit(1))).as("n_readmitted"))
    quarSrc
      .join(sevSrc, Seq("source"), "left")
      .join(vrAgg, Seq("source"), "left")
      .select(col("source"), col("n_quarantined"),
        coalesce(col("n_severed"), lit(0L)).as("n_severed"),
        coalesce(col("n_still_exact"), lit(0L)).as("n_still_exact"),
        coalesce(col("n_still_fuzzy"), lit(0L)).as("n_still_fuzzy"),
        coalesce(col("n_low_quality"), lit(0L)).as("n_low_quality"),
        coalesce(col("n_readmitted"), lit(0L)).as("n_readmitted"))
      .orderBy("source")
  }

  def q143Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    s"""WITH ${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |quar AS MATERIALIZED (SELECT doc_id, source FROM v1
       |        WHERE ch IS NOT NULL OR fid IS NOT NULL),
       |sev AS MATERIALIZED (SELECT doc_id, source FROM quar
       |        WHERE doc_id % $RetractMod = $RetractRem),
       |liv AS MATERIALIZED (SELECT doc_id, source FROM quar
       |        WHERE doc_id % $RetractMod <> $RetractRem),
       |ing1 AS (SELECT doc_id FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |         UNION ALL SELECT doc_id FROM adm1),
       |keep AS MATERIALIZED (SELECT doc_id FROM ing1
       |         WHERE doc_id % $RetractMod <> $RetractRem),
       |c1r AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |        JOIN keep k ON k.doc_id = h.doc_id),
       |fzq AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        JOIN keep k ON adj.a = k.doc_id
       |        JOIN liv q ON adj.b = q.doc_id),
       |${QualityModel.featureSqlCtes(
         "(SELECT d.* FROM documents d JOIN liv q ON q.doc_id = d.doc_id)",
         "qr_")},
       |scq AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |        FROM qr_feat, ctr_w w),
       |jq AS MATERIALIZED (SELECT q.doc_id, q.source,
       |        c1r.h AS ch, fzq.fid, scq.p
       |      FROM liv q
       |      JOIN h hh ON hh.doc_id = q.doc_id
       |      LEFT JOIN c1r ON hh.h = c1r.h
       |      LEFT JOIN fzq ON fzq.fid = q.doc_id
       |      JOIN scq ON scq.doc_id = q.doc_id),
       |lqq AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM jq WHERE ch IS NULL AND fid IS NULL),
       |rj AS (SELECT jq.source,
       |        count(ch) AS n_still_exact,
       |        count(CASE WHEN ch IS NULL THEN fid END) AS n_still_fuzzy,
       |        count(CASE WHEN lqq.lq THEN 1 END) AS n_low_quality,
       |        count(CASE WHEN lqq.lq = false THEN 1 END) AS n_readmitted
       |      FROM jq LEFT JOIN lqq ON lqq.doc_id = jq.doc_id
       |      GROUP BY jq.source)
       |SELECT qs.source, qs.n_quarantined,
       |  COALESCE(sv.n_severed, 0) AS n_severed,
       |  COALESCE(rj.n_still_exact, 0) AS n_still_exact,
       |  COALESCE(rj.n_still_fuzzy, 0) AS n_still_fuzzy,
       |  COALESCE(rj.n_low_quality, 0) AS n_low_quality,
       |  COALESCE(rj.n_readmitted, 0) AS n_readmitted
       |FROM (SELECT source, count(*) AS n_quarantined FROM quar
       |      GROUP BY source) qs
       |LEFT JOIN (SELECT source, count(*) AS n_severed FROM sev
       |      GROUP BY source) sv ON sv.source = qs.source
       |LEFT JOIN rj ON rj.source = qs.source
       |ORDER BY qs.source""".stripMargin
  }

  // ---- q134: QUALITY re-adjudication on model change --------------------

  /** q134: quality RE-ADJUDICATION — the q131 scaladoc's promissory
    * note ("a quality verdict re-opens via q128's loop") made
    * executable. A `low_quality` rejection is MODEL-dependent, not
    * state-dependent: when the q109/q113 canary retrains the serving
    * model, every past quality verdict was derived under weights that
    * no longer serve — and the docs the old model under-scored sit in
    * quarantine. Three phases in one oracle WITH clause:
    *
    *   1. tick 1 — the q106 tick under the frozen base model; its
    *      novel cohort's bottom `lowFrac` is quality-rejected;
    *   2. the q113 CHOICE — retrain on the post-tick snapshot, compare
    *      per-decile admission flips on the bounded canary, gate the
    *      model swap (the oracle re-derives both training chains and
    *      the CASE-selected weight row);
    *   3. RE-GATE — tick 1's ENTIRE novel cohort re-scores under the
    *      CHOSEN model and the quality window recomputes: a doc
    *      rejected under the old model that now clears the window
    *      RE-ADMITS (`n_readmitted`); one the new model ranks into the
    *      window is reported as `n_demoted` — already ingested
    *      (admission is append-only short of a takedown), but the
    *      count is the audit trail a deployment alerts on. The window
    *      re-ranks the ORIGINAL cohort, not the quarantine alone —
    *      re-ranking a rejected subset against itself would re-admit
    *      (1 − lowFrac) of it under ANY model, a cohort-composition
    *      artifact, not a model signal.
    *
    * The keep branch is the built-in control: same weights → same
    * window → zero flips either way (spec-pinned at a raised trigger).
    *
    * Deployment form: [[graft.io.IngestLoop.regateTick]] over a
    * [[graft.io.IngestLoop.ReplayLeg]] — each tick persists its novel
    * cohort's 7-double gate FEATURES (doc_id, source, tick, x0..x6,
    * lq), so any later model re-gates any tick with zero text reads
    * (the q128 reservoir argument applied to the gate); re-admitted
    * docs' text comes from the quarantine rows and folds into every
    * store. Per-tick windows — the re-gate is tick-sized at any
    * corpus size.
    *
    * Scale shape: q106's tick chain + one bounded extra training pass
    * + a canary-sized flip census + one row-local scoring projection
    * and one tick-sized window over the novel cohort. */
  def q134QualityReadjudication(documents: DataFrame,
                                threshold: Double = 0.2,
                                lowFrac: Double = 0.25, maxFlips: Int = 4,
                                evalN: Int = QualityModel.DefaultTrainN)
      : DataFrame = {
    val p = multiTickParts(documents, threshold, lowFrac)
    val corpus = documents.filter(
      pmod(col("doc_id"), lit(BatchMod)).between(1, 9))
    val adm1Docs = documents.join(
      p.v1.filter(col("lq") === false).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val wFresh = QualityModel.weights(corpus.union(adm1Docs),
      scope = s"adaptive$BatchMod")
    val flips = QualityModel.flipCount(documents, p.w, wFresh, lowFrac, evalN)
    val retrain = flips > maxFlips
    val chosen = if (retrain) wFresh else p.w
    val nov = p.v1.filter(col("ch").isNull && col("fid").isNull)
      .select(col("doc_id"), col("source"),
        (col("lq") === true).as("was_lowq"))
    val t1 = documents.filter(pmod(col("doc_id"), lit(BatchMod)) >= 10)
    val j2 = nov.join(QualityModel.scores(t1, chosen), "doc_id")
      .localCheckpoint()
    val l2 = j2.join(RankGate.lowFracFlags(j2, lowFrac),
        col("doc_id") === col("lqid"))
      .withColumnRenamed("lq", "lq2")
    l2.groupBy("source")
      .agg(count(lit(1)).as("n_novel"),
        count(when(col("was_lowq"), lit(1))).as("n_lowq_t1"),
        count(when(col("was_lowq") && !col("lq2"), lit(1)))
          .as("n_readmitted"),
        count(when(col("was_lowq") && col("lq2"), lit(1)))
          .as("n_still_lowq"),
        count(when(!col("was_lowq") && col("lq2"), lit(1)))
          .as("n_demoted"))
      .withColumn("decision", lit(if (retrain) "retrain" else "keep"))
      .select(col("source"), col("decision"), col("n_novel"),
        col("n_lowq_t1"), col("n_readmitted"), col("n_still_lowq"),
        col("n_demoted"))
      .orderBy("source")
  }

  def q134Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              maxFlips: Int = 4,
              evalN: Int = QualityModel.DefaultTrainN,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = BatchMod
    val ws = (0 until QualityModel.NumW)
      .map(j => s"CASE WHEN n.flips > $maxFlips THEN f.w$j ELSE b.w$j END AS w$j")
      .mkString(", ")
    s"""WITH ${multiTickCoreSqlCtes(threshold, lowFrac, iters, trainN)},
       |csnap AS (SELECT doc_id FROM documents WHERE doc_id % $bm BETWEEN 1 AND 9
       |          UNION ALL SELECT doc_id FROM adm1),
       |${QualityModel.featureSqlCtes(
         "(SELECT d.* FROM documents d JOIN csnap cs ON cs.doc_id = d.doc_id)",
         "fr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "fr_")},
       |${QualityModel.featureSqlCtes("documents", "cv_")},
       |csmp AS MATERIALIZED (
       |  SELECT doc_id, ${QualityModel.scoreSql("wb")} AS pb,
       |         ${QualityModel.scoreSql("wf")} AS pf
       |  FROM (SELECT * FROM cv_feat ORDER BY hv, doc_id LIMIT $evalN) f,
       |       ctr_w wb, fr_w wf),
       |cfl AS (SELECT cume_dist() OVER (ORDER BY pb, doc_id) <= $lowFrac AS lb,
       |          cume_dist() OVER (ORDER BY pf, doc_id) <= $lowFrac AS lf
       |        FROM csmp),
       |nflip AS (SELECT count(CASE WHEN lb <> lf THEN 1 END) AS flips FROM cfl),
       |wsel AS (SELECT $ws FROM ctr_w b, fr_w f, nflip n),
       |nov AS (SELECT doc_id, source, (lq = true) AS was_lowq FROM v1
       |        WHERE ch IS NULL AND fid IS NULL),
       |s2 AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p2
       |       FROM b1_feat, wsel w),
       |j2 AS MATERIALIZED (SELECT n.doc_id, n.source, n.was_lowq, s2.p2
       |      FROM nov n JOIN s2 ON s2.doc_id = n.doc_id),
       |l2 AS (SELECT doc_id,
       |         cume_dist() OVER (ORDER BY p2, doc_id) <= $lowFrac AS lq2
       |       FROM j2),
       |dec AS (SELECT CASE WHEN flips > $maxFlips THEN 'retrain'
       |          ELSE 'keep' END AS decision FROM nflip)
       |SELECT j2.source, dec.decision, count(*) AS n_novel,
       |  count(CASE WHEN was_lowq THEN 1 END) AS n_lowq_t1,
       |  count(CASE WHEN was_lowq AND NOT l2.lq2 THEN 1 END) AS n_readmitted,
       |  count(CASE WHEN was_lowq AND l2.lq2 THEN 1 END) AS n_still_lowq,
       |  count(CASE WHEN NOT was_lowq AND l2.lq2 THEN 1 END) AS n_demoted
       |FROM j2 JOIN l2 ON l2.doc_id = j2.doc_id CROSS JOIN dec
       |GROUP BY j2.source, dec.decision ORDER BY j2.source""".stripMargin
  }
}
