package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Provenance.Evidence

/** The DECONTAMINATION leg of the deployment tick (q136) — the r11
  * verdict's item 2: q66 (verbatim 8-gram) and q88 (fuzzy LSH) were
  * standalone batch passes, so benchmark-contaminated docs admitted
  * every tick, folded into every store, and reached certified exports —
  * and when the EVAL SET changed, nothing re-adjudicated. Here the
  * verdict precedence extends to
  *
  *   exact → fuzzy → CONTAMINATED → low_quality → new
  *
  * judged against MAINTAINED eval-set state (both channels of the
  * existing machinery: verbatim 8-gram hashes — the q66 rule — and
  * verified fuzzy near-duplication — the q88 rule), and an eval-set
  * UPDATE closes both loops:
  *
  *   - WITHDRAWAL re-opens past rejections: a quarantined doc whose
  *     only contaminating eval item was withdrawn re-admits (the q131
  *     re-adjudication shape — an eval set is to contamination what
  *     state rows are to dup verdicts);
  *   - ADDITION reaches BACKWARD: already-admitted docs that hit the
  *     new items are caught from the maintained doc-granular gram
  *     state, with zero corpus-text re-reads (the reverse index is the
  *     price of retroactive catching — the same argument as the BM25
  *     tf store), and the deployment retracts them (q117's machinery).
  *
  * Division of labor with q66/q88: those remain the BOOTSTRAP
  * decontamination pass over an existing corpus; q136 is the
  * maintenance loop that keeps a running deployment clean as both the
  * corpus and the eval set evolve.
  *
  * Eval-set membership here is a deterministic slice of `documents`
  * (modulus classes plus pinned ids anchored to the planted near-dup
  * structure: eval item 61 is withdrawn and releases batch doc 185;
  * item 435 survives and keeps holding 486; added item 245 catches
  * ingested doc 8) — standing in for the external eval suite exactly
  * as q66's bench slice does, so the oracle re-derives everything. The
  * DEPLOYMENT form ([[graft.io.IngestLoop.EvalLeg]]) takes eval items
  * as DataFrames.
  */
object Decontam {

  val DefaultN = 8
  val EvalMod = 50L
  val Eval1Rem = 7L
  val Eval2Rem = 9L
  val Eval1Extra: Seq[Long] = Seq(61L, 435L)
  val Eval2Extra: Seq[Long] = Seq(245L)

  private def isE1(c: Column): Column =
    pmod(c, lit(EvalMod)) === Eval1Rem || c.isin(Eval1Extra: _*)
  private def isE2(c: Column): Column =
    pmod(c, lit(EvalMod)) === Eval2Rem || c.isin(Eval2Extra: _*)
  /** Withdrawal rule: the q117 retraction modulus applied to eval ids. */
  private def isW(c: Column): Column =
    pmod(c, lit(Provenance.RetractMod)) === Provenance.RetractRem

  /** The deterministic eval-set slices of a documents table — q136's
    * fixtures, shared with DecontamIngestSpec and deployment demos. */
  def eval1Docs(documents: DataFrame): DataFrame =
    documents.filter(isE1(col("doc_id")))
  def eval2Docs(documents: DataFrame): DataFrame =
    documents.filter(isE2(col("doc_id")))
  def withdrawEvalIds(documents: DataFrame): DataFrame =
    eval1Docs(documents).filter(isW(col("doc_id"))).select("doc_id")
  /** The table minus every eval item (corpus/batch populations). */
  def evalFree(documents: DataFrame): DataFrame =
    documents.filter(!(isE1(col("doc_id")) || isE2(col("doc_id"))))

  /** Member ids contaminated by `evalIds` under BOTH channels —
    * verbatim (≥ 1 shared 8-gram, the q66 rule) or verified fuzzy
    * near-dup (the q88 rule) — given the shared gram relation `gr`
    * (doc_id, h) and symmetric verified pair relation `adj` (a, b).
    * Output: distinct flagged member ids as `cid`. */
  private def contamIds(gr: DataFrame, adj: DataFrame,
                        memberIds: DataFrame, evalIds: DataFrame)
      : DataFrame = {
    val vb = gr.join(memberIds, Seq("doc_id"), "left_semi")
      .join(gr.join(evalIds, Seq("doc_id"), "left_semi").select("h"),
        Seq("h"), "left_semi")
      .select("doc_id")
    val fz = adj
      .join(memberIds.withColumnRenamed("doc_id", "b"), Seq("b"),
        "left_semi")
      .join(evalIds.withColumnRenamed("doc_id", "a"), Seq("a"),
        "left_semi")
      .select(col("b").as("doc_id"))
    vb.union(fz).distinct().select(col("doc_id").as("cid"))
  }

  /** q136: the DECONTAMINATION maintenance loop, all phases in one
    * oracle-checked frame:
    *
    *   1. tick 1 — batch (doc_id % 17 ≥ 10, eval items excluded)
    *      judged exact → fuzzy → contaminated → quality against the
    *      base corpus and eval set 1; contaminated docs quarantine;
    *   2. EVAL UPDATE — items with id % 3 == 1 withdraw; eval set 2's
    *      items add;
    *   3a. RE-ADJUDICATION — the contaminated quarantine re-judges
    *      under the FULL gate against the post-tick state and the LIVE
    *      eval set: a doc whose only contaminating item was withdrawn
    *      re-admits (`n_readmitted`); surviving evidence still holds
    *      (`n_still_contaminated`);
    *   3b. RETRO-CATCH — ingested docs (corpus ∪ tick-1 admissions)
    *      hitting the ADDED items are counted per source (`n_caught`)
    *      — what the deployment hands to retractTick.
    *
    * Scale shape: ONE text LSH chain and ONE gram relation (both
    * severed, read by the gate, the re-adjudication, and the catch),
    * one bounded training pass, ≤1-match gate joins; the catch census
    * probes 8-byte gram hashes — never corpus text. Eval sides are
    * eval-suite-sized and broadcastable. */
  def q136DecontamTick(documents: DataFrame, n: Int = DefaultN,
                       threshold: Double = 0.2, lowFrac: Double = 0.25)
      : DataFrame = {
    val m = (c: Column) => pmod(c, lit(Provenance.BatchMod))
    val id = col("doc_id")
    val isEval = isE1(id) || isE2(id)
    val corpus = documents.filter(m(id).between(1, 9) && !isEval)
    val t1 = documents.filter(m(id) >= 10 && !isEval)
    val eval1Ids = documents.filter(isE1(id)).select("doc_id")
    val addIds = documents.filter(isE2(id)).select("doc_id")
    val liveEvalIds = documents.filter(isE1(id) && !isW(id))
      .select("doc_id").union(addIds)
    // ONE verified pair relation (dup gates + the fuzzy contamination
    // channel) and ONE gram relation, both severed — each is read by
    // tick 1, the re-adjudication, AND the catch census. The two are
    // independent, so they materialize concurrently (Materialize.par).
    val Seq(pr, gr) = Materialize.par(Seq(
      Fuzzy.lshVerifiedPairs(documents, threshold).select("ida", "idb"),
      Contamination.grams(documents, n)))
    val adj = pr.union(pr.select(col("idb"), col("ida"))).toDF("a", "b")
    val w = QualityModel.weights(corpus,
      scope = s"decontam${Provenance.BatchMod}")

    val corpusIds = corpus.select("doc_id")
    val t1Ids = t1.select("doc_id")
    val fz1 = adj.join(t1Ids.withColumnRenamed("doc_id", "b"), Seq("b"),
        "left_semi")
      .join(corpusIds.withColumnRenamed("doc_id", "a"), Seq("a"),
        "left_semi")
      .select(col("b").as("fid")).distinct()
    val cid1 = contamIds(gr, adj, t1Ids, eval1Ids)
    val v1 = Provenance.gatedTickFrame(t1,
      Provenance.corpusHashState(corpus),
      Seq(Evidence.Fuzzy -> fz1, Evidence.Contaminated -> cid1), w, lowFrac)
    val adm1 = v1.filter(col("lq") === false).select("doc_id")
    val ingIds = Materialize.sever(corpusIds.union(adm1))
    val ingDocs = documents.join(ingIds, Seq("doc_id"), "left_semi")

    // 3a: the contaminated quarantine re-judges under the full gate
    val quarIds = Materialize.sever(
      v1.filter(col("ch").isNull && col("fid").isNull &&
        col("cid").isNotNull).select("doc_id"))
    val quarDocs = documents.join(quarIds, Seq("doc_id"), "left_semi")
    val fz2 = adj.join(quarIds.withColumnRenamed("doc_id", "b"), Seq("b"),
        "left_semi")
      .join(ingIds.withColumnRenamed("doc_id", "a"), Seq("a"),
        "left_semi")
      .select(col("b").as("fid")).distinct()
    val cid2 = contamIds(gr, adj, quarIds, liveEvalIds)
    val vr = Provenance.gatedTickFrame(
      quarDocs.select("doc_id", "source", "text"),
      Provenance.corpusHashState(ingDocs),
      Seq(Evidence.Fuzzy -> fz2, Evidence.Contaminated -> cid2), w, lowFrac)

    // 3b: retro-catch over the ingested corpus vs the ADDED items only
    val caught = contamIds(gr, adj, ingIds, addIds)
    val rCatch = documents.join(
        caught.withColumnRenamed("cid", "doc_id"), Seq("doc_id"),
        "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_caught"))

    val r1 = Provenance.gatedTickReport(v1,
      Provenance.ladder(Evidence.Contaminated))
    val rReadj = vr.groupBy("source")
      .agg(count(when(col("lq") === false, lit(1))).as("n_readmitted"),
        count(when(col("ch").isNull && col("fid").isNull, col("cid")))
          .as("n_still_contaminated"))
    r1.join(rReadj, Seq("source"), "full")
      .join(rCatch, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("n_dup_exact"), lit(0L)).as("n_dup_exact"),
        coalesce(col("n_dup_fuzzy"), lit(0L)).as("n_dup_fuzzy"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_low_quality"), lit(0L)).as("n_low_quality"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_readmitted"), lit(0L)).as("n_readmitted"),
        coalesce(col("n_still_contaminated"), lit(0L))
          .as("n_still_contaminated"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .orderBy("source")
  }

  /** q136's oracle: the LSH chain, the gram chain, the training pass,
    * the gated tick, the eval update, the re-adjudication, and the
    * catch census — one WITH clause; DuckDB re-derives both
    * contamination channels itself. */
  def q136Sql(n: Int = DefaultN, threshold: Double = 0.2,
              lowFrac: Double = 0.25,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = Provenance.BatchMod
    val rm = Provenance.RetractMod
    val rr = Provenance.RetractRem
    val e1 = s"(doc_id % $EvalMod = $Eval1Rem OR doc_id IN " +
      s"(${Eval1Extra.mkString(", ")}))"
    val e2 = s"(doc_id % $EvalMod = $Eval2Rem OR doc_id IN " +
      s"(${Eval2Extra.mkString(", ")}))"
    val corpusCond =
      s"doc_id % $bm BETWEEN 1 AND 9 AND NOT $e1 AND NOT $e2"
    val batchCond = s"doc_id % $bm >= 10 AND NOT $e1 AND NOT $e2"
    s"""WITH ${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents)",
         threshold)},
       |adj AS MATERIALIZED (SELECT ida AS a, idb AS b FROM pairs
       |       UNION ALL SELECT idb AS a, ida AS b FROM pairs),
       |${Contamination.gramSqlCtes("documents", n, "g_")},
       |gr AS MATERIALIZED (SELECT doc_id, h FROM g_ng),
       |h AS MATERIALIZED (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM documents),
       |e1ids AS (SELECT doc_id FROM documents WHERE $e1),
       |addids AS (SELECT doc_id FROM documents WHERE $e2),
       |liveids AS (SELECT doc_id FROM e1ids WHERE doc_id % $rm <> $rr
       |            UNION ALL SELECT doc_id FROM addids),
       |c0 AS MATERIALIZED (SELECT DISTINCT h FROM h
       |      WHERE $corpusCond),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE $corpusCond)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |t1 AS (SELECT doc_id, source, h FROM h WHERE $batchCond),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM documents WHERE $batchCond)", "b1_")},
       |sc1 AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |       FROM b1_feat, ctr_w w),
       |fz1 AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        JOIN t1 ON t1.doc_id = adj.b
       |        JOIN h ha ON ha.doc_id = adj.a
       |        WHERE ha.doc_id % $bm BETWEEN 1 AND 9
       |          AND NOT (ha.doc_id % $EvalMod = $Eval1Rem
       |                   OR ha.doc_id IN (${Eval1Extra.mkString(", ")}))
       |          AND NOT (ha.doc_id % $EvalMod = $Eval2Rem
       |                   OR ha.doc_id IN (${Eval2Extra.mkString(", ")}))),
       |e1g AS (SELECT DISTINCT gr.h FROM gr
       |        JOIN e1ids e ON e.doc_id = gr.doc_id),
       |cid1 AS (SELECT DISTINCT cid FROM (
       |    SELECT gr.doc_id AS cid FROM gr
       |    JOIN t1 ON t1.doc_id = gr.doc_id
       |    JOIN e1g ON e1g.h = gr.h
       |  UNION ALL
       |    SELECT adj.b AS cid FROM adj
       |    JOIN t1 ON t1.doc_id = adj.b
       |    JOIN e1ids e ON e.doc_id = adj.a)),
       |j1 AS MATERIALIZED (SELECT t1.doc_id, t1.source, t1.h AS hh,
       |        c0.h AS ch, fz1.fid, cid1.cid, sc1.p
       |      FROM t1 LEFT JOIN c0 ON t1.h = c0.h
       |      LEFT JOIN fz1 ON fz1.fid = t1.doc_id
       |      LEFT JOIN cid1 ON cid1.cid = t1.doc_id
       |      JOIN sc1 ON sc1.doc_id = t1.doc_id),
       |lq1 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j1 WHERE ch IS NULL AND fid IS NULL AND cid IS NULL),
       |v1 AS MATERIALIZED (SELECT j1.*, lq1.lq FROM j1
       |      LEFT JOIN lq1 ON lq1.doc_id = j1.doc_id),
       |adm1 AS (SELECT doc_id FROM v1 WHERE lq = false),
       |ing AS MATERIALIZED (SELECT doc_id FROM documents WHERE $corpusCond
       |       UNION ALL SELECT doc_id FROM adm1),
       |quar AS MATERIALIZED (SELECT doc_id, source FROM v1
       |        WHERE ch IS NULL AND fid IS NULL AND cid IS NOT NULL),
       |c2 AS MATERIALIZED (SELECT DISTINCT h.h FROM h
       |      JOIN ing ON ing.doc_id = h.doc_id),
       |fz2 AS (SELECT DISTINCT adj.b AS fid FROM adj
       |        JOIN quar q ON q.doc_id = adj.b
       |        JOIN ing i ON i.doc_id = adj.a),
       |liveg AS (SELECT DISTINCT gr.h FROM gr
       |          JOIN liveids l ON l.doc_id = gr.doc_id),
       |cid2 AS (SELECT DISTINCT cid FROM (
       |    SELECT gr.doc_id AS cid FROM gr
       |    JOIN quar q ON q.doc_id = gr.doc_id
       |    JOIN liveg ON liveg.h = gr.h
       |  UNION ALL
       |    SELECT adj.b AS cid FROM adj
       |    JOIN quar q ON q.doc_id = adj.b
       |    JOIN liveids l ON l.doc_id = adj.a)),
       |${QualityModel.featureSqlCtes(
         "(SELECT d.* FROM documents d JOIN quar q ON q.doc_id = d.doc_id)",
         "qr_")},
       |scq AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |        FROM qr_feat, ctr_w w),
       |j2 AS MATERIALIZED (SELECT q.doc_id, q.source, c2.h AS ch,
       |        fz2.fid, cid2.cid, scq.p
       |      FROM quar q
       |      JOIN h hh ON hh.doc_id = q.doc_id
       |      LEFT JOIN c2 ON hh.h = c2.h
       |      LEFT JOIN fz2 ON fz2.fid = q.doc_id
       |      LEFT JOIN cid2 ON cid2.cid = q.doc_id
       |      JOIN scq ON scq.doc_id = q.doc_id),
       |lq2 AS (SELECT doc_id,
       |          cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |        FROM j2 WHERE ch IS NULL AND fid IS NULL AND cid IS NULL),
       |vr AS MATERIALIZED (SELECT j2.*, lq2.lq FROM j2
       |      LEFT JOIN lq2 ON lq2.doc_id = j2.doc_id),
       |addg AS (SELECT DISTINCT gr.h FROM gr
       |         JOIN addids a ON a.doc_id = gr.doc_id),
       |caught AS (SELECT DISTINCT cid FROM (
       |    SELECT gr.doc_id AS cid FROM gr
       |    JOIN ing i ON i.doc_id = gr.doc_id
       |    JOIN addg ON addg.h = gr.h
       |  UNION ALL
       |    SELECT adj.b AS cid FROM adj
       |    JOIN ing i ON i.doc_id = adj.b
       |    JOIN addids a ON a.doc_id = adj.a)),
       |r1 AS (SELECT source, count(*) AS n_batch, count(ch) AS n_dup_exact,
       |    count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
       |    count(CASE WHEN ch IS NULL AND fid IS NULL THEN cid END)
       |      AS n_contaminated,
       |    count(CASE WHEN lq THEN 1 END) AS n_low_quality,
       |    count(CASE WHEN lq = false THEN 1 END) AS n_new
       |  FROM v1 GROUP BY source),
       |rr AS (SELECT source,
       |    count(CASE WHEN lq = false THEN 1 END) AS n_readmitted,
       |    count(CASE WHEN ch IS NULL AND fid IS NULL THEN cid END)
       |      AS n_still_contaminated
       |  FROM vr GROUP BY source),
       |rc AS (SELECT d.source, count(*) AS n_caught
       |  FROM documents d JOIN caught c ON c.cid = d.doc_id
       |  GROUP BY d.source)
       |SELECT COALESCE(r1.source, rr.source, rc.source) AS source,
       |  CAST(COALESCE(n_batch, 0) AS BIGINT) AS n_batch,
       |  CAST(COALESCE(n_dup_exact, 0) AS BIGINT) AS n_dup_exact,
       |  CAST(COALESCE(n_dup_fuzzy, 0) AS BIGINT) AS n_dup_fuzzy,
       |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  CAST(COALESCE(n_low_quality, 0) AS BIGINT) AS n_low_quality,
       |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       |  CAST(COALESCE(n_readmitted, 0) AS BIGINT) AS n_readmitted,
       |  CAST(COALESCE(n_still_contaminated, 0) AS BIGINT)
       |    AS n_still_contaminated,
       |  CAST(COALESCE(n_caught, 0) AS BIGINT) AS n_caught
       |FROM r1 FULL JOIN rr ON rr.source = r1.source
       |FULL JOIN rc ON rc.source = COALESCE(r1.source, rr.source)
       |ORDER BY source""".stripMargin
  }
}
