package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CURATED FOLD-BACK (q137) — the r11 verdict's item 3: the engine
  * KNEW how to strip boilerplate against its maintained census (q129)
  * and scrub PII (q78), but the deployment tick folded back and exported the
  * RAW text — the curation pipeline and the deployment loop ran as
  * parallel tracks, so packed shards carried boilerplate and unscrubbed
  * PII the engine itself could remove. Here the admitted docs'text is
  * TRANSFORMED before it reaches any serving consumer:
  *
  *   curated = scrub(strip(text, maintained-census winners))
  *
  * under the TWO-COLUMN provenance discipline: the GATE (and the dedup
  * state fold-back) works on the RAW text's hash/shingles — so a later
  * copy of an admitted doc still rejects, a takedown still anti-joins,
  * and the quarantine still re-judges raw evidence — while the SERVING
  * consumers (BM25 postings, packed export) receive the curated form.
  * The census leg keeps folding RAW text: it is the strip-rule SOURCE
  * (it measures arriving duplication; folding stripped text into it
  * would erode the very frequencies the winners are mined from).
  *
  * The PII injection harness ([[PiiScrub.augmentedWith]], densified to
  * mod 5 so every batch class carries redactable PII) stands in for
  * naturally dirty arrivals, exactly as in q78. Output certifies BOTH
  * representations per source: the q103 verdict columns (raw-hash
  * provenance) plus the rewrite audit — tokens_raw / tokens_removed
  * (census strip) / chars_redacted (PII) / `exact_curated_sig`, the
  * XOR content signature of the curated text that the packed export
  * must carry ([[graft.io.IngestLoop]]'s CurateLeg; CurateTickSpec
  * pins the physical export slices against it).
  *
  * Scale shape: the q103 gate + ONE census merge (20-byte gram rows) +
  * a broadcast ≤ topN winner set + row-local strip/scrub over ADMITTED
  * text only — the transform adds no data-sized shuffle; corpus text
  * is never re-read (the census is maintained state).
  */
object CurateTick {

  val DefaultTopN = 150
  val DefaultInjectMod = 5L

  /** Strip granularity: 3-word phrases, deliberately FINER than the
    * census default (k = 8). On this corpus df ≥ 2 eight-grams exist
    * only between near-identical docs — which the dup gates reject
    * before the transform ever sees them — so an 8-gram strip rule
    * would be provably idle on every ADMITTED doc; 3-word shared
    * phrases are the cross-document boilerplate the admitted (novel)
    * slice actually carries. The census machinery is k-parametric
    * throughout, so this is a knob, not a fork. */
  val DefaultStripK = 3

  /** The TRANSFORM itself, shared by the live q137, the deployment
    * ([[graft.io.IngestLoop]]'s CurateLeg), and the specs: strip the
    * admitted docs against the winners of (maintained census ∪ the
    * batch's own increment — the q129 rule), then scrub PII. Returns
    * (doc_id, source, text = CURATED, n_tokens, n_removed,
    * chars_redacted). */
  def curatedDocs(admDocs: DataFrame, stateCensus: DataFrame,
                  batchDocs: DataFrame, k: Int = DefaultStripK,
                  topN: Int = DefaultTopN): DataFrame = {
    val winners = SubstringDedup.winnersFromCensus(
      SubstringDedup.mergeCensus(
        stateCensus.union(SubstringDedup.censusOf(batchDocs, k))), topN)
    SubstringDedup.strip(admDocs, winners, k)
      .withColumn("text", PiiScrub.scrub(col("text_stripped")))
      .join(admDocs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("text"), col("n_tokens"),
        col("n_removed"),
        (length(col("text_stripped")) - length(col("text")))
          .cast("long").as("chars_redacted"))
  }

  def q137CuratedFoldback(documents: DataFrame, threshold: Double = 0.2,
                          lowFrac: Double = 0.25,
                          k: Int = DefaultStripK,
                          topN: Int = DefaultTopN,
                          injectMod: Long = DefaultInjectMod): DataFrame = {
    val docsA = documents.withColumn("text",
      PiiScrub.augmentedWith(injectMod))
    val m = (c: Column) => pmod(c, lit(Provenance.BatchMod))
    val corpus = docsA.filter(m(col("doc_id")) =!= 0)
    val batch = docsA.filter(m(col("doc_id")) === 0)
    val isBatch = (c: Column) => m(c) === 0
    val fuzzy = Fuzzy.lshCrossPairs(docsA, isBatch, threshold)
      .select(col("eval_id").as("fid")).distinct()
    val w = QualityModel.weights(corpus,
      scope = s"curated${Provenance.BatchMod}")
    val v = Provenance.gatedTickFrame(batch,
      Provenance.corpusHashState(corpus),
      Seq(Provenance.Evidence.Fuzzy -> fuzzy), w, lowFrac)
    val admIds = v.filter(col("lq") === false).select("doc_id")
    val admDocs = batch.join(admIds, Seq("doc_id"), "left_semi")
    // severed: the audit aggregate is the only consumer, but the strip
    // chain hangs off the checkpointed verdict frame via admDocs and
    // would otherwise re-expand into the report join
    val curated = curatedDocs(admDocs,
        SubstringDedup.censusOf(corpus, k), batch, k, topN)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_removed"), col("chars_redacted"),
        Provenance.contentHash60(col("text")).as("chc"))
      .localCheckpoint()
    val audit = curated.groupBy("source")
      .agg(sum("n_tokens").as("tokens_raw"),
        sum("n_removed").as("tokens_removed"),
        sum("chars_redacted").as("chars_redacted"),
        expr("bit_xor(chc)").as("exact_curated_sig"))
    Provenance.gatedTickReport(v, Provenance.ladder())
      .join(audit, Seq("source"), "left")
      .select(col("source"), col("n_batch"), col("n_dup_exact"),
        col("n_dup_fuzzy"), col("n_low_quality"), col("n_new"),
        coalesce(col("tokens_raw"), lit(0L)).as("tokens_raw"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        coalesce(col("chars_redacted"), lit(0L)).as("chars_redacted"),
        coalesce(col("exact_curated_sig"), lit(0L))
          .as("exact_curated_sig"))
      .orderBy("source")
  }

  /** q137's oracle: the augmented relation, the q103 gate chain, the
    * whole-table winner mining, the admitted-only strip, the scrub,
    * and the curated signature — one WITH clause; a hash match
    * certifies raw-provenance gating AND the exported curated form
    * together. */
  def q137Sql(threshold: Double = 0.2, lowFrac: Double = 0.25,
              k: Int = DefaultStripK, topN: Int = DefaultTopN,
              injectMod: Long = DefaultInjectMod,
              iters: Int = QualityModel.DefaultIters,
              trainN: Int = QualityModel.DefaultTrainN): String = {
    val bm = Provenance.BatchMod
    val aug = PiiScrub.augSqlWith(injectMod)
    val scrubbed = PiiScrub.scrubSql("array_to_string(kt, ' ')")
    s"""WITH d2 AS MATERIALIZED (SELECT doc_id, source, lang, $aug AS text
       |      FROM documents),
       |${Fuzzy.lshPairsSqlCtes(
         "tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM d2)",
         threshold)},
       |h AS MATERIALIZED (SELECT doc_id, source,
       |        CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
       |      FROM d2),
       |b AS (SELECT doc_id, source, h FROM h WHERE doc_id % $bm = 0),
       |c AS (SELECT DISTINCT h FROM h WHERE doc_id % $bm <> 0),
       |fz AS (SELECT DISTINCT CASE WHEN ida % $bm = 0 THEN ida ELSE idb END AS fid
       |       FROM pairs WHERE (ida % $bm = 0) <> (idb % $bm = 0)),
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM d2 WHERE doc_id % $bm <> 0)", "ctr_")},
       |${QualityModel.trainSqlCtes(iters, trainN, "ctr_")},
       |${QualityModel.featureSqlCtes(
         s"(SELECT * FROM d2 WHERE doc_id % $bm = 0)", "bf_")},
       |s AS (SELECT doc_id, ${QualityModel.scoreSql("w")} AS p
       |      FROM bf_feat, ctr_w w),
       |j AS MATERIALIZED (SELECT b.doc_id, b.source, c.h AS ch, fz.fid, s.p
       |      FROM b LEFT JOIN c ON b.h = c.h
       |      LEFT JOIN fz ON fz.fid = b.doc_id
       |      JOIN s ON s.doc_id = b.doc_id),
       |lq AS (SELECT doc_id,
       |         cume_dist() OVER (ORDER BY p, doc_id) <= $lowFrac AS lq
       |       FROM j WHERE ch IS NULL AND fid IS NULL),
       |v AS MATERIALIZED (SELECT j.*, lq.lq FROM j
       |      LEFT JOIN lq ON lq.doc_id = j.doc_id),
       |adm AS (SELECT doc_id FROM v WHERE lq = false),
       |sbase AS (SELECT doc_id, a, len(a) AS n_tokens FROM tok),
       |spos AS (SELECT doc_id, a,
       |          unnest(generate_series(1, n_tokens - ${k - 1})) AS i
       |        FROM sbase WHERE n_tokens >= $k),
       |shg AS MATERIALIZED (SELECT doc_id, i,
       |        cast(concat('0x', substr(md5(array_to_string(
       |          a[CAST(i AS INT):CAST(i + ${k - 1} AS INT)], ' ')),
       |          1, 15)) AS bigint) AS h
       |      FROM spos),
       |stop AS (SELECT h FROM (
       |        SELECT h, count(DISTINCT doc_id) AS df_docs FROM shg GROUP BY h
       |        HAVING count(DISTINCT doc_id) >= 2
       |        ORDER BY df_docs DESC, h LIMIT $topN) z),
       |shits AS (SELECT doc_id, list_sort(list(i)) AS hits
       |         FROM shg JOIN stop USING (h)
       |         JOIN adm USING (doc_id) GROUP BY doc_id),
       |scov AS (SELECT b.doc_id, b.a, b.n_tokens,
       |          list_distinct(flatten(list_transform(
       |            coalesce(h.hits, CAST([] AS BIGINT[])),
       |            x -> range(x, x + $k)))) AS covered
       |        FROM sbase b
       |        JOIN adm USING (doc_id)
       |        LEFT JOIN shits h USING (doc_id)),
       |skept AS (SELECT doc_id, n_tokens,
       |          list_transform(list_filter(range(1, n_tokens + 1),
       |            p -> NOT list_contains(covered, p)),
       |            p -> a[CAST(p AS INT)]) AS kt
       |        FROM scov),
       |cur AS MATERIALIZED (SELECT sk.doc_id, d2.source,
       |        sk.n_tokens, sk.n_tokens - len(kt) AS n_removed,
       |        len(array_to_string(kt, ' '))
       |          - len($scrubbed) AS chars_redacted,
       |        CAST(concat('0x', substr(md5($scrubbed), 1, 15)) AS BIGINT)
       |          AS chc
       |      FROM skept sk JOIN d2 ON d2.doc_id = sk.doc_id),
       |aud AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_raw,
       |        CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
       |        CAST(sum(chars_redacted) AS BIGINT) AS chars_redacted,
       |        bit_xor(chc) AS exact_curated_sig
       |      FROM cur GROUP BY source)
       |SELECT v.source, count(*) AS n_batch, count(ch) AS n_dup_exact,
       |  count(CASE WHEN ch IS NULL THEN fid END) AS n_dup_fuzzy,
       |  count(CASE WHEN lq THEN 1 END) AS n_low_quality,
       |  count(CASE WHEN lq = false THEN 1 END) AS n_new,
       |  COALESCE(any_value(aud.tokens_raw), 0) AS tokens_raw,
       |  COALESCE(any_value(aud.tokens_removed), 0) AS tokens_removed,
       |  COALESCE(any_value(aud.chars_redacted), 0) AS chars_redacted,
       |  COALESCE(any_value(aud.exact_curated_sig), 0) AS exact_curated_sig
       |FROM v LEFT JOIN aud ON aud.source = v.source
       |GROUP BY v.source ORDER BY v.source""".stripMargin
  }
}
