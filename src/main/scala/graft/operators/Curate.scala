package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The end-to-end corpus-curation pipeline a training-data deployment
  * actually runs — language/quality gating (q29), near-duplicate
  * removal (q22's pair relation), token accounting (q35) — composed
  * into ONE lazy plan, so Catalyst sees the whole dataflow: the
  * doc-side scans share the parquet read, the pair relation reduces to
  * an anti-join on the loser ids, and only per-language aggregates ever
  * reach the driver.
  *
  * Scale shape: every stage is the already-scale-vetted operator; the
  * composition adds one broadcast-able anti-join (losers ≪ corpus) and
  * a tiny groupBy(lang). This is the "a user could run their whole
  * pipeline on this engine" query.
  */
object Curate {

  /** q40: gate on quality ≥ qmin, drop near-dup losers (higher doc_id
    * of each Jaccard-pair), aggregate kept-corpus stats per predicted
    * language. */
  def q40CorpusCurate(documents: DataFrame, qmin: Double = 0.4,
                      jaccard: Double = 0.2,
                      maxDf: Int = TextOps.DefaultMaxDf): DataFrame = {
    // ONE row-local feature pass (lang + quality + token count) — not a
    // join of the standalone q29/q35 plans, which would scan documents
    // twice and shuffle to join what was row-aligned all along
    val feats = LangQuality.withLangQuality(documents)
      .withColumn("n_bpe_tokens", LangQuality.bpeTokens)
      .select("doc_id", "lang_pred", "quality", "n_bpe_tokens")
    val losers = TextOps.q22NgramJaccard(documents, jaccard, maxDf)
      .select(col("idb").as("doc_id")).distinct()
    feats
      .join(losers, Seq("doc_id"), "left_anti")
      .filter(col("quality") >= qmin)
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bpe_tokens").as("sum_bpe_tokens"),
        // quality is already rounded to 6 dp → decimal(18,6) is
        // lossless; exact sum then one double division (see Exact)
        round(sum(col("quality").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)), 6).as("avg_quality"))
      .orderBy("lang_pred")
  }

  /** q51: deterministic train/val/test split assignment — the
    * reproducibility-critical partitioning of a training corpus. Keyed
    * by the portable content-independent doc hash (NOT rand(), NOT
    * content: ids are stable under text re-processing), 80/10/10 by
    * hash decile; emits per-split volume accounting. Map-side assign,
    * one tiny groupBy — and the same expression can feed
    * `df.write.partitionBy("split")` to materialize the three sets in
    * one pass. */
  def q51Split(documents: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 10
    documents
      .withColumn("split",
        when(h === 0, lit("test")).when(h === 1, lit("val")).otherwise(lit("train")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col("text"), " "))).as("sum_tokens"))
      .orderBy("split")
  }

  /** q58: quality-weighted deterministic sampling — keep each document
    * with probability proportional to its quality score (capped at 1),
    * the corpus-building move that upsamples high-quality text without
    * a hard gate. Membership is keyed by the portable doc-id hash (as
    * q42/q51/q52: reproducible across engines, runs, and retries — a
    * rand() sample is none of those), compared against quality×factor:
    * u = (h mod 10^6)/10^6 < min(quality·factor, 1). Map-side filter —
    * nothing shuffles but the per-language aggregate. */
  def q58WeightedSample(documents: DataFrame, factor: Double = 1.5): DataFrame = {
    val feats = LangQuality.withLangQuality(documents)
      .withColumn("n_bpe_tokens", LangQuality.bpeTokens)
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L).cast("double")
    feats
      .filter(u < least(col("quality") * factor, lit(1.0)) * 1000000.0)
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_kept"),
        sum("n_bpe_tokens").as("sum_bpe_tokens"),
        round(sum(col("quality").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)), 6).as("avg_quality"))
      .orderBy("lang_pred")
  }

  def q58Sql(factor: Double = 1.5): String =
    s"""WITH $featsSqlCtes
       |SELECT lang_pred, count(*) AS n_kept,
       |  cast(sum(n_bpe_tokens) AS bigint) AS sum_bpe_tokens,
       |  round(cast(sum(cast(quality AS decimal(18,6))) AS double) / count(*), 6) AS avg_quality
       |FROM lq JOIN bpe USING (doc_id)
       |WHERE cast((cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 15)) AS bigint) % 1000000) AS double)
       |      < least(quality * $factor, 1.0) * 1000000.0
       |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin

  /** q63: per-language best-documents preview — top 3 by (quality desc,
    * doc_id) within each predicted language, the curation spot-check a
    * corpus owner runs after every pipeline change. The rank filter
    * compiles to WindowGroupLimit: per-partition per-group top-k heaps
    * feed the shuffle, so no group is ever fully sorted. */
  def q63BestPerLang(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang_pred")
      .orderBy(col("quality").desc, col("doc_id").asc)
    LangQuality.withLangQuality(documents)
      .select(col("doc_id"), col("lang_pred"), col("quality"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("lang_pred", "rk")
  }

  def q63Sql(k: Int = 3): String =
    s"""WITH $featsSqlCtes
       |SELECT doc_id, lang_pred, quality, rk FROM (
       |  SELECT doc_id, lang_pred, quality,
       |    row_number() OVER (PARTITION BY lang_pred
       |      ORDER BY quality DESC, doc_id) AS rk
       |  FROM lq) t
       |WHERE rk <= $k ORDER BY lang_pred, rk""".stripMargin

  def q51Sql: String =
    """SELECT CASE (cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 15)) AS bigint) % 10)
      |         WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split,
      |  count(*) AS n_docs,
      |  cast(sum(len(regexp_split_to_array(text, ' '))) AS bigint) AS sum_tokens
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** Shared oracle CTE fragment: the row-local feature pass (lang-ID +
    * quality + BPE token count) as `x, t, lq, bpe` — reused by q40/q58. */
  private def featsSqlCtes: String = {
    def hitsSql(ws: Seq[String]) =
      s"len(list_filter(a, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    val hitCols = LangQuality.Markers
      .map { case (l, ws) => s"${hitsSql(ws)} AS hits_$l" }.mkString(", ")
    val caseArms = LangQuality.Markers.map { case (lang, _) =>
      val geAll = LangQuality.Markers
        .map { case (o, _) => s"hits_$lang >= hits_$o" }.mkString(" AND ")
      val beatsPrior = LangQuality.Markers.takeWhile(_._1 != lang)
        .map { case (o, _) => s"hits_$o < hits_$lang" }
        .foldLeft(Seq("TRUE"))(_ :+ _).mkString(" AND ")
      s"WHEN hits_$lang > 0 AND $geAll AND $beatsPrior THEN '$lang'"
    }.mkString(" ")
    s"""x AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents),
       |t AS (SELECT doc_id, len(a) AS n_tokens, len(list_distinct(a)) AS n_types, $hitCols FROM x),
       |lq AS (SELECT doc_id, CASE $caseArms ELSE 'unknown' END AS lang_pred,
       |         round(least(cast(n_tokens AS double) / 100.0, 1.0) * 0.4
       |             + (n_types / cast(n_tokens AS double)) * 0.4
       |             + least(cast(hits_en AS double) / cast(n_tokens AS double) * 5.0, 1.0) * 0.2, 6) AS quality
       |       FROM t),
       |bpe AS (SELECT doc_id,
       |          len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]|[^a-z0-9 ]')) AS n_bpe_tokens
       |        FROM documents)""".stripMargin
  }

  /** Self-contained oracle re-derivation (the component CTEs restated,
    * as the oracle deliberately re-derives rather than imports). */
  def q40Sql(qmin: Double = 0.4, jaccard: Double = 0.2,
             maxDf: Int = TextOps.DefaultMaxDf): String = {
    s"""WITH $featsSqlCtes,
       |${TextOps.shingleSqlFrom("tok AS (SELECT doc_id, a FROM x)")},
       |shh AS (SELECT doc_id,
       |          cast(concat('0x', substr(md5(s), 1, 15)) AS bigint) AS h FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
       |keep AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= $maxDf),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ninter
       |          FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
       |          JOIN keep k ON k.h = a.h GROUP BY 1, 2),
       |losers AS (SELECT DISTINCT idb AS doc_id
       |           FROM inter JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
       |           WHERE cast(ninter AS double) / (sa.n + sb.n - ninter) >= $jaccard)
       |SELECT lang_pred, count(*) AS n_docs, cast(sum(n_bpe_tokens) AS bigint) AS sum_bpe_tokens,
       |  round(cast(sum(cast(quality AS decimal(18,6))) AS double) / count(*), 6) AS avg_quality
       |FROM lq JOIN bpe USING (doc_id)
       |WHERE quality >= $qmin AND doc_id NOT IN (SELECT doc_id FROM losers)
       |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  /** q69: domain-mixture token-budget allocation — the planning step
    * that precedes any reweighted pre-training run (Pile/DoReMi-style):
    * given per-domain (here: language) token inventories and a total
    * token budget (`budgetFrac` of the corpus), compute each domain's
    * sampling rate toward a UNIFORM target mixture. One-shot
    * proportional allocation with a rate cap at 1.0 — a domain smaller
    * than its target share keeps everything (the leftover is reported,
    * not silently re-spread: waterfilling is a policy choice this
    * operator leaves to the caller).
    *
    * Scale shape: one narrow token-count scan → groupBy(lang) (domains
    * are few) → broadcast of a 1-row totals aggregate. Nothing else.
    * The emitted `rate` drives the same deterministic hash filter as
    * q58, so the plan is directly executable. */
  def q69DomainMix(documents: DataFrame, budgetFrac: Double = 0.5,
                   learned: Boolean = true): DataFrame = {
    val tok =
      if (learned) Bpe.tokenCount(Bpe.merges(documents), col("text"))
      else size(split(col("text"), " "))
    val perLang = documents
      .select(col("lang"), tok.cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("lang_tokens"))
    val totals = perLang.agg(
      sum("lang_tokens").as("total_tokens"), count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(totals))
      .withColumn("rate", round(least(lit(1.0),
        col("total_tokens") * budgetFrac / col("n_langs") / col("lang_tokens")), 6))
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("rate"),
        floor(col("rate") * col("lang_tokens")).cast("long").as("alloc_tokens"))
      .orderBy("lang")
  }

  def q69Sql(budgetFrac: Double = 0.5): String =
    s"""WITH ${Bpe.tokenSqlCtes()},
       |pl AS (SELECT lang, count(*) AS n_docs, sum(n_tokens) AS lang_tokens
       |       FROM documents JOIN bpe_tok USING (doc_id) GROUP BY lang),
       |t AS (SELECT sum(lang_tokens) AS total_tokens, count(*) AS n_langs FROM pl)
       |SELECT lang, n_docs, CAST(lang_tokens AS BIGINT) AS lang_tokens,
       |  round(least(1.0,
       |    CAST(total_tokens AS DOUBLE) * $budgetFrac / n_langs / lang_tokens), 6) AS rate,
       |  CAST(floor(round(least(1.0,
       |    CAST(total_tokens AS DOUBLE) * $budgetFrac / n_langs / lang_tokens), 6)
       |    * lang_tokens) AS BIGINT) AS alloc_tokens
       |FROM pl, t ORDER BY lang""".stripMargin

  /** q97: TEMPERATURE-resampled source mixture — the multilingual /
    * multi-domain sampling scheme of the mBERT / XLM-R line (Conneau
    * et al. 2020, §3.1): sample sources with probability ∝ n^α
    * (α < 1 flattens the head, upweights the tail) instead of q69's
    * uniform target. Emits, per source: the exponentiated mixture
    * weight, the per-doc acceptance rate toward a `budgetFrac`·N doc
    * budget (capped at 1 — oversubscribed tail sources keep
    * everything), and the count the deterministic q58-style hash
    * filter ACTUALLY admits — plan and realized sample in one result,
    * so drift between the two (hash granularity at small n) is visible
    * rather than assumed away.
    *
    * Determinism: n^α is rounded ONCE to micro-units; the normalizer
    * is an exact long sum (the LmScore discipline — a ~20-term double
    * sum would be summation-order-dependent); the acceptance threshold
    * is an integer micro-rate, so admission is a pure integer
    * comparison on the 60-bit doc hash both engines compute
    * identically.
    *
    * Scale shape: groupBy(source) (domains are few) → one-row totals
    * broadcast → per-source rate table broadcast back to the corpus
    * scan for the admission count. Two scans of a narrow projection,
    * no wide shuffle. */
  def q97TemperatureMix(documents: DataFrame, alpha: Double = 0.7,
                        budgetFrac: Double = 0.5): DataFrame = {
    val per = documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val rates = temperatureRates(per, "n_docs", alpha, budgetFrac)
      .withColumn("thr", round(col("rate") * 1e6).cast("long"))
    val hm = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L)
    documents.select(col("source"), hm.as("hm"))
      .join(broadcast(rates), "source")
      .groupBy(col("source"), col("n_docs"), col("weight"), col("rate"))
      .agg(sum(when(col("hm") < col("thr"), 1L).otherwise(0L)).as("n_sampled"))
      .select("source", "n_docs", "weight", "rate", "n_sampled")
      .orderBy("source")
  }

  /** The q97 temperature rates of the per-source counts in column `n`
    * of `per` (one row per source), as added columns: `wm` = n^α in
    * micro-units (rounded once), `denom` = Σ wm and `n_total` = Σ n
    * (exact long sums), `weight` = wm / denom and `rate` = min(1,
    * budgetFrac · n_total · wm / denom / n), both to 6 places. The one
    * definition behind q97, q127's rebalance and the rates over a
    * maintained [[graft.io.ArtifactStore.DomainMix]]. */
  def temperatureRates(per: DataFrame, n: String, alpha: Double,
                       budgetFrac: Double): DataFrame = {
    val wm = per.withColumn("wm",
      round(pow(col(n).cast("double"), lit(alpha)) * 1e6).cast("long"))
    val tot = wm.agg(sum("wm").as("denom"), sum(n).as("n_total"))
    wm.crossJoin(broadcast(tot))
      .withColumn("weight", round(col("wm") / col("denom"), 6))
      .withColumn("rate", round(least(lit(1.0),
        lit(budgetFrac) * col("n_total") * col("wm") / col("denom") / col(n)), 6))
  }

  def q97Sql(alpha: Double = 0.7, budgetFrac: Double = 0.5): String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(round(pow(count(*)::DOUBLE, $alpha) * 1e6) AS BIGINT) AS wm
       |  FROM documents GROUP BY source),
       |t AS (SELECT CAST(sum(wm) AS BIGINT) AS denom,
       |        CAST(sum(n_docs) AS BIGINT) AS n_total FROM per),
       |r AS (SELECT source, n_docs, wm, denom,
       |        round(wm / denom, 6) AS weight,
       |        round(least(1.0,
       |          $budgetFrac * n_total * wm / denom / n_docs), 6) AS rate
       |      FROM per, t)
       |SELECT r.source, r.n_docs, r.weight, r.rate,
       |  CAST(sum(CASE WHEN
       |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % 1000000 < CAST(round(r.rate * 1e6) AS BIGINT)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM documents d JOIN r ON d.source = r.source
       |GROUP BY 1, 2, 3, 4 ORDER BY r.source""".stripMargin
}
