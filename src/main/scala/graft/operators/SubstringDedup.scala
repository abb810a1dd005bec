package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-substring detection — the "dedup by duplicated
  * spans" pass (Lee et al. 2021, "Deduplicating Training Data Makes
  * Language Models Better") that complements whole-doc dedup: q21/q60
  * drop byte-identical documents and q22/q27 score whole-doc
  * similarity, but none of them SEE a 200-token boilerplate header
  * pasted into ten thousand otherwise-distinct documents. This
  * operator measures, per document, how much of it is covered by
  * token k-grams that also occur in at least one OTHER document.
  *
  * Suffix arrays (the paper's tool) are a single-machine construction;
  * the distributed re-expression is the standard k-gram posting
  * relation, which Spark executes as two hash shuffles:
  *   1. every doc emits one posting per token position — (doc_id,
  *      position, 60-bit md5 gram hash); linear in corpus tokens,
  *      ~20 bytes per posting, the gram TEXT never leaves the scan;
  *   2. cross-doc grams = groupBy(hash) HAVING count(DISTINCT doc) >= 2
  *      (partial aggregation collapses within-partition repeats before
  *      the shuffle, so boilerplate costs one row per partition, not
  *      one per occurrence);
  *   3. a semi-join marks duplicated positions, and per-doc interval
  *      merge (windows PARTITIONED by doc_id — never a global window)
  *      turns overlapping [i, i+k-1] spans into exact covered-token
  *      counts.
  * Nothing here is quadratic: unlike the q22 similarity self-join, a
  * gram shared by f documents costs f posting rows, not f²/2 pairs, so
  * no document-frequency cap is needed and the plan survives 100 TB
  * unchanged.
  *
  * Output: one row per document — n_tokens, how many of its k-gram
  * positions are cross-doc duplicated, exact covered-token count after
  * overlap merge, and the covered fraction. A curation pass drops or
  * trims docs above a dup_frac threshold. Within-doc repetition is
  * deliberately out of scope (that is q61's Gopher-style census).
  */
object SubstringDedup {

  /** Span length in tokens. 8 ≈ the paper's 50-char threshold at this
    * corpus's ~6 chars/token; long enough that chance collisions of
    * real text are negligible, short enough to catch template spans. */
  val DefaultK = 8

  /** The ONE k-gram posting definition: one row per (doc, position)
    * with the gram text and its portable 60-bit md5 hash (TextOps
    * convention — the oracle re-derives it exactly). Shared by
    * coverage (q86/q91 gate) and the q90 miner; consumers project the
    * columns they need and Catalyst prunes the rest. */
  private def postings(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens") >= k)
      .withColumn("i", explode(expr(s"sequence(1, n_tokens - ${k - 1})")))
      .withColumn("g", expr(s"concat_ws(' ', slice(toks, i, $k))"))
      .withColumn("h",
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"))
      .select("doc_id", "n_tokens", "i", "g", "h")

  /** Per-document duplicated-substring coverage over (doc_id, text) —
    * the reusable pass behind q86 and the q91 boilerplate gate. One
    * row per input doc: (doc_id, n_tokens, n_dup_grams, covered_tokens,
    * dup_frac), unordered. */
  def coverage(documents: DataFrame, k: Int = DefaultK): DataFrame = {
    // Mine the text ONCE (r17; guide §1.2 remove passes): the census
    // aggregate and the dup-hit probe join both consume the posting
    // relation, and each lazily re-derived it from text — two full
    // tokenize+md5-per-position passes per call (the md5 dominates).
    // A shared `repartition(h)` exchange was tried first (§2.4) but
    // column pruning differentiates the two consumers' exchanges, so
    // reuse never fires; the severed 28 B/posting relation measured
    // faster still (q86 2.72 → 1.23 s vs 1.45 s for the repartition
    // form) and is the in-memory twin of the census state the
    // incremental form (q121) persists anyway.
    val pos = Materialize.sever(
      postings(documents, k).select("doc_id", "n_tokens", "i", "h"))
    // cross-doc duplicated grams: seen in >= 2 distinct documents
    // exact_ prefix: SEMANTIC distinct count (feeds the >= 2 selection)
    // — the ApproxDistinctAboveThreshold valve honors the prefix and
    // never sketches it (a sketched df would strip different spans)
    val dup = pos.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("exact_df"))
      .filter(col("exact_df") >= 2)
      .select("h")
    coverageAgainstDup(documents, pos, dup, k)
  }

  /** The coverage TAIL against an ARBITRARY duplicated-gram hash set —
    * factored out (r11) so the per-tick incremental form (q121) can
    * judge a batch's positions against the MAINTAINED census instead of
    * re-mining: exact covered tokens per doc via running-max interval
    * merge of the dup-hit spans (windows partitioned by doc_id, never
    * global). */
  private def coverageAgainstDup(documents: DataFrame, pos: DataFrame,
                                 dup: DataFrame, k: Int): DataFrame = {
    val base = documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")))
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = pos.join(dup, "h")
      .withColumn("e", col("i") + lit(k - 1))
      .withColumn("pmax", max("e").over(w))
      .withColumn("contrib",
        greatest(lit(0L),
          col("e") - greatest(col("i") - 1, coalesce(col("pmax"), lit(0L)))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"), sum("contrib").as("covered_tokens"))
    base.select("doc_id", "n_tokens")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_frac"))
  }

  // ---- incremental gram census (per-tick curation state) ---------------

  /** Observable census-scan counter (the Retrieval.tokenizeRuns
    * pattern): every [[censusOf]] pass over a batch's text increments
    * it once — the incremental store's receipt that old ticks are
    * never re-mined. */
  val censusRuns = new java.util.concurrent.atomic.AtomicLong

  /** One batch's k-gram census increment: (h, exact_df_docs, n_occ) —
    * the unit [[graft.io.ArtifactStore.GramCensus]] appends per ingest
    * tick. ADDITIVE across ticks because a document
    * is admitted in exactly one tick: global df(h) = Σ per-tick
    * distinct-doc counts (no doc straddles ticks), n_occ likewise — so
    * the corpus-global census q90/q91/q95 feed on is maintainable
    * without re-mining old text (the Bm25IncrementalIndex argument,
    * applied to curation state: r10 verdict item 5).
    *
    * exact_ prefix: this df feeds the `>= 2` duplicated-gram filter
    * and the winner top-N — the SELECTION sites the valve contract
    * names verbatim ([[graft.catalyst.ApproxDistinctAboveThreshold]]);
    * the exploding postings child is precisely the plan whose stats
    * estimate trips the valve at scale, and a sketched df stored into
    * the census would corrupt every later tick's verdicts. */
  def censusOf(docs: DataFrame, k: Int = DefaultK): DataFrame = {
    censusRuns.incrementAndGet()
    postings(docs, k).groupBy("h")
      .agg(countDistinct(col("doc_id")).as("exact_df_docs"),
        count(lit(1)).as("n_occ"))
  }

  /** Merge census increments — one groupBy-sum over tiny hash rows. */
  def mergeCensus(parts: DataFrame): DataFrame =
    parts.groupBy("h")
      .agg(sum("exact_df_docs").as("exact_df_docs"), sum("n_occ").as("n_occ"))

  /** The census increment at gram size `k` — what a
    * [[graft.io.ArtifactStore.GramCensus]] appends per tick and, negated,
    * per takedown. `k` is recorded here only, so the curate leg strips
    * at the census's own granularity. */
  final case class Census(k: Int) extends (DataFrame => DataFrame) {
    def apply(docs: DataFrame): DataFrame = censusOf(docs, k)
  }

  /** The q90 winner selection over a MERGED census — bit-equal to
    * [[winnerHashes]]'s full re-mine because merged exact_df_docs is
    * the exact global distinct-doc count (spec-pinned). */
  def winnersFromCensus(census: DataFrame, topN: Int = 20): DataFrame =
    census.filter(col("exact_df_docs") >= 2)
      .orderBy(desc("exact_df_docs"), asc("h")).limit(topN)
      .select("h")

  /** q121: the TICK-SHAPED incremental curation pass — r10 verdict
    * item 5 ("a one-tick corpus change re-mines everything"): the
    * incoming batch's (doc_id % 17 == 0) duplicated-substring coverage
    * judged against the CORPUS-GLOBAL gram statistics, computed as the
    * census-merge algebra — corpus census increment ∪ batch census
    * increment, merged, df ≥ 2 — so only the batch's text is mined at
    * tick time while the corpus side is maintained 20-byte hash rows
    * ([[graft.io.ArtifactStore.GramCensus]] is the
    * store-backed form; SubstringDedupSpec pins it ≡ this live form ≡
    * the q86 full re-mine restricted to batch docs — the equality that
    * certifies the increment algebra). Output: the q86 columns for the
    * batch docs.
    *
    * Scale shape: tick cost = mining the TICK (posting rows shuffle on
    * the gram hash within the batch only) + one merge aggregate over
    * census rows (O(distinct grams), no text) + the row-local interval
    * merge per batch doc. The corpus is never re-tokenized. */
  def q121IncrementalCuration(documents: DataFrame,
                              k: Int = DefaultK): DataFrame = {
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = documents.filter(m =!= 0)
    val batch = documents.filter(m === 0)
    val merged = mergeCensus(censusOf(corpus, k).union(censusOf(batch, k)))
    val dup = merged.filter(col("exact_df_docs") >= 2).select("h")
    coverageAgainstDup(batch,
      postings(batch, k).select("doc_id", "n_tokens", "i", "h"), dup, k)
      .orderBy("doc_id")
  }

  /** q123: RETRACTION REACHES THE CURATION CENSUS — the q117 takedown
    * leg composed with q121's maintained state (the one state family
    * an anti-join cannot retract from, because census rows carry no
    * doc_id): a corpus slice (doc_id % 17 == 6 — a class that SHARES
    * covering grams with the batch, so the takedown is DECISIVE: at
    * least one batch doc's coverage drops) is retracted by
    * appending its NEGATED census increment
    * ([[graft.io.ArtifactStore.SignedIndex.negated]]), and the
    * batch (doc_id % 17 == 0) is then judged against the subtracted
    * census — corpus + batch − retracted, merged, df ≥ 2. The oracle
    * re-mines documents WITH THE RETRACTED DOCS REMOVED BY A WHERE
    * CLAUSE, so a hash match certifies subtraction ≡ removal: grams
    * the retracted docs alone made duplicated stop covering batch
    * spans. Output: the q86 columns for the batch docs.
    *
    * Store form: [[graft.io.ArtifactStore.SignedIndex.retractDocsAt]]
    * on a [[graft.io.ArtifactStore.GramCensus]] (SubstringDedupSpec pins
    * store ≡ live ≡ re-mine).
    *
    * Scale shape: q121's tick cost + one tick-sized census pass over
    * the retracted docs (their text only — the corpus is still never
    * re-tokenized). */
  def q123CensusRetraction(documents: DataFrame,
                           k: Int = DefaultK): DataFrame = {
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = documents.filter(m =!= 0)
    val batch = documents.filter(m === 0)
    val retracted = documents.filter(m === 6)
    val merged = mergeCensus(censusOf(corpus, k).union(censusOf(batch, k))
      .union(graft.io.ArtifactStore.SignedIndex.negated(
        censusOf(retracted, k), Seq("h"))))
    val dup = merged.filter(col("exact_df_docs") >= 2).select("h")
    coverageAgainstDup(batch,
      postings(batch, k).select("doc_id", "n_tokens", "i", "h"), dup, k)
      .orderBy("doc_id")
  }

  /** q129: the TICK-SHAPED STRIP — q121's maintained-census algebra
    * serving q93's TRANSFORM, not just its judgment: the incoming
    * batch (doc_id % 17 == 0) is stripped against the q90 winner set
    * derived from the MERGED census — corpus-maintained 20-byte hash
    * rows plus the batch's own increment, exactly what
    * [[graft.io.ArtifactStore.GramCensus]] serves
    * after the tick's append — so at tick time the only text MINED is
    * the batch's and the only text REWRITTEN is the batch's; the
    * corpus contributes statistics, never tokens. This is the
    * production shape of a per-tick curation transform: q121 judges
    * the batch's coverage, this emits the batch's cleaned text under
    * the same maintained state (SubstringDedupSpec pins store-served
    * winners ≡ this live form ≡ the q93 full re-mine restricted to
    * batch docs, with zero corpus census passes in the store form).
    * Output: q93's columns (doc_id, n_tokens, n_removed,
    * text_stripped) for batch docs that lost tokens.
    *
    * Scale shape: q121's tick cost (batch-only posting mine + one
    * census-row merge) + the broadcast ≤ topN winner semi-join + the
    * row-local per-doc reassembly — batch text crosses no shuffle
    * (positions only), corpus text is never read. */
  def q129IncrementalStrip(documents: DataFrame, k: Int = DefaultK,
                           topN: Int = 150): DataFrame = {
    // topN = 150 (vs q93's 20): the strip-rule budget is sized so the
    // batch actually intersects the winner set at every test scale
    // (rank-ordered df puts corpus-internal boilerplate first; the
    // batch's shared grams sit in the 60–150 band at sf0.01) — still a
    // broadcast of ≤150 8-byte hashes, nothing data-sized
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = documents.filter(m =!= 0)
    val batch = documents.filter(m === 0)
    // additive merge = exact global df (the q121 argument: a doc is in
    // exactly one increment), so the winner selection is bit-equal to
    // the q90/q93 full re-mine's
    val merged = mergeCensus(censusOf(corpus, k).union(censusOf(batch, k)))
    strip(batch, winnersFromCensus(merged, topN), k)
      .filter(col("n_removed") > 0)
      .orderBy("doc_id")
  }

  def q129Sql(k: Int = DefaultK, topN: Int = 150): String = {
    val bm = Provenance.BatchMod
    s"""WITH ${stripSqlCtes("documents", k, topN)}
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
       |  array_to_string(kt, ' ') AS text_stripped
       |FROM kept WHERE n_tokens - len(kt) > 0 AND doc_id % $bm = 0
       |ORDER BY doc_id""".stripMargin
  }

  def q123Sql(k: Int = DefaultK): String = {
    val bm = Provenance.BatchMod
    s"""WITH ${coverageSqlCtes(
         s"(SELECT * FROM documents WHERE doc_id % $bm <> 6)", k)}
       |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  coalesce(ag.n_dup_grams, 0) AS n_dup_grams,
       |  coalesce(ag.covered_tokens, 0) AS covered_tokens,
       |  round(coalesce(ag.covered_tokens, 0) / CAST(b.n_tokens AS DOUBLE), 6) AS dup_frac
       |FROM base b LEFT JOIN agg ag USING (doc_id)
       |WHERE b.doc_id % $bm = 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Spec-visible [[coverageAgainstDup]] over a (h) dup set — lets
    * SubstringDedupSpec drive the tail with a STORE-served census. */
  private[graft] def coverageAgainstDupForSpec(documents: DataFrame,
                                               dup: DataFrame,
                                               k: Int = DefaultK): DataFrame =
    coverageAgainstDup(documents,
      postings(documents, k).select("doc_id", "n_tokens", "i", "h"),
      dup.select("h"), k)

  def q121Sql(k: Int = DefaultK): String = {
    val bm = Provenance.BatchMod
    s"""WITH ${coverageSqlCtes("documents", k)}
       |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  coalesce(ag.n_dup_grams, 0) AS n_dup_grams,
       |  coalesce(ag.covered_tokens, 0) AS covered_tokens,
       |  round(coalesce(ag.covered_tokens, 0) / CAST(b.n_tokens AS DOUBLE), 6) AS dup_frac
       |FROM base b LEFT JOIN agg ag USING (doc_id)
       |WHERE b.doc_id % $bm = 0
       |ORDER BY doc_id""".stripMargin
  }

  /** q86: per-document duplicated-substring coverage census. */
  def q86SubstringDups(documents: DataFrame, k: Int = DefaultK): DataFrame =
    coverage(documents, k).orderBy("doc_id")

  /** q90: boilerplate miner — the top cross-doc duplicated k-grams with
    * their text recovered. q86 answers "how much of each document is
    * duplicated span"; this answers the operator's follow-up question,
    * "what IS the boilerplate" — the table a curation loop reads before
    * writing a strip rule (license headers, navigation chrome,
    * templated disclaimers).
    *
    * Two-phase text recovery keeps the scale discipline: phase 1 is the
    * q86 posting census (8-byte hashes only) ending in a top-N by
    * (distinct-doc frequency, hash) — a TakeOrderedAndProject heap,
    * never a global sort; phase 2 regenerates grams WITH text but joins
    * them against the broadcast N-row winner set, so gram text crosses
    * the wire only for the N winners (min() collapses the identical
    * copies). */
  def q90Boilerplate(documents: DataFrame, k: Int = DefaultK,
                     topN: Int = 20): DataFrame = {
    val base = postings(documents, k).select("doc_id", "g", "h")
    // exact_ prefix: the winner SELECTION (>= 2 filter + top-N order)
    // must never run on a sketch — valve-protected by contract
    val top = base
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("exact_df_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("exact_df_docs") >= 2)
      .orderBy(desc("exact_df_docs"), asc("h")).limit(topN)
    base
      .join(broadcast(top), "h")
      .groupBy("h", "exact_df_docs", "n_occurrences")
      .agg(min(col("g")).as("gram"))
      .select(col("h").as("gram_h"), col("gram"),
        col("exact_df_docs").as("df_docs"), col("n_occurrences"))
      .orderBy(desc("df_docs"), asc("gram_h"))
  }

  /** Top-N cross-doc duplicated gram hashes — the q90 winner selection
    * reduced to its hash column (same ≥2-doc filter, same
    * (df_docs DESC, h) deterministic order): the broadcast set both
    * [[strip]] and the q95 trim gate consume. */
  private[operators] def winnerHashes(documents: DataFrame, k: Int,
                                      topN: Int): DataFrame =
    postings(documents, k).select("doc_id", "h")
      .groupBy("h").agg(countDistinct(col("doc_id")).as("exact_df_docs"))
      .filter(col("exact_df_docs") >= 2)
      .orderBy(desc("exact_df_docs"), asc("h")).limit(topN)
      .select("h")

  /** The strip transform q90's scaladoc promises: remove every
    * occurrence of the winner grams from every document — per doc,
    * collect the hit positions, interval-merge them row-locally
    * (distinct position union — the set form of q86's running-max
    * merge), and reassemble the text from the uncovered tokens.
    * Returns one row per input doc: (doc_id, n_tokens, n_removed,
    * text_stripped); untouched docs pass through with n_removed = 0.
    *
    * This is trim-not-drop: q91 stage 8 discards a whole doc over
    * 0.5 coverage, throwing away its unique remainder; here the
    * boilerplate spans leave and the remainder survives (the q95
    * pipeline gate). Scale shape: the winner set is ≤ topN hashes
    * (broadcast); hit detection is the linear posting relation
    * semi-joined against it (map-side, nothing quadratic); the
    * per-doc merge + reassembly is row-local array work after one
    * doc_id-keyed aggregation of hit positions — text crosses exactly
    * one shuffle nowhere (the hits frame is positions only, and the
    * reassembly join is doc_id-keyed). */
  def strip(documents: DataFrame, winners: DataFrame,
            k: Int = DefaultK): DataFrame = {
    val hits = postings(documents, k)
      .join(broadcast(winners.select("h")), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(sort_array(collect_list("i")).as("hits"))
    documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("covered", expr(
        s"""array_distinct(flatten(transform(
           |  coalesce(hits, CAST(array() AS ARRAY<INT>)),
           |  x -> sequence(x, x + ${k - 1}))))""".stripMargin))
      .withColumn("kept",
        expr("filter(toks, (t, p) -> NOT array_contains(covered, p + 1))"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        expr("array_join(kept, ' ')").as("text_stripped"))
  }

  /** q93: boilerplate strip census — [[strip]] with the q90 top-N
    * winner set, reporting every document that lost tokens (with its
    * reassembled text, so the transform itself is value-checked by the
    * oracle, not just the accounting). */
  def q93BoilerplateStrip(documents: DataFrame, k: Int = DefaultK,
                          topN: Int = 20): DataFrame =
    strip(documents, winnerHashes(documents, k, topN), k)
      .filter(col("n_removed") > 0)
      .orderBy("doc_id")

  /** The strip chain as prefix-parameterized CTEs over any relation
    * exposing (doc_id, text) — mining (winner top-N), hit collection,
    * covered-position union, token reassembly — ending in
    * `${p}base(doc_id, a, n_tokens)` and `${p}kept(doc_id, n_tokens,
    * kt)` (docs with ≥1 winner hit only; untouched docs are absent).
    * Shared verbatim by q93Sql and the q95 trim-gate oracle so the two
    * cannot drift (the shingleSqlFrom discipline). */
  private[operators] def stripSqlCtes(docsRel: String, k: Int = DefaultK,
                                      topN: Int = 20, p: String = ""): String =
    s"""${p}tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM $docsRel),
       |${p}base AS (SELECT doc_id, a, len(a) AS n_tokens FROM ${p}tok),
       |${p}pos AS (SELECT doc_id, a, unnest(generate_series(1, n_tokens - ${k - 1})) AS i
       |        FROM ${p}base WHERE n_tokens >= $k),
       |${p}hg AS MATERIALIZED (SELECT doc_id, i,
       |        cast(concat('0x', substr(md5(array_to_string(
       |          a[CAST(i AS INT):CAST(i + ${k - 1} AS INT)], ' ')), 1, 15)) AS bigint) AS h
       |      FROM ${p}pos),
       |${p}top AS (SELECT h FROM (
       |        SELECT h, count(DISTINCT doc_id) AS df_docs FROM ${p}hg GROUP BY h
       |        HAVING count(DISTINCT doc_id) >= 2
       |        ORDER BY df_docs DESC, h LIMIT $topN) z),
       |${p}hits AS (SELECT doc_id, list_sort(list(i)) AS hits
       |         FROM ${p}hg JOIN ${p}top USING (h) GROUP BY doc_id),
       |${p}cov AS (SELECT b.doc_id, b.a, b.n_tokens,
       |          list_distinct(flatten(list_transform(h.hits,
       |            x -> range(x, x + $k)))) AS covered
       |        FROM ${p}base b JOIN ${p}hits h USING (doc_id)),
       |${p}kept AS (SELECT doc_id, n_tokens,
       |          list_transform(list_filter(range(1, n_tokens + 1),
       |            p -> NOT list_contains(covered, p)),
       |            p -> a[CAST(p AS INT)]) AS kt
       |        FROM ${p}cov)""".stripMargin

  def q93Sql(k: Int = DefaultK, topN: Int = 20): String =
    s"""WITH ${stripSqlCtes("documents", k, topN)}
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
       |  array_to_string(kt, ' ') AS text_stripped
       |FROM kept WHERE n_tokens - len(kt) > 0
       |ORDER BY doc_id""".stripMargin

  def q90Sql(k: Int = DefaultK, topN: Int = 20): String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM documents),
       |base AS (SELECT doc_id, a, len(a) AS n_tokens FROM tok WHERE len(a) >= $k),
       |pos AS (SELECT doc_id, a,
       |          unnest(generate_series(1, n_tokens - ${k - 1})) AS i FROM base),
       |g AS (SELECT doc_id,
       |        array_to_string(a[CAST(i AS INT):CAST(i + ${k - 1} AS INT)], ' ') AS g
       |      FROM pos),
       |hg AS (SELECT doc_id, g,
       |         cast(concat('0x', substr(md5(g), 1, 15)) AS bigint) AS h FROM g),
       |top AS (SELECT h, count(DISTINCT doc_id) AS df_docs, count(*) AS n_occurrences
       |        FROM hg GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |        ORDER BY df_docs DESC, h LIMIT $topN)
       |SELECT t.h AS gram_h, min(hg.g) AS gram, t.df_docs, t.n_occurrences
       |FROM hg JOIN top t USING (h)
       |GROUP BY t.h, t.df_docs, t.n_occurrences
       |ORDER BY t.df_docs DESC, gram_h""".stripMargin

  /** The coverage chain as prefix-parameterized CTEs over any relation
    * exposing (doc_id, text) — ends in `${p}base(doc_id, n_tokens, a)`
    * and `${p}agg(doc_id, n_dup_grams, covered_tokens)` (docs with no
    * duplicated gram have no agg row). Same single-definition
    * discipline as TextOps.shingleSqlFrom so the composed q91 oracle
    * cannot drift from q86's. */
  private[operators] def coverageSqlCtes(docsRel: String, k: Int = DefaultK,
                                         p: String = ""): String =
    s"""${p}tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS a FROM $docsRel),
       |${p}base AS (SELECT doc_id, len(a) AS n_tokens, a FROM ${p}tok),
       |${p}pos AS (SELECT doc_id, a,
       |          unnest(generate_series(1, n_tokens - ${k - 1})) AS i
       |        FROM ${p}base WHERE n_tokens >= $k),
       |${p}g AS MATERIALIZED (SELECT doc_id, i,
       |        cast(concat('0x', substr(md5(array_to_string(
       |          a[CAST(i AS INT):CAST(i + ${k - 1} AS INT)], ' ')), 1, 15)) AS bigint) AS h
       |      FROM ${p}pos),
       |${p}dup AS (SELECT h FROM ${p}g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |${p}cov AS (SELECT doc_id, i, i + ${k - 1} AS e,
       |          max(i + ${k - 1}) OVER (PARTITION BY doc_id ORDER BY i
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |        FROM ${p}g JOIN ${p}dup USING (h)),
       |${p}agg AS (SELECT doc_id, count(*) AS n_dup_grams,
       |          CAST(sum(greatest(0, e - greatest(i - 1, coalesce(pmax, 0)))) AS BIGINT)
       |            AS covered_tokens
       |        FROM ${p}cov GROUP BY doc_id)""".stripMargin

  def q86Sql(k: Int = DefaultK): String =
    s"""WITH ${coverageSqlCtes("documents", k)}
       |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  coalesce(ag.n_dup_grams, 0) AS n_dup_grams,
       |  coalesce(ag.covered_tokens, 0) AS covered_tokens,
       |  round(coalesce(ag.covered_tokens, 0) / CAST(b.n_tokens AS DOUBLE), 6) AS dup_frac
       |FROM base b LEFT JOIN agg ag USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
