package graft

import graft.io.Tables
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query-key → SURVEY §2 operator mapping:
  *  - q01_pricing_summary: A1–A3-style whole-table/grouped aggregation
  *  - q02_topk_orders:     §2.4 sort+limit (TakeOrderedAndProject)
  *  - q03_star_join:       joins (engine completeness; broadcast dims)
  *  - q04_filter_project:  O1/O9 projection + range predicates, pushdown
  *  - q05_value_counts:    A4 value_counts()
  *  - q06_group_describe:  A5 grouped describe
  *  - q07_quartiles_outliers: A1 + O9 IQR outlier flagging
  *  - q08_median_impute:   A2/A3 median fill with scalar barrier
  *  - q09_null_census:     O10 missing-value census
  *  - q10_dup_count:       A7 duplicate-row count
  *  - q11_histogram:       A8 histogram (fixed-bound buckets)
  *  - q12_profile:         A8 one-pass numeric profile
  *  - q13_corr:            A10 correlation matrix entries
  *  - q14_window_rank:     window ranking (engine completeness)
  *  - q15_sessionize:      event sessionization (lag window + gap)
  *  - q16_time_rollup:     time-bucketed aggregation
  *  - q17_json_extract:    S1-adjacent semi-structured JSON extraction
  *  - q18_parse_ops:       O5–O8 dirty-string parsers
  *  - q19_classify:        O11 trend classification ladder
  *  - q20_text_stats:      text analysis (tokens/quality features)
  *  - q21_exact_dedup:     exact dedup via content hash
  *  - q22_ngram_jaccard:   n-gram Jaccard near-dup pairs
  *  - q23_minhash:         MinHash signatures (portable hash family)
  *  - q24_cosine_topk:     brute-force cosine ANN baseline
  *  - q25_embedding_stats: embedding norm profile
  *  - q26_simhash:         SimHash signatures
  *  - q27_lsh_dedup:       MinHash-LSH banded near-dup (sublinear path)
  *  - q28_fingerprint:     bottom-k document fingerprints
  *  - q29_lang_quality:    language ID + quality gating
  *  - q30_ivf_topk:        IVF-clustered ANN (scale path)
  *  - q31_rollup:          grouping-set ROLLUP
  *  - q32_anti_join:       anti join
  *  - q33_semi_intersect:  semi join / intersect
  *  - q34_emb_dedup:       exact embedding near-dup (in-bucket verifier)
  *  - q35_token_count:     whitespace + learned-BPE token accounting
  *  - q36_asof_join:       as-of join (union + window, join-free)
  *  - q37_range_join:      range/bracket join
  *  - q38_spearman:        Spearman rank correlation (distributed prefix sum)
  *  - q39_winnow:          winnowing fingerprints (SIGMOD'03)
  *  - q40_corpus_curate:   composed curation pipeline (gate+dedup+accounting)
  *  - q41_cube:            CUBE grouping sets
  *  - q42_hash_sample:     deterministic hash sampling
  *  - q43_pivot:           pivot with explicit values
  *  - q44_moving_avg:      frame window moving average
  *  - q45_edit_distance:   blocked Levenshtein entity matching (block guard)
  *  - q46_kmv_distinct:    KMV distinct sketch
  *  - q47_tfidf:           TF-IDF top-k terms
  *  - q48_chunk:           overlapping chunking with offsets
  *  - q49_funnel:          conversion funnel
  *  - q50_cohort:          cohort retention
  *  - q51_split:           deterministic train/val/test split
  *  - q52_stratified_sample: per-stratum deterministic sampling
  *  - q53_pmi:             PMI collocations
  *  - q54_bucketed_emb_dedup: IVF-bucketed embedding dedup (scale default)
  *  - q55_salted_agg:      salted two-phase hot-key aggregation
  *  - q56_dedup_clusters:  near-dup connected components (min-label propagation)
  *  - q57_grouped_kmv:     per-group KMV distinct sketch (mergeable)
  *  - q58_weighted_sample: quality-weighted deterministic sampling
  *  - q59_sampled_quantiles: reproducible-sample quantile estimation
  *  - q60_normalized_dedup: canonicalized exact dedup (case/punct/ws-insensitive)
  *  - q61_repetition:      Gopher-style within-doc repetition metrics
  *  - q62_ivf_recall:      recall@k of IVF ANN vs brute-force ground truth
  *  - q63_best_per_lang:   per-language top-k documents by quality
  *  - q64_winnow_pairs:    winnowing-overlap candidate pairs (MOSS-style)
  *  - q65_mad_outliers:    robust per-group MAD outlier census
  *  - q66_decontaminate:   train/benchmark n-gram contamination census
  *  - q67_seq_pack:        global sequence packing (distributed prefix sum)
  *  - q68_quantized_recall: int8-quantized ANN recall vs float ground truth
  *  - q69_domain_mix:      domain-mixture token-budget allocation
  *  - q70_manifest:        bucketed XOR content manifest (corpus versioning)
  *  - q71_image_decode:    REAL ImageIO PNG round trip (formula-pixel oracle)
  *  - q72_rplsh_dedup:     random-hyperplane LSH embedding near-dup (training-free)
  *  - q73_incremental_dedup: batch-vs-corpus-state admission report
  *  - q74_lsh_recall:      LSH candidate recall per similarity decile vs exact q22
  *  - q75_manifest_diff:   snapshot diff over q70 manifests (grown/shrunk/mutated)
  *  - q76_emb_dedup_recall: per-decile pair recall of q54/q72 vs exact q34
  *  - q77_lm_perplexity:   corpus-trained bigram-LM cross-entropy gate (CCNet shape)
  *  - q78_pii_scrub:       email/phone/IP redaction report (deterministic injection)
  *  - q79_source_divergence: per-source Jensen-Shannon vs the corpus unigram mix
  *  - q80_source_jaccard:  source-pair shingle-set Jaccard overlap matrix
  *  - q81_quality_calibration: q77 LM bits-band vs q29 heuristic quality
  *  - q82_ngram_novelty:   val-vs-train n-gram novelty curve (n = 1, 2, 3)
  *  - q83_label_drift:     per-label centroid angular drift vs corpus centroid
  *  - q84_curation_v2:     composed curation pipeline v2 (scrub → quality+LM →
  *                         dedup cascade → decontaminate → pack), one row/stage
  *  - q85_snapshot_drift:  per-changed-bucket JS drift between snapshots,
  *                         scoped by the q75 manifest diff
  *  - q86_substring_dups:  cross-doc repeated-substring coverage census
  *                         (distributed k-gram re-expression of suffix-array dedup)
  *  - q87_pq_recall:       product-quantization ADC recall@k vs exact L2
  *                         (16 trained subspace codebooks, 64 dims → 16 4-bit codes)
  *  - q88_fuzzy_decontam:  near-dup eval→train leakage via cross-split
  *                         MinHash-LSH (q66's verbatim pass, fuzzified)
  *  - q89_lang_fertility:  per-language BPE fertility (tokenizer equity)
  *  - q90_boilerplate:     top cross-doc duplicated k-grams, text recovered
  *                         (two-phase: hash census → broadcast winner join)
  *  - q91_curation_v3:     v2 pipeline + fuzzy-decontam + boilerplate gates
  *                         (nine stages, one labeled-frame plan)
  *  - q92_fuzzy_admission: q73 admission + MinHash-LSH near-dup rejection
  *                         vs persisted corpus band state (exact/fuzzy/new)
  *  - q93_boilerplate_strip: remove q90's mined spans from every doc
  *                         (interval-merge hit positions, reassemble text)
  *  - q94_ivfpq_recall:    IVF-PQ composed index (coarse prune + ADC code
  *                         scan + exact re-rank) vs unpruned ground truth
  *  - q95_curation_v4:     q91 with stage 8 trim-not-drop (strip mined
  *                         spans, recount trimmed tokens, drop only emptied)
  *  - q96_bm25_topk:       BM25 top-k training docs per eval doc (inverted
  *                         postings, micro-unit scores, df-pruned stopwords)
  *  - q97_temperature_mix: n^alpha temperature-resampled source mixture
  *                         (plan + hash-realized sample counts per source)
  *  - q98_cluster_canon:   quality-aware canonical keeper per q56 near-dup
  *                         cluster (argmax via one struct-max aggregate)
  *  - q99_seq_length_stats: per-source length percentiles + truncation loss
  *                         at a candidate context length
  *  - q100_distinct_ngrams: per-source distinct-1/distinct-2 lexical
  *                         diversity census (template / synthetic warning)
  *  - q101_learned_filter: trained logistic-regression document filter
  *                         (in-engine full-batch GD, oracle-rederived)
  *  - q102_shard_manifest: content-addressed training-shard manifest
  *                         (per-shard totals + XOR signature + load factor;
  *                         physical writer in io.ShardSink)
  *  - q103_admission_gate: the complete ingest tick — exact dedup +
  *                         fuzzy dedup + learned quality gate in one
  *                         per-source verdict report (q92 ∘ q101)
  *  - q104_score_drift:    frozen-model per-decile score drift across an
  *                         ingest tick (model monitoring: retrain signal)
  *  - q105_drop_attribution: per-(source, stage) drop attribution over the
  *                         v3 curation frame (which source loses docs where)
  *  - q106_multi_tick_ingest: two q103-shaped ingest ticks with state
  *                         fold-back — tick 2 judges against base corpus
  *                         ∪ tick-1-admitted (deployment form: io.IngestLoop)
  *  - q107_ivfpq_residual: q94 in the Jégou §V IVFADC form — PQ codes
  *                         quantize r = x − centroid(x); per-probed-cluster
  *                         ADC LUTs; recall comparable to q94 at same budget
  *  - q108_packed_shards:  packed-sequence shard manifest — q67's exact
  *                         packing composed with q102's content-addressed
  *                         placement at the sequence level (io.ShardSink
  *                         .writePacked is the physical tree)
  *  - q109_retrain_canary: the q104 consumer — frozen vs post-tick-retrained
  *                         model, per-decile admission flips at the q103
  *                         operating point over a bounded canary sample
  *  - q110_image_dedup:    perceptual image near-dup census — dHash over
  *                         REAL-decoded planted images, Hamming-band
  *                         candidates, popcount verify (q71 oracle convention)
  *  - q111_drift_series:   per-tick score-drift table over the ingested
  *                         snapshots (base ∪ admissions per q106 tick),
  *                         frozen model — the chart feeding the q109 canary
  *  - q112_manifest_series: q70 corpus manifests maintained per ingest
  *                         tick (XOR-mergeable partials; deployment form
  *                         merges IngestStateStore increments, no rescan)
  *  - q113_adaptive_ingest: the closed retrain loop — retrain on the
  *                         post-tick-1 corpus, q109 canary counts flips,
  *                         tick 2 gated by the CHOSEN model (oracle
  *                         re-derives the choice itself)
  *  - q114_image_admission: the q73/q92 ingest-tick shape on perceptual
  *                         image signatures — batch vs persisted corpus
  *                         sig state, banded candidates, popcount verify
  *  - q115_fertility_drift: tokenizer monitoring per ingest tick — BPE
  *                         fertility of each tick's admissions under the
  *                         frozen merges, delta vs the base corpus
  *  - q116_audio_dedup:    perceptual audio near-dup census — envelope
  *                         signature over REAL javax.sound-decoded PCM,
  *                         Hamming bands + popcount (q110 on audio)
  *  - q117_retraction_tick: the TAKEDOWN leg — tick 1, doc-granular
  *                         retraction of 1/3 of the ingested state,
  *                         tick 2 judged post-retraction: dups of a
  *                         retracted doc become re-admittable
  *                         (deployment form: io.IngestLoop.retractTick)
  *  - q118_multimodal_admission: the UNIFIED multimodal tick — one
  *                         verdict per text+image+audio doc, precedence
  *                         exact → fuzzy → image → audio → low_quality
  *                         → new (deployment form:
  *                         io.IngestLoop.runTick on MmStores)
  *  - q119_tokenizer_retrain: q115's consumer — retrain BPE merges on
  *                         the post-tick snapshot, canary-gate the
  *                         choice (token savings), re-tokenize tick 2
  *                         under the chosen merges (the q113 shape for
  *                         the tokenizer)
  *  - q120_ann_recall_canary: frozen-artifact IVF-PQ recall on a fresh-
  *                         tick probe set vs a retrained index, per
  *                         frozen-recall decile, with the recluster
  *                         trigger (the q109 shape for retrieval)
  *  - q121_incremental_curation: tick-shaped curation — the batch's
  *                         substring-dup coverage judged against the
  *                         MAINTAINED corpus gram census (the census-
  *                         merge algebra; store form io.ArtifactStore
  *                         .GramCensus, a SignedIndex)
  *  - q122_ann_recluster:  q120's consumer — the canary's decision
  *                         CLOSES the loop: on 'recluster' the serving
  *                         index swaps to retrained artifacts with all
  *                         codes re-encoded; output certifies the
  *                         post-action per-cluster code census + served
  *                         recall (deployment form: io.ArtifactStore
  *                         .IvfPqIncrementalIndex.recluster)
  *  - q123_census_retraction: the q117 takedown leg composed with
  *                         q121's maintained census — the one state
  *                         family an anti-join cannot retract from, so
  *                         the retracted docs' NEGATED increment is
  *                         appended; oracle re-mines with a WHERE
  *                         clause, certifying subtraction ≡ removal
  *                         (store form: SignedIndex.retractDocsAt on
  *                         the GramCensus, behind IngestLoop
  *                         .retractTick's tombstone existence and
  *                         liveness checks)
  *  - q124_ann_ingest_tick: the ANN SERVING leg of the deployment tick
  *                         — a q103 admission tick whose admitted docs'
  *                         embeddings encode under the FROZEN
  *                         corpus-trained IVFADC artifacts and join the
  *                         served index; output = per-cluster census of
  *                         base ∪ admitted codes with the q122
  *                         positional checksum (deployment form:
  *                         IngestLoop.runTick + AnnLeg; retraction
  *                         via retractTick's ANN leg; streaming twin in
  *                         DocStream.foldingGatedAdmissionQuery)
  *  - q125_export_retraction: the takedown leg reaching the PHYSICAL
  *                         TRAINING SHARDS — per-tick (epoch) packed
  *                         export under the frozen tokenizer; a
  *                         retraction re-packs only the affected ticks
  *                         from stored token counts (zero re-tokenizes,
  *                         zero text reads); oracle re-packs both ticks
  *                         without the retracted docs, certifying
  *                         retraction ≡ re-export-without (deployment
  *                         form: io.ArtifactStore.PackedExportStore,
  *                         riding IngestLoop.runTick's export leg)
  *  - q126_multimodal_retraction: the MULTIMODAL takedown — q117's
  *                         retraction discipline over q118's unified
  *                         five-store state: one takedown retracts a
  *                         doc from every modality (exact text / LSH /
  *                         image sig / audio sig), the batch is judged
  *                         against the survivors under the FROZEN
  *                         model; oracle re-derives every state side
  *                         filtered to survivors — including the sig
  *                         chains' hot-bucket censuses — in one WITH
  *                         clause (store form: retractTick on the
  *                         shared tombstone store + runTick)
  *  - q127_mixture_rebalance: the MIXTURE maintenance loop — the
  *                         q109/q113 measurement→choice→consequence
  *                         discipline for the domain mix: per-source
  *                         share drift of the ingested snapshot vs
  *                         bootstrap (exact micro-units), a rebalance
  *                         decision at a drift trigger, q97 temperature
  *                         weights re-derived over the CHOSEN counts,
  *                         and tick 2's batch actually sampled under
  *                         them; oracle re-derives tick, drift, branch,
  *                         weights, and the hash-filter admission in
  *                         one WITH clause
  *  - q128_model_unlearning: the takedown leg reaching the LEARNED
  *                         state family — the takedown class is
  *                         intersected with the frozen model's
  *                         training-sample manifest (membership, not a
  *                         canary threshold: unlearning is mandatory
  *                         when the model trained on a retracted doc,
  *                         provably unnecessary when it didn't), the
  *                         surviving corpus retrains, and the next
  *                         batch gates under the CHOSEN weights;
  *                         oracle re-derives both training chains, the
  *                         manifest intersection, the CASE-selected
  *                         weight row, canary flips, and the gated
  *                         batch in one WITH clause (store form:
  *                         reservoir-backed ArtifactStore.ModelStore
  *                         riding retractTick — zero text reads per
  *                         takedown)
  *  - q129_incremental_strip: the tick-shaped strip TRANSFORM — the
  *                         q121 maintained-census algebra serving
  *                         q93's transform: the batch is stripped
  *                         against winners from the merged census
  *                         (corpus 20-byte rows + the batch's own
  *                         increment), so tick time mines and
  *                         rewrites only batch text; oracle = the
  *                         full strip re-mine restricted to batch
  *                         docs (store form:
  *                         winnersFromCensus over the GramCensus,
  *                         spec-pinned with zero corpus passes)
  *  - q130_budgeted_admission: the q127 mixture loop closed INTO the
  *                         gate — per-source TOKEN budgets from the
  *                         target shares, novel docs admitted in
  *                         quality-rank order while the running token
  *                         sum stays inside the budget (prefix rule);
  *                         n_new splits into n_admitted +
  *                         n_over_budget with the token accounting
  *                         oracle-checked (store form:
  *                         IngestLoop.runBudgetedTick over the
  *                         maintained mix counts — only the
  *                         under-budget prefix folds back)
  *  - q131_readjudication: the takedown loop's missing half —
  *                         rejected ≠ discarded: tick 1's dup-rejected
  *                         docs form a QUARANTINE; after the q117
  *                         takedown they re-judge against the
  *                         post-retraction state under the frozen
  *                         model, and docs whose only dup partners
  *                         were retracted re-admit; the oracle
  *                         re-derives tick 1, the takedown, and the
  *                         re-judgment in one WITH clause (store form:
  *                         IngestLoop.readjudicateTick over the
  *                         Quarantine store pair)
  *  - q132_export_release_gate: the certification a served epoch must
  *                         pass BEFORE a training job streams it —
  *                         liveness (no retracted doc inside any
  *                         member sequence), fill floor, per-source
  *                         mix tolerance vs the live corpus share,
  *                         first-failure precedence; tick 1's original
  *                         packing holds on the takedown, its q125
  *                         re-pack serves (store form:
  *                         PackedExportStore.certify over stored rows
  *                         + the tombstone store, zero re-tokenizes)
  *  - q133_mm_readjudication: q131's "rejected ≠ discarded" reaching
  *                         every modality's evidence — the q118
  *                         tick's dup rejections (all four evidence
  *                         classes) re-judge against the q126
  *                         survivor state on ALL gates, with both
  *                         signature chains' hot-bucket censuses
  *                         re-derived over survivors (post-hoc
  *                         filtering is not equivalent — a gated
  *                         bucket can open); original class ×
  *                         re-adjudicated verdict per source (store
  *                         form: IngestLoop.readjudicateTick on
  *                         MmStores — mm
  *                         quarantine rows carry the 8-byte
  *                         signatures, so re-judgment reads no
  *                         payloads)
  *  - q134_quality_readjudication: the q131 scaladoc's promissory note
  *                         made executable — a low_quality verdict is
  *                         MODEL-dependent, so the q113 retrain choice
  *                         re-gates tick 1's entire novel cohort under
  *                         the chosen weights: old rejects that now
  *                         clear the window re-admit, admitted docs
  *                         the new model ranks into it are reported
  *                         as n_demoted (audit, not retraction); the
  *                         keep branch is the built-in zero-flip
  *                         control (store form: IngestLoop.regateTick
  *                         over a ReplayLeg of persisted 7-double gate
  *                         features — any later model re-gates any
  *                         tick with zero text reads)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem"))

  private def t(name: String)(q: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => q(Tables.load(s, dir, name))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> t("lineitem")(Relational.q01PricingSummary),
    "q02_topk_orders" -> t("orders")(Relational.q02TopkOrders),
    "q03_star_join" -> ((s, dir) => Relational.q03StarJoin(
      Tables.load(s, dir, "orders"), Tables.load(s, dir, "customer"),
      Tables.load(s, dir, "nation"), Tables.load(s, dir, "region"))),
    "q04_filter_project" -> t("lineitem")(Relational.q04FilterProject),
    "q05_value_counts" -> ((s, dir) => EventOps.q05ValueCounts(Tables.events(s, dir))),
    "q06_group_describe" -> t("orders")(Relational.q06GroupDescribe),
    "q07_quartiles_outliers" -> t("orders")(Relational.q07QuartilesOutliers),
    "q08_median_impute" -> t("lineitem")(Relational.q08MedianImpute),
    "q09_null_census" -> ((s, dir) => EventOps.q09NullCensus(Tables.events(s, dir))),
    "q10_dup_count" -> t("documents")(Relational.q10DupCount),
    "q11_histogram" -> t("orders")(Relational.q11Histogram),
    "q12_profile" -> t("lineitem")(Relational.q12Profile),
    "q13_corr" -> t("lineitem")(Relational.q13Corr),
    "q14_window_rank" -> t("orders")(Relational.q14WindowRank),
    "q15_sessionize" -> ((s, dir) => EventOps.q15Sessionize(Tables.events(s, dir))),
    "q16_time_rollup" -> ((s, dir) => EventOps.q16TimeRollup(Tables.events(s, dir))),
    "q17_json_extract" -> ((s, dir) => EventOps.q17JsonExtract(Tables.events(s, dir))),
    "q18_parse_ops" -> t("lineitem")(ParseOps.q18ParseOps),
    "q19_classify" -> ((s, dir) => EventOps.q19Classify(Tables.events(s, dir))),
    "q20_text_stats" -> t("documents")(TextOps.q20TextStats),
    "q21_exact_dedup" -> t("documents")(TextOps.q21ExactDedup),
    "q22_ngram_jaccard" -> t("documents")(TextOps.q22NgramJaccard(_)),
    "q23_minhash" -> t("documents")(TextOps.q23Minhash),
    "q24_cosine_topk" -> t("embeddings")(VectorOps.q24CosineTopk(_)),
    "q25_embedding_stats" -> t("embeddings")(VectorOps.q25EmbeddingStats),
    "q26_simhash" -> t("documents")(Fuzzy.q26Simhash),
    "q27_lsh_dedup" -> t("documents")(Fuzzy.q27LshDedup(_)),
    "q28_fingerprint" -> t("documents")(Fuzzy.q28Fingerprint),
    "q29_lang_quality" -> t("documents")(LangQuality.q29LangQuality),
    "q30_ivf_topk" -> t("embeddings")(VectorOps.q30IvfTopk(_)),
    "q31_rollup" -> t("orders")(Relational2.q31Rollup),
    "q32_anti_join" -> ((s, dir) => Relational2.q32AntiJoin(
      Tables.load(s, dir, "orders"), Tables.load(s, dir, "lineitem"))),
    "q33_semi_intersect" -> t("orders")(Relational2.q33SemiIntersect),
    "q34_emb_dedup" -> t("embeddings")(VectorOps.q34EmbeddingDedup(_)),
    "q35_token_count" -> t("documents")(Bpe.q35TokenCount(_)),
    "q36_asof_join" -> ((s, dir) => TemporalJoins.q36AsofJoin(Tables.load(s, dir, "events"))),
    "q37_range_join" -> t("lineitem")(TemporalJoins.q37RangeJoin),
    "q38_spearman" -> t("lineitem")(RankStats.q38Spearman),
    "q39_winnow" -> t("documents")(Fuzzy.q39Winnow),
    "q40_corpus_curate" -> t("documents")(Curate.q40CorpusCurate(_)),
    "q41_cube" -> t("customer")(Relational3.q41Cube),
    "q42_hash_sample" -> t("lineitem")(Relational3.q42HashSample),
    "q43_pivot" -> t("events")(Relational3.q43Pivot),
    "q44_moving_avg" -> t("orders")(Relational3.q44MovingAvg),
    "q45_edit_distance" -> t("part")(Relational3.q45EditDistance(_)),
    "q46_kmv_distinct" -> t("lineitem")(Sketches.q46KmvDistinct),
    "q47_tfidf" -> t("documents")(TfIdf.q47Tfidf),
    "q48_chunk" -> t("documents")(Chunking.q48Chunk),
    "q49_funnel" -> t("events")(Funnels.q49Funnel),
    "q50_cohort" -> t("events")(Funnels.q50Cohort(_)),
    "q51_split" -> t("documents")(Curate.q51Split),
    "q52_stratified_sample" -> t("lineitem")(Relational3.q52StratifiedSample),
    "q53_pmi" -> t("documents")(TfIdf.q53Pmi),
    "q54_bucketed_emb_dedup" -> t("embeddings")(VectorOps.q54BucketedEmbDedup(_)),
    "q55_salted_agg" -> t("lineitem")(Skew.q55SaltedAgg),
    "q56_dedup_clusters" -> t("documents")(TextOps.q56DedupClusters(_)),
    "q57_grouped_kmv" -> ((s, dir) => Sketches.q57GroupedKmv(Tables.events(s, dir))),
    "q58_weighted_sample" -> t("documents")(Curate.q58WeightedSample(_)),
    "q59_sampled_quantiles" -> t("lineitem")(Sketches.q59SampledQuantiles),
    "q60_normalized_dedup" -> t("documents")(TextOps.q60NormalizedDedup),
    "q61_repetition" -> t("documents")(TextOps.q61Repetition),
    "q62_ivf_recall" -> t("embeddings")(VectorOps.q62IvfRecall(_)),
    "q63_best_per_lang" -> t("documents")(Curate.q63BestPerLang(_)),
    "q64_winnow_pairs" -> t("documents")(Fuzzy.q64WinnowPairs(_)),
    "q65_mad_outliers" -> t("orders")(Relational2.q65MadOutliers(_)),
    "q66_decontaminate" -> t("documents")(Contamination.q66Decontaminate(_)),
    "q67_seq_pack" -> t("documents")(Packing.q67SequencePack(_)),
    "q68_quantized_recall" -> t("embeddings")(VectorOps.q68QuantizedRecall(_)),
    "q69_domain_mix" -> t("documents")(Curate.q69DomainMix(_)),
    "q70_manifest" -> t("documents")(Provenance.q70Manifest(_)),
    "q71_image_decode" -> t("documents")(graft.multimodal.Multimodal.q71ImageDecode),
    "q72_rplsh_dedup" -> t("embeddings")(RpLsh.q72RplshDedup(_)),
    "q73_incremental_dedup" -> t("documents")(Provenance.q73IncrementalDedup),
    "q74_lsh_recall" -> t("documents")(Fuzzy.q74LshRecall(_)),
    "q75_manifest_diff" -> t("documents")(Provenance.q75ManifestDiff(_)),
    "q76_emb_dedup_recall" -> t("embeddings")(VectorOps.q76EmbDedupRecall(_)),
    "q77_lm_perplexity" -> t("documents")(LmScore.q77LmPerplexity(_)),
    "q78_pii_scrub" -> t("documents")(PiiScrub.q78PiiScrub),
    "q79_source_divergence" -> t("documents")(MixStats.q79SourceDivergence),
    "q80_source_jaccard" -> t("documents")(MixStats.q80SourceJaccard),
    "q81_quality_calibration" -> t("documents")(LmScore.q81QualityCalibration),
    "q82_ngram_novelty" -> t("documents")(Novelty.q82NgramNovelty),
    "q83_label_drift" -> t("embeddings")(VectorOps.q83LabelDrift),
    "q84_curation_v2" -> ((s, dir) => CurateV2.q84CurationPipeline(
      Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"))),
    "q85_snapshot_drift" -> t("documents")(MixStats.q85SnapshotDrift(_)),
    "q86_substring_dups" -> t("documents")(SubstringDedup.q86SubstringDups(_)),
    "q87_pq_recall" -> t("embeddings")(Pq.q87PqRecall(_)),
    "q88_fuzzy_decontam" -> t("documents")(Contamination.q88FuzzyDecontam(_)),
    "q89_lang_fertility" -> t("documents")(Bpe.q89LangFertility(_)),
    "q90_boilerplate" -> t("documents")(SubstringDedup.q90Boilerplate(_)),
    "q91_curation_v3" -> ((s, dir) => CurateV2.q91CurationV3(
      Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"))),
    "q92_fuzzy_admission" -> t("documents")(Provenance.q92FuzzyAdmission(_)),
    "q93_boilerplate_strip" -> t("documents")(SubstringDedup.q93BoilerplateStrip(_)),
    "q94_ivfpq_recall" -> t("embeddings")(Pq.q94IvfPqRecall(_)),
    "q96_bm25_topk" -> t("documents")(Retrieval.q96Bm25Topk(_)),
    "q97_temperature_mix" -> t("documents")(Curate.q97TemperatureMix(_)),
    "q98_cluster_canon" -> t("documents")(TextOps.q98ClusterCanon(_)),
    "q99_seq_length_stats" -> t("documents")(Packing.q99SeqLengthStats(_)),
    "q100_distinct_ngrams" -> t("documents")(TextOps.q100DistinctNgrams(_)),
    "q95_curation_v4" -> ((s, dir) => CurateV2.q95CurationV4(
      Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"))),
    "q101_learned_filter" -> t("documents")(QualityModel.q101LearnedFilter(_)),
    "q102_shard_manifest" -> t("documents")(Sharding.q102ShardManifest(_)),
    "q103_admission_gate" -> t("documents")(Provenance.q103AdmissionGate(_)),
    "q104_score_drift" -> t("documents")(QualityModel.q104ScoreDrift(_)),
    "q105_drop_attribution" -> ((s, dir) => CurateV2.q105DropAttribution(
      Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"))),
    "q106_multi_tick_ingest" -> t("documents")(Provenance.q106MultiTickIngest(_)),
    "q107_ivfpq_residual" -> t("embeddings")(Pq.q107IvfPqResidual(_)),
    "q108_packed_shards" -> t("documents")(Packing.q108PackedShards(_)),
    "q109_retrain_canary" -> t("documents")(QualityModel.q109RetrainCanary(_)),
    "q110_image_dedup" -> t("documents")(graft.multimodal.Multimodal.q110ImageDedup(_)),
    "q111_drift_series" -> t("documents")(Provenance.q111DriftSeries(_)),
    "q112_manifest_series" -> t("documents")(Provenance.q112ManifestSeries(_)),
    "q113_adaptive_ingest" -> t("documents")(Provenance.q113AdaptiveIngest(_)),
    "q114_image_admission" -> t("documents")(graft.multimodal.Multimodal.q114ImageAdmission(_)),
    "q115_fertility_drift" -> t("documents")(Bpe.q115FertilityDrift(_)),
    "q116_audio_dedup" -> t("documents")(graft.multimodal.Multimodal.q116AudioDedup(_)),
    "q117_retraction_tick" -> t("documents")(Provenance.q117RetractionTick(_)),
    "q118_multimodal_admission" -> t("documents")(
      graft.multimodal.Multimodal.q118MultimodalAdmission(_)),
    "q119_tokenizer_retrain" -> t("documents")(Bpe.q119TokenizerRetrain(_)),
    "q120_ann_recall_canary" -> t("embeddings")(Pq.q120AnnRecallCanary(_)),
    "q121_incremental_curation" -> t("documents")(
      SubstringDedup.q121IncrementalCuration(_)),
    "q122_ann_recluster" -> t("embeddings")(Pq.q122AnnRecluster(_)),
    "q123_census_retraction" -> t("documents")(
      SubstringDedup.q123CensusRetraction(_)),
    "q125_export_retraction" -> t("documents")(
      Packing.q125ExportRetraction(_)),
    "q126_multimodal_retraction" -> t("documents")(
      graft.multimodal.Multimodal.q126MultimodalRetraction(_)),
    "q127_mixture_rebalance" -> t("documents")(
      Provenance.q127MixtureRebalance(_)),
    "q124_ann_ingest_tick" -> ((s, dir) => Pq.q124AnnIngestTick(
      Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"))),
    "q128_model_unlearning" -> t("documents")(
      QualityModel.q128ModelUnlearning(_)),
    "q129_incremental_strip" -> t("documents")(
      SubstringDedup.q129IncrementalStrip(_)),
    "q130_budgeted_admission" -> t("documents")(
      Provenance.q130BudgetedAdmission(_)),
    "q131_readjudication" -> t("documents")(
      Provenance.q131Readjudication(_)),
    "q132_export_release_gate" -> t("documents")(
      Packing.q132ExportReleaseGate(_)),
    "q133_mm_readjudication" -> t("documents")(
      graft.multimodal.Multimodal.q133MmReadjudication(_)),
    "q134_quality_readjudication" -> t("documents")(
      Provenance.q134QualityReadjudication(_)),
    "q135_semantic_admission" -> ((s, dir) => SemanticGate.q135SemanticAdmission(
      Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"))),
    "q136_decontam_tick" -> t("documents")(Decontam.q136DecontamTick(_)),
    "q137_curated_foldback" -> t("documents")(
      CurateTick.q137CuratedFoldback(_)),
    "q138_consumption_audit" -> t("documents")(
      Packing.q138ConsumptionAudit),
    "q139_selfsized_semantic" -> ((s, dir) =>
      SemanticGate.q139SelfSizedAdmission(
        Tables.load(s, dir, "documents"),
        Tables.load(s, dir, "embeddings"))),
    "q140_mm_eval_contamination" -> t("documents")(
      graft.multimodal.Multimodal.q140MmEvalContamination(_)),
    "q141_sem_occupancy_canary" -> ((s, dir) =>
      SemanticGate.q141OccupancyCanary(Tables.load(s, dir, "embeddings"))),
    "q142_cert_resolution" -> t("documents")(
      Packing.q142CertResolution(_)),
    "q143_takedown_sever" -> t("documents")(
      Provenance.q143TakedownQuarantineSever(_)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> Relational.q01Sql,
    "q02_topk_orders" -> Relational.q02Sql,
    "q03_star_join" -> Relational.q03Sql,
    "q04_filter_project" -> Relational.q04Sql,
    "q05_value_counts" -> EventOps.q05Sql,
    "q06_group_describe" -> Relational.q06Sql,
    "q07_quartiles_outliers" -> Relational.q07Sql,
    "q08_median_impute" -> Relational.q08Sql,
    "q09_null_census" -> EventOps.q09Sql,
    "q10_dup_count" -> Relational.q10Sql,
    "q11_histogram" -> Relational.q11Sql,
    "q12_profile" -> Relational.q12Sql,
    "q13_corr" -> Relational.q13Sql,
    "q14_window_rank" -> Relational.q14Sql,
    "q15_sessionize" -> EventOps.q15Sql,
    "q16_time_rollup" -> EventOps.q16Sql,
    "q17_json_extract" -> EventOps.q17Sql,
    "q18_parse_ops" -> ParseOps.q18Sql,
    "q19_classify" -> EventOps.q19Sql,
    "q20_text_stats" -> TextOps.q20Sql,
    "q21_exact_dedup" -> TextOps.q21Sql,
    "q22_ngram_jaccard" -> TextOps.q22Sql(),
    "q23_minhash" -> TextOps.q23Sql,
    "q24_cosine_topk" -> VectorOps.q24Sql(),
    "q25_embedding_stats" -> VectorOps.q25Sql,
    "q26_simhash" -> Fuzzy.q26Sql,
    "q27_lsh_dedup" -> Fuzzy.q27Sql(),
    "q28_fingerprint" -> Fuzzy.q28Sql,
    "q29_lang_quality" -> LangQuality.q29Sql,
    "q30_ivf_topk" -> VectorOps.q30Sql(),
    "q31_rollup" -> Relational2.q31Sql,
    "q32_anti_join" -> Relational2.q32Sql,
    "q33_semi_intersect" -> Relational2.q33Sql,
    "q34_emb_dedup" -> VectorOps.q34Sql(),
    "q35_token_count" -> Bpe.q35Sql(),
    "q36_asof_join" -> TemporalJoins.q36Sql,
    "q37_range_join" -> TemporalJoins.q37Sql,
    "q38_spearman" -> RankStats.q38Sql,
    "q39_winnow" -> Fuzzy.q39Sql,
    "q40_corpus_curate" -> Curate.q40Sql(),
    "q41_cube" -> Relational3.q41Sql,
    "q42_hash_sample" -> Relational3.q42Sql,
    "q43_pivot" -> Relational3.q43Sql,
    "q44_moving_avg" -> Relational3.q44Sql,
    "q45_edit_distance" -> Relational3.q45Sql(),
    "q46_kmv_distinct" -> Sketches.q46Sql,
    "q47_tfidf" -> TfIdf.q47Sql,
    "q48_chunk" -> Chunking.q48Sql,
    "q49_funnel" -> Funnels.q49Sql,
    "q50_cohort" -> Funnels.q50Sql(),
    "q51_split" -> Curate.q51Sql,
    "q52_stratified_sample" -> Relational3.q52Sql,
    "q53_pmi" -> TfIdf.q53Sql,
    "q54_bucketed_emb_dedup" -> VectorOps.q54Sql(),
    "q55_salted_agg" -> Skew.q55Sql,
    "q56_dedup_clusters" -> TextOps.q56Sql(),
    "q57_grouped_kmv" -> Sketches.q57Sql,
    "q58_weighted_sample" -> Curate.q58Sql(),
    "q59_sampled_quantiles" -> Sketches.q59Sql,
    "q60_normalized_dedup" -> TextOps.q60Sql,
    "q61_repetition" -> TextOps.q61Sql,
    "q62_ivf_recall" -> VectorOps.q62Sql(),
    "q63_best_per_lang" -> Curate.q63Sql(),
    "q64_winnow_pairs" -> Fuzzy.q64Sql(),
    "q65_mad_outliers" -> Relational2.q65Sql(),
    "q66_decontaminate" -> Contamination.q66Sql(),
    "q67_seq_pack" -> Packing.q67Sql(),
    "q68_quantized_recall" -> VectorOps.q68Sql(),
    "q69_domain_mix" -> Curate.q69Sql(),
    "q70_manifest" -> Provenance.q70Sql(),
    "q71_image_decode" -> graft.multimodal.Multimodal.q71Sql,
    "q72_rplsh_dedup" -> RpLsh.q72Sql(),
    "q73_incremental_dedup" -> Provenance.q73Sql,
    "q74_lsh_recall" -> Fuzzy.q74Sql(),
    "q75_manifest_diff" -> Provenance.q75Sql(),
    "q76_emb_dedup_recall" -> VectorOps.q76Sql(),
    "q77_lm_perplexity" -> LmScore.q77Sql(),
    "q78_pii_scrub" -> PiiScrub.q78Sql,
    "q79_source_divergence" -> MixStats.q79Sql,
    "q80_source_jaccard" -> MixStats.q80Sql,
    "q81_quality_calibration" -> LmScore.q81Sql,
    "q82_ngram_novelty" -> Novelty.q82Sql,
    "q83_label_drift" -> VectorOps.q83Sql,
    "q84_curation_v2" -> CurateV2.q84Sql(),
    "q85_snapshot_drift" -> MixStats.q85Sql(),
    "q86_substring_dups" -> SubstringDedup.q86Sql(),
    "q87_pq_recall" -> Pq.q87Sql(),
    "q88_fuzzy_decontam" -> Contamination.q88Sql(),
    "q89_lang_fertility" -> Bpe.q89Sql(),
    "q90_boilerplate" -> SubstringDedup.q90Sql(),
    "q91_curation_v3" -> CurateV2.q91Sql(),
    "q92_fuzzy_admission" -> Provenance.q92Sql(),
    "q93_boilerplate_strip" -> SubstringDedup.q93Sql(),
    "q94_ivfpq_recall" -> Pq.q94Sql(),
    "q95_curation_v4" -> CurateV2.q95Sql(),
    "q96_bm25_topk" -> Retrieval.q96Sql(),
    "q97_temperature_mix" -> Curate.q97Sql(),
    "q98_cluster_canon" -> TextOps.q98Sql(),
    "q99_seq_length_stats" -> Packing.q99Sql(),
    "q100_distinct_ngrams" -> TextOps.q100Sql(),
    "q101_learned_filter" -> QualityModel.q101Sql(),
    "q102_shard_manifest" -> Sharding.q102Sql(),
    "q103_admission_gate" -> Provenance.q103Sql(),
    "q104_score_drift" -> QualityModel.q104Sql(),
    "q105_drop_attribution" -> CurateV2.q105Sql(),
    "q106_multi_tick_ingest" -> Provenance.q106Sql(),
    "q107_ivfpq_residual" -> Pq.q107Sql(),
    "q108_packed_shards" -> Packing.q108Sql(),
    "q109_retrain_canary" -> QualityModel.q109Sql(),
    "q110_image_dedup" -> graft.multimodal.Multimodal.q110Sql(),
    "q111_drift_series" -> Provenance.q111Sql(),
    "q112_manifest_series" -> Provenance.q112Sql(),
    "q113_adaptive_ingest" -> Provenance.q113Sql(),
    "q114_image_admission" -> graft.multimodal.Multimodal.q114Sql(),
    "q115_fertility_drift" -> Bpe.q115Sql(),
    "q116_audio_dedup" -> graft.multimodal.Multimodal.q116Sql(),
    "q117_retraction_tick" -> Provenance.q117Sql(),
    "q118_multimodal_admission" -> graft.multimodal.Multimodal.q118Sql(),
    "q119_tokenizer_retrain" -> Bpe.q119Sql(),
    "q120_ann_recall_canary" -> Pq.q120Sql(),
    "q121_incremental_curation" -> SubstringDedup.q121Sql(),
    "q122_ann_recluster" -> Pq.q122Sql(),
    "q123_census_retraction" -> SubstringDedup.q123Sql(),
    "q124_ann_ingest_tick" -> Pq.q124Sql(),
    "q125_export_retraction" -> Packing.q125Sql(),
    "q126_multimodal_retraction" -> graft.multimodal.Multimodal.q126Sql(),
    "q127_mixture_rebalance" -> Provenance.q127Sql(),
    "q128_model_unlearning" -> QualityModel.q128Sql(),
    "q129_incremental_strip" -> SubstringDedup.q129Sql(),
    "q130_budgeted_admission" -> Provenance.q130Sql(),
    "q131_readjudication" -> Provenance.q131Sql(),
    "q132_export_release_gate" -> Packing.q132Sql(),
    "q133_mm_readjudication" -> graft.multimodal.Multimodal.q133Sql(),
    "q134_quality_readjudication" -> Provenance.q134Sql(),
    "q135_semantic_admission" -> SemanticGate.q135Sql(),
    "q139_selfsized_semantic" -> SemanticGate.q139Sql(),
    "q140_mm_eval_contamination" ->
      graft.multimodal.Multimodal.q140Sql(),
    "q141_sem_occupancy_canary" -> SemanticGate.q141Sql(),
    "q142_cert_resolution" -> Packing.q142Sql(),
    "q143_takedown_sever" -> Provenance.q143Sql(),
    "q136_decontam_tick" -> Decontam.q136Sql(),
    "q137_curated_foldback" -> CurateTick.q137Sql(),
    "q138_consumption_audit" -> Packing.q138Sql(),
  )
}
