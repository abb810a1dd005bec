package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest state-maintenance loop (r9 verdict item 1): the
  * store-backed [[IngestLoop]] must replay the oracle-checked live
  * q106 tick for tick — including the fold-back that makes tick 2
  * reject near-dups of what tick 1 admitted — and compaction must be
  * invisible to verdicts. sf0.01 (not the usual sf0.001): the decisive
  * fold-back case — a tick-2 doc whose ONLY near-dup partners are
  * tick-1 docs — exists there (doc 323 ↔ its tick-1 source), while
  * sf0.001's tick 2 is too small to carry one. */
class IngestLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  test("store-backed loop ≡ live q106; fold-back decisive; compaction invisible; rejects never enter state") {
    val root = Files.createTempDirectory("graft_ingest_loop").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    // the oracle-checked yardstick, per tick
    val live = Provenance.q106MultiTickIngest(docs).collect().toSeq
    def liveTick(t: Int) = live.filter(_.getInt(0) == t)
      .map(r => (1 until r.length).map(i => r.get(i)))
    assert(liveTick(1).nonEmpty && liveTick(2).nonEmpty)

    val st = IngestLoop.stores(spark, root, "loop1")
    IngestLoop.bootstrap(st, corpus)
    val hashesBefore = st.hashes.current().get.select("ch")
      .collect().map(_.getLong(0)).toSet

    // tick 1: report equals the live tick-1 rows
    val rep1 = rows(IngestLoop.runTick(st, t1, w))
    assert(rep1 === liveTick(1),
      "store-backed tick 1 must equal the oracle-checked live q106 tick 1")

    // ONLY admitted docs entered the state: the added hashes are a
    // subset of tick 1's hashes, and their count matches tick 1's
    // n_new total (no duplicate-admitted texts in this slice)
    val added = st.hashes.current().get.select("ch")
      .collect().map(_.getLong(0)).toSet
      .diff(hashesBefore)
    val n1new = liveTick(1).map(_(5).asInstanceOf[Long]).sum
    assert(added.size.toLong === n1new,
      "hash-state growth must equal tick 1's admitted count")
    val t1Hashes = t1.select(Provenance.contentHash60(col("text")).as("h"))
      .collect().map(_.getLong(0)).toSet
    assert(added.subsetOf(t1Hashes),
      "every added hash must come from a tick-1 document")

    // a second, fold-FREE loop: tick 2 against bootstrap-only state
    val stNoFold = IngestLoop.stores(spark, root, "loop_nofold")
    IngestLoop.bootstrap(stNoFold, corpus)
    val rep2NoFold = rows(IngestLoop.runTick(stNoFold, t2, w))

    // compaction between ticks (forced via a zero trigger) must not
    // change any subsequent verdict
    assert(IngestLoop.compactIfNeeded(st, maxDataFiles = 0),
      "zero trigger must force compaction")
    assert(st.hashes.dataFileCount > 0)

    // tick 2: report equals the live tick-2 rows — judged against the
    // COMPACTED, folded state
    val rep2 = rows(IngestLoop.runTick(st, t2, w))
    assert(rep2 === liveTick(2),
      "store-backed tick 2 (post-compaction) must equal live q106 tick 2")

    // the decisive pin: folding tick 1's admissions caught a tick-2
    // near-dup the bootstrap-only state could not
    def fuzzySum(r: Seq[Seq[Any]]) = r.map(_(3).asInstanceOf[Long]).sum
    assert(fuzzySum(rep2) > fuzzySum(rep2NoFold),
      "tick 2 must reject a near-dup of a doc tick 1 admitted — " +
        "the fold-back has to be decisive, not decorative")

    // q111 drift series reconciles: each tick's snapshot grows by
    // exactly that tick's admitted count, under the same frozen model
    val series = Provenance.q111DriftSeries(docs).collect()
    def tot(t: Int) = series.filter(_.getInt(0) == t).map(_.getLong(2)).sum
    val n2new = liveTick(2).map(_(5).asInstanceOf[Long]).sum
    assert(tot(0) === corpus.count())
    assert(tot(1) - tot(0) === n1new,
      "tick-1 snapshot growth must equal tick-1 admissions")
    assert(tot(2) - tot(1) === n2new,
      "tick-2 snapshot growth must equal tick-2 admissions")
    // fractions are proper distributions per tick
    (0 to 2).foreach { t =>
      val fr = series.filter(_.getInt(0) == t).map(_.getDouble(3)).sum
      assert(math.abs(fr - 1.0) < 1e-4, s"tick $t fractions must sum to 1")
    }
  }

  test("a tick crashed between per-store folds is REDONE, not compounded: replay repairs the partial fold and reproduces clean verdicts") {
    val root = Files.createTempDirectory("graft_ingest_crash").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    // the clean yardstick
    val stA = IngestLoop.stores(spark, root, "clean")
    IngestLoop.bootstrap(stA, corpus)
    val cleanRep = rows(IngestLoop.runTick(stA, t1, w))
    val cleanHashes = stA.hashes.current().get.select("ch")
      .collect().map(_.getLong(0)).sorted.toSeq

    // the crashed loop: tick 2's hash fold landed (with WRONG content —
    // the worst case: the whole batch, as if judged against nothing)
    // but bands/shingles never did
    val stB = IngestLoop.stores(spark, root, "crashed")
    IngestLoop.bootstrap(stB, corpus)
    stB.hashes.appendTickAt(2, Provenance.corpusDocHashes(t1))
    assert(stB.hashes.maxTick === 2L && stB.bands.maxTick === 1L)

    // replay: nextTick sees the store disagreement, REDOES tick 2
    // against the pre-tick state (currentUpTo(1) — the half fold is
    // invisible), and overwrites all three stores idempotently
    val replayRep = rows(IngestLoop.runTick(stB, t1, w))
    assert(replayRep === cleanRep,
      "replayed verdicts must be identical — admitted docs must NOT " +
        "be judged against their own half-folded hashes")
    assert(stB.hashes.current().get.select("ch")
      .collect().map(_.getLong(0)).sorted.toSeq
      === cleanHashes, "the wrong partial fold must be overwritten")
    assert(Seq(stB.hashes, stB.bands, stB.shingles).map(_.maxTick).distinct
      === Seq(2L), "all stores converge on the repaired tick")
    // and bootstrap itself is idempotent (appendTickAt(1) overwrites)
    IngestLoop.bootstrap(stB, corpus)
    assert(stB.hashes.maxTick === 2L,
      "a re-run bootstrap must overwrite tick 1, never append a copy")
  }

  test("q113 adaptive ingest: both canary branches reachable, and the no-retrain branch degenerates to q106 exactly") {
    // default maxFlips: the drifted corpus trips the canary → tick 2
    // is gated by the retrained model and the report SAYS so
    val adaptive = Provenance.q113AdaptiveIngest(docs).collect()
    val m1 = adaptive.filter(_.getInt(0) == 1).map(_.getString(2)).distinct
    val m2 = adaptive.filter(_.getInt(0) == 2).map(_.getString(2)).distinct
    assert(m1.toSeq === Seq("base"), "tick 1 is always gated by the frozen model")
    assert(m2.toSeq === Seq("fresh"),
      "on the drifted corpus the canary must trip and retrain for tick 2")

    // an unreachable threshold: the frozen model stands, and the whole
    // report must equal q106 (same split, same models) + model labels
    val held = Provenance.q113AdaptiveIngest(docs, maxFlips = 1000000).collect()
    assert(held.filter(_.getInt(0) == 2).map(_.getString(2)).distinct.toSeq
      === Seq("base"))
    val q106rows = Provenance.q106MultiTickIngest(docs).collect()
      .map(_.toSeq).toSeq
    val heldNoModel = held.map(r =>
      Seq(r.getInt(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(heldNoModel === q106rows.map(_.toSeq),
      "with the canary held, the adaptive tick must be exactly q106")

    // and the two branches genuinely differ in tick-2 verdicts (the
    // retrain moved the budget boundary — the loop has teeth)
    val t2a = adaptive.filter(_.getInt(0) == 2)
      .map(r => r.getString(1) -> (r.getLong(6), r.getLong(7))).toMap
    val t2h = held.filter(_.getInt(0) == 2)
      .map(r => r.getString(1) -> (r.getLong(6), r.getLong(7))).toMap
    assert(t2a !== t2h,
      "retrained gating must change at least one tick-2 verdict")
  }

  test("per-tick manifest maintenance: merged increments ≡ full manifest of the ingested snapshot ≡ q112's tick rows") {
    val root = Files.createTempDirectory("graft_manifest_loop").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))

    // derive the admitted sets from the oracle-checked live chain
    val series = Provenance.q112ManifestSeries(docs).collect()
    val (v1, v2, _) = Provenance.multiTickFrames(docs, 0.2, 0.25)
    val adm1 = docs.join(v1.filter(col("lq") === false).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val adm2 = docs.join(v2.filter(col("lq") === false).select("doc_id"),
      Seq("doc_id"), "left_semi")

    // deployment form: one partial manifest appended per tick, merged
    // on read — O(buckets) rows per tick, never a corpus rescan
    val st = ArtifactStore.ingestState(spark, root, "manifests")
    st.appendTickAt(1, Provenance.q70Manifest(corpus))
    st.appendTickAt(2, Provenance.q70Manifest(adm1))
    st.appendTickAt(3, Provenance.q70Manifest(adm2))
    val merged = Provenance.mergeManifests(st.current().get)
      .collect().map(_.toSeq)

    // ≡ a full manifest of the materialized final snapshot
    val snapshot = corpus.union(adm1).union(adm2)
    assert(merged.toSeq ===
      Provenance.q70Manifest(snapshot).collect().map(_.toSeq).toSeq,
      "merged per-tick manifests must equal the full-recompute manifest")
    // ≡ the oracle-checked q112 tick-2 rows (modulo the tick column)
    val tick2 = series.filter(_.getInt(0) == 2)
      .map(r => (1 until r.length).map(i => r.get(i)))
    assert(merged.toSeq === tick2.toSeq,
      "the deployment merge must equal the live q112 final-tick manifest")
    // and merging survives compaction of the manifest store
    st.compact()
    assert(Provenance.mergeManifests(st.current().get)
      .collect().map(_.toSeq).toSeq === merged.toSeq)
  }

  test("ingest tick that also serves retrieval: admitted docs feed the incremental BM25 index, ranking ≡ full rebuild") {
    import graft.operators.Retrieval
    val root = Files.createTempDirectory("graft_ingest_retr").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    val st = IngestLoop.stores(spark, root, "retrloop")
    IngestLoop.bootstrap(st, corpus)
    val idx = ArtifactStore.bm25Incremental(spark, root, "retrloop")
    idx.bootstrap(corpus)
    // bootstrap is idempotent: a crashed-then-retried bootstrap
    // overwrites tick 1, never appends a duplicate posting copy
    idx.bootstrap(corpus)
    assert(idx.store.maxTick === 1L,
      "re-run index bootstrap must overwrite tick 1, not append tick 2")

    val tok0 = Retrieval.tokenizeRuns.get()
    val rep1 = IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(idx = Some(idx))).collect()
    val rep2 = IngestLoop.runTick(st, t2, w,
      legs = IngestLoop.Legs(idx = Some(idx))).collect()
    assert(Retrieval.tokenizeRuns.get() - tok0 === 2L,
      "each tick tokenizes exactly its admitted slice, nothing else")

    // the index's doc population ≡ base ∪ the two ticks' admissions —
    // dedup state and retrieval postings agree by construction
    val admitted = rep1.map(_.getLong(5)).sum + rep2.map(_.getLong(5)).sum
    val indexed = idx.store.current().get.select("doc_id").distinct().count()
    assert(indexed === corpus.count() + admitted,
      "index population must equal base + admitted (never dups/rejects)")

    // served ranking ≡ a from-scratch rebuild over exactly those docs
    val queries = docs.filter(pmod(col("doc_id"), lit(50L)) === 7)
    val admittedIds = idx.store.current().get.select("doc_id").distinct()
    val rebuildCorpus = docs.join(admittedIds, Seq("doc_id"), "left_semi")
    val served = Retrieval.topkFromIndex(idx.index(), queries).collect().map(_.toSeq)
    val rebuilt = Retrieval.topkFromIndex(Retrieval.index(rebuildCorpus), queries)
      .collect().map(_.toSeq)
    assert(served.nonEmpty)
    assert(served.toSeq === rebuilt.toSeq,
      "tick-maintained postings must rank exactly like a rebuild over the ingested corpus")
  }

  test("crash between the shingles append and the postings append: the tf store's lag forces the tick to be REDONE across all four stores") {
    import graft.operators.Retrieval
    val root = Files.createTempDirectory("graft_ingest_retr_crash").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    // the clean four-store yardstick
    val stA = IngestLoop.stores(spark, root, "retr_clean")
    IngestLoop.bootstrap(stA, corpus)
    val idxA = ArtifactStore.bm25Incremental(spark, root, "retr_clean")
    idxA.bootstrap(corpus)
    val cleanRep = rows(IngestLoop.runTick(stA, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxA))))

    // the crashed loop: all three dedup folds of tick 2 landed (runTick
    // without the index is EXACTLY the r10-advice crash point — after
    // the shingles append, before idx.appendDocsAt) but the postings
    // append never did
    val stB = IngestLoop.stores(spark, root, "retr_crash")
    IngestLoop.bootstrap(stB, corpus)
    val idxB = ArtifactStore.bm25Incremental(spark, root, "retr_crash")
    idxB.bootstrap(corpus)
    IngestLoop.runTick(stB, t1, w)
    assert(stB.shingles.maxTick === 2L && idxB.store.maxTick === 1L,
      "precondition: dedup stores agree at tick 2, the tf store lags")

    // replay: nextTick must see the FOUR-store disagreement and redo
    // tick 2 (not compute tick 3 — which would judge the replayed batch
    // against its own tick-2 admissions and report everything dup_exact)
    val replayRep = rows(IngestLoop.runTick(stB, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxB))))
    assert(replayRep === cleanRep,
      "replayed verdicts must be identical to the uncrashed run")
    assert(idxB.store.maxTick === 2L,
      "the postings append must be repaired")

    // and the repaired index serves the same ranking as the clean one
    val queries = docs.filter(pmod(col("doc_id"), lit(50L)) === 7)
    assert(Retrieval.topkFromIndex(idxB.index(), queries).collect().map(_.toSeq).toSeq
      === Retrieval.topkFromIndex(idxA.index(), queries).collect().map(_.toSeq).toSeq,
      "repaired postings must rank exactly like the uncrashed index")
  }

  test("full deployment tick: dedup + BM25 + gram census fed from one verdict frame; census lag forces a five-store redo; retraction subtracts what the tick added") {
    import graft.operators.{Retrieval, SubstringDedup}
    val root = Files.createTempDirectory("graft_ingest_full").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    def build(name: String) = {
      val st = IngestLoop.stores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      val idx = ArtifactStore.bm25Incremental(spark, root, name)
      idx.bootstrap(corpus)
      val cen = ArtifactStore.gramCensusIncremental(spark, root, s"${name}_cen")
      cen.bootstrap(corpus)
      (st, idx, cen)
    }
    val (stA, idxA, cenA) = build("full_clean")
    val rep1 = rows(IngestLoop.runTick(stA, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxA), census = Some(cenA))))
    val rep2 = rows(IngestLoop.runTick(stA, t2, w,
      legs = IngestLoop.Legs(idx = Some(idxA), census = Some(cenA))))
    assert(rep1.nonEmpty && rep2.nonEmpty)

    // the served census ≡ a full re-mine over base ∪ all admissions —
    // the two-tick twin of the q121 additivity pin, driven by the loop
    val admitted = docs.join(
      stA.hashes.current().get.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(SubstringDedup.winnersFromCensus(cenA.read())
      .collect().map(_.getLong(0)).toSeq ===
      SubstringDedup.winnersFromCensus(SubstringDedup.censusOf(admitted))
        .collect().map(_.getLong(0)).toSeq,
      "tick-maintained census must equal a re-mine of the ingested corpus")

    // CRASH: the four-store tick lands (dedup + postings) but the
    // census append never does — the census store's lag must force the
    // REDO of the whole tick, reproducing identical verdicts
    val (stB, idxB, cenB) = build("full_crash")
    IngestLoop.runTick(stB, t1, w, legs = IngestLoop.Legs(idx = Some(idxB)))
    assert(stB.shingles.maxTick === 2L && cenB.store.maxTick === 1L,
      "precondition: dedup+postings at tick 2, census lags")
    val replay = rows(IngestLoop.runTick(stB, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB))))
    assert(replay === rep1,
      "five-store replay must reproduce the uncrashed verdicts")
    assert(cenB.store.maxTick === 2L, "census append repaired")

    // retraction closes over the tick: retract tick 1's admissions
    // (census leg included) — the census returns to base ∪ tick-2
    val t1Adm = stA.hashes.currentUpTo(2).get.select("doc_id")
      .join(stA.hashes.currentUpTo(1).get.select("doc_id"),
        Seq("doc_id"), "left_anti")
    IngestLoop.retractTick(stA, t1Adm, docs = Some(docs),
      legs = IngestLoop.Legs(idx = Some(idxA), census = Some(cenA)))
    val surviving = admitted.join(t1Adm, Seq("doc_id"), "left_anti")
    assert(SubstringDedup.winnersFromCensus(cenA.read())
      .collect().map(_.getLong(0)).toSeq ===
      SubstringDedup.winnersFromCensus(SubstringDedup.censusOf(surviving))
        .collect().map(_.getLong(0)).toSeq,
      "retraction must subtract exactly what the tick's census added")
    assert(Retrieval.topkFromIndex(idxA.index(),
        docs.filter(pmod(col("doc_id"), lit(50L)) === 7))
      .collect().map(_.toSeq).toSeq ===
      Retrieval.topkFromIndex(Retrieval.index(surviving),
        docs.filter(pmod(col("doc_id"), lit(50L)) === 7))
      .collect().map(_.toSeq).toSeq,
      "the BM25 leg of the same takedown serves the surviving corpus")
  }

  test("a takedown is a tick: subtraction legs survive SUBSEQUENT ticks — the agreement cannot land on the takedown tick and overwrite a negative increment") {
    import graft.operators.{Retrieval, SubstringDedup}
    val root = Files.createTempDirectory("graft_ingest_tdtick").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    val st = IngestLoop.stores(spark, root, "tdtick")
    IngestLoop.bootstrap(st, corpus)
    val idx = ArtifactStore.bm25Incremental(spark, root, "tdtick")
    idx.bootstrap(corpus)
    val cen = ArtifactStore.gramCensusIncremental(spark, root, "tdtick_cen")
    cen.bootstrap(corpus)
    val mixIdx = ArtifactStore.mixIncremental(spark, root, "tdtick")
    mixIdx.bootstrap(corpus)

    IngestLoop.runTick(st, t1, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        mix = Some(mixIdx)))
    // takedown WITH subtraction legs, mid-loop — every attached store
    // advances to the takedown tick together
    val t1Adm = st.hashes.currentUpTo(2).get.select("doc_id")
      .join(st.hashes.currentUpTo(1).get.select("doc_id"),
        Seq("doc_id"), "left_anti")
      .filter(pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    assert(t1Adm.count() > 0)
    IngestLoop.retractTick(st, t1Adm, docs = Some(docs),
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        mix = Some(mixIdx)))
    assert(Seq(st.hashes.maxTick, st.bands.maxTick, st.shingles.maxTick,
      idx.store.maxTick, cen.store.maxTick,
      mixIdx.store.maxTick).distinct === Seq(3L),
      "the takedown tick must advance every attached store together")

    // the regression this test exists for: the NEXT tick used to land
    // ON the takedown tick and overwrite the census/mix negatives
    IngestLoop.runTick(st, t2, w,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(cen),
        mix = Some(mixIdx)))
    val ingested = docs.join(
      st.lineage.resolve(st.hashes.current().get).select("doc_id"),
      Seq("doc_id"), "left_semi")
    assert(SubstringDedup.winnersFromCensus(cen.read())
      .collect().map(_.getLong(0)).toSeq ===
      SubstringDedup.winnersFromCensus(SubstringDedup.censusOf(ingested))
        .collect().map(_.getLong(0)).toSeq,
      "the census subtraction must survive the post-takedown tick")
    assert(mixIdx.read().collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap ===
      ingested.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      "the mix subtraction must survive the post-takedown tick")
    assert(Retrieval.topkFromIndex(idx.index(),
        docs.filter(pmod(col("doc_id"), lit(50L)) === 7))
      .collect().map(_.toSeq).toSeq ===
      Retrieval.topkFromIndex(Retrieval.index(ingested),
        docs.filter(pmod(col("doc_id"), lit(50L)) === 7))
      .collect().map(_.toSeq).toSeq,
      "the served ranking equals a rebuild over the live ingested corpus")
  }

  test("export leg of the deployment tick: admitted docs pack as the tick's epoch; export lag forces the redo; the takedown reaches the shards") {
    import graft.operators.{Bpe, Packing}
    val root = Files.createTempDirectory("graft_ingest_export").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")
    val ms = Bpe.merges(corpus) // the frozen tokenizer, trained once
    val seqLen = 2048

    def sliceSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
      df.select("doc_id", "seq_id", "toks", "h").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    def build(name: String) = {
      val st = IngestLoop.stores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      val idx = ArtifactStore.bm25Incremental(spark, root, name)
      idx.bootstrap(corpus)
      val cen = ArtifactStore.gramCensusIncremental(spark, root, s"${name}_cen")
      cen.bootstrap(corpus)
      val ex = ArtifactStore.packedExport(spark, root, s"${name}_ex", seqLen)
      ex.bootstrap(corpus, ms)
      (st, idx, cen, ex)
    }

    val (stA, idxA, cenA, exA) = build("exp_clean")
    val mixA = ArtifactStore.mixIncremental(spark, root, "exp_clean_mix")
    mixA.bootstrap(corpus)
    val rep1 = rows(IngestLoop.runTick(stA, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxA), census = Some(cenA),
        export = Some(IngestLoop.ExportLeg(exA, ms)), mix = Some(mixA))))
    assert(rep1.nonEmpty)

    // export epoch 2 ≡ a text-side pack of exactly the admitted docs
    val adm1 = stA.hashes.currentUpTo(2).get.select("doc_id")
      .join(stA.hashes.currentUpTo(1).get.select("doc_id"),
        Seq("doc_id"), "left_anti")
    val admDocs = docs.join(adm1, Seq("doc_id"), "left_semi")
    assert(sliceSet(exA.slices().filter(col("tick") === 2)) ===
      sliceSet(Packing.tickSlices(admDocs, seqLen, ms)),
      "the export epoch must pack exactly the tick's admitted docs")

    // MIX leg (q127's state): maintained counts ≡ a recount of the
    // ingested snapshot, with zero recounts of old ticks by
    // construction (one groupBy per tick); the q97 temperature table
    // over the maintained counts ≡ the table derived from the recount
    def mixOf(d: DataFrame) = d.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ingested = docs.join(stA.hashes.current().get.select("doc_id"),
      Seq("doc_id"), "left_semi")
    assert(mixA.read().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === mixOf(ingested),
      "the maintained mix must equal a recount of the ingested snapshot")
    assert(graft.operators.Curate.temperatureRates(
        mixA.read().filter(col("n_docs") > 0), "n_docs", alpha = 0.7,
        budgetFrac = 0.5)
      .select("source", "n_docs", "weight", "rate").orderBy("source")
      .collect().map(_.toSeq).toSeq ===
      graft.operators.Curate.q97TemperatureMix(ingested).collect()
        .map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSeq,
      "the served temperature table must equal the recount-derived q97 " +
        "table on (source, n_docs, weight, rate)")

    // CRASH: the six-store tick lands but the export append never does
    // — the export's lag must force the REDO of the whole tick
    val (stB, idxB, cenB, exB) = build("exp_crash")
    IngestLoop.runTick(stB, t1, w, // no export leg
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB)))
    assert(exB.maxTick === 1L && stB.shingles.maxTick === 2L,
      "precondition: every other store at tick 2, export lags")
    val replay = rows(IngestLoop.runTick(stB, t1, w,
      legs = IngestLoop.Legs(idx = Some(idxB), census = Some(cenB),
        export = Some(IngestLoop.ExportLeg(exB, ms)))))
    assert(replay === rep1,
      "the redone tick must reproduce the uncrashed verdicts")
    assert(exB.maxTick === 2L, "export epoch repaired")

    // the TAKEDOWN reaches the shards: retract part of the tick's
    // admissions — the affected epoch re-packs without them (from
    // stored counts), the untouched bootstrap epoch stays put
    val takedown = adm1.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
    assert(takedown.count() > 0)
    IngestLoop.retractTick(stA, takedown, docs = Some(docs),
      legs = IngestLoop.Legs(idx = Some(idxA), census = Some(cenA),
        export = Some(IngestLoop.ExportLeg(exA, ms)), mix = Some(mixA)))
    assert(sliceSet(exA.slices().filter(col("tick") === 2)) ===
      sliceSet(Packing.tickSlices(
        admDocs.join(takedown, Seq("doc_id"), "left_anti"), seqLen, ms)),
      "the epoch must re-pack to exactly the surviving admitted docs")
    assert(sliceSet(exA.slices().filter(col("tick") === 1)) ===
      sliceSet(Packing.tickSlices(corpus, seqLen, ms)),
      "the bootstrap epoch must be untouched")
    // ... and the mix leg subtracted exactly the takedown's counts
    val surviving2 = ingested.join(takedown, Seq("doc_id"), "left_anti")
    assert(mixA.read().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === mixOf(surviving2),
      "the takedown must subtract exactly its docs' per-source counts")
  }
}
