package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Kmeans, Pq, Provenance, QualityModel, Retrieval,
  SubstringDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RETRACTION (takedown) leg — r10 verdict item 1, retiring the
  * append-only-state assumption: [[IngestLoop.retractTick]] tombstones
  * must make a retracted doc's duplicates re-admittable, BM25 posting
  * deletion must re-derive df/dl/stats exactly, IVF-PQ code removal
  * must equal a re-encode of the remaining vectors, manifest XOR-out
  * must cancel retracted signatures, and compaction must fold
  * tombstones without changing any verdict. sf0.01 — the near-dup
  * partner structure the decisive cases need (the IngestLoopSpec
  * argument). */
class RetractionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  test("store-backed retraction ≡ live q117; retraction decisive vs q106; retracted docs re-admittable where the control loop rejects them") {
    val root = Files.createTempDirectory("graft_retraction").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    // the oracle-checked yardstick (n_state column dropped — the store
    // form reports the q103 columns)
    val live = Provenance.q117RetractionTick(docs).collect().toSeq
    def liveTick(t: Int) = live.filter(_.getInt(0) == t)
      .map(r => (1 until r.length - 1).map(i => r.get(i)))
    assert(liveTick(1).nonEmpty && liveTick(2).nonEmpty)

    val st = IngestLoop.stores(spark, root, "retract1")
    IngestLoop.bootstrap(st, corpus)
    assert(rows(IngestLoop.runTick(st, t1, w)) === liveTick(1),
      "tick 1 must equal the live q117 tick 1")

    // the retraction set, exactly q117's: ingested-through-tick-1 ids
    // (the doc-granular hash store carries them) with id % 3 == 1
    val ing1 = st.hashes.current().get.select("doc_id")
    val retracted = ing1.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
    val nRetracted = retracted.count()
    assert(nRetracted > 0)
    IngestLoop.retractTick(st, retracted)

    // tick 2 judged post-retraction ≡ live q117 tick 2
    val rep2 = rows(IngestLoop.runTick(st, t2, w))
    assert(rep2 === liveTick(2),
      "store-backed post-retraction tick 2 must equal live q117 tick 2")

    // decisive vs q106 (no retraction): dups of retracted docs flipped
    // to new
    val q106t2 = Provenance.q106MultiTickIngest(docs).collect()
      .filter(_.getInt(0) == 2)
    def newSum(r: Seq[Seq[Any]]) = r.map(_(5).asInstanceOf[Long]).sum
    assert(newSum(rep2) > q106t2.map(_.getLong(6)).sum,
      "retraction must make at least one tick-2 dup re-admittable")

    // re-admission contrast: resubmit the retracted docs themselves.
    // Control loop (no retraction): every one is dup_exact. Retracted
    // loop: their hashes are gone — none is dup_exact, and some are new.
    val retractedDocs = docs.join(retracted, Seq("doc_id"), "left_semi")
    val ctrl = IngestLoop.stores(spark, root, "retract_ctrl")
    IngestLoop.bootstrap(ctrl, corpus)
    IngestLoop.runTick(ctrl, t1, w)
    val ctrlRep = IngestLoop.runTick(ctrl, retractedDocs, w).collect()
    assert(ctrlRep.map(_.getLong(2)).sum === nRetracted,
      "control: every resubmitted ingested doc is dup_exact")
    assert(ctrlRep.map(_.getLong(5)).sum === 0L, "control: nothing re-admits")
    val retrRep = IngestLoop.runTick(st, retractedDocs, w).collect()
    assert(retrRep.map(_.getLong(2)).sum === 0L,
      "post-retraction: no resubmitted doc can be an exact dup — its hash was retracted")
    assert(retrRep.map(_.getLong(5)).sum > 0L,
      "post-retraction: retracted docs must be re-admittable")
  }

  test("compaction folds tombstones verdict-invariantly: physical rows leave, tombstones clear, verdicts identical") {
    val root = Files.createTempDirectory("graft_retr_compact").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val t2 = docs.filter(m === 0)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")

    def build(name: String): IngestLoop.Stores = {
      val st = IngestLoop.stores(spark, root, name)
      IngestLoop.bootstrap(st, corpus)
      IngestLoop.runTick(st, t1, w)
      val retracted = st.hashes.current().get.select("doc_id").filter(
        pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
      IngestLoop.retractTick(st, retracted)
      st
    }
    val stA = build("fold_a") // compacted before tick 2
    val stB = build("fold_b") // not compacted

    assert(IngestLoop.compactIfNeeded(stA, maxDataFiles = 0))
    assert(stA.tombs.current().isEmpty,
      "after a full fold the tombstone store must be cleared")
    // retracted docs' rows physically left every folded store
    val retainedIds = stA.hashes.current().get.select("doc_id")
    assert(retainedIds.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
      .count() === 0L, "folded hash state must not carry retracted docs")
    assert(stA.bands.current().get.join(
      retainedIds, Seq("doc_id"), "left_anti").count() === 0L,
      "folded band state must be a subset of the retained ids")

    val repA = rows(IngestLoop.runTick(stA, t2, w))
    val repB = rows(IngestLoop.runTick(stB, t2, w))
    assert(repA === repB,
      "verdicts must be identical whether tombstones are folded or pending")
  }

  test("BM25 retraction: served ranking ≡ full rebuild without the docs, before AND after compaction folds the postings out") {
    val root = Files.createTempDirectory("graft_retr_bm25").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val queries = docs.filter(pmod(col("doc_id"), lit(50L)) === 7)

    val idx = ArtifactStore.bm25Incremental(spark, root, "retr_idx")
    idx.bootstrap(corpus)
    idx.appendDocsAt(2, t1)
    val retracted = docs.filter((m.between(1, 9) || m >= 10) &&
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
    idx.retractDocsAt(3, retracted.select("doc_id"))

    val remaining = corpus.union(t1).join(
      retracted.select("doc_id"), Seq("doc_id"), "left_anti")
    val rebuilt = Retrieval.topkFromIndex(Retrieval.index(remaining), queries)
      .collect().map(_.toSeq).toSeq
    assert(rebuilt.nonEmpty)
    val served = Retrieval.topkFromIndex(idx.index(), queries)
      .collect().map(_.toSeq).toSeq
    assert(served === rebuilt,
      "post-retraction ranking must equal a rebuild without the retracted " +
        "docs — df/dl/avgdl re-derivation is exact, not approximate")
    // the ranking genuinely changed (a retracted doc used to rank)
    val before = Retrieval.topkFromIndex(
        Retrieval.index(corpus.union(t1)), queries)
      .collect().map(_.toSeq).toSeq
    assert(before !== served, "retraction must change at least one ranking")

    assert(idx.compact() > 0)
    assert(idx.lineage.tombs.current().isEmpty,
      "compaction clears BM25 tombstones")
    assert(idx.store.current().get.join(retracted.select("doc_id"),
      Seq("doc_id"), "left_semi").count() === 0L,
      "folded postings must not carry retracted docs")
    assert(Retrieval.topkFromIndex(idx.index(), queries)
      .collect().map(_.toSeq).toSeq === served,
      "ranking invariant across the tombstone fold")
  }

  test("IVF-PQ retraction: codes ≡ re-encode of remaining vectors across the fold; zero retrains") {
    val root = Files.createTempDirectory("graft_retr_ivfpq").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Kmeans.centroidTable(emb)
    val rcb = Pq.residualCodebookTable(emb)
    val t0 = Pq.trainRuns.get()

    val m = pmod(col("vec_id"), lit(17L))
    val idx = ArtifactStore.ivfPqIncremental(spark, root, "retr_codes")
    idx.bootstrap(emb.filter(m =!= 0), cents, rcb)
    idx.appendVectorsAt(2, emb.filter(m === 0), cents, rcb)
    val retracted = emb.filter(pmod(col("vec_id"), lit(5L)) === 2)
      .select("vec_id")
    idx.retractVectorsAt(3, retracted)

    def codeRows(df: DataFrame) =
      df.orderBy("vec_id", "sub").collect().map(_.toSeq).toSeq
    val remaining = emb.join(retracted, Seq("vec_id"), "left_anti")
    val expected = codeRows(Pq.residualCodes(remaining, cents, rcb))
    assert(expected.nonEmpty)
    assert(codeRows(idx.codes()) === expected,
      "post-retraction codes must equal a re-encode of the remaining vectors")
    assert(idx.compact() > 0)
    assert(idx.lineage.tombs.current().isEmpty)
    assert(codeRows(idx.codes()) === expected, "invariant across the fold")
    assert(Pq.trainRuns.get() === t0, "retraction must never retrain")
  }

  test("manifest XOR-out: merged partials ≡ full manifest of the remaining docs on n_docs/content_sig/sum_chars; id bounds stay conservative") {
    val root = Files.createTempDirectory("graft_retr_manifest").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val retracted = docs.filter((m.between(1, 9) || m >= 10) &&
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)

    val st = ArtifactStore.ingestState(spark, root, "manifests")
    st.appendTickAt(1, Provenance.q70Manifest(corpus))
    st.appendTickAt(2, Provenance.q70Manifest(t1))
    // the takedown tick: one O(buckets) XOR-out partial — the corpus is
    // never rescanned to retract
    st.appendTickAt(3, Provenance.retractionManifest(retracted))

    val merged = Provenance.mergeManifests(st.current().get)
    val remaining = corpus.union(t1).join(
      retracted.select("doc_id"), Seq("doc_id"), "left_anti")
    val full = Provenance.q70Manifest(remaining)

    def exact(df: DataFrame) = df
      .filter(col("n_docs") > 0)
      .select("bucket", "n_docs", "content_sig", "sum_chars")
      .collect().map(_.toSeq).toSeq
    assert(exact(merged).nonEmpty)
    assert(exact(merged) === exact(full),
      "XOR self-inverse must cancel retracted signatures exactly")
    // id bounds: conservative — contain the true bounds, never exclude
    val bounds = merged.select(col("bucket"), col("min_id").as("mmin"),
        col("max_id").as("mmax"))
      .join(full.select(col("bucket"), col("min_id").as("fmin"),
        col("max_id").as("fmax")), "bucket")
    assert(bounds.filter(col("mmin") > col("fmin") ||
      col("mmax") < col("fmax")).count() === 0L,
      "merged bounds must contain the true post-retraction bounds")
  }

  test("census leg rides retractTick; the tombstone existence check prevents double subtraction on a replayed takedown") {
    val root = Files.createTempDirectory("graft_retr_census").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val retracted = corpus.filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) === Provenance.RetractRem)
    val survivors = corpus.join(retracted.select("doc_id"),
      Seq("doc_id"), "left_anti")

    val st = IngestLoop.stores(spark, root, "retr_cen")
    IngestLoop.bootstrap(st, corpus)
    val cidx = ArtifactStore.gramCensusIncremental(spark, root, "retr_cen_idx")
    cidx.bootstrap(corpus)

    IngestLoop.retractTick(st, retracted.select("doc_id"), docs = Some(docs),
      legs = IngestLoop.Legs(census = Some(cidx)))
    val expect = graft.operators.SubstringDedup
      .winnersFromCensus(graft.operators.SubstringDedup.censusOf(survivors))
      .collect().map(_.getLong(0)).toSeq
    assert(SubstringDedup.winnersFromCensus(cidx.read())
      .collect().map(_.getLong(0)).toSeq === expect,
      "the census leg must subtract the retracted docs' contribution")

    // the SAME takedown arrives again (an at-least-once upstream): the
    // tombstone store already carries the ids, so the census leg gets
    // an empty fresh set — no second subtraction
    IngestLoop.retractTick(st, retracted.select("doc_id"), docs = Some(docs),
      legs = IngestLoop.Legs(census = Some(cidx)))
    assert(SubstringDedup.winnersFromCensus(cidx.read())
      .collect().map(_.getLong(0)).toSeq === expect,
      "a replayed takedown must not subtract twice")
  }
}
