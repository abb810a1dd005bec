package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Bpe, CurateTick, Packing, PiiScrub, Provenance,
  QualityModel, SubstringDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q137's deployment form — [[IngestLoop.CurateLeg]]: admitted docs'
  * text is census-stripped and PII-scrubbed before it reaches the
  * serving consumers, under the two-column provenance discipline (the
  * dedup stores keep RAW evidence). Pins: store report ≡ live q137,
  * the physical export slices carry the CURATED hashes, raw dedup
  * behavior unchanged by the transform, crash replay. sf0.01. */
class CurateTickSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def docsA = docs.withColumn("text",
    PiiScrub.augmentedWith(CurateTick.DefaultInjectMod))
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  private def m = pmod(col("doc_id"), lit(Provenance.BatchMod))
  private def corpus = docsA.filter(m =!= 0)
  private def batch = docsA.filter(m === 0)
  private def weights = QualityModel.weights(corpus,
    scope = s"curated${Provenance.BatchMod}")

  private def build(root: String, name: String)
      : (IngestLoop.Stores, IngestLoop.CurateLeg) = {
    val st = IngestLoop.stores(spark, root, name)
    val cen = ArtifactStore.gramCensusIncremental(spark, root, name,
      k = CurateTick.DefaultStripK)
    cen.bootstrap(corpus)
    IngestLoop.bootstrap(st, corpus)
    (st, IngestLoop.CurateLeg(cen))
  }

  test("store-backed curated tick ≡ live q137; both transform legs fire") {
    val root = Files.createTempDirectory("graft_cur_live").toString
    val live = rows(CurateTick.q137CuratedFoldback(docs))
    assert(live.map(_(7).asInstanceOf[Long]).sum > 0,
      "the census strip must remove tokens from some admitted doc")
    assert(live.map(_(8).asInstanceOf[Long]).sum > 0,
      "the PII scrub must redact characters from some admitted doc")

    val (st, leg) = build(root, "cur1")
    assert(rows(IngestLoop.runTick(st, batch, weights,
      legs = IngestLoop.Legs(curate = Some(leg)))) === live,
      "the curated deployment tick must equal the live q137 report")
  }

  test("the packed export physically carries the CURATED text; raw dedup behavior is unchanged by the transform") {
    val root = Files.createTempDirectory("graft_cur_ex").toString
    val (st, leg) = build(root, "cur2")
    val idx = ArtifactStore.bm25Incremental(spark, root, "cur2")
    idx.bootstrap(corpus)
    val ms = Bpe.merges(corpus)
    val ex = ArtifactStore.packedExport(spark, root, "cur2_ex")
    ex.bootstrap(corpus, ms)
    IngestLoop.runTick(st, batch, weights,
      legs = IngestLoop.Legs(idx = Some(idx), census = Some(leg.census),
        export = Some(IngestLoop.ExportLeg(ex, ms)), curate = Some(leg)))

    // the expected curated form, re-derived with the shared transform
    val admDocs = batch.join(st.hashes.current().get
        .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val expected = CurateTick.curatedDocs(admDocs,
      SubstringDedup.censusOf(corpus, CurateTick.DefaultStripK), batch)
    assert(expected.filter(col("n_removed") > 0).count() > 0 &&
      expected.filter(col("chars_redacted") > 0).count() > 0,
      "the admitted slice must exercise both transform legs")
    assert(ex.slices().filter(col("tick") === 2)
        .select("doc_id", "seq_id", "toks", "h").collect()
        .map(_.toSeq).toSet ===
      Packing.tickSlices(expected.select("doc_id", "text"), 2048, ms)
        .select("doc_id", "seq_id", "toks", "h").collect()
        .map(_.toSeq).toSet,
      "the export epoch must pack the curated text, slice for slice")

    // raw provenance: an admitted doc's RAW copy still hits the exact
    // gate even though the stored serving text is curated
    val resub = IngestLoop.runTick(st, admDocs, weights,
      legs = IngestLoop.Legs(curate = Some(leg))).collect()
    assert(resub.map(_.getLong(2)).sum === admDocs.count(),
      "every resubmitted raw copy must be dup_exact")
  }

  test("crash replay: a lagging census store forces the tick redo under the curate leg") {
    val root = Files.createTempDirectory("graft_cur_crash").toString
    val (stA, legA) = build(root, "clean")
    val repClean = rows(IngestLoop.runTick(stA, batch, weights,
      legs = IngestLoop.Legs(curate = Some(legA))))

    val (stB, legB) = build(root, "crash")
    IngestLoop.runTick(stB, batch, weights)
    assert(stB.shingles.maxTick === 2L &&
      legB.census.store.maxTick === 1L,
      "precondition: dedup stores at tick 2, the census lags")
    assert(rows(IngestLoop.runTick(stB, batch, weights,
      legs = IngestLoop.Legs(curate = Some(legB)))) === repClean,
      "the redone tick must reproduce the curated report")
    assert(legB.census.store.maxTick === 2L)
  }
}
