package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Bpe, Kmeans, Pq, Provenance}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quiesce-point GC of strictly-shadowed state (r11 verdict item 7):
  * rollover/recluster/unlearn/re-pack accumulate superseded
  * generations, revision dirs, and fold-shadowed tick dirs. Each
  * store's gc() deletes ONLY what a re-resolve can never pick, so
  * reads are bit-identical before, mid-crash, and after — and the
  * stores keep operating (append/recluster/unlearn) on the gc'd tree.
  * sf0.01. */
class GcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")
  private def hfs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def setOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("IngestStateStore.gc: a crashed compaction's leftover dirs go; reads identical before/during/after; the store keeps ticking") {
    val root = Files.createTempDirectory("graft_gc_state").toString
    val st = ArtifactStore.ingestState(spark, root, "s")
    (1 to 4).foreach(t => st.appendTickAt(t.toLong,
      docs.limit(20 * t).select("doc_id")))
    st.compact()
    // simulate the interrupted delete phase: re-materialize shadowed
    // tick dirs below the committed generation
    st.appendTickAt(2L, docs.limit(40).select("doc_id"))
    st.appendTickAt(3L, docs.limit(60).select("doc_id"))
    val before = setOf(st.current().get)
    val freed1 = st.gc()
    assert(freed1 > 0L, "the shadowed tick dirs must be reclaimed")
    assert(setOf(st.current().get) === before, "reads identical after gc")
    // an interrupted gc (one victim already gone) simply re-runs
    st.appendTickAt(1L, docs.limit(20).select("doc_id"))
    assert(st.gc() > 0L && setOf(st.current().get) === before)
    assert(st.gc() === 0L, "a clean tree gc's to nothing")
    // the store still ticks and compacts on the gc'd tree
    st.appendTickAt(5L, docs.limit(5).select("doc_id"))
    assert(st.maxTick === 5L)
  }

  test("IvfPqIncrementalIndex.gc: pre-recluster generations and markers go; served codes identical; a further recluster works") {
    val root = Files.createTempDirectory("graft_gc_ivf").toString
    val idx = ArtifactStore.ivfPqIncremental(spark, root, "ann")
    val cents = Kmeans.centroidTable(emb, Kmeans.DefaultK)
    val rcb = graft.operators.Pq.residualCodebookTable(emb,
      Kmeans.DefaultK, Pq.DefaultM, Pq.DefaultSubDim, Pq.DefaultKCb,
      Pq.DefaultIters, Pq.DefaultTrainN)
    idx.bootstrap(emb, cents, rcb)
    idx.recluster(emb, cents, rcb)
    assert(idx.generation === 2L)
    val before = setOf(idx.codes())
    val freed = idx.gc()
    assert(freed > 0L, "the legacy generation-1 stores must be reclaimed")
    assert(setOf(idx.codes()) === before, "served codes identical after gc")
    assert(!hfs(root).exists(
      new Path(s"$root/ingest_state/ann/ivfpq_codes")),
      "the generation-1 code store is gone")
    assert(idx.gc() === 0L)
    // the index keeps operating: append + another recluster + gc again
    idx.recluster(emb, cents, rcb)
    assert(idx.generation === 3L)
    assert(setOf(idx.codes()) === before)
    assert(idx.gc() > 0L && setOf(idx.codes()) === before)
  }

  test("ModelStore.gc: superseded model generations go; serving weights and unlearn unaffected") {
    val root = Files.createTempDirectory("graft_gc_model").toString
    // trainN below the 500-doc corpus so the unlearn tail-tier is
    // reachable (the ModelStoreSpec sizing)
    val msto = ArtifactStore.modelStore(spark, root, "m", trainN = 100)
    msto.bootstrap(docs)
    msto.refresh(docs)
    assert(msto.generation === 2L)
    val w = msto.servingWeights()
    val freed = msto.gc()
    assert(freed > 0L)
    assert(msto.servingWeights() === w)
    assert(msto.gc() === 0L)
    // unlearn still runs on the gc'd store (reservoir intact)
    val tail = msto.reservoir().orderBy(desc("hv")).limit(1)
      .select("doc_id")
    msto.unlearn(tail)
    assert(msto.generation === 3L)
  }

  test("PackedExportStore.gc: crash-leftover revision dirs and fold-shadowed tick dirs go; slices identical; later takedowns still re-pack") {
    val root = Files.createTempDirectory("graft_gc_ex").toString
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val ms = Bpe.merges(docs)
    val ex = ArtifactStore.packedExport(spark, root, "ex")
    ex.bootstrap(docs.filter(m.between(1, 9)), ms)
    ex.appendDocsAt(2, docs.filter(m === 0), ms)
    // a takedown re-packs tick 1 (rev 2 serves; writeRevIn already
    // dropped rev 1 — re-materialize it as the crash leftover, plus a
    // half-written uncommitted rev 9)
    val retracted = docs.filter(m.between(1, 9) &&
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem).select("doc_id")
    ex.retractDocs(retracted)
    val f = hfs(root)
    f.mkdirs(new Path(s"$root/export_state/ex/tick=1/rev=1"))
    docs.limit(1).select("doc_id").write.mode("overwrite")
      .parquet(s"$root/export_state/ex/tick=1/rev=1/junk")
    f.mkdirs(new Path(s"$root/export_state/ex/tick=2/rev=9"))
    val before = setOf(ex.slices())
    val freed = ex.gc()
    assert(freed > 0L)
    assert(setOf(ex.slices()) === before, "served slices identical")
    assert(!f.exists(new Path(s"$root/export_state/ex/tick=1/rev=1")) &&
      !f.exists(new Path(s"$root/export_state/ex/tick=2/rev=9")))
    assert(ex.gc() === 0L)
    // fold then gc: the folded tick dirs (re-materialized as crash
    // leftovers) are shadowed by the committed fold boundary
    assert(ex.compactEpochs() === 2L)
    docs.limit(1).select("doc_id").write.mode("overwrite")
      .parquet(s"$root/export_state/ex/tick=1/rev=3/junk")
    val folded = setOf(ex.slices())
    assert(ex.gc() > 0L && setOf(ex.slices()) === folded)
    assert(!f.exists(new Path(s"$root/export_state/ex/tick=1")),
      "the fold-shadowed tick dir is gone")
    // the gc'd store still takes a takedown (re-pack of the fold dir)
    val more = docs.filter(m === 0).select("doc_id").limit(2)
      .localCheckpoint()
    assert(ex.retractDocs(more).nonEmpty)
    assert(ex.slices().join(more, Seq("doc_id"), "left_semi").isEmpty,
      "the post-gc takedown re-packs the fold without the docs")
  }
}
