package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental BM25 index maintenance (r9 verdict item 2): after a
  * bootstrap and N per-tick posting appends plus a compaction, the
  * stored index must rank IDENTICALLY to a from-scratch rebuild over
  * the union corpus — and the tokenize counter must show each batch
  * tokenized exactly once, old ticks never re-read. */
class Bm25IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  test("stored ranking ≡ full rebuild after 2 ticks + compaction; zero re-tokenizes of old ticks") {
    val root = Files.createTempDirectory("graft_bm25_inc").toString
    val m = pmod(col("doc_id"), lit(17L))
    // bootstrap corpus + two ingest ticks; queries = the q96 bench slice
    val corpus0 = docs.filter(m.between(1, 9))
    val tick1 = docs.filter(m >= 10)
    val tick2 = docs.filter(m === 0)
    val queries = docs.filter(pmod(col("doc_id"), lit(50L)) === 7)
    val union = docs // corpus0 ∪ tick1 ∪ tick2 covers every class

    val inc = ArtifactStore.bm25Incremental(spark, root, "serveA")
    val tok0 = Retrieval.tokenizeRuns.get()
    inc.appendDocsAt(1L, corpus0)
    inc.appendDocsAt(2L, tick1)
    // compaction mid-loop: ranking must be unaffected
    assert(inc.compact() > 0)
    inc.appendDocsAt(3L, tick2)
    assert(Retrieval.tokenizeRuns.get() - tok0 === 3L,
      "exactly one tokenize pass per appended batch — compaction and " +
        "index() must never re-tokenize")

    val stored = rows(Retrieval.topkFromIndex(inc.index(), queries))
    val builds0 = Retrieval.indexBuilds.get()
    val rebuilt = rows(Retrieval.topkFromIndex(Retrieval.index(union), queries))
    assert(Retrieval.indexBuilds.get() - builds0 === 1L)
    assert(stored.nonEmpty)
    assert(stored === rebuilt,
      "tick-accumulated postings must rank exactly like a full rebuild")
    assert(Retrieval.tokenizeRuns.get() - tok0 === 3L,
      "serving the stored index must not tokenize anything")

    // the df re-derivation is decrement-free only because appends are
    // novel docs; the tf row count must equal the union's tf row count
    val tfRows = inc.store.current().get.count()
    assert(tfRows === Retrieval.tfOf(union).count())
  }

  test("retract then fold: ranking ≡ a rebuild without the docs, before and after the fold; the fold clears the tombstones") {
    val root = Files.createTempDirectory("graft_bm25_retract").toString
    val m = pmod(col("doc_id"), lit(17L))
    val queries = docs.filter(pmod(col("doc_id"), lit(50L)) === 7)
    val gone = docs.filter(m === 6).select("doc_id")
    def topk(idx: Retrieval.Bm25Index) =
      rows(Retrieval.topkFromIndex(idx, queries))
    val rebuilt = topk(Retrieval.index(docs.filter(m =!= 6)))
    assert(rebuilt !== topk(Retrieval.index(docs)),
      "precondition: the retracted docs rank for some query")

    val inc = ArtifactStore.bm25Incremental(spark, root, "serveR")
    inc.bootstrap(docs.filter(m =!= 0))
    inc.appendDocsAt(2L, docs.filter(m === 0))
    inc.retractDocsAt(3L, gone)
    assert(topk(inc.index()) === rebuilt,
      "the tombstones must rank like a rebuild without the docs")
    assert(inc.compact() > 0)
    assert(inc.lineage.tombs.current().isEmpty,
      "the fold clears the tombstones")
    assert(inc.store.current().get.join(gone, Seq("doc_id"), "left_semi")
      .isEmpty, "the retracted postings leave the folded generation")
    assert(topk(inc.index()) === rebuilt)
  }
}
