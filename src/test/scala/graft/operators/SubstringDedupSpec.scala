package graft.operators

import graft.TestSpark
import graft.io.{ArtifactStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** q86 repeated-substring coverage: hand-computed fixtures (shared span,
  * overlap merge, short docs) plus bounds + exact-dup behavior on the
  * real corpus. */
class SubstringDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    SubstringDedup.q86SubstringDups(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
  }

  test("hand-computed: one shared 8-gram covers 8 of 10 tokens") {
    val out = run(Seq(
      (1L, "a b c d e f g h i j"),   // shares positions-1 gram with doc 2
      (2L, "a b c d e f g h x y"),
      (3L, "k l m n o p q r s t"),   // fully unique
      (4L, "p q")))                  // shorter than k: no grams at all
    assert(out(1L) === ((10L, 1L, 8L, 0.8)))
    assert(out(2L) === ((10L, 1L, 8L, 0.8)))
    assert(out(3L) === ((10L, 0L, 0L, 0.0)))
    assert(out(4L) === ((2L, 0L, 0L, 0.0)))
  }

  test("overlapping dup spans merge: 9-token shared run counts 9, not 16") {
    val out = run(Seq(
      (1L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 u1"),
      (2L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 u2")))
    // positions 1 and 2 are both cross-doc dups; intervals [1,8] and
    // [2,9] merge to [1,9]
    assert(out(1L) === ((10L, 2L, 9L, 0.9)))
    assert(out(2L) === ((10L, 2L, 9L, 0.9)))
  }

  test("identical docs are fully covered; within-doc repetition alone is not a dup") {
    val out = run(Seq(
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
      // doc 3 repeats ITS OWN gram twice but shares nothing cross-doc:
      // within-doc repetition is q61's business, not a duplication event
      (3L, "y1 y2 y3 y4 y5 y6 y7 y8 y1 y2 y3 y4 y5 y6 y7 y8")))
    assert(out(1L) === ((10L, 3L, 10L, 1.0)))
    assert(out(2L) === ((10L, 3L, 10L, 1.0)))
    assert(out(3L)._4 === 0.0)
  }

  test("q90: planted boilerplate tops the miner with its text recovered") {
    import spark.implicits._
    val header = "this document is provided as is without any warranty"  // 9 tokens
    val docs = (1L to 6L).map(i => (i, s"$header unique$i tail$i words$i here$i")) :+
      (7L, "a completely different document with nothing shared at all")
    val out = SubstringDedup.q90Boilerplate(docs.toDF("doc_id", "text")).collect()
    assert(out.nonEmpty && out.length <= 20)
    // the 8-gram prefix of the planted header is in all 6 docs — rank 1
    val topRow = out.head
    assert(topRow.getLong(2) === 6L, "df_docs of the planted header")
    assert(header.split(" ").take(8).mkString(" ") === topRow.getString(1) ||
      topRow.getString(1).startsWith("document is provided"),
      s"unexpected top gram: ${topRow.getString(1)}")
    // df is non-increasing down the report
    assert(out.map(_.getLong(2)).sliding(2).forall { case Array(a, b) => a >= b })
    // the fully-unique doc contributes no gram
    assert(!out.exists(_.getString(1).contains("completely different")))
  }

  test("strip: hand-fixture — winner spans removed, text reassembled, untouched docs intact") {
    import spark.implicits._
    val header = "h1 h2 h3 h4 h5 h6 h7 h8" // exactly k tokens
    val docs = Seq(
      (1L, s"$header u1 u2 u3"),
      (2L, s"v1 $header v2"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8"),
      (5L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    val out = SubstringDedup.strip(docs,
        SubstringDedup.winnerHashes(docs, SubstringDedup.DefaultK, 20))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((11L, 8L, "u1 u2 u3")), "leading span strips")
    assert(out(2L) === ((10L, 8L, "v1 v2")), "mid-doc span strips, flanks rejoin")
    assert(out(3L) === ((9L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")), "unique doc untouched")
    assert(out(4L) === ((8L, 8L, "")), "fully-boilerplate doc strips to empty")
    assert(out(5L) === ((8L, 8L, "")))
  }

  test("strip with the full winner set removes exactly q86's covered tokens; re-run coverage shrinks") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    val docs = Tables.load(spark, sf, "documents")
    val stripped = SubstringDedup.strip(docs,
      SubstringDedup.winnerHashes(docs, SubstringDedup.DefaultK, Int.MaxValue))
    val cov = SubstringDedup.coverage(docs)
      .select(col("doc_id"), col("covered_tokens"))
    // with EVERY ≥2-doc gram a winner, the stripped positions are
    // exactly the q86 dup-span union — per-doc token accounting must
    // reconcile to the row
    val mismatches = stripped.join(cov, Seq("doc_id"))
      .filter(col("n_removed") =!= col("covered_tokens")).count()
    assert(mismatches === 0L, "strip accounting must equal q86 coverage")
    val before = cov.agg(sum("covered_tokens")).head().getLong(0)
    val after = SubstringDedup.coverage(
        stripped.selectExpr("doc_id", "text_stripped AS text"))
      .agg(coalesce(sum("covered_tokens"), lit(0L))).head().getLong(0)
    assert(before > 0L)
    assert(after < before,
      s"coverage must shrink after strip (before=$before, after=$after)")
  }

  test("strip takes template-dominated docs below the q91 boilerplate threshold") {
    import spark.implicits._
    val header = "this document is provided as is without any warranty" // 9 tokens
    // 9 of 13 tokens are boilerplate: dup_frac 0.69 > the 0.5 gate
    val docs = ((1L to 6L).map(i => (i, s"$header unique$i tail$i words$i here$i")) :+
      (7L, "a completely different document with nothing shared at all"))
      .toDF("doc_id", "text")
    val before = SubstringDedup.coverage(docs)
    assert(before.filter("dup_frac > 0.5").count() === 6L)
    val stripped = SubstringDedup.strip(docs,
      SubstringDedup.winnerHashes(docs, SubstringDedup.DefaultK, Int.MaxValue))
    val after = SubstringDedup.coverage(
      stripped.selectExpr("doc_id", "text_stripped AS text"))
    assert(after.filter("dup_frac > 0.5").count() === 0L,
      "every template-dominated doc must fall below the gate after trim")
    // and their unique remainders survive (trim-not-drop: q91 stage 8
    // would have discarded all six docs)
    val kept = stripped.filter("doc_id <= 6").collect()
    kept.foreach(r => assert(r.getString(3).contains("unique"),
      s"unique remainder lost for doc ${r.getLong(0)}"))
  }

  test("incremental gram census: tick-maintained winners ≡ full re-mine, zero re-mines of old ticks, compaction folds partials, q121 ≡ q86 batch rows") {
    import java.nio.file.Files
    import graft.io.{ArtifactStore, Tables}
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val m = org.apache.spark.sql.functions.pmod(col("doc_id"),
      org.apache.spark.sql.functions.lit(Provenance.BatchMod))
    val corpus = docs.filter(m =!= 0)
    val batch = docs.filter(m === 0)

    val root = Files.createTempDirectory("graft_gram_census").toString
    val idx = ArtifactStore.gramCensusIncremental(spark, root, "census1")
    val c0 = SubstringDedup.censusRuns.get()
    idx.bootstrap(corpus)
    idx.appendDocsAt(2, batch)
    assert(SubstringDedup.censusRuns.get() - c0 === 2L,
      "each append mines exactly its own batch, nothing else")

    // tick-maintained winner set ≡ the q90 full re-mine over the union
    val maintained = SubstringDedup.winnersFromCensus(idx.read())
      .collect().map(_.getLong(0)).toSeq
    val remined = SubstringDedup.winnerHashes(docs, SubstringDedup.DefaultK, 20)
      .collect().map(_.getLong(0)).toSeq
    assert(maintained.nonEmpty)
    assert(maintained === remined,
      "merged census winners must equal the full re-mine — the " +
        "additivity of per-tick distinct-doc counts is the whole point")

    // compaction folds partials into one row per gram, winners invariant
    val before = idx.store.dataFileCount
    assert(idx.compact() > 0)
    assert(idx.store.dataFileCount < before)
    assert(SubstringDedup.winnersFromCensus(idx.read())
      .collect().map(_.getLong(0)).toSeq === maintained)
    val folded = idx.store.current().get
    assert(folded.groupBy("h").count().filter(col("count") > 1).count() === 0L,
      "a folded generation holds one row per distinct gram")

    // q121's incremental judgement ≡ the q86 full re-mine, batch rows
    val q121 = SubstringDedup.q121IncrementalCuration(docs)
      .collect().map(_.toSeq).toSeq
    val q86b = SubstringDedup.q86SubstringDups(docs)
      .filter(m === 0).collect().map(_.toSeq).toSeq
    assert(q121.nonEmpty && q121 === q86b,
      "tick-shaped coverage against the maintained census must equal " +
        "the whole-corpus re-mine restricted to the batch")

    // and the store-backed dup set drives the same q121 coverage
    val dupFromStore = idx.read().filter(col("exact_df_docs") >= 2)
      .select("h")
    val viaStore = SubstringDedup.coverageAgainstDupForSpec(batch, dupFromStore)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaStore === q121,
      "store-served census must judge the batch identically to the live form")

    // q129: the strip TRANSFORM under the same maintained state —
    // store-served winners ≡ the live merged-census form ≡ the q93
    // full re-mine restricted to batch docs, with ZERO corpus census
    // passes in the store form (winners() reads maintained rows; strip
    // mines only batch postings)
    val s0 = SubstringDedup.censusRuns.get()
    val viaStoreStrip = SubstringDedup.strip(batch,
        SubstringDedup.winnersFromCensus(idx.read(), 150))
      .filter(col("n_removed") > 0).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(SubstringDedup.censusRuns.get() === s0,
      "the store-form strip must run zero census passes")
    val liveStrip = SubstringDedup.q129IncrementalStrip(docs)
      .collect().map(_.toSeq).toSeq
    val q93b = SubstringDedup.q93BoilerplateStrip(docs, topN = 150)
      .filter(m === 0).collect().map(_.toSeq).toSeq
    assert(liveStrip.nonEmpty && viaStoreStrip === liveStrip,
      "store-served winners must strip the batch identically to the live form")
    assert(liveStrip === q93b,
      "the tick-shaped strip must equal the whole-corpus re-mine " +
        "restricted to the batch")
  }

  private def signedRetraction(c: SignedCase): Unit = {
    import java.nio.file.Files
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val retracted = c.retracted(docs)
    val survivors = docs.join(retracted.select("doc_id"), Seq("doc_id"),
      "left_anti")
    val root = Files.createTempDirectory("graft_signed_retract").toString
    val idx = c.make(root)
    idx.bootstrap(docs.filter(mod17 =!= 0))
    idx.appendDocsAt(2, docs.filter(mod17 === 0))
    val tR = 3L
    idx.retractDocsAt(tR, retracted)

    // rows are (key, values…); a fully-retracted key sums to zeros
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    def zeroed(r: Seq[Any]) = r.tail.forall(_ == 0L)
    val recounted = rows(c.recount(survivors))
    val merged = rows(idx.read())
    assert(merged.exists(zeroed),
      "precondition: the takedown zeroes at least one row")
    assert(merged.filterNot(zeroed) === recounted,
      "subtracting the docs' increment must equal a recount without them")
    c.extra(idx, docs)

    // a REPLAYED takedown (same tick key) must not subtract twice
    idx.retractDocsAt(tR, retracted)
    assert(rows(idx.read()) === merged)

    // compaction folds positives and negatives to one row per key,
    // drops the zeroed rows, and changes no nonzero sum
    assert(idx.compact() > 0)
    assert(rows(idx.read()) === recounted)
    val folded = idx.store.current().get
    assert(!rows(folded).exists(zeroed),
      "fully-retracted rows must leave the folded store")
    assert(folded.groupBy(folded.columns.head).count()
      .filter(col("count") > 1).count() === 0L,
      "a folded generation holds one row per key")
  }

  /** One SIGNED index under the retraction check: its store, the
    * recount its merged read must equal, the docs a takedown retracts
    * (zeroing at least one row, so the fold's drop is exercised), and
    * the checks particular to it. */
  private final case class SignedCase(
      name: String,
      make: String => ArtifactStore.SignedIndex[DataFrame => DataFrame],
      recount: DataFrame => DataFrame,
      retracted: DataFrame => DataFrame,
      extra: (ArtifactStore.SignedIndex[DataFrame => DataFrame],
              DataFrame) => Unit = (_, _) => ())

  private def mod17 = pmod(col("doc_id"), lit(Provenance.BatchMod))

  private val signedCases = Seq(
    SignedCase(
      "census retraction (q123): negated increment ≡ re-mine without the docs; replay-idempotent; compaction drops zeroed grams",
      root => ArtifactStore.gramCensusIncremental(spark, root, "census2"),
      SubstringDedup.censusOf(_),
      docs => docs.filter(mod17 === 6),
      (idx, docs) => {
        val survivors = docs.filter(mod17 =!= 6)
        // maintained winners after the subtraction ≡ a full re-mine of
        // the surviving corpus — the algebra q123's oracle certifies
        val maintained = SubstringDedup.winnersFromCensus(idx.read())
          .collect().map(_.getLong(0)).toSeq
        val remined = SubstringDedup
          .winnerHashes(survivors, SubstringDedup.DefaultK, 20)
          .collect().map(_.getLong(0)).toSeq
        assert(maintained === remined,
          "subtracting a doc's census must equal never having mined it")
        // q123 live form ≡ the q86 re-mine without the retracted docs,
        // restricted to batch rows
        val q123 = SubstringDedup.q123CensusRetraction(docs)
          .collect().map(_.toSeq).toSeq
        val q86b = SubstringDedup.q86SubstringDups(survivors)
          .filter(mod17 === 0).collect().map(_.toSeq).toSeq
        assert(q123.nonEmpty && q123 === q86b)
        // DECISIVE: the retracted class shares covering grams with the
        // batch, so at least one batch doc's coverage actually drops vs
        // the no-retraction judgement (q121) — the takedown is
        // observable, not a no-op certified by construction
        val q121 = SubstringDedup.q121IncrementalCuration(docs)
          .collect().map(_.toSeq).toSeq
        assert(q123 !== q121,
          "retraction must change at least one batch doc's coverage")
        // the store-served dup set judges the batch like the live form
        val viaStore = SubstringDedup.coverageAgainstDupForSpec(
            docs.filter(mod17 === 0),
            idx.read().filter(col("exact_df_docs") >= 2).select("h"))
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        assert(viaStore === q123)
      }),
    SignedCase(
      "mix retraction: negated increment ≡ recount without the docs; replay-idempotent; compaction drops zeroed sources",
      root => ArtifactStore.mixIncremental(spark, root, "mix2"),
      ArtifactStore.MixCounts,
      // one whole source (its row zeroes) plus the q123 slice
      docs => docs.filter(col("source") === "src7" || mod17 === 6)))

  signedCases.foreach(c => test(c.name)(signedRetraction(c)))

  test("real corpus: bounds hold and exact-dup docs are fully covered") {
    val docs = Tables.load(spark, sf, "documents")
    val out = SubstringDedup.q86SubstringDups(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, covered, frac) = (r.getLong(1), r.getLong(3), r.getDouble(4))
      assert(covered <= n && frac >= 0.0 && frac <= 1.0)
    }
    // every doc q21 reports as an exact multi-copy must be 100% covered
    // (when it has at least k tokens)
    val dupIds = TextOps.q21ExactDedup(docs)
      .filter("n_copies >= 2").select("keeper").collect().map(_.getLong(0)).toSet
    val byId = out.map(r => r.getLong(0) -> r).toMap
    dupIds.foreach { id =>
      val r = byId(id)
      if (r.getLong(1) >= SubstringDedup.DefaultK)
        assert(r.getDouble(4) === 1.0, s"doc $id")
    }
  }
}
