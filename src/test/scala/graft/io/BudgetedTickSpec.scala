package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Fuzzy, Provenance, QualityModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q130's deployment form — [[IngestLoop.runBudgetedTick]]: per-source
  * token budgets from the MAINTAINED mix counts, quality-ranked prefix
  * admission, only the under-budget prefix folding back. sf0.01 (the
  * planted-dup structure the gate queries need). */
class BudgetedTickSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  test("store-backed budgeted tick ≡ live q130; budgets respected; both admission outcomes populated") {
    val root = Files.createTempDirectory("graft_budget").toString
    val isBatch = pmod(col("doc_id"), lit(Provenance.BatchMod)) === 0
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val w = QualityModel.weights(corpus,
      scope = s"admission${Provenance.BatchMod}")

    val live = rows(Provenance.q130BudgetedAdmission(docs))
    assert(live.nonEmpty)

    val st = IngestLoop.stores(spark, root, "budget1")
    IngestLoop.bootstrap(st, corpus)
    val mixIdx = ArtifactStore.mixIncremental(spark, root, "budget1")
    mixIdx.bootstrap(corpus)
    val rep = rows(IngestLoop.runBudgetedTick(st, batch, w,
      IngestLoop.QuotaLeg(mixIdx)))
    assert(rep === live,
      "the store-backed budgeted tick must equal the live q130 report")

    // budget respected per source, and the cutoff is actually exercised
    rep.foreach { r =>
      val (budget, admTok) = (r(7).asInstanceOf[Long], r(9).asInstanceOf[Long])
      assert(admTok <= budget, s"admitted_tokens $admTok > budget $budget")
    }
    assert(rep.map(_(8).asInstanceOf[Long]).sum > 0, "some docs admit")
    assert(rep.map(_(10).asInstanceOf[Long]).sum > 0,
      "some docs are over budget — otherwise the cutoff is untested")
  }

  test("fold-back is the under-budget prefix ONLY: an over-budget doc's later copy re-admits; an admitted doc's later copy rejects") {
    val root = Files.createTempDirectory("graft_budget_fold").toString
    val isBatch = pmod(col("doc_id"), lit(Provenance.BatchMod)) === 0
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val w = QualityModel.weights(corpus,
      scope = s"admission${Provenance.BatchMod}")

    val st = IngestLoop.stores(spark, root, "budget2")
    IngestLoop.bootstrap(st, corpus)
    val mixIdx = ArtifactStore.mixIncremental(spark, root, "budget2")
    mixIdx.bootstrap(corpus)
    IngestLoop.runBudgetedTick(st, batch, w, IngestLoop.QuotaLeg(mixIdx))

    // re-derive the live per-doc admitted/over-budget split (the spec's
    // white-box view of the q130 prefix rule)
    val fuzzy = Fuzzy.lshCrossPairs(docs, c =>
        pmod(c, lit(Provenance.BatchMod)) === 0, 0.2)
      .select(col("eval_id").as("fid")).distinct()
    val v = Provenance.gatedTickFrame(batch,
      Provenance.corpusHashState(corpus),
      Seq(Provenance.Evidence.Fuzzy -> fuzzy), w, 0.25)
    val srcCounts = corpus.groupBy("source").agg(count(lit(1)).as("n_src"))
    val bf = Provenance.budgetedFrame(v, batch, srcCounts,
      Provenance.DefaultBudgetFrac)
    val overIds = bf.filter(!col("admitted")).select("doc_id")
    val admIds = bf.filter(col("admitted")).select("doc_id")
    val nOver = overIds.count()
    val nAdm = admIds.count()
    assert(nOver > 0 && nAdm > 0)

    // over-budget docs were NEVER ingested: resubmitting them cannot hit
    // the exact gate, and at least some re-admit (near-dups of admitted
    // prefix docs may trip the fuzzy gate — that is correct behavior)
    val overRep = IngestLoop.runTick(st,
      docs.join(overIds, Seq("doc_id"), "left_semi"), w).collect()
    assert(overRep.map(_.getLong(2)).sum === 0L,
      "an over-budget doc's hash must not be in the state")
    assert(overRep.map(_.getLong(5)).sum > 0L,
      "over-budget docs must be re-admittable")

    // admitted docs DID fold back: every resubmitted copy is dup_exact
    val admRep = IngestLoop.runTick(st,
      docs.join(admIds, Seq("doc_id"), "left_semi"), w).collect()
    assert(admRep.map(_.getLong(2)).sum === nAdm,
      "every resubmitted admitted doc must be dup_exact")
  }

  test("budgeted tick with a semantic leg: n_dup_semantic between n_dup_fuzzy and n_low_quality; verdict counts ≡ the unbudgeted tick") {
    // the SemIngestSpec fixture: base corpus doc_id % 17 in 1..9, batch
    // = its tick 1 (doc_id % 17 ≥ 10), the planted embedding pairs
    val root = Files.createTempDirectory("graft_budget_sem").toString
    val emb = Tables.load(spark, sf, "embeddings")
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    val corpus = docs.filter(m.between(1, 9))
    val t1 = docs.filter(m >= 10)
    val w = QualityModel.weights(corpus,
      scope = s"multitick${Provenance.BatchMod}")
    def build(name: String): (IngestLoop.Stores, IngestLoop.SemLeg) = {
      val st = IngestLoop.stores(spark, root, name)
      val leg = IngestLoop.semLeg(spark, root, name, emb)
      IngestLoop.bootstrap(st, corpus)
      IngestLoop.bootstrapSem(leg, corpus)
      (st, leg)
    }

    val (stB, legB) = build("sem_budget")
    val mixIdx = ArtifactStore.mixIncremental(spark, root, "sem_budget")
    mixIdx.bootstrap(corpus)
    val budgeted = IngestLoop.runBudgetedTick(stB, t1, w,
      IngestLoop.QuotaLeg(mixIdx), legs = IngestLoop.Legs(sem = Some(legB)))
    assert(budgeted.columns.toSeq === Seq("source", "n_batch",
      "n_dup_exact", "n_dup_fuzzy", "n_dup_semantic", "n_low_quality",
      "n_novel", "novel_tokens", "budget_tokens", "n_admitted",
      "admitted_tokens", "n_over_budget"))

    // an identically bootstrapped state judged by the unbudgeted tick:
    // the budget only splits n_new, so every verdict count agrees
    val (stU, legU) = build("sem_plain")
    val plain = rows(IngestLoop.runTick(stU, t1, w,
      legs = IngestLoop.Legs(sem = Some(legU))))
    assert(plain.map(_(4).asInstanceOf[Long]).sum > 0,
      "the semantic leg must reject someone")
    assert(rows(budgeted).map(_.take(7)) === plain,
      "per source: n_batch, the four verdict classes and n_novel = n_new")
  }
}
