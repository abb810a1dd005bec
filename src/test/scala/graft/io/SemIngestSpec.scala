package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.{Provenance, QualityModel, SemanticGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SEMANTIC-DEDUP admission leg (q135's deployment form,
  * [[IngestLoop.SemLeg]]): the verdict precedence extended to
  * exact → fuzzy → semantic → quality against MAINTAINED RP-LSH
  * signature state — fold-back decisive (a near-semantic dup of a
  * tick-1 admission rejects at tick 2), takedown decisive (a doc whose
  * only semantic partner was retracted re-admits), crash replay across
  * the sig store, the dup_semantic quarantine loop, and
  * tombstone-folding compaction reaching the sig store. sf0.01 (the
  * planted embedding pair structure: t2 doc 425's only partner is
  * corpus doc 7, which is in the q117 retraction class; t2 docs
  * 238/204/85 partner tick-1 docs that survive it). */
class SemIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  private def m = pmod(col("doc_id"), lit(Provenance.BatchMod))
  private def corpus = docs.filter(m.between(1, 9))
  private def t1 = docs.filter(m >= 10)
  private def t2 = docs.filter(m === 0)
  private def weights = QualityModel.weights(corpus,
    scope = s"multitick${Provenance.BatchMod}")

  private def build(root: String, name: String)
      : (IngestLoop.Stores, IngestLoop.SemLeg) = {
    val st = IngestLoop.stores(spark, root, name)
    val leg = IngestLoop.semLeg(spark, root, name, emb)
    IngestLoop.bootstrap(st, corpus)
    IngestLoop.bootstrapSem(leg, corpus)
    (st, leg)
  }

  private def retractQ117Class(st: IngestLoop.Stores,
                               sem: IngestLoop.SemLeg,
                               quar: Option[IngestLoop.Quarantine] = None)
      : Unit = {
    val retracted = st.hashes.current().get.select("doc_id").filter(
      pmod(col("doc_id"), lit(Provenance.RetractMod)) ===
        Provenance.RetractRem)
    IngestLoop.retractTick(st, retracted,
      legs = IngestLoop.Legs(sem = Some(sem), quar = quar))
  }

  test("store-backed semantic loop ≡ live q135 across both ticks and the takedown") {
    val root = Files.createTempDirectory("graft_sem_live").toString
    val live = rows(SemanticGate.q135SemanticAdmission(docs, emb))
    def tickOf(k: Int) = live.filter(_(0) == k)
      .map(r => r.slice(1, 8)) // drop tick and n_sem_readmitted
    assert(tickOf(1).map(_(4).asInstanceOf[Long]).sum > 0,
      "tick 1's semantic leg must reject someone")
    assert(tickOf(2).map(_(4).asInstanceOf[Long]).sum > 0,
      "tick 2's semantic leg must reject someone (fold-back partners)")
    assert(live.filter(_(0) == 2).map(_(8).asInstanceOf[Long]).sum > 0,
      "the takedown must re-admit a semantically flagged doc")

    val (st, leg) = build(root, "sem1")
    val rep1 = rows(IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(sem = Some(leg))))
    assert(rep1 === tickOf(1),
      "tick 1 store report must equal the live q135 tick 1")
    retractQ117Class(st, leg)
    val rep2 = rows(IngestLoop.runTick(st, t2, weights,
      legs = IngestLoop.Legs(sem = Some(leg))))
    assert(rep2 === tickOf(2),
      "post-takedown tick 2 store report must equal the live q135 tick 2")
  }

  test("fold-back is decisive: tick-2 semantic rejects come from TICK-1 ADMISSIONS' signatures, absent in a bootstrap-only control") {
    val root = Files.createTempDirectory("graft_sem_fold").toString
    val (st, leg) = build(root, "fold")
    IngestLoop.runTick(st, t1, weights, legs = IngestLoop.Legs(sem = Some(leg)))
    retractQ117Class(st, leg)
    val rep2 = IngestLoop.runTick(st, t2, weights,
      legs = IngestLoop.Legs(sem = Some(leg))).collect()

    // control: NO tick 1 — the same takedown class over the corpus
    // alone, then tick 2. t2's only corpus semantic partner (doc 7) is
    // in the retraction class, so the control's semantic leg is idle:
    // every tick-2 semantic reject above was held by a tick-1
    // admission's signature.
    val (stC, legC) = build(root, "fold_ctrl")
    retractQ117Class(stC, legC)
    val rep2C = IngestLoop.runTick(stC, t2, weights,
      legs = IngestLoop.Legs(sem = Some(legC)))
      .collect()
    assert(rep2.map(_.getLong(4)).sum > 0)
    assert(rep2C.map(_.getLong(4)).sum === 0L,
      "control: with tick-1 signatures never folded and the corpus " +
        "partner retracted, no tick-2 doc has semantic evidence")
  }

  test("takedown is decisive: doc 425 (only partner = retracted corpus doc 7) is dup_semantic without the takedown, admits with it") {
    val root = Files.createTempDirectory("graft_sem_td").toString
    // no-takedown world: 425 is semantically rejected
    val (stN, legN) = build(root, "td_no")
    val quarN = IngestLoop.quarantine(spark, root, "td_no")
    IngestLoop.bootstrapQuarantine(quarN, corpus)
    IngestLoop.runTick(stN, t1, weights,
      legs = IngestLoop.Legs(sem = Some(legN), quar = Some(quarN)))
    IngestLoop.runTick(stN, t2, weights,
      legs = IngestLoop.Legs(sem = Some(legN), quar = Some(quarN)))
    val v425 = quarN.rows.current().get.filter(col("doc_id") === 425L)
      .select("verdict").collect()
    assert(v425.map(_.getString(0)).toSeq === Seq("dup_semantic"),
      "without the takedown, doc 425 must quarantine as dup_semantic")

    // takedown world: doc 7 leaves the sig state, 425 admits
    val (stT, legT) = build(root, "td_yes")
    IngestLoop.runTick(stT, t1, weights,
      legs = IngestLoop.Legs(sem = Some(legT)))
    retractQ117Class(stT, legT)
    IngestLoop.runTick(stT, t2, weights,
      legs = IngestLoop.Legs(sem = Some(legT)))
    assert(stT.hashes.current().get.filter(col("doc_id") === 425L).count()
      === 1L, "with doc 7 retracted, 425 must fold into the state")
  }

  test("crash replay: a lagging sig store forces the whole tick to be REDONE under the semantic gate") {
    val root = Files.createTempDirectory("graft_sem_crash").toString
    val (stA, legA) = build(root, "clean")
    val repClean = rows(IngestLoop.runTick(stA, t1, weights,
      legs = IngestLoop.Legs(sem = Some(legA))))

    // crashed run: the three dedup folds landed (a tick run WITHOUT
    // the sem leg is exactly that crash point), the sig store lags
    val (stB, legB) = build(root, "crash")
    IngestLoop.runTick(stB, t1, weights)
    assert(stB.shingles.maxTick === 2L && legB.sigs.maxTick === 1L,
      "precondition: dedup stores at tick 2, the sig store lags")
    val replayed = rows(IngestLoop.runTick(stB, t1, weights,
      legs = IngestLoop.Legs(sem = Some(legB))))
    assert(replayed === repClean,
      "the redone tick must judge under the semantic gate exactly " +
        "like the clean run")
    assert(legB.sigs.maxTick === 2L)
  }

  test("quarantine loop: a dup_semantic rejection re-adjudicates after its partner's takedown; resubmitted copy rejects; compaction folds the sig store") {
    val root = Files.createTempDirectory("graft_sem_quar").toString
    val (st, leg) = build(root, "quar")
    val quar = IngestLoop.quarantine(spark, root, "quar")
    IngestLoop.bootstrapQuarantine(quar, corpus)
    IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(sem = Some(leg), quar = Some(quar)))
    IngestLoop.runTick(st, t2, weights,
      legs = IngestLoop.Legs(sem = Some(leg), quar = Some(quar)))
    val nSemQuar = quar.rows.current().get
      .filter(col("verdict") === "dup_semantic").count()
    assert(nSemQuar > 0, "the tick must quarantine semantic rejections")

    retractQ117Class(st, leg, quar = Some(quar))
    val rep = IngestLoop.readjudicateTick(st, quar, weights,
      legs = IngestLoop.Legs(sem = Some(leg))).collect()
    // extended report: source, n_quarantined, n_exact_t1, n_fuzzy_t1,
    // n_sem_t1, n_still_exact, n_still_fuzzy, n_still_semantic,
    // n_low_quality, n_readmitted
    assert(rep.map(_.getLong(4)).sum === nSemQuar,
      "every quarantined dup_semantic row re-judges")
    assert(rep.map(_.getLong(9)).sum > 0, "the takedown must re-admit")
    assert(quar.resolvedIds.current().get
      .filter(col("doc_id") === 425L).count() === 1L,
      "doc 425 (partner retracted) must re-admit and resolve")

    // fold-back: 425's exact copy now rejects
    val resub = IngestLoop.runTick(st, docs.filter(col("doc_id") === 425L),
      weights, legs = IngestLoop.Legs(sem = Some(leg))).collect()
    assert(resub.map(_.getLong(2)).sum === 1L,
      "the re-admitted doc's resubmitted copy must be dup_exact")

    // compaction folds tombstones into the sig store too (the
    // compactIfNeeded sem contract): the RESOLVED sig relation — what
    // every semantic flag probes — is bit-identical across the fold,
    // and the fold leaves no retracted doc's rows behind to resurface
    // after the tombstone clear
    val liveSigs = st.lineage.resolve(leg.sigs.current().get)
      .collect().map(_.toSeq).toSet
    assert(IngestLoop.compactIfNeeded(st, maxDataFiles = 1,
      legs = IngestLoop.Legs(sem = Some(leg))))
    assert(st.tombs.current().isEmpty, "tombstones cleared after the fold")
    assert(st.lineage.resolve(leg.sigs.current().get)
      .collect().map(_.toSeq).toSet === liveSigs,
      "the resolved sig state must be identical across the fold")
    assert(leg.sigs.current().get.join(
        st.hashes.current().get.select("doc_id"),
        Seq("doc_id"), "left_anti").isEmpty,
      "after the fold, every surviving sig row's doc is still ingested")
  }

  test("self-sized semantic leg (q139, r12 item 3): bootstrap records (tables, bits) from the corpus count, later loads serve the RECORDED knob, and a re-size is a new generation with identical verdict semantics") {
    import graft.operators.SemanticGate
    val root = Files.createTempDirectory("graft_sem_sized").toString
    val st = IngestLoop.stores(spark, root, "ssz")
    IngestLoop.bootstrap(st, corpus)

    // first bootstrap: bits derive from the vector count and are
    // recorded next to the sig store
    val n = emb.count()
    val leg = IngestLoop.semLegSized(spark, root, "ssz", emb)
    assert(leg.nTables === SemanticGate.ProductionTables &&
      leg.bits === SemanticGate.sizedBits(n),
      "the sizing rule picks bits ≈ log2(N) at bootstrap")
    IngestLoop.bootstrapSem(leg, corpus)
    val rep1 = rows(IngestLoop.runTick(st, t1, weights,
      legs = IngestLoop.Legs(sem = Some(leg))))
    assert(rep1.map(_(4).asInstanceOf[Long]).sum > 0,
      "the sized knob must still reject semantic dups on this corpus")

    // a later load serves the RECORDED knob even when the live vector
    // table has grown past the sizing count — accumulated signatures
    // must all share one width
    val leg2 = IngestLoop.semLegSized(spark, root, "ssz",
      emb.select(col("vec_id"), col("embedding")).union(emb.select(
        (col("vec_id") + 1000000).as("vec_id"), col("embedding"))))
    assert(leg2.nTables === leg.nTables && leg2.bits === leg.bits,
      "the recorded (tables, bits) win over the live count — a reloaded " +
        "leg judges at the width every accumulated signature was derived at")

    // RE-SIZE into a new generation: signatures re-derive at the new
    // width for every surviving ingested doc, and the re-sized state
    // reproduces the verdicts a from-scratch leg at that width gives
    val leg3 = IngestLoop.resizeSemLeg(st, leg, spark, root, "ssz_v2",
      nTables = 4, bits = leg.bits + 2)
    assert(leg3.sigs.maxTick === 1L)
    val fresh = IngestLoop.semLegSized(spark, root, "ssz_v2", emb)
    assert(fresh.nTables === 4 && fresh.bits === leg.bits + 2,
      "the re-size records the new knob under the new name")
    val ingested = st.lineage.resolve(st.hashes.current().get)
      .select("doc_id").distinct()
    assert(leg3.sigs.current().get.collect().map(_.toSeq).toSet ===
      SemanticGate.sigRowsOf(emb, ingested, 4, leg.bits + 2, leg3.dim)
        .collect().map(_.toSeq).toSet,
      "the re-sized generation ≡ a from-scratch derivation at the new " +
        "width over the surviving ingested set")
  }

  test("resizeSemLeg commit discipline (r13 item 4): a same-name re-size is refused; a kill between the sigs and the params write replays clean with the old generation serving throughout") {
    import graft.operators.SemanticGate
    val root = Files.createTempDirectory("graft_sem_commit").toString
    val st = IngestLoop.stores(spark, root, "rcd")
    IngestLoop.bootstrap(st, corpus)
    val leg = IngestLoop.semLegSized(spark, root, "rcd", emb)
    IngestLoop.bootstrapSem(leg, corpus)

    // in-place re-size refused: the name's params are committed
    val same = intercept[IllegalArgumentException] {
      IngestLoop.resizeSemLeg(st, leg, spark, root, "rcd",
        nTables = 4, bits = leg.bits + 2)
    }
    assert(same.getMessage.contains("FRESH generation"))

    // KILL WINDOW: the resize's first half — tick-1 sigs at the new
    // width landed under the new name — but the process died before
    // the params commit point
    val ingested = st.lineage.resolve(st.hashes.current().get)
      .select("doc_id").distinct()
    ArtifactStore.ingestState(spark, root, "rcd_v2/sem_sigs")
      .appendTickAt(1, SemanticGate.sigRowsOf(
        emb, ingested, 4, leg.bits + 2, leg.dim))
    // the OLD generation's recorded knob is untouched and still serves
    val old = IngestLoop.semLegSized(spark, root, "rcd", emb)
    assert(old.bits === leg.bits && old.nTables === leg.nTables,
      "a crashed resize must not disturb the serving generation")
    // the replay is NOT refused (params uncommitted = no generation
    // yet): it overwrites the same tick-1 rows and commits
    val leg2 = IngestLoop.resizeSemLeg(st, leg, spark, root, "rcd_v2",
      nTables = 4, bits = leg.bits + 2)
    assert(leg2.sigs.maxTick === 1L)
    val loaded = IngestLoop.semLegSized(spark, root, "rcd_v2", emb)
    assert(loaded.nTables === 4 && loaded.bits === leg.bits + 2,
      "the replayed resize commits the new generation's knob")
    assert(leg2.sigs.current().get.collect().map(_.toSeq).toSet ===
      SemanticGate.sigRowsOf(emb, ingested, 4, leg.bits + 2, leg.dim)
        .collect().map(_.toSeq).toSet,
      "the replayed generation ≡ a from-scratch derivation")
  }

  test("semLegSized gates its read branch on the params _SUCCESS marker (r13 advice): a crash mid-write of sem_params re-derives instead of throwing forever") {
    import graft.operators.SemanticGate
    val root = Files.createTempDirectory("graft_sem_gate").toString
    // a half-written params dir: files present, no commit marker
    val pDir = new org.apache.hadoop.fs.Path(
      s"$root/ingest_state/gate/sem_params")
    val fsys = pDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.mkdirs(pDir)
    fsys.create(new org.apache.hadoop.fs.Path(pDir, "part-00000")).close()
    val leg = IngestLoop.semLegSized(spark, root, "gate", emb)
    assert(leg.bits === SemanticGate.sizedBits(emb.count()),
      "an uncommitted params dir falls through to the sizing path")
    val again = IngestLoop.semLegSized(spark, root, "gate", emb)
    assert(again.bits === leg.bits && again.nTables === leg.nTables,
      "the re-derived params commit and later loads read them")
  }

  test("occupancy drift canary (q141 deployment form, r13 item 3): a leg sized at a small bootstrap recommends resize once the corpus outgrows 2^bits; semCanaryTick swaps the generation and the canary goes green with planted-pair recall intact") {
    import graft.operators.SemanticGate
    val root = Files.createTempDirectory("graft_sem_canary").toString
    val st = IngestLoop.stores(spark, root, "cnr")
    IngestLoop.bootstrap(st, docs)
    // sized when the corpus was small (100 vectors), then the corpus
    // grew ~20x past the recorded 2^bits — the drift q139 could not see
    val small = emb.orderBy("vec_id").limit(100)
    val sized = IngestLoop.semLegSized(spark, root, "cnr", small)
    assert(sized.bits === SemanticGate.sizedBits(100))
    val leg = sized.copy(vectors = emb)
    IngestLoop.bootstrapSem(leg, docs)

    val rep = IngestLoop.semCanaryReport(st, leg)
    assert(rep.count() === leg.nTables.toLong,
      "one census row per table")
    val r0 = rep.head()
    val nLive = r0.getAs[Long]("n_live")
    assert(r0.getAs[Boolean]("resize_recommended"),
      "the canary must flag a corpus past the slack bound")
    assert(r0.getAs[Int]("resize_bits") === SemanticGate.sizedBits(nLive),
      "the recommendation re-applies the occupancy rule at the live count")
    assert(r0.getAs[Long]("cand_pairs") > 0,
      "the census reports the projected candidate fan-out")

    // the trigger form: resize into the fresh generation, canary green
    val next = IngestLoop.semCanaryTick(st, leg, spark, root, "cnr_v2")
    assert(next.bits === SemanticGate.sizedBits(nLive),
      "the triggered resize lands at the live count's width")
    val rep2 = IngestLoop.semCanaryReport(st, next)
    assert(!rep2.head().getAs[Boolean]("resize_recommended"),
      "the canary is green after the resize")
    // a green canary's tick is a no-op (no generation churn)
    assert(IngestLoop.semCanaryTick(st, next, spark, root, "cnr_v3")
      eq next)

    // planted-pair recall across the swap: 238's only semantic partner
    // (287, ingested) still flags against the resized state
    import spark.implicits._
    val flags = SemanticGate.flaggedAgainstState(
      st.lineage.resolve(next.sigs.current().get), emb,
      Seq(238L).toDF("doc_id"),
      next.nTables, next.bits, next.dim, next.simThreshold)
    assert(flags.collect().map(_.getLong(0)).toSet === Set(238L),
      "the resized generation still catches the planted semantic pair")
  }

  test("quiesce compose-point (r14 item 3): a deployment that crosses the occupancy bound resizes STRUCTURALLY — the bundle runs the canary itself; an attached export leg seals LAST so the post-bundle state serves") {
    import graft.operators.SemanticGate
    val root = Files.createTempDirectory("graft_sem_quiesce").toString
    val st = IngestLoop.stores(spark, root, "qsc")
    IngestLoop.bootstrap(st, docs)
    // the q141 drift fixture: sized when the corpus was 100 vectors,
    // then bootstrapped ~20x past the recorded 2^bits
    val sized = IngestLoop.semLegSized(spark, root, "qsc",
      emb.orderBy("vec_id").limit(100))
    val leg = sized.copy(vectors = emb)
    IngestLoop.bootstrapSem(leg, docs)
    val nLive = IngestLoop.semCanaryReport(st, leg)
      .head().getAs[Long]("n_live")

    // an export leg rides the same bundle: its epochs are structurally
    // unserveable until the bundle's seal
    val ms = graft.operators.Bpe.merges(docs)
    val ex = ArtifactStore.packedExport(spark, root, "qsc_ex")
    ex.bootstrap(docs, ms)
    intercept[IllegalArgumentException](ex.servedSlices())

    // the ONE call — the test never touches semCanaryTick/sealExport:
    // drift detection and certification belong to the quiesce point
    val res = IngestLoop.quiesce(st, spark, root, semNextName = Some("qsc_v2"),
      docSources = Some(docs.select("doc_id", "source")), minFillMicro = 0L,
      mixTolMicros = 1000000L,
      legs = IngestLoop.Legs(sem = Some(leg),
        export = Some(IngestLoop.ExportLeg(ex, ms))))
    assert(res.semResized, "the bundle itself must detect the drift")
    val next = res.sem.get
    assert(next.bits === SemanticGate.sizedBits(nLive),
      "the structural resize lands at the live count's width")
    assert(!IngestLoop.semCanaryReport(st, next)
      .head().getAs[Boolean]("resize_recommended"),
      "the canary is green after the bundle")
    assert(ex.servedSlices().count() > 0,
      "the bundle's seal covers the post-bundle state — the training " +
        "read path serves without any caller-side certification")
    assert(res.cert.exists(_.filter(col("decision") === "serve")
      .count() > 0), "the bundle returns the recorded certificate")

    // a green bundle is a no-op on the leg (no generation churn), and
    // the unused fresh name stays unclaimed for the next real resize
    val res2 = IngestLoop.quiesce(st, spark, root, semNextName = Some("qsc_v3"),
      legs = IngestLoop.Legs(sem = Some(next)))
    assert(!res2.semResized && (res2.sem.get eq next))

    // guard rails: a sem leg without a landing name / an export leg
    // without its mix relation refuse up front
    intercept[IllegalArgumentException](
      IngestLoop.quiesce(st, spark, root,
        legs = IngestLoop.Legs(sem = Some(next))))
    intercept[IllegalArgumentException](
      IngestLoop.quiesce(st, spark, root,
        legs = IngestLoop.Legs(export = Some(IngestLoop.ExportLeg(ex, ms)))))
  }

  test("rolloverSem re-records the carried knob under the new generation (r14 self-audit): a restart via semLegSized serves the ROLLED width, not a fresh sizing; a committed-name roll is refused") {
    import graft.operators.SemanticGate
    val root = Files.createTempDirectory("graft_sem_roll").toString
    val st = IngestLoop.stores(spark, root, "rl")
    IngestLoop.bootstrap(st, corpus)
    // sized at a small snapshot so the carried width DIFFERS from what
    // a fresh sizing over the live vector count would pick
    val leg = IngestLoop.semLegSized(spark, root, "rl",
      emb.orderBy("vec_id").limit(100)).copy(vectors = emb)
    IngestLoop.bootstrapSem(leg, corpus)
    assert(leg.bits !== SemanticGate.sizedBits(emb.count()),
      "precondition: the carried and fresh widths differ")

    val rolled = IngestLoop.rolloverSem(st, leg, spark, root, "rl2")
    assert(rolled.bits === leg.bits && rolled.sigs.maxTick === 1L)
    val reloaded = IngestLoop.semLegSized(spark, root, "rl2", emb)
    assert(reloaded.bits === leg.bits && reloaded.nTables === leg.nTables,
      "a restart reads the ROLLED generation's recorded knob - the " +
        "rolled tick-1 sigs were derived at that width, not at a " +
        "fresh sizing of the live count")

    // rolling INTO a generation whose params are committed is refused
    val same = intercept[IllegalArgumentException] {
      IngestLoop.rolloverSem(st, rolled, spark, root, "rl")
    }
    assert(same.getMessage.contains("FRESH generation"))
  }
}
