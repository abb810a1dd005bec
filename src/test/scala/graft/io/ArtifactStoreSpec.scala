package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.TestSpark
import graft.operators.{Bpe, Kmeans, Pq, Provenance}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ArtifactStore: train-or-load must be a pure cache — a persisted
  * artifact is served for the SAME CONTENT even from a different path
  * (the cold-JVM / second-cluster scenario: nothing in memory, only
  * bytes on disk + the corpus), training is provably skipped (trainRuns
  * counters), and the downstream queries are bit-identical either way.
  * The store's own artifacts are manifest-diffable with q75 machinery. */
class ArtifactStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Byte-copy a table's parquet to a fresh path: same content, new
    * inputFiles — the path-keyed JVM memo misses, so any skipped
    * training is attributable to the store's content fingerprint. */
  private def copyTable(table: String): String = {
    val dst = tmpDir(s"graft_copy_$table")
    Files.copy(Paths.get(s"$sf/$table.parquet"),
      Paths.get(s"$dst/$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
    s"$dst/$table.parquet"
  }

  test("bpe: cold load from a copied corpus skips training; q35 is bit-identical") {
    val root = tmpDir("graft_artifacts_bpe")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val docsCopy = spark.read.parquet(copyTable("documents"))
    // non-default knobs: no other spec shares this memo key, so the
    // first call must train exactly once
    val t0 = Bpe.trainRuns.get()
    val ms1 = ArtifactStore.bpeMergesOrTrain(root, docs, nMerges = 12, trainDocs = 150L)
    assert(Bpe.trainRuns.get() === t0 + 1, "first call must train")
    assert(ms1.nonEmpty)
    val t1 = Bpe.trainRuns.get()
    val ms2 = ArtifactStore.bpeMergesOrTrain(root, docsCopy, nMerges = 12, trainDocs = 150L)
    assert(Bpe.trainRuns.get() === t1, "copied corpus must load, not retrain")
    assert(ms2 === ms1, "loaded merge table must equal the trained one")
    // bit-identity through the query surface: same artifact, same counts
    val a = docs.select(col("doc_id"), Bpe.tokenCount(ms1, col("text")).as("n"))
      .orderBy("doc_id").collect().toSeq
    val b = docsCopy.select(col("doc_id"), Bpe.tokenCount(ms2, col("text")).as("n"))
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    // default-knob artifact feeds the real q35 path via the memo preload
    ArtifactStore.bpeMergesOrTrain(root, docs)
    val tq = Bpe.trainRuns.get()
    ArtifactStore.bpeMergesOrTrain(root, docsCopy) // loads + preloads copy's memo key
    val q35a = Bpe.q35TokenCount(docs).collect().toSeq
    val q35b = Bpe.q35TokenCount(docsCopy).collect().toSeq
    assert(Bpe.trainRuns.get() === tq, "q35 on the copy must ride the loaded artifact")
    assert(q35a === q35b)
  }

  test("kmeans: cold load skips training; q54 is bit-identical") {
    val root = tmpDir("graft_artifacts_km")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val embCopy = spark.read.parquet(copyTable("embeddings"))
    val t0 = Kmeans.trainRuns.get()
    val c1 = ArtifactStore.centroidsOrTrain(root, emb, k = 6, iters = 2, trainN = 512)
    assert(Kmeans.trainRuns.get() === t0 + 1, "first call must train")
    assert(c1.length === 6 && c1.forall(_._2.nonEmpty))
    val t1 = Kmeans.trainRuns.get()
    val c2 = ArtifactStore.centroidsOrTrain(root, embCopy, k = 6, iters = 2, trainN = 512)
    assert(Kmeans.trainRuns.get() === t1, "copied corpus must load, not retrain")
    assert(c2 === c1, "loaded centroids must equal the trained ones")
    // default-knob artifact + preload → the real q54 path, bit-identical
    ArtifactStore.centroidsOrTrain(root, emb)
    val tq = Kmeans.trainRuns.get()
    ArtifactStore.centroidsOrTrain(root, embCopy)
    val a = graft.operators.VectorOps.q54BucketedEmbDedup(emb).collect().toSeq
    val b = graft.operators.VectorOps.q54BucketedEmbDedup(embCopy).collect().toSeq
    assert(Kmeans.trainRuns.get() === tq, "q54 on the copy must ride the loaded artifact")
    assert(a === b)
  }

  test("q73 corpus state: persisted artifact reproduces the live admission report") {
    val root = tmpDir("graft_artifacts_ch")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusSide = docs.filter(pmod(col("doc_id"), lit(Provenance.BatchMod)) =!= 0)
    val batchSide = docs.filter(pmod(col("doc_id"), lit(Provenance.BatchMod)) === 0)
    val live = Provenance.q73IncrementalDedup(docs).collect().toSeq
    val viaStore = ArtifactStore
      .admissionAgainstStore(root, corpusSide, batchSide).collect().toSeq
    assert(viaStore === live)
    // the state artifact is exactly the distinct corpus hashes
    val state = ArtifactStore.corpusHashesOrBuild(root, corpusSide)
    assert(state.count() === Provenance.corpusHashState(corpusSide).count())
    // second call serves the SAME artifact bytes (no rewrite): file
    // listing with sizes+mtimes is unchanged
    def listing(p: String) = {
      val dir = Paths.get(p)
      Files.walk(dir).toArray.map(_.toString).sorted
        .map(f => (f, Files.getLastModifiedTime(Paths.get(f)).toMillis))
        .toSeq
    }
    val before = listing(s"$root/corpus_hashes")
    ArtifactStore.corpusHashesOrBuild(root, corpusSide).count()
    assert(listing(s"$root/corpus_hashes") === before, "reload must not rewrite")
  }

  test("artifact evolution is manifest-diffable; listing sees every version") {
    val root = tmpDir("graft_artifacts_mf")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // a changed corpus changes the key — stale artifacts can't be
    // served for fresh data (the path-keyed-cache failure mode)
    assert(ArtifactStore.documentsFingerprint(docs) !==
      ArtifactStore.documentsFingerprint(docs.filter(col("doc_id") < 400)))
    // two versions side by side (different knobs → different keys; the
    // 8-merge table strictly extends the 5-merge one, so the diff is
    // guaranteed non-empty)
    ArtifactStore.bpeMergesOrTrain(root, docs, nMerges = 8, trainDocs = 150L)
    ArtifactStore.bpeMergesOrTrain(root, docs, nMerges = 5, trainDocs = 150L)
    val arts = ArtifactStore.listArtifacts(spark, root)
    assert(arts.size === 2 && arts.forall(_._1 === "bpe_merges"),
      s"expected two versioned bpe artifacts, got $arts")
    // the two versions diff like any two corpus snapshots: map the merge
    // tables to the (doc_id, text) shape and reuse the q75 machinery
    def asDocs(key: String) =
      spark.read.parquet(s"$root/bpe_merges/$key")
        .select(col("ord").cast("long").as("doc_id"), col("pair").as("text"),
          length(col("pair")).as("n_chars"))
    val diff = Provenance.manifestDiff(asDocs(arts(0)._2), asDocs(arts(1)._2),
      buckets = 8).collect()
    assert(diff.nonEmpty,
      "different corpora learn different merges; the manifest diff must see it")
    assert(diff.forall(r => Set("grown", "shrunk", "mutated")(r.getAs[String]("change"))))
  }

  test("bm25 index: built once, probed from parquet; stored ranking ≡ live q96") {
    import graft.operators.Retrieval
    val root = tmpDir("graft_artifacts_bm25")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val isBench = pmod(col("doc_id"), lit(50L)) === 7
    val corpus = docs.filter(!isBench)
    val queries = docs.filter(isBench)
    val live = Retrieval.q96Bm25Topk(docs).collect()
    val b0 = Retrieval.indexBuilds.get()
    val idx = ArtifactStore.bm25IndexOrBuild(root, corpus) // may build
    val built = Retrieval.indexBuilds.get()
    assert(built === b0 + 1)
    assert(ArtifactStore.listArtifacts(spark, root).exists(_._1 == "bm25_index"))
    // second call serves parquet without re-tokenizing the corpus
    val idx2 = ArtifactStore.bm25IndexOrBuild(root, corpus)
    assert(Retrieval.indexBuilds.get() === built, "load must not rebuild")
    val stored = Retrieval.topkFromIndex(idx2, queries).collect()
    assert(stored.toSeq === live.toSeq,
      "artifact-served ranking must be bit-identical to the live query")
  }

  test("q94 ivf-pq composes BOTH persisted artifacts cold, retraining nothing") {
    val root = tmpDir("graft_artifacts_ivfpq")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // persist both halves of the index once (may train here)
    ArtifactStore.centroidsOrTrain(root, emb)
    ArtifactStore.pqCodebooksOrTrain(root, emb)
    // cold path: same bytes, new path → the JVM memos miss, so serving
    // without training is attributable to the store alone
    val embCopy = spark.read.parquet(copyTable("embeddings"))
    val (k0, p0) = (Kmeans.trainRuns.get(), Pq.trainRuns.get())
    ArtifactStore.centroidsOrTrain(root, embCopy)
    ArtifactStore.pqCodebooksOrTrain(root, embCopy)
    assert(Kmeans.trainRuns.get() === k0, "centroids must load, not retrain")
    assert(Pq.trainRuns.get() === p0, "codebooks must load, not retrain")
    val out = Pq.q94IvfPqRecall(embCopy).collect()
    assert(Kmeans.trainRuns.get() === k0 && Pq.trainRuns.get() === p0,
      "q94 must compose the loaded artifacts, not retrain either half")
    assert(out.nonEmpty)
    val n = embCopy.count()
    out.foreach { r =>
      // pruning is real: the ADC scan touched a strict subset
      assert(r.getLong(1) > 0 && r.getLong(1) < n, s"n_cand for qid ${r.getLong(0)}")
      // exact re-rank of an ADC-superset shortlist can only help:
      // any exact-top-k member in the shortlist survives the re-rank
      assert(r.getDouble(5) >= r.getDouble(3),
        s"recall_rr < recall_adc for qid ${r.getLong(0)}")
    }
  }

  // ---- the commit rule, store by store ---------------------------------

  /** One store under the commit rule. `build` commits state under a root
    * and re-creates the leftovers a crash would leave (`shadowed`, what
    * gc must collect); `uncommitted` children are written without a
    * marker, numbered above the newest committed ones; `kept` must
    * survive gc; `reads` is every read the store serves. Paths are
    * relative to the root. */
  private case class RuleCase(store: String,
                              empty: Seq[Any],
                              build: String => Unit,
                              uncommitted: Seq[String],
                              shadowed: Seq[String],
                              kept: Seq[String],
                              reads: String => Seq[Any],
                              gc: String => Long)

  private def ids(from: Long, to: Long): DataFrame =
    spark.range(from, to + 1).toDF("doc_id")

  private def rows(df: Option[DataFrame]): Option[Set[Long]] =
    df.map(_.collect().map(_.getLong(0)).toSet)

  private def hfs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A child as a crash leaves it: data written, marker never. */
  private def writeUncommitted(p: String): Unit = {
    ids(1, 1).write.mode("overwrite").parquet(p)
    hfs(p).delete(new Path(p, "_SUCCESS"), false)
  }

  private val ruleCases: Seq[RuleCase] = Seq(
    RuleCase("IngestStateStore",
      empty = Seq(0L, None, None, None, 0L),
      build = { root =>
        val st = ArtifactStore.ingestState(spark, root, "s")
        st.appendTickAt(1, ids(1, 3))
        st.appendTickAt(2, ids(4, 5))
        st.compact()
        st.appendTickAt(3, ids(6, 6))
        // an interrupted compaction's delete phase: a committed tick and
        // a half-written generation, both below the committed gen=2
        st.appendTickAt(1, ids(1, 3))
        writeUncommitted(s"$root/ingest_state/s/gen=1")
      },
      uncommitted = Seq("ingest_state/s/tick=4", "ingest_state/s/gen=5"),
      shadowed = Seq("ingest_state/s/tick=1", "ingest_state/s/gen=1"),
      kept = Seq("ingest_state/s/gen=2", "ingest_state/s/tick=3",
        "ingest_state/s/tick=4", "ingest_state/s/gen=5"),
      reads = { root =>
        val st = ArtifactStore.ingestState(spark, root, "s")
        Seq(st.maxTick, rows(st.current()), rows(st.currentUpTo(3)),
          rows(st.currentBelow(3)), st.dataFileCount)
      },
      gc = root => ArtifactStore.ingestState(spark, root, "s").gc()),
    RuleCase("ModelStore",
      empty = Seq(0L, None),
      build = { root =>
        val m = ArtifactStore.modelStore(spark, root, "m")
        Seq(1L, 2L).foreach { g =>
          m.writeGenData(g, ids(1, 3), Seq.fill(7)(g.toDouble))
          m.commitGeneration(g)
        }
      },
      uncommitted = Seq("model_store/m/g=3"),
      shadowed = Seq("model_store/m/g=1"),
      kept = Seq("model_store/m/g=2", "model_store/m/g=3"),
      reads = { root =>
        val m = ArtifactStore.modelStore(spark, root, "m")
        Seq(m.generation, Try(m.servingWeights()).toOption)
      },
      gc = root => ArtifactStore.modelStore(spark, root, "m").gc()),
    RuleCase("IvfPqIncrementalIndex generations",
      empty = Seq(1L, 0L),
      build = { root =>
        val idx = ArtifactStore.ivfPqIncremental(spark, root, "ann")
        Seq("ann/ivfpq_codes", "ann/g2/ivfpq_codes", "ann/g3/ivfpq_codes")
          .foreach(n => ArtifactStore.ingestState(spark, root, n)
            .appendTickAt(1, ids(1, 2)))
        idx.commitGeneration(2)
        idx.commitGeneration(3)
      },
      uncommitted = Seq("ingest_state/ann/ivfpq_generation/g=4"),
      shadowed = Seq("ingest_state/ann/ivfpq_codes", "ingest_state/ann/g2",
        "ingest_state/ann/ivfpq_generation/g=2"),
      kept = Seq("ingest_state/ann/g3", "ingest_state/ann/ivfpq_generation/g=3",
        "ingest_state/ann/ivfpq_generation/g=4"),
      reads = { root =>
        val idx = ArtifactStore.ivfPqIncremental(spark, root, "ann")
        Seq(idx.generation, idx.store.maxTick)
      },
      gc = root => ArtifactStore.ivfPqIncremental(spark, root, "ann").gc()),
    // a served epoch's gc also takes its uncommitted revisions: a
    // revision is never resumed, the next write numbers past it
    RuleCase("PackedExportStore revisions",
      empty = Seq(Nil, 0L, Nil),
      build = { root =>
        val ex = ArtifactStore.packedExport(spark, root, "ex")
        ex.appendEmptyEpochAt(1)
        ex.appendEmptyEpochAt(2)
        ex.appendEmptyEpochAt(2)
        // the superseded committed rev whose delete a crash interrupted
        ids(1, 1).write.mode("overwrite")
          .parquet(s"$root/export_state/ex/tick=2/rev=1")
      },
      uncommitted = Seq("export_state/ex/tick=1/rev=5",
        "export_state/ex/tick=3/rev=1"),
      shadowed = Seq("export_state/ex/tick=2/rev=1",
        "export_state/ex/tick=1/rev=5"),
      kept = Seq("export_state/ex/tick=1/rev=1", "export_state/ex/tick=2/rev=2",
        "export_state/ex/tick=3/rev=1"),
      reads = { root =>
        val ex = ArtifactStore.packedExport(spark, root, "ex")
        Seq(ex.ticks, ex.maxTick, ex.servingRevisions)
      },
      gc = root => ArtifactStore.packedExport(spark, root, "ex").gc()),
    RuleCase("ConsumptionStore manifest",
      empty = Seq(None),
      build = { root =>
        val s = spark
        import s.implicits._
        Seq("j1", "j2").zipWithIndex.foreach { case (j, i) =>
          Seq(("jobrow", j, 1L, 1L)).toDF("kind", "job_id", "tick", "rev")
            .write.mode("overwrite")
            .parquet(s"$root/consumption/c/manifest_v/rev=${i + 1}")
        }
      },
      uncommitted = Seq("consumption/c/manifest_v/rev=3"),
      shadowed = Seq("consumption/c/manifest_v/rev=1",
        "consumption/c/manifest_v/rev=3"),
      kept = Seq("consumption/c/manifest_v/rev=2"),
      reads = { root =>
        val c = ArtifactStore.consumption(spark, root, "c")
        Seq(Try(c.jobs().collect().map(_.getAs[String]("job_id")).toSet).toOption)
      },
      gc = root => ArtifactStore.consumption(spark, root, "c").gc()))

  test("commit rule, every store: a missing root reads as empty; an uncommitted child above the newest committed one is invisible; gc collects exactly the shadowed dirs") {
    ruleCases.foreach { c =>
      val root = tmpDir("graft_commit_rule")
      def there(rel: String) = hfs(root).exists(new Path(s"$root/$rel"))
      assert(c.reads(root) === c.empty, s"${c.store}: a missing root reads as empty")
      assert(c.gc(root) === 0L, s"${c.store}: a missing root collects nothing")
      c.build(root)
      val committed = c.reads(root)
      c.uncommitted.foreach(p => writeUncommitted(s"$root/$p"))
      assert(c.reads(root) === committed,
        s"${c.store}: an uncommitted child changed a read")
      assert(c.gc(root) > 0L, s"${c.store}: gc freed nothing")
      assert(c.shadowed.filter(there).isEmpty, s"${c.store}: shadowed dirs survived gc")
      assert(c.kept.filterNot(there).isEmpty, s"${c.store}: gc took a live or uncommitted dir")
      assert(c.reads(root) === committed, s"${c.store}: gc changed a read")
      assert(c.gc(root) === 0L, s"${c.store}: a second gc found more")
    }
  }

  test("the commit rule lives in ArtifactStore's filesystem plumbing: no other main source names the marker, measures a tree or lists a directory") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"run from the project root: $src")
    val banned = Seq("_SUCCESS", "getContentSummary", "listStatus")
    // code only: comment lines and trailing comments are dropped
    def code(f: java.nio.file.Path): Seq[(String, Int)] =
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.map { case (l, i) =>
        val t = l.trim
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ("", i + 1)
        else (l.split(" // ").head, i + 1)
      }
    val home = src.resolve("graft/io/ArtifactStore.scala")
    val files = Files.walk(src).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val outside = for {
      f <- files if f != home
      (l, n) <- code(f)
      b <- banned if l.contains(b)
    } yield s"$f:$n names $b"
    assert(outside.isEmpty, outside.mkString("\n"))
    // inside its file, each one sits in the plumbing section only
    val raw = Files.readAllLines(home).asScala.toSeq
    val from = raw.indexWhere(_.contains("// ---- filesystem plumbing"))
    val until = raw.indexWhere(_.contains("// ---- BPE merge tables"))
    val lines = code(home)
    assert(from >= 0 && until > from)
    val stray = lines.zipWithIndex.collect {
      case ((l, n), i) if (i < from || i > until) && banned.exists(l.contains) => n
    }
    assert(stray.isEmpty, s"ArtifactStore.scala lines $stray outside the plumbing")
  }
}
