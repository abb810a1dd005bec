package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Fuzzy, Kmeans, Pq, Provenance, QualityModel, StageStore}

/** Versioned persistence for LEARNED artifacts — the piece that turns
  * the per-JVM trainers into something a multi-job deployment operates.
  * At 100 TB you train a tokenizer / coarse quantizer / dedup state
  * ONCE and ship the artifact with the corpus manifest; re-deriving it
  * per process (the round-7 memoization) is correct but wasteful, and
  * worse, two jobs training on different corpus snapshots silently
  * disagree. Here every artifact is keyed by a CONTENT fingerprint of
  * its training corpus (the q70 manifest machinery reduced to one
  * 60-bit key) plus its hyperparameters, so:
  *  - train-or-load is a pure cache: same corpus + same knobs → the
  *    artifact IS the training result (specs pin bit-identity);
  *  - a changed corpus gets a new key — stale artifacts can never be
  *    served for fresh data (the failure mode path-keyed caches have);
  *  - old versions remain on disk; the store's listing is itself a
  *    table, so artifact evolution is manifest-diffable with the same
  *    q75 machinery as the corpus (ArtifactStoreSpec demonstrates).
  *
  * All filesystem access goes through Hadoop's FileSystem API — the
  * store works unchanged against HDFS/S3A object stores, not just
  * local disk. Every store here and in PackedExport.scala commits by
  * the one rule this object's filesystem plumbing defines. Loads read O(artifact) rows (20 merges, k×dim
  * centroids); only the corpus-hash state stays a DataFrame (it is
  * ~N rows of 8-byte hashes and must never be collected).
  *
  * No reference analogue (the reference retrains nothing —
  * `crypto_etl_pipeline.py` is stateless per run); this is
  * beyond-reference deployment infrastructure for the learned
  * operators (q35/q67/q69 BPE, q30/q54/q62 IVF, q73 admission).
  */
object ArtifactStore {

  val DefaultBuckets = 64

  /** 60-bit hex content fingerprint: the O(buckets) manifest
    * (count + XOR-signature per id-bucket, the q70 shape) canonicalized
    * to a string and hashed once more. Collected rows = `buckets`,
    * independent of corpus size. */
  def fingerprint(df: DataFrame, idCol: String, content: Column,
                  buckets: Int = DefaultBuckets): String = {
    val rows = df
      .select(pmod(col(idCol), lit(buckets.toLong)).as("bucket"),
        Provenance.contentHash60(concat_ws("|", col(idCol), content)).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("sig"))
      .orderBy("bucket")
      .collect()
    val canon = rows.map(r =>
      s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}").mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(canon.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  def documentsFingerprint(documents: DataFrame): String =
    fingerprint(documents, "doc_id", col("text"))

  /** Embedding fingerprint hashes the exact float array (cast to a
    * canonical string inside Spark) — engine-internal only, never
    * compared against the oracle. */
  def embeddingsFingerprint(embeddings: DataFrame): String =
    fingerprint(embeddings, "vec_id",
      concat_ws(",", col("embedding").cast("array<string>")))

  // ---- filesystem plumbing: the commit rule ---------------------------
  //
  // The one definition of what a store's directory means on disk:
  //  - a directory counts only once its `_SUCCESS` marker exists —
  //    Spark's writer creates it after the data, and [[commit]] writes
  //    it last for a directory a store assembles itself — so a killed
  //    half-write is invisible and its producer simply re-runs;
  //  - among `prefix=N` children the newest committed one serves;
  //  - whatever it shadows no read can pick, so it is collectable in
  //    any order ([[drop]]).
  // A store call lists its directory once ([[listing]]) and derives
  // every set it needs from that listing; nothing is cached across
  // calls.

  private[io] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Marker = "_SUCCESS"

  private def hasMarker(f: FileSystem, dir: Path): Boolean =
    f.exists(new Path(dir, Marker))

  /** Whether the directory at `path` is committed. */
  private[io] def exists(spark: SparkSession, path: String): Boolean =
    hasMarker(fs(spark, path), new Path(path))

  /** Commit the directory at `path`: its marker, written after
    * everything it covers. */
  private[io] def commit(spark: SparkSession, path: String): Unit =
    fs(spark, path).create(new Path(path, Marker), true).close()

  /** One listing of the child directories of `dir`; a missing `dir`
    * lists as empty. */
  private[io] def listing(spark: SparkSession, dir: String): Listing = {
    val f = fs(spark, dir)
    val dirs =
      try f.listStatus(new Path(dir)).toSeq.filter(_.isDirectory).map(_.getPath)
      catch { case _: FileNotFoundException => Seq.empty }
    new Listing(f, dir, dirs)
  }

  /** The child directories of one [[listing]]. A child's marker is
    * probed only when a caller asks whether it is committed. */
  private[io] final class Listing private[ArtifactStore] (
      f: FileSystem, dir: String, val dirs: Seq[Path]) {
    def committed(d: Path): Boolean = hasMarker(f, d)

    /** (N, path) of each `prefix=N` child, ascending by N; only the
      * committed ones when `committedOnly`. */
    def numbered(prefix: String, committedOnly: Boolean): Seq[(Long, String)] =
      dirs.filter(d => d.getName.startsWith(prefix) &&
          (!committedOnly || committed(d)))
        .map(d => (d.getName.stripPrefix(prefix).toLong, s"$dir/${d.getName}"))
        .sortBy(_._1)
  }

  /** The data files under `path` — every file whose name does not start
    * with `_` — listed lazily, recursing into subdirectories when
    * `recursive`. */
  private[io] def dataFiles(spark: SparkSession, path: String,
                            recursive: Boolean): Iterator[LocatedFileStatus] = {
    val it = fs(spark, path).listFiles(new Path(path), recursive)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filterNot(_.getPath.getName.startsWith("_"))
  }

  /** Delete each of `paths` with everything under it, skipping missing
    * ones; returns the bytes they held. */
  private[io] def drop(spark: SparkSession, paths: Seq[String]): Long =
    paths.map { p =>
      val f = fs(spark, p)
      val hp = new Path(p)
      try {
        val bytes = f.getContentSummary(hp).getLength
        f.delete(hp, true)
        bytes
      } catch { case _: FileNotFoundException => 0L }
    }.sum

  private def artifactPath(root: String, kind: String, key: String): String =
    s"$root/$kind/$key"

  /** Store listing as a table: (kind, key) per persisted artifact. */
  def listArtifacts(spark: SparkSession, root: String): Seq[(String, String)] =
    listing(spark, root).dirs.flatMap { kind =>
      val keys = listing(spark, kind.toString)
      keys.dirs.filter(keys.committed).map(k => (kind.getName, k.getName))
    }.sorted

  // ---- BPE merge tables ------------------------------------------------

  def bpeKey(fp: String, nMerges: Int, trainDocs: Long): String =
    s"fp${fp}_m${nMerges}_t$trainDocs"

  /** Train-or-load BPE merges. On load the merge table is ALSO seeded
    * into [[Bpe]]'s memo, so the normal q35/q67/q69 paths serve the
    * artifact for this corpus without retraining. */
  def bpeMergesOrTrain(root: String, documents: DataFrame,
                       nMerges: Int = Bpe.DefaultMerges,
                       trainDocs: Long = Bpe.DefaultTrainDocs): Seq[String] = {
    val spark = documents.sparkSession
    val path = artifactPath(root, "bpe_merges",
      bpeKey(documentsFingerprint(documents), nMerges, trainDocs))
    if (exists(spark, path)) {
      val ms = spark.read.parquet(path).orderBy("ord")
        .collect().map(_.getAs[String]("pair")).toSeq
      Bpe.preload(documents, ms, nMerges, trainDocs)
      ms
    } else {
      val ms = Bpe.merges(documents, nMerges, trainDocs)
      import spark.implicits._
      ms.zipWithIndex.map { case (p, i) => (i, p) }.toDF("ord", "pair")
        .coalesce(1).write.mode("overwrite").parquet(path)
      ms
    }
  }

  // ---- k-means centroid tables -----------------------------------------

  def kmeansKey(fp: String, k: Int, iters: Int, trainN: Int): String =
    s"fp${fp}_k${k}_i${iters}_n$trainN"

  /** Train-or-load IVF centroids; loads seed [[Kmeans]]'s memo so
    * q30/q54/q62 serve the artifact for this corpus. */
  def centroidsOrTrain(root: String, embeddings: DataFrame,
                       k: Int = Kmeans.DefaultK,
                       iters: Int = Kmeans.DefaultIters,
                       trainN: Int = Kmeans.DefaultTrainN): Seq[(Int, Seq[Double])] = {
    val spark = embeddings.sparkSession
    val path = artifactPath(root, "kmeans_centroids",
      kmeansKey(embeddingsFingerprint(embeddings), k, iters, trainN))
    if (exists(spark, path)) {
      val cents = spark.read.parquet(path).orderBy("cid")
        .collect().map(r => (r.getAs[Int]("cid"), r.getAs[Seq[Double]]("ce"))).toSeq
      Kmeans.preload(embeddings, cents, k, iters, trainN)
      cents
    } else {
      val cents = Kmeans.centroids(embeddings, k, iters, trainN)
      import spark.implicits._
      cents.toDF("cid", "ce").coalesce(1).write.mode("overwrite").parquet(path)
      cents
    }
  }

  // ---- PQ codebooks ----------------------------------------------------

  def pqKey(fp: String, m: Int, subDim: Int, kCb: Int, iters: Int,
            trainN: Int): String =
    s"fp${fp}_m${m}x${subDim}_k${kCb}_i${iters}_n$trainN"

  /** Train-or-load PQ codebooks; loads seed [[Pq]]'s memo so q87 (and
    * any ADC consumer) serves the artifact for this corpus. */
  def pqCodebooksOrTrain(root: String, embeddings: DataFrame,
                         m: Int = Pq.DefaultM, subDim: Int = Pq.DefaultSubDim,
                         kCb: Int = Pq.DefaultKCb, iters: Int = Pq.DefaultIters,
                         trainN: Int = Pq.DefaultTrainN): Seq[(Int, Int, Seq[Double])] = {
    val spark = embeddings.sparkSession
    val path = artifactPath(root, "pq_codebooks",
      pqKey(embeddingsFingerprint(embeddings), m, subDim, kCb, iters, trainN))
    if (exists(spark, path)) {
      val cb = spark.read.parquet(path).orderBy("sub", "cid")
        .collect().map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"),
          r.getAs[Seq[Double]]("ce"))).toSeq
      Pq.preload(embeddings, cb, m, subDim, kCb, iters, trainN)
      cb
    } else {
      val cb = Pq.codebooks(embeddings, m, subDim, kCb, iters, trainN)
      import spark.implicits._
      cb.toDF("sub", "cid", "ce").coalesce(1).write.mode("overwrite").parquet(path)
      cb
    }
  }

  def pqResKey(fp: String, nCentroids: Int, m: Int, subDim: Int, kCb: Int,
               iters: Int, trainN: Int): String =
    s"fp${fp}_c${nCentroids}_m${m}x${subDim}_k${kCb}_i${iters}_n$trainN"

  /** Train-or-load RESIDUAL PQ codebooks (q107, Jégou §V) — keyed
    * apart from the raw codebooks by the coarse-quantizer size, since
    * residuals are defined relative to those centroids. Loads seed the
    * tagged [[Pq]] memo so q107 serves the artifact. */
  def pqResidualCodebooksOrTrain(root: String, embeddings: DataFrame,
                                 nCentroids: Int = Kmeans.DefaultK,
                                 m: Int = Pq.DefaultM,
                                 subDim: Int = Pq.DefaultSubDim,
                                 kCb: Int = Pq.DefaultKCb,
                                 iters: Int = Pq.DefaultIters,
                                 trainN: Int = Pq.DefaultTrainN): Seq[(Int, Int, Seq[Double])] = {
    val spark = embeddings.sparkSession
    val path = artifactPath(root, "pq_res_codebooks",
      pqResKey(embeddingsFingerprint(embeddings), nCentroids, m, subDim,
        kCb, iters, trainN))
    if (exists(spark, path)) {
      val cb = spark.read.parquet(path).orderBy("sub", "cid")
        .collect().map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"),
          r.getAs[Seq[Double]]("ce"))).toSeq
      Pq.preloadResidual(embeddings, cb, nCentroids, m, subDim, kCb,
        iters, trainN)
      cb
    } else {
      val cb = Pq.residualCodebooks(embeddings, nCentroids, m, subDim,
        kCb, iters, trainN)
      import spark.implicits._
      cb.toDF("sub", "cid", "ce").coalesce(1).write.mode("overwrite").parquet(path)
      cb
    }
  }

  // ---- logistic-regression filter weights ------------------------------

  def logregKey(fp: String, iters: Int, trainN: Int,
                scope: String = ""): String =
    s"fp${fp}_i${iters}_n$trainN" +
      (if (scope.isEmpty) "" else s"_s$scope")

  /** Train-or-load the q101 learned-filter weights; loads seed
    * [[QualityModel]]'s memo so scoring paths serve the artifact.
    *
    * `scope` (review finding, r9): the content fingerprint covers the
    * TEXT of `documents`, but [[QualityModel]]'s in-JVM memo keys on
    * inputFiles — which a filtered SLICE shares with its full table. A
    * caller training on a slice (q103/q104's corpus-side model) MUST
    * name the slice here (e.g. "admission17"), or the slice-trained
    * weights would alias the whole-table model in the memo and poison
    * later q101 calls. Scoped weights persist under a scoped key, so
    * both models coexist in the store. */
  def logregOrTrain(root: String, documents: DataFrame,
                    iters: Int = QualityModel.DefaultIters,
                    trainN: Int = QualityModel.DefaultTrainN,
                    scope: String = ""): Seq[Double] = {
    val spark = documents.sparkSession
    val path = artifactPath(root, "logreg_weights",
      logregKey(documentsFingerprint(documents), iters, trainN, scope))
    if (exists(spark, path)) {
      val w = spark.read.parquet(path).orderBy("j")
        .collect().map(_.getAs[Double]("w")).toSeq
      QualityModel.preload(documents, w, iters, trainN, scope)
      w
    } else {
      val w = QualityModel.weights(documents, iters, trainN, scope)
      import spark.implicits._
      w.zipWithIndex.map { case (v, j) => (j, v) }.toDF("j", "w")
        .coalesce(1).write.mode("overwrite").parquet(path)
      w
    }
  }

  // ---- BM25 inverted index ---------------------------------------------

  /** Build-or-load the q96 inverted-index relations (tf / dl /
    * df+stats) — retrieval's corpus state, the q73-hash-state argument
    * applied to an index: the corpus text is tokenized ONCE per
    * snapshot and every query tick probes parquet. Distributed like the
    * hash state (tf is O(corpus tokens)); the three frames land under
    * one artifact key as sibling `_SUCCESS`-gated dirs, and a key is
    * served only when all three committed (a kill between sub-writes
    * leaves an invisible, rebuilt artifact). */
  def bm25IndexOrBuild(root: String,
                       corpusDocs: DataFrame): graft.operators.Retrieval.Bm25Index = {
    val spark = corpusDocs.sparkSession
    val base = artifactPath(root, "bm25_index",
      s"fp${documentsFingerprint(corpusDocs)}")
    if (!exists(spark, base)) {
      // tokenize ONCE (r9 review): only the tf plan executes against
      // the corpus text; dl and df re-derive from the tf PARQUET
      // (dl = Σ tf per doc — every bigram occurrence is a tf count —
      // and df = term row count), so the explode-bigrams scan runs
      // one time, not once per sub-relation
      val idx = graft.operators.Retrieval.index(corpusDocs)
      idx.tf.write.mode("overwrite").parquet(s"$base/tf")
      val tfBack = spark.read.parquet(s"$base/tf")
      tfBack.groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.mode("overwrite").parquet(s"$base/dl")
      val dlBack = spark.read.parquet(s"$base/dl")
      val stats = dlBack.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
      tfBack.groupBy("t").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .write.mode("overwrite").parquet(s"$base/df")
      // key-level marker LAST: the artifact (and its listing entry)
      // exists only once all three sub-relations committed
      commit(spark, base)
    }
    graft.operators.Retrieval.Bm25Index(
      spark.read.parquet(s"$base/tf"), spark.read.parquet(s"$base/dl"),
      spark.read.parquet(s"$base/df"))
  }

  // ---- the two maintained-state shapes ---------------------------------

  /** A TOMBSTONE LINEAGE: the `key` ids appended to `tombs` are retracted
    * from every store read through it. A takedown is one tick-keyed
    * tombstone append ([[retractAt]]); every read anti-joins the
    * tombstones ([[resolve]]), so no data row is rewritten for a
    * retraction to take effect, and [[fold]] bakes the tombstones into
    * the stores' generations and clears them. The one definition of that
    * decision for the ingest loop's corpus lineage, the eval leg's
    * withdrawals, and the BM25 and IVF-PQ indexes' own tombstones. */
  final case class Lineage(tombs: IngestStateStore, key: String) {

    /** `df` minus the rows whose `key` is tombstoned at a tick below
      * `below` (every tombstone by default). */
    def resolve(df: DataFrame, below: Long = Long.MaxValue): DataFrame =
      Lineage.minus(df, tombs.currentBelow(below), key)

    /** Tombstone `ids` (a `key` column) at tick `t` — an idempotent
      * overwrite, so a replayed takedown rewrites its own tick. */
    def retractAt(t: Long, ids: DataFrame): Unit =
      tombs.appendTickAt(t, ids.select(key))

    /** Fold every store through [[resolve]] into its generation, then
      * clear the tombstones — only when tombstones exist and EVERY store
      * is folded through them. The folds run as concurrent branches
      * ([[graft.operators.Materialize.branches]]): each rewrites its own
      * store, and the tombstones are cleared only after every branch
      * returned its count, so a failed fold leaves any subset of the
      * stores folded and the tombstones in place. A skipped fold (the
      * store is already one generation) counts only when that
      * generation covers the newest tombstone tick: at a quiesce point a
      * later takedown tombstones at a later tick, so such a generation
      * was folded through every tombstone — the re-run of a failed fold
      * finds the stores that did fold this way. Otherwise it keeps them;
      * reads resolve either way, so a crash anywhere here changes no
      * read. Folding a subset and clearing would resurface the retracted
      * rows of the stores left out, so `stores` must be every store read
      * through this lineage. Returns each store's output partition count
      * (0 = skipped). */
    def fold(stores: Seq[IngestStateStore]): Seq[Int] = {
      val upTo = tombs.maxTick
      val folded = graft.operators.Materialize.branches(tombs.spark,
        stores.map(s => () => s.compactWith(df => resolve(df))))
      if (upTo > 0 && stores.zip(folded).forall { case (s, n) =>
          n > 0 || s.maxTick >= upTo }) tombs.reset()
      folded
    }
  }

  object Lineage {
    /** THE tombstone anti-join: `df` minus the rows whose `key` is in
      * `ids`. */
    private[io] def minus(df: DataFrame, ids: Option[DataFrame],
                          key: String): DataFrame =
      ids.fold(df)(tb =>
        df.join(tb.select(key).distinct(), Seq(key), "left_anti"))
  }

  /** What an ingest loop's tick advances besides its dedup stores: an
    * index's tick-keyed `store` (its place in the tick agreement), its
    * compaction, its gc, and its write at a takedown tick. */
  trait MaintainedIndex {
    def store: IngestStateStore
    def compact(): Int
    def gc(): Long

    /** The takedown tick's write: an empty tick — a doc-keyed index
      * retracts through its tombstone lineage, not by a data write. */
    private[io] def takedownAt(t: Long, docs: => DataFrame): Unit =
      store.emptyTickAt(t)
  }

  /** A SIGNED index: per-`keys` sums of an `increment` that is additive
    * per document (a doc is admitted in exactly one tick, so the
    * corpus-global value is the sum of the per-tick increments). Its
    * rows carry no doc_id for a tombstone to anti-join, so a takedown
    * SUBTRACTS: [[retractDocsAt]] appends the docs' increment with every
    * value (non-key) column negated, which restores the merged sums to
    * what a recount without the docs gives. [[read]] is one `groupBy`
    * sum; [[compact]] folds the increments to one row per key and drops
    * the rows whose values all summed to zero (reads never need the
    * drop, so a crash mid-fold changes no read). Callers must not
    * retract a doc twice: [[IngestLoop.retractTick]] subtracts only docs
    * live in the loop state. The gram census
    * ([[graft.operators.SubstringDedup.Census]]) and the domain mix
    * ([[MixCounts]]) are this shape. */
  final class SignedIndex[+F <: DataFrame => DataFrame](
      val store: IngestStateStore, keys: Seq[String], val increment: F)
      extends MaintainedIndex {

    /** Append one batch's increment at tick `t` (tick 1 is the bootstrap
      * corpus) — an idempotent overwrite, so a replayed tick rewrites
      * its own increment. */
    def appendDocsAt(t: Long, docs: DataFrame): Unit =
      store.appendTickAt(t, increment(docs))

    /** IDEMPOTENT tick-1 bootstrap: a retried bootstrap overwrites
      * tick 1. */
    def bootstrap(corpusDocs: DataFrame): Unit = appendDocsAt(1, corpusDocs)

    /** Subtract `docs` (their text/source — whatever the increment
      * reads) at tick `t`; tick-keyed, so a replayed takedown
      * overwrites its own negative increment. */
    def retractDocsAt(t: Long, docs: DataFrame): Unit =
      store.appendTickAt(t, SignedIndex.negated(increment(docs), keys))

    /** The merged sums over everything appended. */
    def read(): DataFrame = merged(store.current().getOrElse(
      sys.error("signed index is empty: append a corpus first")))

    private def merged(df: DataFrame): DataFrame = {
      val sums = df.columns.filterNot(keys.contains).map(c => sum(c).as(c))
      df.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    }

    def compact(): Int = store.compactWith { df =>
      merged(df).filter(df.columns.filterNot(keys.contains)
        .map(c => col(c) =!= 0).reduce(_ || _))
    }

    def gc(): Long = store.gc()

    override private[io] def takedownAt(t: Long, docs: => DataFrame): Unit =
      retractDocsAt(t, docs)
  }

  object SignedIndex {
    /** `inc` with every non-key column negated — a retraction's
      * increment. */
    def negated(inc: DataFrame, keys: Seq[String]): DataFrame =
      inc.select(inc.columns.map(c =>
        if (keys.contains(c)) col(c) else (-col(c)).as(c)): _*)
  }

  /** The domain mix's increment: per-source doc counts
    * (source, n_docs). */
  object MixCounts extends (DataFrame => DataFrame) {
    def apply(docs: DataFrame): DataFrame =
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
  }

  /** The corpus-global k-gram census (h, exact_df_docs, n_occ) feeding
    * the q90 boilerplate winners
    * ([[graft.operators.SubstringDedup.winnersFromCensus]]) and the
    * q86/q91/q95 duplicated-gram statistics (rows with df ≥ 2) — old
    * text is never re-mined (SubstringDedupSpec pins winners ≡ full
    * re-mine with the census counter showing one pass per batch). Its
    * gram size is its increment's `k`, and only there. */
  type GramCensus = SignedIndex[graft.operators.SubstringDedup.Census]

  def gramCensusIncremental(spark: SparkSession, root: String, name: String,
                            k: Int = graft.operators.SubstringDedup.DefaultK)
      : GramCensus =
    new SignedIndex(ingestState(spark, root, s"$name/gram_census"), Seq("h"),
      graft.operators.SubstringDedup.Census(k))

  /** The DOMAIN-MIX state of an ingest loop — the store form behind
    * [[graft.operators.Provenance.q127MixtureRebalance]]: per-source
    * (source, n_docs) counts per tick, the smallest state family in the
    * loop. The q97 temperature rates re-derive from [[SignedIndex.read]]
    * ([[graft.operators.Curate.temperatureRates]]) without recounting
    * old ticks. */
  type DomainMix = SignedIndex[MixCounts.type]

  def mixIncremental(spark: SparkSession, root: String,
                     name: String): DomainMix =
    new SignedIndex(ingestState(spark, root, s"$name/mix"), Seq("source"),
      MixCounts)

  // ---- incremental BM25 index (tick-maintained postings) ---------------

  /** INCREMENTAL BM25 index maintenance (r9 verdict item 2):
    * [[bm25IndexOrBuild]] keys the whole index on the full-corpus
    * fingerprint, so ONE admitted document forces a complete
    * re-tokenize of the corpus — wrong for a deployment that both
    * ingests and serves retrieval. Here the tf relation (the only
    * text-derived state) lives in an [[IngestStateStore]]: bootstrap
    * tokenizes the corpus once, every ingest tick appends ONLY its
    * admitted docs' postings
    * ([[graft.operators.Retrieval.tfOf]]), and dl / df / stats
    * re-derive from the accumulated tf at query time — valid because
    * all three are per-key SUMS/COUNTS over tf rows, and a doc's rows
    * land exactly once whichever tick carried it. Generational
    * compaction bounds the tick-file count exactly as for the dedup
    * state; crash discipline is the store's.
    *
    * Bm25IncrementalSpec pins: stored ranking ≡ full-rebuild ranking
    * after N ticks + a compaction, with the tokenize counter showing
    * one pass per batch and ZERO re-tokenizes of old ticks.
    *
    * Scale shape: a tick's cost is tokenizing the tick (tf rows
    * shuffle on (doc_id, t) within the tick only) + one small parquet
    * append; the accumulated tf is probed like any posting table. The
    * df/stats re-derivation is one pass over tf PARQUET — O(postings),
    * no text; a serving deployment caches it per generation. */
  final class Bm25IncrementalIndex(spark: SparkSession, root: String,
                                   name: String) extends MaintainedIndex {
    val store: IngestStateStore = ingestState(spark, root, s"$name/bm25_tf")

    /** doc_id tombstones (r10 verdict item 1 — the retraction leg):
      * retracted docs' postings leave every read, so df/dl/avgdl —
      * re-derived from the resolved tf by [[index]] — are exact for the
      * remaining corpus with NO decrement machinery; [[compact]] folds
      * the tombstones into the generation and clears them. */
    val lineage: Lineage =
      Lineage(ingestState(spark, root, s"$name/bm25_tombs"), "doc_id")

    /** Retract docs (a `doc_id` column) from the served index — a
      * takedown-sized tombstone append, tick-keyed so a replayed
      * takedown overwrites its own tombstone tick. */
    def retractDocsAt(t: Long, docIds: DataFrame): Unit =
      lineage.retractAt(t, docIds)

    /** IDEMPOTENT tick-1 bootstrap (mirrors [[IngestLoop.bootstrap]]):
      * a re-run after a crash overwrites the same tick-1 directory
      * instead of appending a duplicate posting copy. */
    def bootstrap(corpusDocs: DataFrame): Unit =
      appendDocsAt(1, corpusDocs)

    /** Tokenize + append one batch's postings at tick `t` (tick 1 is
      * the bootstrap corpus, later ticks are admitted ingest batches) —
      * an idempotent overwrite, so a crashed/replayed tick rewrites its
      * own postings instead of appending a duplicate copy. */
    def appendDocsAt(t: Long, docs: DataFrame): Unit =
      store.appendTickAt(t, graft.operators.Retrieval.tfOf(docs))

    /** The index over everything appended so far MINUS retracted docs
      * — tf from parquet, dl/df/stats derived, text untouched. */
    def index(): graft.operators.Retrieval.Bm25Index =
      graft.operators.Retrieval.indexFromTf(lineage.resolve(
        store.current().getOrElse(
          sys.error("incremental BM25 index is empty: append a corpus first"))))

    def compact(): Int = lineage.fold(Seq(store)).head

    def gc(): Long = store.gc() + lineage.tombs.gc()
  }

  def bm25Incremental(spark: SparkSession, root: String,
                      name: String): Bm25IncrementalIndex =
    new Bm25IncrementalIndex(spark, root, name)

  // ---- incremental IVF-PQ index (tick-maintained ANN codes) ------------

  /** INCREMENTAL ANN index maintenance — the vector twin of
    * [[Bm25IncrementalIndex]] (the r9 verdict's "incremental index
    * maintenance" loop, closed for both retrieval modalities): the
    * (vec_id, cid, sub, code) rows live in an [[IngestStateStore]];
    * each ingest tick encodes ONLY its admitted vectors under the
    * FROZEN coarse-quantizer + residual-codebook artifacts
    * ([[graft.operators.Pq.residualCodes]] — nothing retrains, the
    * production IVFADC serving posture) and appends them; a query
    * probes the accumulated codes exactly as q107 scans its own.
    * Generational compaction bounds the tick-file count; crash
    * discipline is the store's. PqSpec pins tick-appended codes
    * BIT-EQUAL to a full re-encode of the union corpus (from which
    * search equality follows — the scan is a pure function of the
    * code rows), across a compaction, with zero training runs. */
  final class IvfPqIncrementalIndex(spark: SparkSession, root: String,
                                    name: String) extends MaintainedIndex {
    // ---- generations (q122's deployment form) ------------------------
    // A RECLUSTER swaps the whole index to retrained artifacts: new
    // codes re-encoded from raw vectors land under generation g+1's
    // OWN stores (codes + tombstones + the serving artifact tables),
    // and the swap commits by writing the generation marker LAST —
    // readers resolve the max committed marker, so a crash anywhere
    // mid-build leaves generation g serving exactly as before and a
    // re-run overwrites the partial build idempotently (tick-1-keyed).
    // Generation 1 is the legacy layout (no marker, no g-dir) so the
    // pre-recluster behavior and on-disk shape are unchanged.
    private val genMarkBase = s"$root/ingest_state/$name/ivfpq_generation"

    private def generationIn(marks: Listing): Long =
      marks.numbered("g=", committedOnly = true).lastOption.fold(1L)(_._1)

    /** Max committed generation marker; 1 before any recluster. */
    def generation: Long = generationIn(listing(spark, genMarkBase))

    private def storeName(kind: String, g: Long): String =
      if (g <= 1L) s"$name/ivfpq_$kind" else s"$name/g$g/ivfpq_$kind"

    /** The serving generation's code rows. */
    def store: IngestStateStore =
      ingestState(spark, root, storeName("codes", generation))

    /** The serving generation's vec_id tombstones — the
      * [[Bm25IncrementalIndex.lineage]] contract on the vector leg:
      * retracted vectors' code rows leave every [[codes]] read;
      * [[compact]] folds and clears. Per-generation: a recluster's
      * re-encode excludes tombstoned vectors at build time, so the new
      * generation starts with an empty tombstone store. */
    def lineage: Lineage =
      Lineage(ingestState(spark, root, storeName("tombs", generation)), "vec_id")

    /** The serving artifact tables (coarse centroids, residual
      * codebooks) a post-recluster generation was built under — what
      * subsequent [[appendVectorsAt]] calls must encode with. None for
      * generation 1 (the caller owns the bootstrap artifacts). */
    def servingArtifacts(): Option[(DataFrame, DataFrame)] = {
      val g = generation
      if (g <= 1L) None
      else Some((
        spark.read.parquet(s"$root/ingest_state/${storeName("cents", g)}"),
        spark.read.parquet(s"$root/ingest_state/${storeName("rcb", g)}")))
    }

    /** Build generation `generation + 1` WITHOUT committing it — the
      * crash-injection seam ([[recluster]] = this + commit). Re-encodes
      * every live vector (raws anti-joined against the CURRENT
      * generation's tombstones) under the retrained artifacts and
      * persists artifacts + codes under the new generation's stores. */
    private[graft] def buildNextGeneration(vectors: DataFrame,
                                           cents: DataFrame, rcb: DataFrame,
                                           m: Int = Pq.DefaultM,
                                           subDim: Int = Pq.DefaultSubDim,
                                           baseTick: Long = 1L): Long = {
      val g = generation + 1
      val live = lineage.resolve(vectors)
      cents.write.mode("overwrite")
        .parquet(s"$root/ingest_state/${storeName("cents", g)}")
      rcb.write.mode("overwrite")
        .parquet(s"$root/ingest_state/${storeName("rcb", g)}")
      val st = ingestState(spark, root, storeName("codes", g))
      val codes = graft.operators.Pq.residualCodes(live, cents, rcb, m, subDim)
      // baseTick > 1: the re-encode claims coverage of loop ticks
      // 1..baseTick (gen-base layout), so when this index rides an
      // IngestLoop tick agreement ([[IngestLoop.AnnLeg]]) a recluster
      // between loop ticks leaves maxTick aligned with the dedup
      // stores instead of resetting to 1 — the next loop tick appends
      // contiguously at baseTick+1 and the coverage guard holds.
      if (baseTick <= 1L) st.appendTickAt(1, codes)
      else st.writeGenerationAt(baseTick, codes)
      g
    }

    private[graft] def commitGeneration(g: Long): Unit =
      commit(spark, s"$genMarkBase/g=$g")

    /** The q122 deployment form: swap the index to retrained artifacts.
      * Marker-last crash discipline — until [[commitGeneration]] runs,
      * every reader (codes/search/append/retract) still resolves the
      * old generation; a re-run after a crash rebuilds the partial
      * generation idempotently (tick-1 overwrite + artifact overwrite).
      * Returns the new generation number. */
    def recluster(vectors: DataFrame, cents: DataFrame, rcb: DataFrame,
                  m: Int = Pq.DefaultM,
                  subDim: Int = Pq.DefaultSubDim,
                  baseTick: Long = 1L): Long = {
      val g = buildNextGeneration(vectors, cents, rcb, m, subDim, baseTick)
      commitGeneration(g)
      g
    }

    def retractVectorsAt(t: Long, vecIds: DataFrame): Unit =
      lineage.retractAt(t, vecIds)

    /** Encode + append one batch of admitted vectors under the frozen
      * artifact tables at tick `t` (tick 1 is the bootstrap corpus) —
      * the [[Bm25IncrementalIndex]] idempotent replay form. */
    def appendVectorsAt(t: Long, vectors: DataFrame, cents: DataFrame,
                        rcb: DataFrame, m: Int = Pq.DefaultM,
                        subDim: Int = Pq.DefaultSubDim): Unit =
      store.appendTickAt(t,
        graft.operators.Pq.residualCodes(vectors, cents, rcb, m, subDim))

    /** IDEMPOTENT tick-1 bootstrap (mirrors [[IngestLoop.bootstrap]]):
      * a crashed-then-re-run bootstrap overwrites tick 1 instead of
      * appending a duplicate copy of the corpus codes. */
    def bootstrap(vectors: DataFrame, cents: DataFrame, rcb: DataFrame,
                  m: Int = Pq.DefaultM,
                  subDim: Int = Pq.DefaultSubDim): Unit =
      appendVectorsAt(1, vectors, cents, rcb, m, subDim)

    /** Every code row appended so far MINUS retracted vectors — the
      * relation an IVF-PQ scan probes (cluster-pruned by `cid`, ADC
      * over `(sub, code)`). */
    def codes(): DataFrame = lineage.resolve(store.current().getOrElse(
      sys.error("incremental IVF-PQ index is empty: append a corpus first")))

    def compact(): Int = lineage.fold(Seq(store)).head

    /** GC strictly-shadowed GENERATIONS (r11 verdict item 7): once a
      * committed marker for generation g exists, every reader —
      * codes/search/append/retract — resolves g, so older generations'
      * store trees (including the legacy generation-1 layout) and
      * superseded markers are unreachable; a re-resolve can never pick
      * them, so deletion order is irrelevant and an interrupted gc
      * re-runs safely. The NEXT recluster still numbers g+1 (the max
      * committed marker survives). Quiesce points only. Returns bytes
      * freed. */
    def gc(): Long = {
      val marks = listing(spark, genMarkBase)
      val g = generationIn(marks)
      if (g <= 1L) return 0L
      val genTrees = (2L until g).map(og => s"$root/ingest_state/$name/g$og")
      val legacy = Seq("codes", "tombs")
        .map(kind => s"$root/ingest_state/$name/ivfpq_$kind")
      val markers = marks.numbered("g=", committedOnly = false)
        .filter(_._1 < g).map(_._2)
      drop(spark, genTrees ++ legacy ++ markers)
    }
  }

  def ivfPqIncremental(spark: SparkSession, root: String,
                       name: String): IvfPqIncrementalIndex =
    new IvfPqIncrementalIndex(spark, root, name)

  // ---- serving quality model with unlearning (q128) ---------------------

  /** The SERVING quality model as a state family with a takedown leg —
    * q128's deployment form. Append-era stores solved "retract the
    * doc's rows"; the model is different: a retracted doc's influence
    * is a GRADIENT, removable only by retraining without it. Doing
    * that from the corpus would re-read text on every takedown, so the
    * store persists the trainer's bounded hv-prefix RESERVOIR
    * ([[graft.operators.QualityModel.labeledReservoir]], `slack ×
    * trainN` featurized rows): every doc outside it ranks after every
    * doc inside, so while ≥ trainN reservoir rows survive, the
    * survivors' global trainN training prefix lies entirely inside the
    * reservoir and retrain-from-reservoir ≡ retrain-from-corpus
    * EXACTLY — zero text reads per takedown (ModelStoreSpec pins the
    * equivalence, decisive weight change, and both no-op tiers).
    *
    * Unlearn decision (q128's membership test, not a canary
    * threshold):
    *  - takedown ∩ reservoir = ∅ → weights AND generation stand (the
    *    model provably never trained on the docs; zero writes);
    *  - hits only the reservoir TAIL (rank > trainN) → new generation
    *    with the shrunk reservoir but the SAME weights, zero train
    *    runs (future unlearns shift, current sample didn't);
    *  - hits the training prefix → retrain on the surviving reservoir,
    *    new generation serves.
    *
    * Generations commit marker-LAST (the q122 recluster discipline): a
    * crash mid-write leaves the old generation serving bit-for-bit and
    * a re-run rebuilds idempotently. Exhaustion (< trainN survivors)
    * throws rather than silently serving a divergent sample — the
    * documented re-bootstrap trigger, the compaction analogue.
    *
    * Snapshot contract (deliberate, not a gap): the reservoir is the
    * snapshot the SERVING model was trained on — ingest ticks do NOT
    * append to it. Unlearning must modify the model that actually
    * trained on the retracted doc, so retraining within the serving
    * generation's own snapshot (minus the doc) is exactly right; a
    * takedown of a doc admitted AFTER that snapshot misses the
    * reservoir and correctly no-ops (the serving model never saw it).
    * Folding admissions into the model is the separate, MEASURED
    * retrain choice (q109/q113) — its consumer here is [[refresh]],
    * which re-snapshots with full slack. */
  final class ModelStore(spark: SparkSession, root: String, name: String,
                         iters: Int = QualityModel.DefaultIters,
                         trainN: Int = QualityModel.DefaultTrainN,
                         slack: Int = 2) {
    private val base = s"$root/model_store/$name"
    private def genDir(g: Long) = s"$base/g=$g"

    private def generationIn(gens: Listing): Long =
      gens.numbered("g=", committedOnly = true).lastOption.fold(0L)(_._1)

    /** Max committed generation; 0 before [[bootstrap]]. */
    def generation: Long = generationIn(listing(spark, base))

    def reservoir(g: Long = generation): DataFrame = {
      require(g >= 1, s"model store '$name' not bootstrapped")
      spark.read.parquet(s"${genDir(g)}/reservoir")
    }

    def servingWeights(): Seq[Double] = {
      val g = generation
      require(g >= 1, s"model store '$name' not bootstrapped")
      val r = spark.read.parquet(s"${genDir(g)}/weights").collect()(0)
      (0 until QualityModel.NumW).map(j => r.getDouble(r.fieldIndex(s"w$j")))
    }

    /** Crash-injection seam: generation data WITHOUT the marker. */
    private[graft] def writeGenData(g: Long, res: DataFrame,
                                    w: Seq[Double]): Unit = {
      res.coalesce(1).write.mode("overwrite")
        .parquet(s"${genDir(g)}/reservoir")
      import spark.implicits._
      Seq(w).map(ws => (ws(0), ws(1), ws(2), ws(3), ws(4), ws(5), ws(6)))
        .toDF((0 until QualityModel.NumW).map(j => s"w$j"): _*)
        .coalesce(1).write.mode("overwrite").parquet(s"${genDir(g)}/weights")
    }

    private[graft] def commitGeneration(g: Long): Unit =
      commit(spark, genDir(g))

    /** IDEMPOTENT generation-1 bootstrap: featurize the corpus once,
      * persist the reservoir, train from its prefix. Returns the
      * serving weights (≡ [[QualityModel.train]] on the corpus —
      * spec-pinned). */
    def bootstrap(corpusDocs: DataFrame): Seq[Double] = {
      val res = QualityModel.labeledReservoir(corpusDocs, slack * trainN)
        .localCheckpoint()
      val w = QualityModel.trainOnFeatures(res, iters, trainN)
      writeGenData(1, res, w)
      commitGeneration(1)
      w
    }

    /** The takedown leg ([[IngestLoop.retractTick]] calls this behind
      * its tombstone existence check). Returns the post-takedown
      * serving weights. */
    def unlearn(docIds: DataFrame): Seq[Double] = {
      val g = generation
      require(g >= 1, s"model store '$name' not bootstrapped")
      val res = reservoir(g).localCheckpoint()
      val ids = docIds.select("doc_id").distinct().localCheckpoint()
      // bounded joins: reservoir ≤ slack·trainN rows
      if (res.join(ids, Seq("doc_id"), "left_semi").isEmpty)
        return servingWeights()
      val surv = res.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
      val nLive = surv.count()
      require(nLive >= trainN,
        s"model store '$name' reservoir exhausted ($nLive < $trainN " +
          "survivors): re-bootstrap from the corpus")
      import org.apache.spark.sql.expressions.Window
      val prefixHit = !res
        .withColumn("rk", row_number().over(Window.orderBy("hv", "doc_id")))
        .filter(col("rk") <= trainN)
        .join(ids, Seq("doc_id"), "left_semi").isEmpty
      val w =
        if (prefixHit) QualityModel.trainOnFeatures(surv, iters, trainN)
        else servingWeights()
      writeGenData(g + 1, surv, w)
      commitGeneration(g + 1)
      w
    }

    /** The RETRAIN-choice consumer (q113's loop refreshing its serving
      * artifact): a new generation from the current corpus snapshot —
      * reservoir re-featurized, full slack restored. */
    def refresh(corpusDocs: DataFrame): Seq[Double] = {
      val g = generation
      val res = QualityModel.labeledReservoir(corpusDocs, slack * trainN)
        .localCheckpoint()
      val w = QualityModel.trainOnFeatures(res, iters, trainN)
      writeGenData(g + 1, res, w)
      commitGeneration(g + 1)
      w
    }

    /** GC strictly-shadowed model generations: every reader resolves
      * the MAX committed generation, so older g= dirs (committed or
      * half-written) are unreachable — unlearn/refresh write to g+1 >
      * g, never into a deleted slot. Quiesce points only. Returns
      * bytes freed. */
    def gc(): Long = {
      val gens = listing(spark, base)
      val g = generationIn(gens)
      if (g <= 1L) 0L
      else drop(spark,
        gens.numbered("g=", committedOnly = false).filter(_._1 < g).map(_._2))
    }
  }

  def modelStore(spark: SparkSession, root: String, name: String,
                 iters: Int = QualityModel.DefaultIters,
                 trainN: Int = QualityModel.DefaultTrainN,
                 slack: Int = 2): ModelStore =
    new ModelStore(spark, root, name, iters, trainN, slack)

  // ---- maintained packed-sequence export (q125) + consumption ledger
  // (q138) — MOVED to PackedExport.scala (r14 verdict item 6: file
  // hygiene, pure move). The aliases keep every ArtifactStore.* path
  // callers and specs use stable.
  type ServingEpoch = graft.io.ServingEpoch
  val ServingEpoch = graft.io.ServingEpoch
  type PackedExportStore = graft.io.PackedExportStore
  type ConsumptionStore = graft.io.ConsumptionStore

  def packedExport(spark: SparkSession, root: String, name: String,
                   seqLen: Int = 2048,
                   nShards: Int = graft.operators.Sharding.DefaultShards)
      : PackedExportStore =
    new PackedExportStore(spark, root, name, seqLen, nShards)

  def consumption(spark: SparkSession, root: String,
                  name: String): ConsumptionStore =
    new ConsumptionStore(spark, root, name)

  // ---- q73 corpus hash state -------------------------------------------

  /** Build-or-load the corpus content-hash state (`ch` long per distinct
    * ingested document). Unlike the scalar artifacts this stays
    * DISTRIBUTED: the return value is a DataFrame over the artifact
    * parquet (or, on first build, over the freshly written artifact —
    * reading back what was written, so both paths serve identical
    * storage). ~8 bytes/doc: the state for a 100 TB corpus is a few GB,
    * partitioned by hash and probed in place by each ingest tick's
    * broadcast batch (the q73 plan). */
  def corpusHashesOrBuild(root: String, corpusDocs: DataFrame): DataFrame = {
    val spark = corpusDocs.sparkSession
    val path = artifactPath(root, "corpus_hashes",
      s"fp${documentsFingerprint(corpusDocs)}")
    if (!exists(spark, path))
      Provenance.corpusHashState(corpusDocs)
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** q73 admission against the persisted state — the multi-job form:
    * tick N's report probes the state artifact written at tick N−1
    * instead of re-hashing the whole corpus. */
  def admissionAgainstStore(root: String, corpusDocs: DataFrame,
                            batchDocs: DataFrame): DataFrame =
    Provenance.admissionReport(batchDocs, corpusHashesOrBuild(root, corpusDocs))

  // ---- corpus LSH band / shingle-hash state (fuzzy admission) ----------

  /** Build-or-load the corpus MinHash-LSH band state
    * (doc_id, band, x, y) — distributed like the hash state: ~26 bytes
    * × 4 bands per corpus doc, partitioned by band key and probed by
    * each tick's map-side-derived batch bands. */
  def corpusBandsOrBuild(root: String, corpusDocs: DataFrame): DataFrame = {
    val spark = corpusDocs.sparkSession
    val path = artifactPath(root, "corpus_bands",
      s"fp${documentsFingerprint(corpusDocs)}")
    if (!exists(spark, path))
      Fuzzy.corpusBandState(corpusDocs).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Build-or-load the corpus distinct shingle-hash state (doc_id, h) —
    * the exact-verification side of fuzzy admission: ~10 bytes per
    * corpus shingle, read only for band-collision CANDIDATES (the
    * candidate-driven q27 shape), never scanned whole. */
  def corpusShinglesOrBuild(root: String, corpusDocs: DataFrame): DataFrame = {
    val spark = corpusDocs.sparkSession
    val path = artifactPath(root, "corpus_shingle_hashes",
      s"fp${documentsFingerprint(corpusDocs)}")
    if (!exists(spark, path))
      Fuzzy.corpusShingleHashes(corpusDocs).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  // ---- multi-tick ingest state + compaction ----------------------------

  /** Append-oriented state a long-lived ingest loop accumulates across
    * ticks — the q73/q92 corpus hash/band/shingle rows, one small
    * parquet write per tick, growing FOREVER (the r8 verdict's Missing
    * #5). Layout under `root/ingest_state/<name>/`:
    *
    *   gen=G/   — a compacted base covering ticks 1..G
    *   tick=T/  — one increment per ingest tick
    *
    * Both follow the commit rule of this object's filesystem plumbing,
    * and every call lists the store once ([[Layout]]). `current()`
    * reads the newest committed generation plus every committed tick
    * past it; [[compact]] folds base + ticks into the next generation —
    * sized via [[Compact.partitionsFor]] from the actual accumulated
    * bytes — then drops what the new generation shadows, so the
    * tick-file count (the scan-throughput killer at 100 TB: thousands
    * of KB-scale files) resets to O(state bytes / target), not
    * O(ticks). The superseded base and ticks are deleted only AFTER the
    * new base commits, so a killed compaction loses nothing and retries
    * cleanly. */
  final class IngestStateStore(private[io] val spark: SparkSession,
                               root: String, name: String) {
    private val base = s"$root/ingest_state/$name"
    private def f = fs(spark, base)

    /** The store as one listing shows it: its committed generations and
      * ticks (ascending), and what a committed generation shadows. */
    private final class Layout(l: Listing) {
      lazy val gens: Seq[(Long, String)] = l.numbered("gen=", committedOnly = true)
      lazy val ticks: Seq[(Long, String)] = l.numbered("tick=", committedOnly = true)

      def maxTick: Long = (ticks ++ gens).map(_._1).maxOption.getOrElse(0L)

      /** The newest committed generation plus the committed ticks past
        * it and below `maxT`. */
      def pathsBelow(maxT: Long): Seq[String] = {
        val gen = gens.lastOption
        gen.map(_._2).toSeq ++ ticks.collect {
          case (t, p) if t < maxT && gen.forall(t > _._1) => p
        }
      }

      /** Every generation dir below `g` and tick dir at or below it,
        * committed or not. */
      def shadowedBy(g: Long): Seq[String] =
        l.numbered("gen=", committedOnly = false).filter(_._1 < g).map(_._2) ++
          l.numbered("tick=", committedOnly = false).filter(_._1 <= g).map(_._2)
    }

    private def layout: Layout = new Layout(listing(spark, base))

    def maxTick: Long = layout.maxTick

    /** The accumulated state (None before the first tick). */
    def current(): Option[DataFrame] = currentBelow(Long.MaxValue)

    /** The accumulated state without the ticks at or above `t` — the
      * read of a SPARSE store, whose tick numbers have gaps (the loop
      * tombstones are keyed at takedown ticks), where [[currentUpTo]]'s
      * coverage guard does not apply. */
    def currentBelow(t: Long): Option[DataFrame] = {
      val paths = layout.pathsBelow(t)
      if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
    }

    /** IDEMPOTENT per-tick write: the producer names the tick, so a
      * REPLAYED producer (Structured Streaming's foreachBatch after a
      * crash re-runs the uncommitted batch) overwrites the same tick
      * directory with identical content instead of appending a
      * duplicate increment — duplicate band/shingle rows would inflate
      * the fuzzy verifier's intersection counts, silently corrupting
      * Jaccard. The streaming fold
      * ([[graft.streaming.DocStream]].foldingGatedAdmissionQuery) keys
      * ticks by micro-batch id through this. */
    def appendTickAt(t: Long, increment: DataFrame): Unit = {
      require(t >= 1, s"tick numbers start at 1, got $t")
      increment.write.mode("overwrite").parquet(s"$base/tick=$t")
    }

    /** An empty tick `t` — the write of a store with nothing to add at
      * a tick every store of the agreement must reach (a takedown). */
    private[io] def emptyTickAt(t: Long): Unit =
      appendTickAt(t, current().get.limit(0))

    /** IDEMPOTENT generation-base write: persist `df` as `gen=$g`, the
      * layout meaning "this covers ticks 1..g" — so a store REBUILT
      * from scratch mid-loop (an ANN recluster's re-encode,
      * [[IvfPqIncrementalIndex.recluster]] with `baseTick` > 1) can
      * re-enter a tick-agreement protocol at the loop's CURRENT tick
      * instead of restarting at 1: `maxTick` reads g, subsequent
      * appends land at g+1, g+2, … and [[currentUpTo]]'s coverage
      * guard holds (a gen base + contiguous ticks). Overwrite-safe
      * like [[appendTickAt]]. */
    def writeGenerationAt(g: Long, df: DataFrame): Unit = {
      require(g >= 1, s"generation numbers start at 1, got $g")
      df.write.mode("overwrite").parquet(s"$base/gen=$g")
    }

    /** The state AS OF tick `maxT` inclusive — what a replayed
      * micro-batch must read: its own (possibly already written) fold
      * tick is excluded, so replay verdicts are bit-identical to the
      * first run. Requires the pre-`maxT` increments to still exist:
      * compaction past `maxT` (legal only at quiesce points — all
      * producers committed) makes older snapshots unreadable, and this
      * throws rather than serving a partial state. */
    def currentUpTo(maxT: Long): Option[DataFrame] = {
      val lay = layout
      val gens = lay.gens.map(_._1)
      val gen = gens.filter(_ <= maxT).maxOption
      val ticks = lay.ticks.map(_._1).filter(t => t <= maxT && gen.forall(t > _))
      val paths = gen.map(g => s"$base/gen=$g").toSeq ++
        ticks.map(t => s"$base/tick=$t")
      if (paths.isEmpty) {
        require(gens.forall(_ <= maxT),
          s"state at $base was compacted past tick $maxT — " +
            "the pre-compaction increments are gone")
        None
      } else {
        // COVERAGE guard (r10 advice): "something resolved" is not
        // "ticks 1..maxT resolved". After a crashed compaction's
        // interrupted delete phase (gen=G committed, some tick<=G dirs
        // already deleted, an older gen perhaps still present), a
        // currentUpTo(maxT < G) can resolve a non-empty SUBSET — e.g.
        // the stale gen plus surviving late ticks, minus the deleted
        // early ones — and would silently serve partial state. Require
        // the resolved base (a gen covering 1..g, or tick=1) plus
        // CONTIGUOUS ticks up to maxT.
        val covered = gen.getOrElse(0L)
        val expected = (covered + 1) to maxT
        require(ticks == expected,
          s"state at $base does not cover ticks 1..$maxT: base " +
            s"${gen.map(g => s"gen=$g").getOrElse("none")} + ticks " +
            s"${ticks.mkString("[", ",", "]")} (expected ticks " +
            s"${expected.mkString("[", ",", "]")}) — a compaction past " +
            s"tick $maxT has removed part of this snapshot")
        Some(spark.read.parquet(paths: _*))
      }
    }

    /** Parquet data files currently backing `current()` — the quantity
      * compaction exists to bound. */
    def dataFileCount: Long = layout.pathsBelow(Long.MaxValue)
      .map(p => dataFiles(spark, p, recursive = false).size.toLong).sum

    /** Fold base + ticks into generation `maxTick`, sized from the
      * accumulated bytes at [[Compact.TargetBytes]] per file; drop
      * superseded dirs only after the new base commits. Returns the
      * output partition count. */
    def compact(): Int = compactWith(identity)

    /** [[compact]] with a row transform applied while folding — a
      * [[Lineage.fold]]'s tombstone anti-join, or a [[SignedIndex]]'s
      * sum-and-drop-zeros. The transform MUST be one whose read-path
      * application is idempotent: correctness never depends on whether
      * a fold ran — reads keep applying it — so a crash at any point
      * between per-store folds leaves every verdict unchanged. Returns 0
      * without folding when the store is already a single up-to-date
      * generation (re-compacting would overwrite the very files being
      * read; the unfolded transform keeps applying at read time, so
      * skipping is safe). */
    private[io] def compactWith(transform: DataFrame => DataFrame): Int = {
      val lay = layout
      val upTo = lay.maxTick
      val paths = lay.pathsBelow(Long.MaxValue)
      require(paths.nonEmpty, "nothing to compact")
      if (paths == Seq(s"$base/gen=$upTo")) return 0
      val bytes = paths.map(Compact.dataBytes(spark, _)).sum
      val n = Compact.partitionsFor(bytes, Compact.TargetBytes)
      transform(spark.read.parquet(paths: _*)).repartition(n)
        .write.mode("overwrite").parquet(s"$base/gen=$upTo")
      // the new generation is committed — what it shadows can go; the
      // write added only gen=upTo, so the listing above still names
      // every victim. Unmeasured: no caller wants the bytes, and a
      // measure lists each victim once more
      lay.shadowedBy(upTo).foreach(p => f.delete(new Path(p), true))
      n
    }

    /** Delete ALL state — the tombstone-store clear after a fold has
      * baked every retraction into the data stores' generations. Safe
      * to crash around: a half-cleared tombstone store only re-subtracts
      * already-removed doc_ids (the anti-join is idempotent). NOT for
      * data stores — their content is the corpus state. */
    def reset(): Unit = listing(spark, base).dirs.foreach(f.delete(_, true))

    /** GC what the newest committed generation shadows — exactly what
      * a crashed compaction's interrupted delete phase leaves behind. Reads are identical before, during, and
      * after (GcSpec pins it), and an interrupted gc simply re-runs.
      * Run at quiesce points, like compaction (`currentUpTo` snapshots
      * below the generation become unreadable — they already did when
      * the compaction committed). Returns bytes freed. */
    def gc(): Long = {
      val lay = layout
      lay.gens.lastOption.fold(0L) { case (g, _) => drop(spark, lay.shadowedBy(g)) }
    }
  }

  def ingestState(spark: SparkSession, root: String,
                  name: String): IngestStateStore =
    new IngestStateStore(spark, root, name)

  // ---- durable curation-stage store (CurateV2 q84/q91/q95) -------------

  /** Durable [[graft.operators.StageStore]]: each materialized stage
    * (the stage-1 scrubbed base, every gate's marker set) lands as
    * parquet under `root/curate_<pipelineKey>/<stage>`. A stage whose artifact
    * already exists is READ, not recomputed — and because the returned
    * frame is a parquet scan, the upstream gates' plans are never even
    * constructed into the resumed job: crash after stage k, rerun,
    * and stages 1..k cost one file listing each (CurateV2DurableSpec
    * pins exactly this with a crash-injecting wrapper).
    *
    * A killed half-written stage is uncommitted and recomputed. Stage
    * state is manifest-diffable with [[listArtifacts]] like every other
    * artifact kind. */
  final class DurableStageStore private[ArtifactStore] (
      spark: SparkSession, root: String, val pipelineKey: String)
    extends StageStore {
    /** Observables (the valve-counter pattern): stages computed+written
      * vs served from existing artifacts, in materialization order. */
    val computed = scala.collection.mutable.ArrayBuffer.empty[String]
    val loaded = scala.collection.mutable.ArrayBuffer.empty[String]

    def stagePath(name: String): String =
      artifactPath(root, s"curate_$pipelineKey", name)

    override def materialize(name: String, df: DataFrame): DataFrame = {
      val path = stagePath(name)
      if (exists(spark, path)) loaded += name
      else {
        df.write.mode("overwrite").parquet(path)
        computed += name
      }
      spark.read.parquet(path)
    }
  }

  /** Key + store for one (corpus, embeddings, knobs) pipeline run: the
    * corpus fingerprints guarantee a changed input never reuses stage
    * state; `paramsKey` must canonicalize every gate threshold the
    * caller overrides. Prefer the CurateV2 `q84Durable`/`q91Durable`/
    * `q95Durable` entry points, which derive the paramsKey from their
    * own knob arguments (r9 verdict item 7) — hand-built keys remain
    * possible for non-CurateV2 pipelines but carry the stale-serve
    * hazard this indirection exists to remove. */
  def curateStageStore(root: String, documents: DataFrame,
                       embeddings: DataFrame,
                       paramsKey: String = ""): DurableStageStore = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val pk = md.digest(paramsKey.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    new DurableStageStore(documents.sparkSession, root,
      s"fp${documentsFingerprint(documents)}_e${embeddingsFingerprint(embeddings)}_p$pk")
  }

  /** q92 fuzzy admission against the persisted store — the multi-job
    * form of [[graft.operators.Provenance.q92FuzzyAdmission]]: corpus
    * text is read at most once EVER (to build the three state
    * artifacts); every subsequent tick admits against hash + band +
    * shingle-hash parquet only. */
  def fuzzyAdmissionAgainstStore(root: String, corpusDocs: DataFrame,
                                 batchDocs: DataFrame,
                                 threshold: Double = 0.2): DataFrame = {
    val fuzzy = Fuzzy.lshPairsAgainstState(
        corpusBandsOrBuild(root, corpusDocs),
        corpusShinglesOrBuild(root, corpusDocs), batchDocs, threshold)
      .select(col("eval_id").as("fid")).distinct()
    Provenance.fuzzyAdmissionReport(batchDocs,
      corpusHashesOrBuild(root, corpusDocs), fuzzy)
  }
}
