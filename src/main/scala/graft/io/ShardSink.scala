package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sharding

/** Physical shard writer — the sink behind
  * [[graft.operators.Sharding.q102ShardManifest]]: lays the corpus out
  * as `path/shard=S/part-*.parquet` using the SAME content-addressed
  * placement expression as the manifest, so manifest and files can
  * never disagree (ShardSinkSpec pins the reconciliation row for row).
  *
  * File-count control: `filesPerShard` sets the repartition key width —
  * (shard, doc-hash mod filesPerShard) — so each shard directory holds
  * ~filesPerShard parquet files. At sf0.001 one file per shard is
  * right; at 100 TB / 1024 shards you'd raise filesPerShard until
  * files land near the HDFS/S3 sweet spot (128 MB–1 GB), keeping
  * writer parallelism at nShards × filesPerShard tasks rather than one
  * giant file per shard (single-writer bottleneck) or
  * shuffle-partition-many tiny files (the q-compaction pathology).
  * Readers prune by the `shard=` partition directory — a training job
  * reading shard 7 lists exactly one directory.
  *
  * Crash discipline (r9 advice — the earlier in-place overwrite could
  * destroy the previous good export mid-write): the export writes to a
  * sibling `<path>._tmp` directory and only REPLACES `path` after the
  * temp tree fully committed (`_SUCCESS` present), so a kill during
  * the write leaves the previous export untouched. The remaining
  * non-atomic window is the metadata-only delete→rename pair; [[read]]
  * therefore gates on the root `_SUCCESS` marker (the ArtifactStore
  * convention) and refuses a tree no complete export produced, rather
  * than silently serving partial partitions to plain parquet readers. */
object ShardSink {

  /** Write `df` partitioned by its `shard` column with the
    * temp-tree-then-swap crash discipline (see object scaladoc). */
  private def writeSharded(df: DataFrame, path: String,
                           fileKey: org.apache.spark.sql.Column,
                           partitions: Int): Unit = {
    val spark = df.sparkSession
    // Path normalization + suffix (review finding): a raw
    // `path + "._tmp"` with a trailing-slash path would nest the temp
    // tree INSIDE the destination, and the pre-rename delete would
    // then destroy both exports. `Path.suffix` appends to the
    // normalized leaf name, so tmp is always a SIBLING of dst.
    val dst = new Path(path)
    val tmp = dst.suffix("._tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.repartition(partitions, col("shard"), fileKey)
      .write.partitionBy("shard").mode("overwrite").parquet(tmp.toString)
    // temp tree is complete (its _SUCCESS exists) — swap into place;
    // a kill before this point never touched the previous export
    if (fs.exists(dst)) fs.delete(dst, true)
    require(fs.rename(tmp, dst),
      s"shard export rename failed: $tmp -> $dst")
  }

  def write(documents: DataFrame, path: String,
            nShards: Int = Sharding.DefaultShards,
            filesPerShard: Int = 1): Unit =
    writeSharded(
      documents.withColumn("shard", Sharding.shardOf(nShards)),
      path,
      pmod(graft.operators.Provenance.contentHash60(col("text")),
        lit(filesPerShard.toLong)),
      nShards * filesPerShard)

  /** PACKED export (q108, r9 verdict item 4): the physical tree a
    * training job streams is SEQUENCE slices, not documents — per row
    * (doc_id, seq_id, toks, ssig), placed by the same per-sequence
    * content-addressed shard expression as the q108 manifest
    * (`Packing.packedSeqShards` — shared, so files and manifest cannot
    * disagree; ShardSinkSpec reconciles row for row). A reader of
    * shard S gets every sequence assigned there WHOLE — all of a
    * sequence's slices share its seq_id-derived shard — and can verify
    * the shard after transport from its own ssig column without
    * re-reading the source corpus. Same temp-tree crash discipline and
    * `_SUCCESS`-gated [[read]] as the doc-level [[write]]. */
  def writePacked(documents: DataFrame, path: String,
                  seqLen: Int = 2048,
                  nShards: Int = Sharding.DefaultShards,
                  filesPerShard: Int = 1,
                  learned: Boolean = true): Unit = {
    val seqs = graft.operators.Packing
      .packedSeqShards(documents, seqLen, nShards, learned)
      .select("seq_id", "shard", "ssig")
    val slices = graft.operators.Packing
      .packedSeqSlices(documents, seqLen, learned)
    writeSharded(
      slices.join(seqs, "seq_id")
        .select("doc_id", "seq_id", "toks", "ssig", "shard"),
      path,
      pmod(col("seq_id"), lit(filesPerShard.toLong)),
      nShards * filesPerShard)
  }

  /** Read back the shard tree (shard recovered from the directory
    * name; schema otherwise identical to the written frame). Gated on
    * the root `_SUCCESS` marker: a tree interrupted between delete and
    * rename — or any half-written directory — is refused, not read. */
  def read(spark: SparkSession, path: String): DataFrame = {
    require(ArtifactStore.exists(spark, path),
      s"no complete shard export at $path (missing its commit marker)")
    spark.read.parquet(path)
  }
}
