package graft.io

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance job every long-lived
  * 100 TB dataset needs: streaming ingest and fine-grained partitioned
  * writes accumulate thousands of KB-scale files, and scan throughput
  * dies on per-file open/footer overhead long before bandwidth matters.
  *
  * The fix is mechanical: size the output partition count from the
  * actual input bytes and a target file size, then rewrite
  * ([[ArtifactStore.IngestStateStore.compact]]). Uses a
  * round-robin `repartition(n)` (even output sizes regardless of input
  * skew); callers that need co-location instead compact via
  * `repartition(n, key)` or a bucketed write (BucketingSpec) — evenness
  * and clustering are competing goals, pick per table.
  */
object Compact {

  /** The output file size every compaction aims at. */
  val TargetBytes: Long = 128L * 1024 * 1024

  /** Bytes under `path` per the filesystem listing (parquet data files
    * only — skips _SUCCESS/metadata). */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) total += f.getLen
    }
    total
  }

  /** Partition count for `bytes` of input at `targetBytes` per output
    * file (≥ 1). Parquet re-encodes, so actual output files track the
    * target only to compression-ratio accuracy — good enough for the
    * open-overhead problem this solves. */
  def partitionsFor(bytes: Long, targetBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
}
