package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * - ANSI mode OFF: the reference's parse semantics are pandas
  *   `errors="coerce"` (malformed string → null), which matches Spark's
  *   legacy (non-ANSI) cast. See SURVEY.md §2.2 O5 (reference:
  *   crypto_etl_pipeline.py:159-187). Library code additionally guards
  *   casts with regex checks so it stays correct under ANSI sessions too.
  * - AQE ON: runtime coalescing/skew-join handling is the 100 TB posture.
  * - shuffle.partitions defaults to the local core count, not 200 — at
  *   cluster scale this is expected to be overridden (or left to AQE).
  * - GraftExtensions always installed: the session carries the
  *   engine's SQL functions (parse_magnitude / dot_product /
  *   byte_histogram) AND the [[graft.catalyst.ApproxAboveThreshold]]
  *   safety valve — the one switch between exact and approximate
  *   percentiles. Above ~1 GiB of estimated aggregate input, exact
  *   `percentile` (a single-reducer value collector) rewrites to the
  *   mergeable approx sketch. Below the threshold nothing changes, so
  *   every oracle-checked result at test scale is identical; at 100 TB
  *   the exact-percentile barriers (q07/q08/q59/q65, clean-path A1/A2,
  *   profiler quantiles) degrade to bounded-memory sketches instead of
  *   a straggler/OOM. No caller chooses approximate results itself.
  */
object GraftSession {
  def local(cpus: Int = 32, shufflePartitions: Int = 32,
            appName: String = "graft"): SparkSession = {
    // Programmatic injection: the spark.sql.extensions config is static
    // (read at SparkContext creation) and silently no-ops on an
    // existing context; withExtensions always applies.
    val spark = SparkSession.builder()
      .withExtensions(new graft.catalyst.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // JVM-wide janino class cache (static conf, default 100 entries).
      // A 70-query workload holds several hundred codegen units; at 100
      // they evict each other and every re-run recompiles (~0.1–0.5 s
      // per plan-heavy query — measured as a broad ~15% inflation on
      // interleaved bench passes). Compiled classes are small; 2000
      // keeps a whole suite hot. Same reasoning holds for a long-lived
      // cluster session serving many query templates.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
