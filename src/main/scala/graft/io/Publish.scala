package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import scala.jdk.CollectionConverters._

/** S4: file publish/copy sink (reference task t5,
  * crypto_etl_pipeline.py:295-359): copy pipeline outputs into a
  * persistent directory with a `_%Y%m%d_%H%M%S` timestamp suffix,
  * re-read them, and report row/column/size stats. Filesystem work is
  * driver-side (java.nio), stats come from the engine. */
object Publish {

  case class PublishedFile(source: String, target: String, rows: Long,
                          cols: Int, bytes: Long)

  private val TsFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")

  def timestampSuffix(now: ZonedDateTime = ZonedDateTime.now(ZoneOffset.UTC)): String =
    now.format(TsFmt)

  /** Copy `src` (a file, or a Spark csv output directory whose single
    * part-file is taken) to `destDir/<base>_<ts>.<ext>` and return
    * engine-computed stats, mirroring reference P322-354. */
  def publishCsv(spark: SparkSession, src: String, destDir: String,
                 baseName: String,
                 ts: String = timestampSuffix()): PublishedFile = {
    val srcPath = resolveCsv(src)
    Files.createDirectories(Paths.get(destDir))
    val target = Paths.get(destDir, s"${baseName}_$ts.csv")
    Files.copy(srcPath, target, StandardCopyOption.REPLACE_EXISTING)
    val df: DataFrame = spark.read.option("header", "true").csv(target.toString)
    PublishedFile(srcPath.toString, target.toString, df.count(),
      df.columns.length, Files.size(target))
  }

  /** A Spark `write.csv(dir)` produces a directory; take its part file.
    * A missing file, or a directory without a part file, fails here —
    * before anything is created in the publish directory. */
  private def resolveCsv(src: String): Path = {
    val p = Paths.get(src)
    val found =
      if (Files.isDirectory(p)) {
        val ls = Files.list(p)
        try ls.iterator().asScala.find(_.getFileName.toString.startsWith("part-"))
        finally ls.close()
      } else Some(p).filter(Files.exists(_))
    found.getOrElse(
      throw new java.io.FileNotFoundException(s"missing pipeline output: $src"))
  }
}
