package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload and writes its raw
  * measurements (set-up times, iterations, checks, job records, spans)
  * as JSON for `run.py` to reduce.
  *
  * Usage: perfbench.Main --workload crypto_etl|ingest_ticks --seed N
  *   --seconds S --trace 0|1 --cores C --work DIR --out FILE
  * `--gen-only 1` writes the seed's inputs to DIR and exits.
  */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Int,
                          trace: Boolean, cores: Int, work: String,
                          out: String) {
    /** The layer the workload's timed entry call belongs to. */
    def entryLayer: String = if (workload == "crypto_etl") "pipeline" else "io"
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val cfg = Config(workload, kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt, kv("work"), kv("out"))
    if (kv.get("gen-only").contains("1")) { genOnly(cfg); return }
    val load0 = loadavg()
    val wl = workload match {
      case "crypto_etl" => new CryptoEtl(cfg)
      case "ingest_ticks" => new IngestTicks(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val res = wl.run()
    val load1 = loadavg()
    val jobs = wl.jobs.all
    val spanLayer = wl.spans.done.map(s => s"span-${s.id}" -> s.layer).toMap
    def siteOf(j: JobRec): String =
      Option(wl.jobs.execSite.get(j.execId)).filter(_.nonEmpty).getOrElse(j.ownSite)
    def layerOf(j: JobRec): String = {
      val site = siteOf(j)
      if (site.nonEmpty) JobListener.module(site)
      else spanLayer.getOrElse(j.group, "bench")
    }
    val json = Json.obj(
      "workload" -> workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "trace" -> cfg.trace,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "setup_s" -> res.setupS.toSeq, "warmup_s" -> res.warmupS,
      "peak_heap_mb" -> res.peakOldBytes / 1048576.0,
      "iters" -> res.iters.toSeq.map(it => Json.obj(
        "id" -> it.id, "start" -> it.start, "end" -> it.end,
        "units" -> it.units, "input_bytes" -> it.inputBytes,
        "driver_written_bytes" -> it.driverWrittenBytes,
        "codegen_ns" -> it.codegenNs, "ok" -> it.ok)),
      "checks" -> res.checks.toSeq.map(c => Json.obj(
        "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extra" -> Json.obj(res.extra.toSeq: _*),
      "catalyst" -> wl.plans.synchronized(wl.plans.records.toSeq.map {
        case (t, ms) => Seq(t, ms) }),
      "jobs" -> jobs.map(j => Json.obj(
        "id" -> j.id, "start" -> j.start, "end" -> j.end,
        "layer" -> (if (cfg.trace) layerOf(j) else ""),
        "site" -> (if (cfg.trace) siteOf(j) else ""),
        "stages" -> j.stages, "single_task_stages" -> j.singleTaskStages,
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "busy_ms" -> j.busyMs, "cpu_ns" -> j.cpuNs, "wait_ms" -> j.waitMs,
        "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "output_bytes" -> j.outputBytes, "spill_bytes" -> j.spillBytes)),
      "spans" -> wl.spans.done.toSeq.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "iter" -> s.iter, "start" -> s.start,
        "end" -> s.end)))
    Files.write(java.nio.file.Paths.get(cfg.out), json.s.getBytes(StandardCharsets.UTF_8))
    wl.spark.stop()
  }

  /** Writes the inputs of a seed and nothing else (determinism check). */
  private def genOnly(cfg: Config): Unit = {
    val dir = java.nio.file.Paths.get(cfg.work)
    cfg.workload match {
      case "crypto_etl" => Gen.crypto(cfg.seed, CryptoEtl.Rows, CryptoEtl.ApiRows, dir)
      case _ =>
        import IngestTicks._
        val corpus = Gen.docs(cfg.seed, CorpusDocs)
        val lines = corpus.map(d => s"${d.doc_id}\t${d.source}\t${d.text}") ++
          Gen.batches(cfg.seed, corpus, WarmupTicks + timedTicks(cfg.seconds), BatchDocs).flatMap(_.docs)
            .map(d => s"${d.doc_id}\t${d.source}\t${d.text}")
        Files.createDirectories(dir)
        Files.write(dir.resolve("docs.tsv"), lines.asJava, StandardCharsets.UTF_8)
    }
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }

  /** Hard-link `src` at `dst` (a distinct path, same bytes); copy when the
    * file system cannot link. */
  def link(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: Exception => Files.copy(src, dst) }

  def dataFiles(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
      .filter(p => p.getFileName.toString.startsWith("part-"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(x => Files.deleteIfExists(x))
      }
}

/** Minimal JSON writer for the raw result. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.s
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
