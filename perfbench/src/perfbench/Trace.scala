package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A benchmark span: one call into a layer, a pass or tick, or a phase.
  * Times are epoch milliseconds (Spark's listener clock). */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      iter: Int, start: Long, end: Long)

/** Spans recorded in memory by the benchmark's own code. The open span
  * is also published as the Spark job group, so every job it issues is
  * keyed to it. */
final class Spans(spark: org.apache.spark.sql.SparkSession) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Int, Long)] = Nil
  private var nextId = 1

  def apply[T](name: String, layer: String, iter: Int = -1)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name, layer, iter, System.currentTimeMillis()) :: stack
    spark.sparkContext.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    try body finally {
      val (_, n, l, it, t0) = stack.head
      stack = stack.tail
      done += Span(id, n, l, parent, it, t0, System.currentTimeMillis())
      stack.headOption match {
        case Some((pid, pn, _, _, _)) =>
          spark.sparkContext.setJobGroup(s"span-$pid", pn, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }
}

/** Per-job aggregate of everything the scheduler reports about its
  * stages and tasks. */
final class JobRec(val id: Int, val start: Long, val group: String,
                   val execId: Long, val ownSite: String) {
  var end: Long = start
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0
  var failedTasks = 0
  var busyMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's Spark listener. Always on, it sums per-job task
  * metrics (what `write_amp` needs); with `attribute` on it also keeps
  * the call sites that credit each job to an engine module. */
final class JobListener(attribute: Boolean) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id -> call site (first `graft.` frame). */
  val execSite = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val site =
      if (!attribute) ""
      else e.stageInfos.map(s => JobListener.site(s.details)).find(_.nonEmpty).getOrElse("")
    val rec = new JobRec(e.jobId, e.time, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site)
    e.stageIds.foreach(s => stageJob.put(s, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { r =>
      r.synchronized {
        r.stages += 1
        if (e.stageInfo.numTasks == 1) r.singleTaskStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (e.reason != TaskSuccess) r.failedTasks += 1
        if (m != null) {
          r.busyMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.inputBytes += m.inputMetrics.bytesRead
          r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.outputBytes += m.outputMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
          val info = e.taskInfo
          r.waitMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if attribute =>
      execSite.put(s.executionId, JobListener.site(s.details))
    case _ =>
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object JobListener {
  /** The innermost `graft.` frame of a call-site stack, or "" (jobs whose
    * stack starts in the benchmark itself fall back to their span). */
  def site(details: String): String =
    if (details == null) ""
    else details.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")

  /** Engine module of a `graft.` frame: `graft.io.X` -> `io`; top-level
    * `graft.Pipeline` / `graft.GraftSession` -> `pipeline`. */
  def module(frame: String): String = {
    val cls = frame.takeWhile(_ != '(')
    val parts = cls.split('.')
    if (parts.length >= 3 && parts(1).headOption.exists(_.isLower)) parts(1)
    else if (parts.length >= 2) "pipeline"
    else ""
  }
}

/** Catalyst planning time per query (analysis + optimization + planning
  * phases of every successful or failed action). */
final class PlanListener extends QueryExecutionListener {
  /** (first phase start, planning milliseconds) per query. */
  val records = mutable.ArrayBuffer.empty[(Long, Long)]
  private def add(qe: QueryExecution): Unit = {
    val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (ph.nonEmpty) synchronized {
      records += ((ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = add(qe)
}

/** Old-generation usage after a full collection. */
object Heap {
  private lazy val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Two full collections with a pause between them: the first lets
    * Spark's context cleaner drop the blocks of unreachable checkpoints
    * and broadcasts, the second measures what is still retained. One
    * collection alone read ±45 % between identical runs. */
  def oldAfterFullGc(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldPool.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
  }
}
