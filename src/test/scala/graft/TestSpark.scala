package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One shared local session for the whole suite (Spark session startup is
  * the dominant test cost; suites must not stop() it). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4,
    shufflePartitions = 4, appName = "graft-test")

  /** Runs `body` and returns its result with the optimized plans of the
    * queries it ran on `s`. Query listeners are called from Spark's
    * asynchronous listener bus, so a marker query runs after `body` and
    * is awaited: once it arrives, every earlier query has been seen. */
  def withOptimizedPlanTrees[T](s: SparkSession)(body: => T): (T, Seq[LogicalPlan]) = {
    val plans = new LinkedBlockingQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "plan_capture_marker"
    s.listenerManager.register(listener)
    try {
      val out = body
      s.sql(s"SELECT 1 AS $marker").collect()
      val seen = Seq.newBuilder[LogicalPlan]
      var last: LogicalPlan = null
      while (last == null || !last.output.exists(_.name == marker)) {
        last = plans.poll(60, TimeUnit.SECONDS)
        if (last == null) throw new IllegalStateException("query listener timed out")
        seen += last
      }
      (out, seen.result())
    } finally s.listenerManager.unregister(listener)
  }

  /** [[withOptimizedPlanTrees]] with each plan printed. */
  def withOptimizedPlans[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val (out, plans) = withOptimizedPlanTrees(s)(body)
    (out, plans.map(_.toString))
  }

  /** Runs `body` and returns its result with the number of queries it
    * ran on `s` (the capture marker not counted). */
  def withQueryCount[T](s: SparkSession)(body: => T): (T, Int) = {
    val (out, plans) = withOptimizedPlans(s)(body)
    (out, plans.size - 1)
  }

  /** One Spark job as a listener saw it: the local properties it was
    * submitted with, and the scheduler's times of its start and end (−1
    * if it never ended). */
  final case class Job(props: Properties, start: Long, end: Long)

  /** Runs `body` and returns its outcome with every Spark job it ran on
    * `s`, in start order. Job events arrive on Spark's asynchronous
    * listener bus, so a marker job runs after `body` and its end is
    * awaited: by then every earlier job's events have been seen. */
  def withJobs[T](s: SparkSession)(body: => T): (Try[T], Seq[Job]) = {
    val marker = "graft.test.jobMarker"
    val starts = new ConcurrentHashMap[Int, (Properties, Long)]
    val ends = new ConcurrentHashMap[Int, Long]
    @volatile var markerId = -1
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new Properties)
        if (props.getProperty(marker) != null) markerId = e.jobId
        else starts.put(e.jobId, (props, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId) markerDone.countDown() else ends.put(e.jobId, e.time)
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = Try(body)
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      if (!markerDone.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("job listener timed out")
      val jobs = starts.asScala.toSeq.sortBy(_._1).map { case (id, (props, start)) =>
        Job(props, start, ends.asScala.getOrElse(id, -1L))
      }
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }
}
