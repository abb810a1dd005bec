package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** One shared local session for the whole suite (Spark session startup is
  * the dominant test cost; suites must not stop() it). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4,
    shufflePartitions = 4, appName = "graft-test")

  /** Runs `body` and returns its result with the optimized plans of the
    * queries it ran on `s`. Query listeners are called from Spark's
    * asynchronous listener bus, so a marker query runs after `body` and
    * is awaited: once it arrives, every earlier query has been seen. */
  def withOptimizedPlans[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val plans = new LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.optimizedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "plan_capture_marker"
    s.listenerManager.register(listener)
    try {
      val out = body
      s.sql(s"SELECT 1 AS $marker").collect()
      val seen = Seq.newBuilder[String]
      var last = ""
      while (!last.contains(marker)) {
        last = plans.poll(60, TimeUnit.SECONDS)
        if (last == null) throw new IllegalStateException("query listener timed out")
        seen += last
      }
      (out, seen.result())
    } finally s.listenerManager.unregister(listener)
  }

  /** Runs `body` and returns its result with the number of queries it
    * ran on `s` (the capture marker not counted). */
  def withQueryCount[T](s: SparkSession)(body: => T): (T, Int) = {
    val (out, plans) = withOptimizedPlans(s)(body)
    (out, plans.size - 1)
  }
}
