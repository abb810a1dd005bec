package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Pins the load-bearing mechanics of [[Materialize]]:
  *
  *  - `hintIfCompact` resolves the checkpoint's cached RDD through the
  *    typed `ExecBridge.checkpointRdd` accessor: a small severed frame
  *    MUST plan as the build side of a BroadcastHashJoin.
  *  - the size gate: with the broadcast threshold at -1 (disabled) the
  *    hint must NOT be applied; a frame that is not a checkpoint stays
  *    unhinted.
  *  - pool work runs with the caller's local properties, whatever the
  *    pool thread inherited when it was created.
  *  - branches nest: a branch may run branches of its own, more than
  *    the pool has threads, and still finish, with results in branch
  *    order and a failure rethrown only after every sibling finished.
  */
class MaterializeSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  // a wedged wait is interrupted, so the test fails instead of hanging
  private implicit val signaler: Signaler = ThreadSignaler

  test("sever broadcast-hints a small checkpointed frame (reflection intact)") {
    import spark.implicits._
    val big = (1L to 50000L).map(i => (i, i % 97)).toDF("id", "v")
    val small = Materialize.sever(
      (1L to 100L).toDF("id").withColumn("flag", lit(true)))
    val plan = big.join(small, Seq("id"), "left")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"severed 100-row frame not broadcast — checkpoint accessor? plan:\n$plan")
  }

  test("hint is size-gated: disabled threshold leaves the frame unhinted") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = Materialize.hintIfCompact(
        (1L to 100L).toDF("id").localCheckpoint())
      assert(!out.queryExecution.logical.toString.contains("ResolvedHint") &&
        !out.queryExecution.logical.toString.contains("UnresolvedHint"),
        "hint applied despite disabled threshold")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a frame that is not a checkpoint stays unhinted; release frees a checkpoint") {
    import spark.implicits._
    val plain = (1L to 100L).toDF("id")
    assert(Materialize.hintIfCompact(plain) eq plain)
    val cp = Materialize.sever(plain)
    val rdd = org.apache.spark.sql.graftbridge.ExecBridge.checkpointRdd(cp).get
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id))
    Materialize.release(cp)
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id))
  }

  test("pool work carries the caller's job group, not the pool thread's") {
    import spark.implicits._
    val sc = spark.sparkContext
    def parUnder(group: String): Unit = {
      sc.setJobGroup(group, s"materialize under $group")
      try Materialize.par(Seq(1, 2, 3, 4).map(i => (1 to 50).map(_ * i).toDF("x")))
      finally sc.clearJobGroup()
    }
    parUnder("a")
    val (out, jobs) = TestSpark.withJobs(spark)(parUnder("b"))
    out.get
    assert(jobs.nonEmpty)
    jobs.foreach(j => assert(j.props.getProperty("spark.jobGroup.id") === "b"))
  }

  test("nested branches finish, with results in branch order") {
    // 6 outer branches of 6 inner branches each: 36 jobs run from
    // inside pool work, far more waits than the pool has threads
    val out = failAfter(120.seconds) {
      Materialize.branches(spark, (0 until 6).map { i => () =>
        Materialize.branches(spark, (0 until 6).map { j => () =>
          spark.range(6 * i + j + 1).count()
        })
      })
    }
    assert(out === (0 until 6).map(i => (0 until 6).map(j => 6L * i + j + 1)))
  }

  test("a failed inner branch is rethrown only after every sibling finished") {
    // the first failure in branch order is outer 1's inner 1
    val failing = Set((1, 1), (1, 3), (2, 0))
    val finished = new ConcurrentLinkedQueue[(Int, Int)]
    val e = failAfter(120.seconds) {
      intercept[IllegalStateException] {
        Materialize.branches(spark, (0 until 3).map { i => () =>
          Materialize.branches(spark, (0 until 4).map { j => () =>
            if (failing((i, j))) throw new IllegalStateException(s"inner $i.$j")
            Thread.sleep(100)
            spark.range(1000).selectExpr("sum(id)").collect()
            finished.add((i, j))
          })
        })
      }
    }
    assert(e.getMessage === "inner 1.1")
    // every sibling's job had finished when the failure was rethrown
    assert(finished.asScala.toSet ===
      (for (i <- 0 until 3; j <- 0 until 4) yield (i, j)).toSet -- failing)
  }
}
