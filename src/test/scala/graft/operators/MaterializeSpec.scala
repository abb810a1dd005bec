package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
}
