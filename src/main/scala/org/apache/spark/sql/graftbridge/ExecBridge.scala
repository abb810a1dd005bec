package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Typed access to three pieces of Spark's execution layer the engine
  * needs and the public API does not expose (same shim pattern as
  * [[ColumnBridge]]):
  *   - the cached RDD behind an eager `localCheckpoint()` frame (its
  *     analyzed plan is a `LogicalRDD`), to read the checkpoint's true
  *     size;
  *   - `SparkContext.unpersistRDD`, to drop a checkpoint's blocks;
  *   - `SQLExecution.withThreadLocalCaptured`, which runs pool work
  *     with the submitting thread's active session and local properties
  *     (job group, description, scheduler pool).
  * A Spark upgrade that moves either fails the build here instead of
  * degrading silently at run time.
  */
object ExecBridge {

  /** The RDD a checkpoint frame scans, looking through plan hints;
    * None for a frame that is not a checkpoint. */
  def checkpointRdd(df: DataFrame): Option[RDD[_]] = {
    def of(p: LogicalPlan): Option[RDD[_]] = p match {
      case r: LogicalRDD => Some(r.rdd)
      case h: ResolvedHint => of(h.child)
      case _ => None
    }
    of(df.queryExecution.analyzed)
  }

  /** Drop the cached blocks of the checkpoint `df` scans (nothing for a
    * frame that is not a checkpoint) — `RDD.unpersist`'s drop, without
    * its warning that a locally checkpointed RDD cannot be recomputed:
    * the caller is the frame's owner and is done with it. */
  def releaseCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(r =>
      r.sparkContext.unpersistRDD(r.id, blocking = true))

  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], exec)(body)
}
