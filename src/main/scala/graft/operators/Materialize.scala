package graft.operators

import java.util.concurrent.{ExecutionException, Executors, FutureTask, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ExecBridge

/** Concurrent materialization of INDEPENDENT intermediate frames.
  *
  * The composed tick queries (q136/q140/q133/q135, the ingest family)
  * sever several mutually-independent state relations with
  * `localCheckpoint()` — each an EAGER action. Called in sequence, the
  * cluster runs them one after another: every checkpoint's tail leaves
  * the executors idle while the driver waits, then launches the next
  * (guide §2.6 — "actions are only sequential because your driver code
  * calls them sequentially"). Submitting the independent checkpoints
  * from a small thread pool lets the scheduler back-fill the idle
  * capacity; FIFO scheduling keeps the earlier job's resources first,
  * which is exactly the overlap-the-tail behaviour wanted. Results are
  * unchanged — the frames are independent by construction (the caller
  * asserts that by using this instead of sequential calls), and each
  * returned frame is the same severed checkpoint the sequential form
  * produced.
  *
  * Every piece of pool work is a claimable task: it is queued on a
  * fixed pool of 4 daemon threads, and whichever thread claims it first
  * runs it — a pool thread, or a thread that needs its result. A thread
  * that waits first runs, itself, every task of its own that no thread
  * has started, then waits only for tasks already running. So work on
  * the pool may submit and wait for more pool work (a pipeline chain
  * runs its report and publish as branches; a report runs its profile
  * passes as branches; an ingest tick runs its fold-back appends as
  * branches, and a lineage fold its store compactions — a consumer
  * index's fold among the branches of a quiesce): every wait is for a
  * task some thread is running, and that task waits, if at all, only
  * for tasks of its own, so no thread waits on itself and the pool
  * bounds only how many threads help.
  *
  * A task run by a pool thread runs with the SUBMITTING thread's active
  * session and local properties (job group, description, scheduler
  * pool), captured per task; a pool thread would otherwise keep the
  * snapshot it inherited when it was created. A task the waiting
  * thread runs itself runs with that thread's own.
  */
private[graft] object Materialize {

  private val pool = Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "graft-materialize")
    t.setDaemon(true)
    t
  })

  /** `body` as a task queued on the pool, with the caller's thread-local
    * state. A `FutureTask` runs once: `run()` on a task some thread has
    * started or finished returns at once. */
  private def fork[T](spark: SparkSession)(body: => T): FutureTask[T] = {
    val task = new FutureTask[T](() => body)
    ExecBridge.withThreadLocalCaptured(spark, pool)(task.run())
    task
  }

  /** The task's result, run here if no thread has started it; a failure
    * rethrows the task's own exception. The generous ceiling makes a
    * wedged job surface as a TimeoutException instead of hanging forever
    * with no diagnostic — an hour is far above any legitimate checkpoint
    * on any target (the 100 TB sizing puts the fattest severed marker
    * minutes away). */
  private def join[T](task: FutureTask[T]): T = {
    task.run()
    try task.get(1, TimeUnit.HOURS)
    catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
  }

  /** `dfs.map(sever)`, submitted concurrently ([[branches]]). */
  def par(dfs: Seq[DataFrame]): Seq[DataFrame] =
    dfs.headOption.fold(Seq.empty[DataFrame])(df =>
      branches(df.sparkSession, dfs.map(d => () => sever(d))))

  /** `localCheckpoint` + size-gated broadcast hint — the severing the
    * operators should default to. A checkpoint scans as ExistingRDD
    * with NO statistics, so the planner can never auto-broadcast it
    * and every join against a severed relation degrades to a
    * sort-merge with an exchange per side; the checkpoint is eager, so
    * its TRUE size is known and the hint restores the decision the
    * planner would make with statistics (guide §3.1). Corpus-sized
    * state exceeds the threshold and keeps its exchange. */
  def sever(df: DataFrame): DataFrame = hintIfCompact(df.localCheckpoint())

  /** Broadcast-hint an eagerly-materialized (localCheckpoint-backed)
    * frame when its true cached size is under the session's broadcast
    * threshold. The cached RDD comes from the typed checkpoint accessor
    * ([[ExecBridge.checkpointRdd]]) and its bytes from the driver's
    * block-manager storage listing. A frame that is not a checkpoint
    * stays unhinted. */
  def hintIfCompact(out: DataFrame): DataFrame = {
    val spark = out.sparkSession
    // a byte string, or a negative number (-1 = broadcasts disabled),
    // parsed as Spark's own bytes configs parse it
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    val thresh = if (raw.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    val size = if (thresh <= 0) None else ExecBridge.checkpointRdd(out).flatMap { rdd =>
      spark.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).map(i => i.memSize + i.diskSize)
    }
    if (size.exists(s => s >= 0 && s < thresh))
      org.apache.spark.sql.functions.broadcast(out)
    else out
  }

  /** Drop a severed frame's cached blocks now, instead of when Spark's
    * context cleaner next collects them — for a checkpoint whose owner
    * is done with it. A frame that is not a checkpoint is left alone. */
  def release(df: DataFrame): Unit = ExecBridge.releaseCheckpoint(df)

  /** Submit an INDEPENDENT severing now, collect at the use site —
    * §2.6 for a relation whose consumer sits several stages downstream
    * (the curation bench gram set reads only the raw corpus but is
    * first joined at stage 6): its jobs overlap the intervening
    * stages instead of serializing inside the consumer's job. */
  def defer(df: => DataFrame): () => DataFrame = {
    val task = fork(SparkSession.active)(sever(df))
    () => join(task)
  }

  /** Run independent branches of driver work concurrently — whole DAG
    * branches, each submitting its own jobs (the pipeline's chains, a
    * chain's report and publish, a report's profile passes, a tick's
    * fold-back appends, a lineage fold's compactions). Each
    * branch is a pool task; the caller then runs every branch no thread
    * has started and waits for the rest. A branch may itself call
    * `branches`. Every branch is waited for; only then is the first
    * failure (in branch order) rethrown, so no sibling is still running
    * jobs when the caller sees it. Results come in branch order. */
  def branches[T](spark: SparkSession, work: Seq[() => T]): Seq[T] = {
    val tasks = work.map(w => fork(spark)(w()))
    tasks.foreach(_.run())
    tasks.map(t => Try(join(t))).map(_.get)
  }
}
