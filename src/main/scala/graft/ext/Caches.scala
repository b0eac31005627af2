package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Registry of frames persisted by extension plan builders (dedup shingle
 * sets, blocked pair inputs, iterative component labels). The builders are
 * lazy — the caller decides when the plan executes — so they cannot
 * unpersist their caches themselves; consumers (Bench/Verify/pipelines)
 * call [[unpersistAll]] after consuming each query so caches never leak
 * across queries in a shared session.
 *
 * The registry is keyed by the REGISTERING THREAD: [[unpersistAll]] releases
 * only the caches tracked by the calling thread, so concurrent queries in a
 * shared session (one per thread — the standard parallel-harness shape, e.g.
 * `Runner`'s parallel dims or overlapping harness queries) cannot release
 * each other's in-flight caches and silently force recomputation of the
 * persisted subtrees. A query whose BUILD and CONSUME+FLUSH straddle threads
 * must flush from the building thread (or use [[unpersistEverything]] at
 * session teardown, which releases all threads' caches).
 */
private[graft] object Caches {

  /** Per-thread release actions, one per tracked frame, run in order. */
  private val releases = new java.util.concurrent.ConcurrentHashMap[Long, ArrayBuffer[() => Unit]]()

  private def onRelease(release: () => Unit): Unit =
    releases.computeIfAbsent(Thread.currentThread().getId, _ => ArrayBuffer.empty) += release

  def track(df: DataFrame): DataFrame = register(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Record an already-persisted frame for release by [[unpersistAll]]. */
  def register(df: DataFrame): DataFrame = {
    onRelease(() => df.unpersist(blocking = false))
    df
  }

  /** The RDD actually holding a localCheckpoint's blocks. `Dataset
    * .unpersist` on a checkpointed frame is a NO-OP — it goes through the
    * CacheManager while the checkpoint persists at the RDD level — so
    * releasing one means unpersisting the `LogicalRDD` leaf's RDD. */
  private[ext] def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Release a frame produced by [[checkpoint]]. A durable checkpoint
    * holds no blocks, so this is a no-op for it. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** The one checkpoint rule of `graft.ext`: an eager checkpoint that
    * materializes `df` once and replaces its plan with a leaf `LogicalRDD`.
    * With `sc.setCheckpointDir` configured (the cluster-run toggle) it is
    * DURABLE — written to that storage, so a lost executor re-reads it
    * instead of re-running the lineage or killing the job (Spark deletes
    * the files only under `spark.cleaner.referenceTracking.cleanCheckpoints
    * =true`; clean the dir periodically otherwise). Without one it is a
    * `localCheckpoint`: blocks on the executors, fastest, and the accepted
    * single-box trade (executor loss = rerun the operator). */
  private def checkpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** [[checkpoint]] tracked for REAL release by [[unpersistAll]]: the frame
    * is materialized once, so downstream re-plans (iterative-trainer steps,
    * probe loops, an eager operator's several reads of its input) stop
    * re-running and re-analysing the full build lineage. */
  def trackCheckpoint(df: DataFrame): DataFrame = registerCheckpoint(checkpoint(df))

  private def registerCheckpoint(df: DataFrame): DataFrame = {
    onRelease(() => releaseCheckpoint(df))
    df
  }

  /** One round of [[iterate]]: its 1-based `index`, and `scratch`, which
    * checkpoints a frame the round reads several times on the way to its
    * result (HITS' authorities, a large-star phase) and releases it once
    * the result is materialized. */
  final class Round private[Caches] (val index: Int) {
    private val frames = ArrayBuffer.empty[DataFrame]
    def scratch(df: DataFrame): DataFrame = {
      val c = checkpoint(df)
      frames += c
      c
    }
    private[Caches] def release(): Unit = frames.foreach(releaseCheckpoint)
  }

  /** The one round loop of `graft.ext`'s iterative builders (graph ranks,
    * label propagation, BFS, k-core, star contraction, BPE merges). From
    * `init`, runs `step` on the latest round for at most `rounds` rounds,
    * stopping early when `step` returns None (a fixpoint: the latest round
    * is the result). Every round is [[checkpoint]]ed — each round reads
    * the one before, so an untruncated plan would grow per round and
    * Catalyst analysis go exponential — and the round it replaces is
    * released once the new one is materialized, so a run holds one round
    * (plus the current round's scratch) at a time. The survivor is
    * registered for [[unpersistAll]]; if `step` throws, every round still
    * live is released before the exception propagates. */
  def iterate(init: DataFrame, rounds: Int)(
      step: (DataFrame, Round) => Option[DataFrame]): DataFrame = {
    var cur = checkpoint(init)
    try {
      var more = true
      var i = 1
      while (more && i <= rounds) {
        val round = new Round(i)
        val next = try step(cur, round).map(checkpoint) finally round.release()
        next.foreach { n => releaseCheckpoint(cur); cur = n }
        more = next.isDefined
        i += 1
      }
    } catch { case e: Throwable => releaseCheckpoint(cur); throw e }
    registerCheckpoint(cur)
  }

  private def release(thread: Long): Unit = {
    val b = releases.remove(thread)
    if (b != null) b.foreach(_())
  }

  /** Release the caches tracked by the CALLING thread (see class doc). */
  def unpersistAll(): Unit = release(Thread.currentThread().getId)

  /** Release every thread's caches — session-teardown / test-suite cleanup
    * only; defeats the per-thread isolation if called mid-flight. */
  def unpersistEverything(): Unit = releases.keySet().forEach(t => release(t))
}
