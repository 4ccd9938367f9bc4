package graft.core

import org.apache.spark.rdd.{GraftBlocks, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** An eagerly checkpointed frame and the blocks it reads. `df` is the
  * checkpoint, or a frame [[map]]ped from it; [[free]] removes the
  * blocks, after which `df` can no longer be read (a local checkpoint
  * has no lineage to recompute from).
  */
final class Pinned private[core] (val df: DataFrame, blocks: RDD[_]) {

  /** A frame computed from `df` that reads the same blocks. */
  def map(f: DataFrame => DataFrame): Pinned = new Pinned(f(df), blocks)

  /** Remove the blocks. Idempotent. */
  def free(blocking: Boolean): Unit = GraftBlocks.unpersist(blocks, blocking)
}

/** Session-scoped registry of DataFrames an operator persisted
  * INTERNALLY and could not release itself.
  *
  * Why it exists: several operators return a LAZY result whose lineage
  * reads an internally-persisted intermediate more than once (the
  * multi-consumer-explode discipline — e.g. the LM family's
  * (doc, transition) multiplicity frame, or a phrase query's pruned
  * posting lists). The operator cannot unpersist before returning (the
  * caller has not materialized yet, so the persist would be wasted) and
  * the caller holds no reference to the intermediate — so without a
  * registry each call pins corpus-scale cache entries for the session
  * lifetime. Spark's `CacheManager` holds strong references to every
  * `persist()`ed plan, and — the r18 bench lesson — unpersisting the
  * underlying RDD blocks (`sparkContext.getPersistentRDDs`) does NOT
  * remove the `CachedData` plan entry: entries accumulate and every
  * later query's planning pays a canonicalized-plan comparison against
  * each of them.
  *
  * Contract: operators register internal persists with [[track]] and
  * shared eager checkpoints with [[pinShared]]; a long-lived session (a
  * query service, a bench/verify harness, a notebook) calls [[release]]
  * between independent jobs, AFTER materializing the results it needs.
  *
  * Invariant: release only BETWEEN executions, never while a job that
  * reads a tracked frame can still run. A released persist recomputes
  * from lineage, but a released checkpoint has none — its blocks were
  * the only copy — so a query still running over it fails.
  *
  * Frames that an operator CAN release itself (it runs an internal
  * action before returning, e.g. GD training or an eager index build)
  * follow the materialize-then-unpersist discipline at the call site
  * instead ([[graft.text.Curation]] scoredDisposition) and never land
  * here; iterated loops run on [[Rounds]], which pins each round
  * through [[pin]] and frees the round before it.
  *
  * This object is the only code that knows where a checkpoint's blocks
  * live (the RDD behind the plan's `LogicalRDD` leaf) and how they are
  * removed without Spark's truncated-lineage WARN.
  */
object Caches {

  private val frames =
    scala.collection.mutable.Map.empty[
      SparkSession, scala.collection.mutable.ArrayBuffer[Dataset[_]]]

  /** Drop entries whose SparkContext has stopped — their blocks died
    * with the executors, so only the Map's strong references (session +
    * plan trees) remain, and a service that cycles sessions without
    * calling release() would otherwise pin every dead session's tracked
    * plans for the JVM lifetime. Callers never see this: it runs inside
    * every [[track]]/[[release]], so the registry is bounded by LIVE
    * sessions' tracked frames. Must be called while synchronized.
    */
  private def sweepStopped(): Unit =
    frames.keys.filter(_.sparkContext.isStopped).toSeq
      .foreach(frames.remove)

  /** Register an internally-persisted frame for later [[release]];
    * returns it unchanged so call sites stay expression-shaped.
    */
  def track[A](df: Dataset[A]): Dataset[A] = synchronized {
    sweepStopped()
    frames.getOrElseUpdate(df.sparkSession,
      scala.collection.mutable.ArrayBuffer.empty) += df
    df
  }

  /** The RDDs behind `df`'s `LogicalRDD` leaves: a checkpoint's blocks. */
  private def leafRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** Eager `localCheckpoint` at `level`: the blocks are written before
    * this returns, and the handle frees exactly them.
    */
  def pin(df: DataFrame, level: StorageLevel): Pinned = {
    // Label the checkpoint's job and RDDs with the first caller outside
    // core (pin's caller, or the operator running a Rounds loop), as a
    // direct localCheckpoint call there would be, not with this line.
    val sc = df.sparkSession.sparkContext
    val saved = sc.getLocalProperty(CallSiteShort)
    new Throwable().getStackTrace
      .find(!_.getClassName.startsWith("graft.core."))
      .foreach(f => sc.setCallSite(
        s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    val ck =
      try df.localCheckpoint(eager = true, storageLevel = level)
      finally sc.setLocalProperty(CallSiteShort, saved)
    new Pinned(ck, leafRdds(ck).head)
  }

  /** The local property `SparkContext.setCallSite` writes. */
  private val CallSiteShort = "callSite.short"

  /** [[pin]] a frame several consumers of a lazy result share, and
    * [[track]] it: its blocks live until the session's next [[release]].
    */
  def pinShared(df: DataFrame, level: StorageLevel): DataFrame =
    track(pin(df, level).df)

  /** Remove the blocks of every persisted RDD in `spark`'s context,
    * blocking — a harness's sweep between executions, which also frees
    * blocks nothing tracked.
    */
  def freeAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(GraftBlocks.unpersist(_, blocking = true))

  /** Unpersist every frame tracked against `spark` (removing both the
    * storage blocks and the CacheManager plan entry — `df.unpersist`,
    * unlike RDD-level unpersist, drops the `CachedData` record) and free
    * the checkpoint blocks its plan reads, which the CacheManager does
    * not know about. Non-blocking: block removal overlaps the caller's
    * next job. Returns the number of frames released. Idempotent; a
    * frame the caller already unpersisted is a no-op.
    */
  def release(spark: SparkSession): Int = {
    val fs = synchronized { sweepStopped(); frames.remove(spark) }
      .getOrElse(scala.collection.mutable.ArrayBuffer.empty)
    fs.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
      try leafRdds(df).foreach(GraftBlocks.unpersist(_, blocking = false))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    fs.size
  }

  /** Frames currently tracked for `spark` (diagnostics / specs). */
  def trackedCount(spark: SparkSession): Int = synchronized {
    frames.get(spark).map(_.size).getOrElse(0)
  }
}
