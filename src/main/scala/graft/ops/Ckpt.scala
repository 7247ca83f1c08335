package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Checkpoint policy for shared intermediate frames (round-6 spill drive).
  *
  * `localCheckpoint(true)` defaults to MEMORY_AND_DISK, which puts the
  * blocks in the UNIFIED memory pool's storage region. For a CORPUS-SIZED
  * frame that is fatal under memory pressure, and the failure mode is not
  * graceful: the blocks being read are PINNED by their reader tasks (they
  * cannot be evicted mid-iteration), unroll scratch for blocks still
  * materializing holds more, and together they can occupy the entire pool
  * — measured in DriveSpill at a 350 MB pool: storage held 349 MB
  * (209 MB blocks + 126 MB unroll scratch) and a downstream aggregation
  * died in `createHashMap` unable to acquire its first 256 KB, even
  * though every execution-side consumer in the plan spills correctly.
  * The query's own optimization (materialize once, read thrice) became
  * the thing that killed it.
  *
  * So: corpus-proportional shared frames checkpoint DISK_ONLY. The Spark
  * pool is never charged — execution keeps every byte — and re-reads are
  * served by the OS page cache whenever memory actually is plentiful, so
  * the fat-memory case loses almost nothing. Key-bounded SMALL frames
  * (zone maps, |langs|²-row confusions, |bands|-row aggregates) keep the
  * plain MEMORY_AND_DISK `localCheckpoint(true)` — pinning a few KB is
  * free and strictly faster.
  *
  * Both forms are ContextCleaner-managed: blocks free once the frame is
  * unreachable, nothing pins for the rest of a multi-query run (the
  * round-5 argument for checkpoint over persist/unpersist bookkeeping).
  */
object Ckpt {

  /** Plan-only suppression. Even a LAZY `localCheckpoint` is not
    * job-free under AQE: constructing the LogicalRDD calls
    * `physicalPlan.execute()`, and an AdaptiveSparkPlanExec materializes
    * every upstream shuffle stage right there — measured 18 jobs just
    * BUILDING the guided mad frame. A checkpoint is purely a
    * materialization-reuse optimization (semantics identical without it),
    * so code that only inspects plans (PlanSpec, ExtractsSpec, a
    * per-query job budget) builds frames inside [[planOnly]], under which
    * every checkpoint helper is the identity and frame construction
    * launches zero jobs. */
  private val suppress: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Run `body` with all checkpoint helpers suppressed (plan building
    * only — the returned frames recompute shared subtrees if executed,
    * which a plan inspection never does). */
  def planOnly[A](body: => A): A = {
    val prev = suppress.get()
    suppress.set(java.lang.Boolean.TRUE)
    try body finally suppress.set(prev)
  }

  private def active: Boolean = !suppress.get()

  /** RDD ids of frames checkpointed through [[DiskCheckpoint.smallCheckpointLazy]]
    * — the helper whose CONTRACT is "key-bounded SMALL frame". The
    * broadcast audit (DriveBroadcastAudit / PlanSpec) exempts a
    * checkpoint-backed broadcast build side ONLY if its scan's RDD id is
    * registered here: the aggregate lineage a checkpoint severs is thereby
    * re-established by the code that declared the bound, instead of by a
    * spoofable marker column (a corpus-sized frame routed through
    * joinOnZone would NOT be registered and gets flagged). Ids are ints;
    * the set is session-lifetime bookkeeping, a few bytes per frame. */
  private val smallIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Is `rddId` a small-frame checkpoint registered by [[DiskCheckpoint.smallCheckpointLazy]]? */
  def isSmallCheckpoint(rddId: Int): Boolean = smallIds.contains(rddId)

  private def registerSmall[T](ds: Dataset[T]): Dataset[T] = {
    ds.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => smallIds.add(l.rdd.id)
      case _ => ()
    }
    ds
  }

  implicit class DiskCheckpoint[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager DISK_ONLY local checkpoint for corpus-sized shared frames. */
    def diskCheckpoint(): Dataset[T] =
      if (active) ds.localCheckpoint(true, StorageLevel.DISK_ONLY) else ds

    /** Lazy variant (first consumer materializes). */
    def diskCheckpointLazy(): Dataset[T] =
      if (active) ds.localCheckpoint(false, StorageLevel.DISK_ONLY) else ds

    /** Lazy MEMORY_AND_DISK local checkpoint for key-bounded SMALL frames
      * (|zones|-row aggregates): pinning a few KB in the pool is free and
      * strictly faster than disk, but the construction must still honor
      * [[planOnly]]. */
    def smallCheckpointLazy(): Dataset[T] =
      if (active) registerSmall(ds.localCheckpoint(false)) else ds
  }
}
