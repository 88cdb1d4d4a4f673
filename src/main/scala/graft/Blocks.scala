package graft

import org.apache.spark.sql.SparkSession

/** Deterministic reclamation of dead `localCheckpoint` blocks.
  *
  * Nearly every iterative operator in this repo materializes
  * intermediates with `Dataset.localCheckpoint()` (lineage truncation
  * is what keeps the BPE/PageRank/EM loops from exponential plan
  * growth). Those blocks are garbage the moment their query returns:
  * no cross-entry reference ever holds a truncated-lineage DataFrame —
  * all memoized state in the suite is parquet paths and driver-side
  * model objects, never live Datasets (audited round 17). But Spark
  * only reclaims a persisted block when the driver's ContextCleaner
  * notices the RDD handle was garbage-collected, and a driver GC on an
  * 8 GiB heap is rare during a bench pass — so across a 280-entry
  * suite × 4 passes the dead blocks pile up in the block manager. In
  * local mode the block manager shares the one JVM heap, and unified
  * memory protects storage from execution eviction below
  * `spark.memory.storageFraction`: pinned dead storage squeezes
  * execution memory and inflates EVERY subsequent entry — the
  * fixed-cost creep the round-16 bench measured (common entries +10%
  * per round as the suite grows; warehouse_build 4.4 s → 7.1 s).
  *
  * The sweep unpersists every still-registered locally-checkpointed
  * RDD. It must only run BETWEEN suite entries (a truncated-lineage
  * RDD cannot be recomputed, so sweeping one that a live query still
  * needs would fail that query loudly); plan-level `.cache()`s are
  * deliberately NOT swept — their lineage is intact and a standing
  * cache is legitimate cross-pass state.
  */
object Blocks {

  /** Unpersist all registered locally-checkpointed RDDs; returns how
    * many were swept. Non-blocking: removal proceeds async while the
    * next entry starts.
    */
  def sweepLocalCheckpoints(spark: SparkSession): Int = {
    val dead = spark.sparkContext.getPersistentRDDs.valuesIterator
      .filter(org.apache.spark.rdd.GraftRddAccess.isLocallyCheckpointed)
      .toList
    dead.foreach(_.unpersist(blocking = false))
    dead.length
  }

  /** (count, memBytes, diskBytes) currently pinned in the block
    * manager by persistent RDDs — the instrumentation that names the
    * creep in numbers.
    */
  def storagePinned(spark: SparkSession): (Int, Long, Long) = {
    val inf = spark.sparkContext.getRDDStorageInfo
    (inf.length, inf.map(_.memSize).sum, inf.map(_.diskSize).sum)
  }
}
