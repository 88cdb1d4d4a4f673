package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Snapshots

/** Continuous CDC upserts into a snapshot table via MERGE-ON-READ
  * deltas: each micro-batch lands as one [[Snapshots.commitDelta]] —
  * bytes written per batch are proportional to the BATCH, never the
  * table (the write profile continuous upserts need at 100 TB;
  * [[SnapshotIngest]] is the append-only sibling, [[DimIngest]] the
  * copy-on-write one). Readers see every batch boundary as a pinned,
  * time-travelable version with the delta log resolved transparently;
  * [[Snapshots.compactDeltas]] folds the log whenever maintenance
  * chooses, without pausing the stream (it is just another commit).
  *
  * Exactly-once is transactional, not algebraic: an upsert replay is
  * NOT idempotent at the file level (it would stack a duplicate delta
  * version), so the applied batch id rides the delta commit's own
  * manifest publish — a replayed batch sees its id and no-ops, the
  * SnapshotIngest guard ([[Sink.replayed]]). Batches must be key-unique
  * (fold multi-version CDC batches with `Scd2.foldCdc` upstream);
  * `commitDelta` enforces this loudly.
  */
object UpsertIngest {

  /** Apply one CDC batch exactly once. Returns true if applied, false
    * on a replay no-op.
    */
  def ingestBatch(spark: SparkSession, table: String, batch: DataFrame,
                  batchId: Long, keyCols: Seq[String],
                  deleteCol: String): Boolean = {
    if (Sink.replayed(spark, table, batchId)) return false
    if (batch.isEmpty) return false
    if (Snapshots.latestVersion(spark, table).isEmpty) {
      // bootstrap: the first batch's upserts ARE the base version
      // (deletes against an empty table are no-ops)
      val base = batch.filter(!col(deleteCol)).drop(deleteCol)
      if (base.isEmpty) return false
      Snapshots.commit(spark, table, base, "overwrite",
        withMeta = Map(Sink.BatchKey -> batchId.toString))
    } else {
      Snapshots.commitDelta(spark, table, batch, keyCols, Some(deleteCol),
        extraMeta = Map(Sink.BatchKey -> batchId.toString))
    }
    true
  }

  /** Start the stream: every micro-batch becomes one delta version. */
  def start(spark: SparkSession, cdc: DataFrame, table: String,
            checkpoint: String, keyCols: Seq[String],
            deleteCol: String): StreamingQuery =
    Sink.start(cdc, checkpoint) { (batch, batchId) =>
      ingestBatch(spark, table, batch, batchId, keyCols, deleteCol); ()
    }
}
