package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Snapshots

/** Continuous ingest into a SNAPSHOT table: each micro-batch commits
  * as an append version, so downstream readers get the snapshot
  * guarantees (pinned file sets, time travel back to any batch
  * boundary) on a live feed — and exactly-once holds across restarts
  * because the applied batch id rides the manifest itself.
  *
  * A parquet-appending `FileStreamSink` is exactly-once only for
  * readers that honor its `_spark_metadata`; this sink makes the
  * COMMIT the unit of atomicity instead: a replayed batch (listener
  * refire, checkpoint restart before the sink's own commit recorded)
  * sees its id already in the latest manifest's metadata and no-ops
  * ([[Sink.replayed]]) — transactional, not algebraic, because
  * an append is not replay-idempotent.
  */
object SnapshotIngest {

  /** Commit one batch exactly once. Returns true if the batch was
    * applied, false if it was a replay no-op.
    */
  def ingestBatch(spark: SparkSession, table: String, batch: DataFrame,
                  batchId: Long,
                  partitionBy: Seq[(String, String)] = Nil): Boolean = {
    if (Sink.replayed(spark, table, batchId)) return false
    if (batch.isEmpty) return false // parquet write of 0 rows has no files
    val mode =
      if (Snapshots.latestVersion(spark, table).isEmpty) "overwrite" else "append"
    Snapshots.commit(spark, table, batch, mode,
      withMeta = Map(Sink.BatchKey -> batchId.toString),
      partitionBy = partitionBy)
    true
  }

  /** Start the stream: every micro-batch becomes one snapshot version.
    * `partitionBy` lays each batch out under hidden-partition
    * transforms (PartitionSpec) — continuous ingest into a pruned
    * layout, e.g. month(ts) for time-ranged reads or bucketN(key) for
    * point reads, with the same exactly-once guarantee.
    */
  def start(spark: SparkSession, stream: DataFrame, table: String,
            checkpoint: String,
            partitionBy: Seq[(String, String)] = Nil): StreamingQuery =
    Sink.start(stream, checkpoint) { (batch, batchId) =>
      ingestBatch(spark, table, batch, batchId, partitionBy); ()
    }
}
