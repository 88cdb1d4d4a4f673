package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Exact

/** Continuously-maintained EXACT materialized aggregate — the exact-path
  * complement to SketchIngest's mergeable-sketch rollup: a tiny
  * (day, event_type, n, total) table incrementally absorbs each
  * micro-batch, so "counts and totals by day/type" is a metadata-scale
  * read, never a raw-event rescan. Each batch contributes one
  * partial-agg shuffle over the BATCH ONLY; the merge re-aggregates the
  * stored table plus the partial (sum-of-sums — exact because the sum
  * rides DECIMAL, associative at any partitioning).
  *
  * Exactly-once differs from SketchIngest fundamentally: HLL union is
  * idempotent under replay (register-wise max), but exact sums DOUBLE
  * COUNT a replayed batch, so the merge runs under [[Sink.mergeSwap]]'s
  * transactional batch-id guard.
  */
object RollupIngest {

  /** Last micro-batch id absorbed into the rollup at `path`, or -1. */
  def lastBatch(spark: SparkSession, path: String): Long =
    Sink.lastBatch(spark, path)

  /** Absorb one micro-batch of events (ts, event_type, value) into the
    * rollup — idempotent per `batchId` (replays no-op).
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String,
                 batchId: Long): Unit = {
    val partial = batch
      .groupBy(date_trunc("DAY", col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Exact.Dec)).as("total"))
    Sink.mergeSwap(spark, path, Some(batchId))(partial.limit(0)) { cur =>
      cur.unionByName(partial)
        .groupBy("d", "event_type")
        .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
    }
  }

  /** Start continuous exact-rollup maintenance over an event stream. */
  def start(spark: SparkSession, events: DataFrame, path: String,
            checkpoint: String): StreamingQuery =
    Sink.start(events, checkpoint)(applyBatch(spark, _, path, _))

  /** The rollup, bookkeeping stripped: (d, event_type, n, total). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(Sink.BatchCol)
}
