package graft.streaming

import org.apache.hadoop.fs.Path
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
  * COUNT a replayed batch. The guard is transactional: the last applied
  * micro-batch id is a (constant) column OF THE ROLLUP TABLE itself, so
  * the id commits in the same AtomicSwap rename as the data it
  * describes — a replayed batch sees itself already applied and no-ops.
  * A crash between "data swapped" and "marker written" cannot exist
  * because there is no separate marker.
  */
object RollupIngest {

  private[streaming] val BatchCol = "__last_batch"

  /** Last micro-batch id absorbed into the rollup at `path`, or -1. */
  def lastBatch(spark: SparkSession, path: String): Long = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) -1L
    else spark.read.parquet(path).select(max(col(BatchCol))).head() match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
  }

  /** Absorb one micro-batch of events (ts, event_type, value) into the
    * rollup — idempotent per `batchId` (replays no-op).
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String,
                 batchId: Long): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, path)
    if (batchId <= lastBatch(spark, path)) return // replayed batch: no-op
    val partial = batch
      .groupBy(date_trunc("DAY", col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Exact.Dec)).as("total"))
    val cur =
      if (fs.exists(new Path(path)))
        spark.read.parquet(path).drop(BatchCol)
      else partial.limit(0)
    val merged = cur.unionByName(partial)
      .groupBy("d", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      .withColumn(BatchCol, lit(batchId))
    AtomicSwap.rewrite(fs, path, merged)
  }

  /** Start continuous exact-rollup maintenance over an event stream. */
  def start(spark: SparkSession, events: DataFrame, path: String,
            checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(spark, batch, path, id)
      }
      .start()

  /** The rollup, bookkeeping stripped: (d, event_type, n, total). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(BatchCol)
}
