package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text

/** Continuously-maintained EXACT per-group top-k — the streaming form
  * of qa09's GroupTopK aggregate: a tiny (group, value, id) leaderboard
  * (≤ k rows per group) absorbs each micro-batch, so "top events by
  * value per type" is a metadata-scale read, never a raw-event rescan.
  * Each batch pays one partial-agg shuffle over the BATCH only; the
  * merge re-runs GroupTopK over stored-rows ∪ batch-top-k — exact
  * because bounded top-k is a mergeable summary (top-k of a union
  * equals top-k of per-part top-ks, proven partition-invariant in
  * GroupTopKSpec).
  *
  * Exactly-once by the RollupIngest discipline, [[Sink.mergeSwap]]'s
  * transactional batch-id guard: replaying a batch into the
  * leaderboard could WIDEN it incorrectly if ties moved.
  */
object TopKIngest {

  private def topk(df: DataFrame, k: Int): DataFrame =
    df.groupBy("event_type")
      .agg(Text.groupTopK(col("value"), col("event_id"), k).as("t"))
      .select(col("event_type"), explode(col("t")).as("e"))
      .select(col("event_type"), col("e.value").as("value"), col("e.id").as("event_id"))

  /** Absorb one micro-batch (event_type, event_id, value) — idempotent
    * per `batchId` (replays no-op).
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String,
                 batchId: Long, k: Int): Unit = {
    val partial = topk(
      batch.select(col("event_type"), col("event_id"), col("value")), k)
    Sink.mergeSwap(spark, path, Some(batchId))(partial.limit(0)) { cur =>
      topk(cur.unionByName(partial), k)
    }
  }

  /** Start continuous top-k maintenance over an event stream. */
  def start(spark: SparkSession, events: DataFrame, path: String,
            checkpoint: String, k: Int): StreamingQuery =
    Sink.start(events, checkpoint)(applyBatch(spark, _, path, _, k))

  /** The leaderboard with ranks: (event_type, rk, event_id, value). */
  def read(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(path).drop(Sink.BatchCol)
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))))
  }
}
