package graft.streaming

import org.apache.hadoop.fs.Path
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
  * Exactly-once by the RollupIngest discipline: replaying a batch
  * into the leaderboard could only WIDEN it incorrectly if ties moved,
  * and more fundamentally the swap must be transactional — so the last
  * applied micro-batch id rides the leaderboard table itself and
  * commits in the same AtomicSwap rename as the data (a replayed batch
  * sees itself applied and no-ops; no separate marker can decouple).
  */
object TopKIngest {

  import RollupIngest.{BatchCol, lastBatch}

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
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, path)
    if (batchId <= lastBatch(spark, path)) return // replayed batch: no-op
    val partial = topk(
      batch.select(col("event_type"), col("event_id"), col("value")), k)
    val cur =
      if (fs.exists(new Path(path))) spark.read.parquet(path).drop(BatchCol)
      else partial.limit(0)
    val merged = topk(cur.unionByName(partial), k)
      .withColumn(BatchCol, lit(batchId))
    AtomicSwap.rewrite(fs, path, merged)
  }

  /** Start continuous top-k maintenance over an event stream. */
  def start(spark: SparkSession, events: DataFrame, path: String,
            checkpoint: String, k: Int): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(spark, batch, path, id, k)
      }
      .start()

  /** The leaderboard with ranks: (event_type, rk, event_id, value). */
  def read(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(path).drop(BatchCol)
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))))
  }
}
