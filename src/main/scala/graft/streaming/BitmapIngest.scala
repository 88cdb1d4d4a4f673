package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text

/** Continuously-maintained EXACT distinct rollup — [[SketchIngest]] with
  * the qa05 bitmap in place of HLL: a (day, bitmap blob) table answers
  * "distinct users over any date range" exactly, and intersections
  * ("active both weeks") exactly, from the stored blobs alone — never a
  * raw-event rescan. Each micro-batch bitmaps its own rows (one
  * partial-agg shuffle over the BATCH, not the history) and OR-merges
  * into the stored table through [[Sink.mergeSwap]], guard-free.
  *
  * Exactly-once by the same algebra as HLL: bitmap OR is idempotent, so
  * re-merging a replayed batch's blob is a NO-OP — at-least-once replay
  * converges to the same bits (spec-tested). The trade vs HLL is the
  * qa05 cost model: blob bytes grow with the day's distinct keys
  * (exactness's information floor) where HLL stays at 2 KB with ~2%
  * error and no intersections.
  */
object BitmapIngest {

  /** Bitmap one micro-batch of events (ts, user_id) into per-day blobs
    * and OR-merge them into the rollup table at `path`.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val daily = batch
      .groupBy(date_trunc("DAY", col("ts")).as("d"))
      .agg(Text.bitmapAgg(col("user_id")).as("bm"))
    Sink.mergeSwap(spark, path, None)(daily.limit(0)) { cur =>
      cur.unionByName(daily).groupBy("d").agg(Text.bitmapOr(col("bm")).as("bm"))
    }
  }

  /** Start continuous exact-rollup maintenance over an event stream. */
  def start(spark: SparkSession, events: DataFrame, path: String,
            checkpoint: String): StreamingQuery =
    Sink.start(events, checkpoint)((batch, _) => applyBatch(spark, batch, path))

  /** EXACT distinct-user count over [from, to] (inclusive days) from
    * the stored blobs alone — no raw events touched.
    */
  def distinctCount(spark: SparkSession, path: String,
                    from: String, to: String): Long =
    spark.read.parquet(path)
      .filter(col("d") >= to_date(lit(from)) && col("d") <= to_date(lit(to)))
      .agg(Text.bitmapCount(Text.bitmapOr(col("bm"))))
      .head().getLong(0)

  /** EXACT count of users active in BOTH inclusive day ranges — the
    * intersection no sketch rollup can answer.
    */
  def overlapCount(spark: SparkSession, path: String,
                   aFrom: String, aTo: String,
                   bFrom: String, bTo: String): Long = {
    val t = spark.read.parquet(path)
    def merged(from: String, to: String) =
      t.filter(col("d") >= to_date(lit(from)) && col("d") <= to_date(lit(to)))
        .agg(Text.bitmapOr(col("bm")).as("bm"))
    merged(aFrom, aTo).crossJoin(
        merged(bFrom, bTo).withColumnRenamed("bm", "bm2"))
      .select(Text.bitmapCount(Text.bitmapAnd(col("bm"), col("bm2"))))
      .head().getLong(0)
  }
}
