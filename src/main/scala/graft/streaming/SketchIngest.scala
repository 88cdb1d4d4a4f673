package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained mergeable-sketch rollup — the streaming twin
  * of the q54 persisted-sketch pattern: a tiny (day, HLL sketch) table
  * answers "distinct users over any date range" with a union-merge of
  * sketches, never a raw-event rescan. Each micro-batch sketches its
  * own rows (one partial-agg shuffle over the BATCH, not the history)
  * and merges into the stored table via `hll_union_agg` under
  * [[Sink.mergeSwap]], guard-free.
  *
  * Exactly-once WITHOUT idempotent-sink bookkeeping: HLL union is a
  * register-wise max, so re-merging a replayed batch's sketch is a
  * NO-OP — at-least-once replay converges to the same registers
  * (spec-tested). This is the algebraic route to exactly-once that
  * mergeable sketches buy at any scale.
  */
object SketchIngest {

  /** Sketch one micro-batch of events (ts, user_id) into per-day HLL
    * sketches and merge them into the rollup table at `path`.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val daily = batch
      .groupBy(date_trunc("DAY", col("ts")).as("d"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    Sink.mergeSwap(spark, path, None)(daily.limit(0)) { cur =>
      cur.unionByName(daily).groupBy("d").agg(expr("hll_union_agg(sk)").as("sk"))
    }
  }

  /** Start continuous rollup maintenance over an event stream. */
  def start(spark: SparkSession, events: DataFrame, path: String,
            checkpoint: String): StreamingQuery =
    Sink.start(events, checkpoint)((batch, _) => applyBatch(spark, batch, path))

  /** Distinct-user estimate over [from, to] (inclusive days) from the
    * stored sketches alone — no raw events touched.
    */
  def estimate(spark: SparkSession, path: String,
               from: String, to: String): Long =
    spark.read.parquet(path)
      .filter(col("d") >= to_date(lit(from)) && col("d") <= to_date(lit(to)))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
      .head().getLong(0)
}
