package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.SketchIngest

/** Continuously-maintained HLL sketch rollup: micro-batches merge into
  * the (day, sketch) table, range estimates come from sketches alone,
  * and replay is a no-op because HLL union is a register-wise max.
  */
class SketchIngestSpec extends SparkSpec {

  private def ts(min: Int) = java.sql.Timestamp.valueOf(
    java.time.LocalDateTime.of(2024, 1, 1 + min / 1440, (min / 60) % 24,
      min % 60, 0))

  test("streamed sketch rollup matches the batch sketch estimate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Fixture.dir("graft-sketch-ingest")
    val path = s"$tmp/rollup"
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = SketchIngest.start(spark,
      mem.toDF().toDF("ts", "user_id"), path, s"$tmp/ckpt")
    try {
      // day 1: users 1..40; day 2: users 30..70 (overlap on purpose)
      mem.addData((1L to 40L).map(u => (ts(u.toInt), u)): _*)
      q.processAllAvailable()
      mem.addData((30L to 70L).map(u => (ts(1440 + u.toInt), u)): _*)
      q.processAllAvailable()

      val days = spark.read.parquet(path)
      assert(days.count() == 2L, "one sketch row per day")

      // range estimate from sketches alone vs the batch twin
      val streamed = SketchIngest.estimate(spark, path,
        "2024-01-01", "2024-01-02")
      val batchAll = ((1L to 40L).map(u => (ts(u.toInt), u)) ++
        (30L to 70L).map(u => (ts(1440 + u.toInt), u)))
        .toDF("ts", "user_id")
      val batch = batchAll.agg(
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))")).head().getLong(0)
      assert(streamed == batch,
        "stream-merged registers must equal the one-shot sketch")
      // 70 distinct users; lgK=12 gives ~1.6% rsd — exact at this size
      assert(math.abs(streamed - 70L) <= 7L)
    } finally q.stop()
  }

  test("replaying a batch is a no-op (register-wise max union)") {
    import spark.implicits._
    val tmp = Fixture.dir("graft-sketch-replay")
    val path = s"$tmp/rollup"
    val batch = (1L to 50L).map(u => (ts(u.toInt), u)).toDF("ts", "user_id")
    SketchIngest.applyBatch(spark, batch, path)
    val once = spark.read.parquet(path)
      .select(col("d"), expr("hll_sketch_estimate(sk)").as("est"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    SketchIngest.applyBatch(spark, batch, path) // at-least-once redelivery
    val twice = spark.read.parquet(path)
      .select(col("d"), expr("hll_sketch_estimate(sk)").as("est"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(once == twice, "re-merging the same sketch must not move registers")
  }
}
