package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.BitmapIngest

/** Continuously-maintained EXACT bitmap rollup: micro-batches OR-merge
  * into the (day, blob) table, range counts and cross-range overlaps
  * come from blobs alone, and replay is a no-op because OR is
  * idempotent.
  */
class BitmapIngestSpec extends SparkSpec {

  private def ts(min: Int) = java.sql.Timestamp.valueOf(
    java.time.LocalDateTime.of(2024, 1, 1 + min / 1440, (min / 60) % 24,
      min % 60, 0))

  test("streamed bitmap rollup: exact range counts and exact overlap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Fixture.dir("graft-bitmap-ingest")
    val path = s"$tmp/rollup"
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = BitmapIngest.start(spark,
      mem.toDF().toDF("ts", "user_id"), path, s"$tmp/ckpt")
    try {
      // day 1: users 1..40; day 2: users 30..70 (overlap 30..40)
      mem.addData((1L to 40L).map(u => (ts(u.toInt), u)): _*)
      q.processAllAvailable()
      mem.addData((30L to 70L).map(u => (ts(1440 + u.toInt), u)): _*)
      q.processAllAvailable()

      assert(spark.read.parquet(path).count() == 2L, "one blob row per day")
      // exact — not estimates
      assert(BitmapIngest.distinctCount(spark, path,
        "2024-01-01", "2024-01-02") == 70L)
      assert(BitmapIngest.distinctCount(spark, path,
        "2024-01-01", "2024-01-01") == 40L)
      // the intersection a sketch rollup cannot answer: 30..40
      assert(BitmapIngest.overlapCount(spark, path,
        "2024-01-01", "2024-01-01", "2024-01-02", "2024-01-02") == 11L)
    } finally q.stop()
  }

  test("replaying a batch is a no-op (idempotent OR), blobs byte-equal") {
    import spark.implicits._
    val tmp = Fixture.dir("graft-bitmap-replay")
    val path = s"$tmp/rollup"
    val batch = (1L to 50L).map(u => (ts(u.toInt), u)).toDF("ts", "user_id")
    BitmapIngest.applyBatch(spark, batch, path)
    def blobs = spark.read.parquet(path)
      .collect().map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]](1).toSeq)
      .toMap
    val once = blobs
    BitmapIngest.applyBatch(spark, batch, path) // at-least-once redelivery
    assert(blobs == once, "re-merging the same blob must not move any bit")
  }
}
