package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.streaming.RollupIngest

/** Incrementally-maintained EXACT materialized aggregate: per-batch
  * partials merge into the stored (day, type, n, total) table, the
  * result always equals a from-scratch batch recompute, and a replayed
  * micro-batch is a no-op because the applied batch id commits in the
  * same atomic swap as the data.
  */
class RollupIngestSpec extends SparkSpec {

  private def ts(min: Int) = java.sql.Timestamp.valueOf(
    java.time.LocalDateTime.of(2024, 1, 1 + min / 1440, (min / 60) % 24,
      min % 60, 0))

  test("streamed exact rollup equals the batch recompute across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Fixture.dir("graft-rollup-ingest")
    val path = s"$tmp/rollup"
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = RollupIngest.start(spark,
      mem.toDF().toDF("ts", "event_type", "value"), path, s"$tmp/ckpt")
    try {
      mem.addData((1 to 40).map(i =>
        (ts(i), if (i % 2 == 0) "click" else "view", i / 10.0)): _*)
      q.processAllAvailable()
      mem.addData((30 to 70).map(i =>
        (ts(1440 + i), if (i % 3 == 0) "click" else "purchase", i / 10.0)): _*)
      q.processAllAvailable()

      val all = ((1 to 40).map(i =>
        (ts(i), if (i % 2 == 0) "click" else "view", i / 10.0)) ++
        (30 to 70).map(i =>
          (ts(1440 + i), if (i % 3 == 0) "click" else "purchase", i / 10.0)))
        .toDF("ts", "event_type", "value")
      val want = all
        .groupBy(date_trunc("DAY", col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(Exact.Dec)).as("total"))
        .orderBy("d", "event_type").collect().toSeq
      val got = RollupIngest.read(spark, path)
        .orderBy("d", "event_type").collect().toSeq
      assert(got == want, "incremental rollup must equal the batch recompute")
    } finally q.stop()
  }

  test("a replayed batch id is a no-op — exact sums never double-count") {
    import spark.implicits._
    val tmp = Fixture.dir("graft-rollup-replay")
    val path = s"$tmp/rollup"
    val batch = Seq((ts(1), "click", 1.5), (ts(2), "view", 2.5))
      .toDF("ts", "event_type", "value")
    RollupIngest.applyBatch(spark, batch, path, batchId = 0L)
    val once = RollupIngest.read(spark, path)
      .orderBy("event_type").collect().toSeq
    // at-least-once delivery replays the same micro-batch
    RollupIngest.applyBatch(spark, batch, path, batchId = 0L)
    val twice = RollupIngest.read(spark, path)
      .orderBy("event_type").collect().toSeq
    assert(twice == once, "replay must not change the rollup")
    assert(RollupIngest.lastBatch(spark, path) == 0L)
    // the NEXT batch still applies
    RollupIngest.applyBatch(spark, batch, path, batchId = 1L)
    assert(RollupIngest.read(spark, path)
      .agg(sum("n")).head().getLong(0) == 4L)
  }
}
