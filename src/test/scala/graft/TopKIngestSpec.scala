package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventsStream.Event
import graft.streaming.TopKIngest

/** Streaming maintained top-k: the leaderboard equals the batch
  * recompute over everything seen, replays no-op, and displaced rows
  * leave the board.
  */
class TopKIngestSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("leaderboard equals the batch recompute; replays no-op; " +
    "displaced rows leave") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Fixture.dir("graft-topk")
    val (path, ckpt) = (s"$base/board", s"$base/ckpt")
    val mem = MemoryStream[Event]
    val q = TopKIngest.start(spark, mem.toDF(), path, ckpt, k = 2)
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 10.0),
        Event(2, ts(1), 1, "click", 30.0),
        Event(3, ts(2), 2, "view", 7.0))
      q.processAllAvailable()
      // batch 2: displaces event 1 from click's top-2
      mem.addData(
        Event(4, ts(3), 2, "click", 20.0),
        Event(5, ts(4), 3, "view", 5.0))
      q.processAllAvailable()
    } finally q.stop()

    val board = TopKIngest.read(spark, path)
      .select("event_type", "rk", "event_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(board == Set(
      ("click", 1, 2L), ("click", 2, 4L),   // 30, 20 — event 1 displaced
      ("view", 1, 3L), ("view", 2, 5L)))

    // replaying an absorbed batch is a no-op
    val replay = spark.createDataFrame(Seq(
      Event(4, ts(3), 2, "click", 20.0), Event(5, ts(4), 3, "view", 5.0)))
    TopKIngest.applyBatch(spark, replay, path, batchId = 1L, k = 2)
    val after = TopKIngest.read(spark, path)
      .select("event_type", "rk", "event_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(after == board, "replay must not change the board")

    // equals the batch recompute over all events seen
    val all = spark.createDataFrame(Seq(
      Event(1, ts(0), 1, "click", 10.0), Event(2, ts(1), 1, "click", 30.0),
      Event(3, ts(2), 2, "view", 7.0), Event(4, ts(3), 2, "click", 20.0),
      Event(5, ts(4), 3, "view", 5.0)))
    val direct = all.groupBy("event_type")
      .agg(graft.functions.Text.groupTopK(col("value"), col("event_id"), 2).as("t"))
      .select(col("event_type"), posexplode(col("t")).as(Seq("pos", "e")))
      .select(col("event_type"), (col("pos") + 1).as("rk"), col("e.id").as("event_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(board == direct)
  }
}
