package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.etl.Expectations
import graft.streaming.EventsStream.Event
import graft.streaming.QuarantineIngest

/** Streaming validated ingest: rows split into clean/quarantine per
  * micro-batch, quarantine reasons survive, replays are no-ops, and a
  * crash between the two publishes converges on replay.
  */
class QuarantineIngestSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val rules = Seq(
    Expectations.inRange("value", 0, 100),
    Expectations.inSet("event_type", Seq("click", "view", "purchase")))

  private def dirs() = {
    val base = Fixture.dir("graft-quar")
    (s"$base/clean", s"$base/quar", s"$base/ckpt")
  }

  test("stream splits clean and quarantined rows with reasons, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (clean, quar, ckpt) = dirs()
    val mem = MemoryStream[Event]
    val q = QuarantineIngest.start(spark, mem.toDF(), rules, Nil, clean, quar, ckpt)
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 5.0),
        Event(2, ts(1), 1, "oops", 5.0),      // set violation
        Event(3, ts(2), 2, "view", -3.0))     // range violation
      q.processAllAvailable()
      mem.addData(
        Event(4, ts(3), 2, "purchase", 50.0),
        Event(5, ts(4), 3, "oops", -1.0))     // both violations
      q.processAllAvailable()
    } finally q.stop()

    val cleanIds = QuarantineIngest.readClean(spark, clean)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds == Set(1L, 4L))
    val qr = QuarantineIngest.readQuarantine(spark, quar)
      .select(col("event_id"), col("violations")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(qr(2L) == "event_type_in_set")
    assert(qr(3L) == "value_range")
    assert(qr(5L) == "event_type_in_set,value_range")

    // replaying an applied batch is a no-op (no duplicate rows)
    val batch = spark.createDataFrame(Seq(
      Event(1, ts(0), 1, "click", 5.0),
      Event(2, ts(1), 1, "oops", 5.0),
      Event(3, ts(2), 2, "view", -3.0)))
    QuarantineIngest.applyBatch(spark, batch, rules, Nil, clean, quar, 0L)
    assert(QuarantineIngest.readClean(spark, clean).count() == 2)
    assert(QuarantineIngest.readQuarantine(spark, quar).count() == 3)
  }

  test("a crash between the clean and quarantine publishes converges " +
    "on replay") {
    import spark.implicits._
    val (clean, quar, _) = dirs()
    val batch = spark.createDataFrame(Seq(
      Event(1, ts(0), 1, "click", 5.0),
      Event(2, ts(1), 1, "oops", 5.0)))
    QuarantineIngest.applyBatch(spark, batch, rules, Nil, clean, quar, 0L)
    // simulate the crash: quarantine publish lost, clean survived
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(); ()
    }
    wipe(new java.io.File(s"$quar/batch=0"))
    QuarantineIngest.applyBatch(spark, batch, rules, Nil, clean, quar, 0L)
    assert(QuarantineIngest.readClean(spark, clean).count() == 1,
      "clean side must not double-append")
    assert(QuarantineIngest.readQuarantine(spark, quar)
      .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(2L),
      "quarantine side must be restored")
  }
}
