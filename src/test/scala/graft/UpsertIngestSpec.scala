package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.streaming.UpsertIngest

/** Streaming CDC upserts as merge-on-read delta versions: one delta per
  * micro-batch (bytes ∝ batch), exactly-once via the batch id riding
  * the delta commit's manifest, compaction mid-stream transparent.
  */
class UpsertIngestSpec extends SparkSpec {

  test("CDC stream: bootstrap, delta upserts/deletes, delta-sized writes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft-upsing")
    val ckpt = Fixture.dir("graft-upsing-ck")
    val mem = MemoryStream[(Long, String, Boolean)]
    val q = UpsertIngest.start(spark,
      mem.toDF().toDF("k", "s", "del"), dir, ckpt, Seq("k"), "del")
    try {
      // batch 0 bootstraps the base
      mem.addData((1L to 50L).map(k => (k, s"v$k", false)): _*)
      q.processAllAvailable()
      // batch 1: update k=1, delete k=2, insert k=100
      mem.addData((1L, "V1", false), (2L, "x", true), (100L, "new", false))
      q.processAllAvailable()

      val got = Snapshots.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 50 && got(1L) == "V1" && !got.contains(2L)
        && got(100L) == "new")
      // batch 1 wrote ONLY a delta: base files carried forward verbatim
      val f0 = Snapshots.files(spark, dir, Some(0)).toSet
      val f1 = Snapshots.files(spark, dir, Some(1)).toSet
      assert(f0.subsetOf(f1) && (f1 -- f0).forall(_.startsWith("delta-v")))
      // time travel: the bootstrap version still shows pre-CDC state
      val v0 = Snapshots.read(spark, dir, Some(0)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(v0.size == 50 && v0(1L) == "v1" && v0.contains(2L))
    } finally q.stop()
  }

  test("replay is a no-op, and exactly-once survives mid-stream compaction") {
    import spark.implicits._
    val dir = Fixture.dir("graft-upsrep")
    val b0 = Seq((1L, "a", false), (2L, "b", false)).toDF("k", "s", "del")
    val b1 = Seq((2L, "B", false), (3L, "c", false)).toDF("k", "s", "del")
    assert(UpsertIngest.ingestBatch(spark, dir, b0, 0L, Seq("k"), "del"))
    assert(UpsertIngest.ingestBatch(spark, dir, b1, 1L, Seq("k"), "del"))
    val before = Snapshots.versions(spark, dir)
    assert(!UpsertIngest.ingestBatch(spark, dir, b1, 1L, Seq("k"), "del"),
      "replay must report not-applied")
    assert(Snapshots.versions(spark, dir) == before, "no phantom delta")
    // maintenance folds the log; the applied batch id must survive it
    Snapshots.compactDeltas(spark, dir)
    assert(!UpsertIngest.ingestBatch(spark, dir, b1, 1L, Seq("k"), "del"),
      "replay after compaction must still no-op")
    assert(UpsertIngest.ingestBatch(spark, dir,
      Seq((4L, "d", false)).toDF("k", "s", "del"), 2L, Seq("k"), "del"))
    val got = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
  }
}
