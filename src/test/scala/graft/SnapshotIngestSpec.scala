package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.streaming.SnapshotIngest

/** Streaming ingest into snapshot versions: one version per
  * micro-batch, exactly-once under replay because the applied batch id
  * rides the manifest's own atomic publish.
  */
class SnapshotIngestSpec extends SparkSpec {

  test("each micro-batch commits one version; the union is the feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft-snaping")
    val ckpt = Fixture.dir("graft-snaping-ck")
    val mem = MemoryStream[Long]
    val q = SnapshotIngest.start(spark,
      mem.toDF().select(col("value").as("k")), dir, ckpt)
    try {
      mem.addData(1L to 10L: _*); q.processAllAvailable()
      mem.addData(11L to 15L: _*); q.processAllAvailable()
      assert(Snapshots.versions(spark, dir).size == 2)
      val got = Snapshots.read(spark, dir)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == (1L to 15L).toSet)
      // time travel to the first batch boundary
      val v0 = Snapshots.read(spark, dir, Some(0))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(v0 == (1L to 10L).toSet)
    } finally q.stop()
  }

  test("continuous ingest into a hidden-partitioned layout: pruned point " +
    "reads work on a live feed, replay still no-ops") {
    import spark.implicits._
    import graft.sources.PartitionSpec
    val dir = Fixture.dir("graft-snappart")
    val spec = Seq(("bucket8", "k"))
    assert(SnapshotIngest.ingestBatch(spark, dir,
      (1L to 40L).toDF("k"), 0L, spec))
    assert(SnapshotIngest.ingestBatch(spark, dir,
      (41L to 80L).toDF("k"), 1L, spec))
    val rel = Snapshots.files(spark, dir)
    assert(rel.forall(_.contains("__p_bucket8_k=")), "layout must be partitioned")
    // point read prunes to one bucket per committed batch
    val kept = rel.filter(PartitionSpec.mayContain(_, "k", "7", "7"))
    assert(kept.nonEmpty && kept.size < rel.size)
    assert(Snapshots.rangeRead(spark, dir, "k", "7", "7")
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(7L))
    // replay of batch 1 under the same spec: no-op
    val before = Snapshots.versions(spark, dir)
    assert(!SnapshotIngest.ingestBatch(spark, dir, (41L to 80L).toDF("k"), 1L, spec))
    assert(Snapshots.versions(spark, dir) == before)
    assert(Snapshots.read(spark, dir).count() == 80)
  }

  test("a replayed batch is a no-op: no duplicate rows, no new version") {
    import spark.implicits._
    val dir = Fixture.dir("graft-snaprep")
    val b0 = Seq(1L, 2L, 3L).toDF("k")
    val b1 = Seq(4L, 5L).toDF("k")
    assert(SnapshotIngest.ingestBatch(spark, dir, b0, 0L))
    assert(SnapshotIngest.ingestBatch(spark, dir, b1, 1L))
    val before = Snapshots.versions(spark, dir)
    // crash-replay: the last batch fires again
    assert(!SnapshotIngest.ingestBatch(spark, dir, b1, 1L),
      "replay must report not-applied")
    assert(Snapshots.versions(spark, dir) == before, "no phantom version")
    val got = Snapshots.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toList.sorted
    assert(got == List(1L, 2L, 3L, 4L, 5L), "no duplicated rows")
    // the NEXT batch still applies after a replay
    assert(SnapshotIngest.ingestBatch(spark, dir, Seq(6L).toDF("k"), 2L))
    assert(Snapshots.meta(spark, dir)("batch_id") == "2")
  }

  test("replay stays a no-op across interleaved maintenance and manual commits") {
    import spark.implicits._
    val dir = Fixture.dir("graft-snapmix")
    assert(SnapshotIngest.ingestBatch(spark, dir, Seq(1L, 2L).toDF("k"), 0L))
    assert(SnapshotIngest.ingestBatch(spark, dir, Seq(3L).toDF("k"), 1L))
    // compaction commits WITHOUT ingest meta of its own — it must carry
    // the applied batch id forward, or a crash-replay duplicates rows
    Snapshots.compact(spark, dir, targetBytes = 1L << 30)
    assert(!SnapshotIngest.ingestBatch(spark, dir, Seq(3L).toDF("k"), 1L),
      "replay after compaction must still no-op")
    // a manual meta-less append must not blind the guard either: the
    // scan walks back past it to the last batch-bearing version
    Snapshots.commit(spark, dir, Seq(100L).toDF("k"), "append")
    assert(!SnapshotIngest.ingestBatch(spark, dir, Seq(3L).toDF("k"), 1L),
      "replay after a manual commit must still no-op")
    val got = Snapshots.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).toList.sorted
    assert(got == List(1L, 2L, 3L, 100L), "no duplicated rows anywhere")
    assert(SnapshotIngest.ingestBatch(spark, dir, Seq(4L).toDF("k"), 2L),
      "the next real batch still applies")
  }

  test("out-of-order batch ids fail loudly instead of corrupting history") {
    import spark.implicits._
    val dir = Fixture.dir("graft-snapooo")
    assert(SnapshotIngest.ingestBatch(spark, dir, Seq(1L).toDF("k"), 5L))
    val ex = intercept[IllegalArgumentException] {
      SnapshotIngest.ingestBatch(spark, dir, Seq(2L).toDF("k"), 3L)
    }
    assert(ex.getMessage.contains("out-of-order"))
  }
}
