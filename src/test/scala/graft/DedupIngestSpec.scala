package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.DedupIngest

/** Streaming exact-dedup state: after any number of micro-batches the
  * served merge must equal Dedup.exact over the full corpus bit for
  * bit — (min, sum) per content key is a monoid, so disjoint batch
  * partials lose nothing, including duplicates that span batches.
  */
class DedupIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stream-built dedup state serves identical to the corpus scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft_dd")
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    // three uneven micro-batches — duplicates land across batch
    // boundaries wherever the corpus planted them with distant ids
    val batches = Seq(docs.take(7).toSeq, docs.slice(7, 30).toSeq,
      docs.drop(30).toSeq)

    val mem = MemoryStream[(Long, String)]
    val q = DedupIngest.start(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, s"$dir/__ckpt")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val direct = Dedup.exact(
        Tables(spark, sf, "documents"), "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val served = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == direct,
      s"served dedup state diverges from the corpus scan: " +
        s"${(served diff direct).take(3)} vs ${(direct diff served).take(3)}")
  }

  test("cross-batch duplicates merge to the global min id and full count") {
    import spark.implicits._
    val dir = Fixture.dir("graft_dd2")
    DedupIngest.applyBatch(
      Seq((5L, "same text"), (9L, "other")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0L)
    DedupIngest.applyBatch(
      Seq((2L, "same text"), (7L, "same text")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1L)
    val got = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("same text", 2L, 3L), ("other", 9L, 1L)))
  }

  test("a replayed micro-batch no-ops; a new batch still applies") {
    import spark.implicits._
    val dir = Fixture.dir("graft_dd3")
    val b0 = Seq((1L, "a"), (3L, "a"), (2L, "b")).toDF("doc_id", "text")
    DedupIngest.applyBatch(b0, "doc_id", "text", dir, 0L)
    val once = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(DedupIngest.hasBatch(spark, dir, 0L))
    assert(!DedupIngest.hasBatch(spark, dir, 1L))
    DedupIngest.applyBatch(b0, "doc_id", "text", dir, 0L) // replay
    val twice = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(twice == once, "replay must be a value-level no-op")
    DedupIngest.applyBatch(
      Seq((0L, "a")).toDF("doc_id", "text"), "doc_id", "text", dir, 1L)
    val after = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == Set(("a", 0L, 3L), ("b", 2L, 1L)))
  }

  test("compaction collapses batch dirs without changing served results") {
    import spark.implicits._
    val dir = Fixture.dir("graft_dd4")
    DedupIngest.applyBatch(
      Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0L)
    DedupIngest.applyBatch(
      Seq((1L, "x"), (7L, "z")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1L)
    DedupIngest.applyBatch(
      Seq((2L, "x"), (3L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 2L)
    val before = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    DedupIngest.compact(spark, dir, "text")
    val after = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before, "compaction must not change served values")
    assert(after == Set(("x", 1L, 3L), ("y", 3L, 2L), ("z", 7L, 1L)))
    // all rows now live under the OLDEST batch id, in one directory
    val dirs = new java.io.File(s"$dir/state").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=0"), s"expected one compacted dir, got $dirs")
    // and further ingest keeps composing
    DedupIngest.applyBatch(
      Seq((0L, "y")).toDF("doc_id", "text"), "doc_id", "text", dir, 3L)
    val grown = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(grown == Set(("x", 1L, 3L), ("y", 0L, 3L), ("z", 7L, 1L)))
  }

  test("a replayed batch AFTER compaction no-ops; hasBatch stays true") {
    import spark.implicits._
    // Compaction relocates all merged rows under the oldest batch id
    // and vacuums the other directories. A replay of an absorbed batch
    // after that (manual backfill trusting hasBatch, or a crash-replay
    // racing the compactor) must be a complete no-op — pre-marker it
    // re-created the batch directory beside the compacted partials and
    // serve() double-counted n_copies.
    val dir = Fixture.dir("graft_dd5")
    val b1 = Seq((4L, "x"), (8L, "w")).toDF("doc_id", "text")
    DedupIngest.applyBatch(
      Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0L)
    DedupIngest.applyBatch(b1, "doc_id", "text", dir, 1L)
    val before = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    DedupIngest.compact(spark, dir, "text")
    // the absorbed-but-vacuumed batch still reads as absorbed
    assert(DedupIngest.hasBatch(spark, dir, 0L))
    assert(DedupIngest.hasBatch(spark, dir, 1L),
      "hasBatch must survive compaction for absorbed batches")
    assert(!DedupIngest.hasBatch(spark, dir, 2L))
    // replay BOTH absorbed batches post-compaction: serve unchanged
    DedupIngest.applyBatch(b1, "doc_id", "text", dir, 1L)
    DedupIngest.applyBatch(
      Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0L)
    val after = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before,
      s"replay after compaction must be a no-op: $after vs $before")
    assert(after == Set(("x", 4L, 2L), ("y", 6L, 1L), ("w", 8L, 1L)))
  }

  test("compact reconstructs the marker for a committed-but-unmarked batch " +
      "so the crash-window replay still no-ops") {
    import spark.implicits._
    // crash window: applyBatch's state write committed (the batch
    // directory has _SUCCESS) but the process died before
    // BatchMarkers.record. Compacting that directory's rows and then
    // replaying the batch used to double-count n_copies — compact now
    // reconstructs the marker from the committed directory first.
    val dir = Fixture.dir("graft_dd6")
    val b1 = Seq((4L, "x"), (8L, "w")).toDF("doc_id", "text")
    DedupIngest.applyBatch(
      Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0L)
    DedupIngest.applyBatch(b1, "doc_id", "text", dir, 1L)
    val before = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // simulate the crash: the marker write never happened
    assert(new java.io.File(s"$dir/_absorbed/batch-1").delete())

    DedupIngest.compact(spark, dir, "text")
    assert(DedupIngest.hasBatch(spark, dir, 1L),
      "compact must reconstruct the marker from the committed directory")
    DedupIngest.applyBatch(b1, "doc_id", "text", dir, 1L) // the replay
    val after = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before,
      s"crash-window replay must not double-count: $after vs $before")
  }

  test("compact passes a torn (uncommitted) batch through under its own id " +
      "so the pending replay lands where the rows live") {
    import spark.implicits._
    // torn write: no _SUCCESS, no marker — compact can't prove the
    // batch committed, so its rows must NOT merge into the compacted
    // partial (the replay would then re-apply them beside it)
    val dir = Fixture.dir("graft_dd7")
    val b1 = Seq((4L, "x"), (8L, "w")).toDF("doc_id", "text")
    DedupIngest.applyBatch(
      Seq((5L, "x"), (6L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0L)
    DedupIngest.applyBatch(b1, "doc_id", "text", dir, 1L)
    val before = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(new java.io.File(s"$dir/_absorbed/batch-1").delete())
    assert(new java.io.File(s"$dir/state/batch=1/_SUCCESS").delete())

    DedupIngest.compact(spark, dir, "text")
    val dirs = new java.io.File(s"$dir/state").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=0", "batch=1"),
      s"torn batch must survive under its own id, got $dirs")
    // serving meanwhile is unchanged (the torn rows still count once)
    assert(DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet == before)

    DedupIngest.applyBatch(b1, "doc_id", "text", dir, 1L) // the replay
    val after = DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before,
      s"replay onto the passthrough dir must not double-count: $after")
    // with the marker now durable, a second compact absorbs it
    DedupIngest.compact(spark, dir, "text")
    val dirs2 = new java.io.File(s"$dir/state").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs2 == Set("batch=0"), s"second compact must absorb: $dirs2")
    assert(DedupIngest.serve(spark, dir, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet == before)
  }
}
