package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.NoveltyIngest

/** Streaming novelty state: after any number of micro-batches the
  * served per-document novelty must equal Dedup.firstOccurrenceNovelty
  * over the full corpus bit for bit — min over batch partials is the
  * global first occurrence, including credit stolen by an earlier-id
  * document that arrives in a LATER batch.
  */
class NoveltyIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("stream-built novelty state serves identical to the corpus scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft_nov")
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    val batches = Seq(docs.take(9).toSeq, docs.slice(9, 27).toSeq,
      docs.drop(27).toSeq)

    val mem = MemoryStream[(Long, String)]
    val q = NoveltyIngest.start(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, s"$dir/__ckpt")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val direct = rows(Dedup.firstOccurrenceNovelty(
      Tables(spark, sf, "documents"), "doc_id", "text", n = 3))
    val served = rows(NoveltyIngest.serve(spark, dir, "doc_id"))
    assert(served == direct,
      s"served novelty diverges: ${(served diff direct).take(3)} vs " +
        s"${(direct diff served).take(3)}")
  }

  test("a later batch with an earlier id steals first-occurrence credit") {
    import spark.implicits._
    val dir = Fixture.dir("graft_nov2")
    // batch 0: doc 5 owns both its shingles; batch 1 brings doc 2 with
    // the SAME text — the merged min flips credit to doc 2
    NoveltyIngest.applyBatch(
      Seq((5L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", dir, 0L)
    val before = rows(NoveltyIngest.serve(spark, dir, "doc_id"))
    assert(before == Set((5L, 2L, 2L, 1.0)))
    NoveltyIngest.applyBatch(
      Seq((2L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", dir, 1L)
    val after = rows(NoveltyIngest.serve(spark, dir, "doc_id"))
    assert(after == Set((2L, 2L, 2L, 1.0), (5L, 2L, 0L, 0.0)))
  }

  test("a replayed micro-batch no-ops on both state tables") {
    import spark.implicits._
    val dir = Fixture.dir("graft_nov3")
    val b0 = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    NoveltyIngest.applyBatch(b0, "doc_id", "text", dir, 0L)
    val once = rows(NoveltyIngest.serve(spark, dir, "doc_id"))
    assert(NoveltyIngest.hasBatch(spark, dir, 0L))
    NoveltyIngest.applyBatch(b0, "doc_id", "text", dir, 0L) // replay
    assert(rows(NoveltyIngest.serve(spark, dir, "doc_id")) == once)
  }
}
