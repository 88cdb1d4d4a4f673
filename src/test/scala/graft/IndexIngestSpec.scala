package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Retrieval
import graft.streaming.IndexIngest

/** Streaming BM25 index maintenance: after any number of micro-batches,
  * serving from the index must equal running Retrieval.bm25TopK over
  * the full corpus bit for bit — df merges (disjoint docs) and the
  * shared scoring chain make the two paths value-identical, not just
  * approximately so.
  */
class IndexIngestSpec extends SparkSpec {

  private val terms = Seq("vector", "stream", "window", "spark")
  private val sf = "/root/testdata/sf0.001"

  test("stream-built index serves BM25 identical to the corpus scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft_idx")
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    // three uneven micro-batches, including one zero-word document
    val batches = Seq(
      docs.take(10).toSeq :+ ((100000L, "")),
      docs.slice(10, 25).toSeq,
      docs.drop(25).toSeq)

    val mem = MemoryStream[(Long, String)]
    val q = IndexIngest.start(spark,
      mem.toDF().toDF("doc_id", "text"), dir, s"$dir/__ckpt")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val corpus = Tables(spark, sf, "documents").select("doc_id", "text")
      .unionByName(Seq((100000L, "")).toDF("doc_id", "text"))
    val direct = Retrieval.bm25TopK(corpus, "doc_id", "text", terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val indexed = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(indexed.toSeq == direct.toSeq,
      s"indexed and direct rankings diverge:\n  idx: ${indexed.mkString(", ")}" +
        s"\n  dir: ${direct.mkString(", ")}")

    // corpus stats absorbed the zero-word doc (no postings, counted)
    val st = IndexIngest.stats(spark, dir).head()
    assert(st.getLong(0) == corpus.count())
  }

  test("a replayed micro-batch no-ops on every index table") {
    import spark.implicits._
    val dir = Fixture.dir("graft_idx2")
    val b0 = Seq((1L, "spark vector spark"), (2L, "stream window")).toDF("doc_id", "text")
    IndexIngest.applyBatch(spark, b0, dir, 0L)
    val vocabOnce = IndexIngest.vocab(spark, dir).collect().toSet
    val statsOnce = IndexIngest.stats(spark, dir).collect().toSet
    val postOnce = IndexIngest.postings(spark, dir).collect().toSet
    IndexIngest.applyBatch(spark, b0, dir, 0L) // replay
    assert(IndexIngest.vocab(spark, dir).collect().toSet == vocabOnce)
    assert(IndexIngest.stats(spark, dir).collect().toSet == statsOnce)
    assert(IndexIngest.postings(spark, dir).collect().toSet == postOnce)
    // and a genuinely NEW batch still applies
    IndexIngest.applyBatch(spark,
      Seq((3L, "spark")).toDF("doc_id", "text"), dir, 1L)
    assert(IndexIngest.stats(spark, dir).head().getLong(0) == 3L)
    val df = IndexIngest.vocab(spark, dir)
      .filter(col("word") === "spark").head().getLong(1)
    assert(df == 2L, "df('spark') must merge across batches")
  }

  test("compaction collapses batch directories without changing serving") {
    import spark.implicits._
    val dir = Fixture.dir("graft_idx3")
    val batches = Seq(
      Seq((1L, "spark vector spark"), (2L, "stream window")),
      Seq((3L, "spark stream stream")),
      Seq((4L, "window window vector")))
    batches.zipWithIndex.foreach { case (b, i) =>
      IndexIngest.applyBatch(spark, b.toDF("doc_id", "text"), dir, i.toLong)
    }
    val before = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

    IndexIngest.compactPostings(spark, dir)
    val dirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.map(_.getName).toSeq == Seq("batch=0"),
      s"expected one batch dir, got ${dirs.map(_.getName).mkString(", ")}")

    val after = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(after == before, "compaction must not change served results")

    // ingest continues past a compaction: new batch ids still append
    IndexIngest.applyBatch(spark,
      Seq((5L, "spark")).toDF("doc_id", "text"), dir, 3L)
    assert(IndexIngest.stats(spark, dir).head().getLong(0) == 5L)
    assert(IndexIngest.postings(spark, dir)
      .filter(col("did") === 5L).count() == 1L)
  }

  test("a replayed batch AFTER compaction no-ops; hasBatch stays true") {
    import spark.implicits._
    // Compaction relocates every batch's postings under the oldest id
    // and vacuums the other directories. A replayed absorbed batch
    // after that must be a complete no-op — pre-marker it re-created
    // its postings directory beside the compacted rows (double-counted
    // scores), and replaying the compacted id itself overwrote the
    // merged rows with just its own (dropped every other batch).
    val dir = Fixture.dir("graft_idx4")
    val b0 = Seq((1L, "spark vector spark"), (2L, "stream window"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "spark stream stream")).toDF("doc_id", "text")
    IndexIngest.applyBatch(spark, b0, dir, 0L)
    IndexIngest.applyBatch(spark, b1, dir, 1L)
    val before = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val postBefore = IndexIngest.postings(spark, dir).collect().toSet

    IndexIngest.compactPostings(spark, dir)
    assert(IndexIngest.hasBatch(spark, dir, 0L))
    assert(IndexIngest.hasBatch(spark, dir, 1L),
      "hasBatch must survive compaction for absorbed batches")
    assert(!IndexIngest.hasBatch(spark, dir, 2L))

    // replay the vacuumed batch AND the compacted id itself
    IndexIngest.applyBatch(spark, b1, dir, 1L)
    IndexIngest.applyBatch(spark, b0, dir, 0L)
    assert(IndexIngest.postings(spark, dir).collect().toSet == postBefore,
      "replay after compaction must not touch the postings")
    val after = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(after == before, "replay after compaction must be a no-op")
  }

  test("compact reconstructs the marker for a fully-committed batch whose " +
      "marker write crashed") {
    import spark.implicits._
    // crash window: all three state writes committed but the process
    // died before BatchMarkers.record. The vocab/stats transactional
    // batch ids prove the merges happened (ids apply in stream order)
    // and the postings _SUCCESS proves the directory committed, so
    // compact reconstructs the marker instead of leaving a replay
    // free to rewrite the vacuumed directory and double-count.
    val dir = Fixture.dir("graft_idx5")
    val b0 = Seq((1L, "spark vector spark"), (2L, "stream window"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "spark stream stream")).toDF("doc_id", "text")
    IndexIngest.applyBatch(spark, b0, dir, 0L)
    IndexIngest.applyBatch(spark, b1, dir, 1L)
    val before = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(new java.io.File(s"$dir/_absorbed/batch-1").delete())

    IndexIngest.compactPostings(spark, dir)
    assert(IndexIngest.hasBatch(spark, dir, 1L),
      "compact must reconstruct the marker the state proves")
    val dirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(dirs == Set("batch=0"), s"proven batch must compact: $dirs")
    IndexIngest.applyBatch(spark, b1, dir, 1L) // the replay
    val after = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(after == before,
      "crash-window replay must not double-count postings")
  }

  test("compact passes a half-applied batch through under its own id; the " +
      "replay completes it in place") {
    import spark.implicits._
    // crash right after the postings write: vocab/stats never merged
    // batch 1, so NOTHING can prove it absorbed — recording a marker
    // here would make the replay skip the vocab/stats merges forever.
    // The batch's postings must pass through under their own id so
    // the replay's directory overwrite lands on them.
    val dir = Fixture.dir("graft_idx6")
    val b0 = Seq((1L, "spark vector spark"), (2L, "stream window"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "spark stream stream")).toDF("doc_id", "text")
    IndexIngest.applyBatch(spark, b0, dir, 0L)
    Retrieval.postingsOf(b1, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/postings/batch=1")

    IndexIngest.compactPostings(spark, dir)
    assert(!IndexIngest.hasBatch(spark, dir, 1L),
      "an unprovable batch must not gain a marker")
    val dirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(dirs == Set("batch=0", "batch=1"),
      s"half-applied batch must survive under its own id: $dirs")

    IndexIngest.applyBatch(spark, b1, dir, 1L) // the replay completes it
    val served = IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val direct = Retrieval.bm25TopK(b0.unionByName(b1), "doc_id", "text",
      terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(served == direct,
      s"completed replay must serve the full corpus:\n  $served\n  $direct")
    // with the marker durable, the next compact absorbs everything
    IndexIngest.compactPostings(spark, dir)
    val dirs2 = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(dirs2 == Set("batch=0"), s"second compact must absorb: $dirs2")
    assert(IndexIngest.bm25(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq == direct)
  }
}
