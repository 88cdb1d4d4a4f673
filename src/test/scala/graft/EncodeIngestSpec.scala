package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Models, UnigramLm}
import graft.streaming.EncodeIngest

/** Streaming tokenizer serving: pieces produced batch-by-batch from
  * the persisted vocabulary must be BIT-IDENTICAL to the batch encode
  * of the same rows (encoding is row-local given the frozen model, so
  * batching can't move a single piece boundary), and a replayed
  * micro-batch must leave the served state unchanged.
  */
class EncodeIngestSpec extends SparkSpec {

  private lazy val docs =
    Tables(spark, sfDir, "documents").select("doc_id", "text")

  private def trainedVocabPath(): String = {
    val dir = Fixture.dir("graft_ugm")
    val vocab = UnigramLm.train(docs, "text")
    Models.saveVocab(spark, vocab, s"$dir/vocab")
    s"$dir/vocab"
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "pieces").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSet

  test("stream-encoded corpus is bit-identical to the batch encode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vp = trainedVocabPath()
    val out = Fixture.dir("graft_eci")
    val all = docs.as[(Long, String)].collect()
    val batches = Seq(all.take(7).toSeq, all.slice(7, 60).toSeq,
      all.drop(60).toSeq)

    val mem = MemoryStream[(Long, String)]
    val q = EncodeIngest.start(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", vp, out, s"$out/__ckpt")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val served = rows(EncodeIngest.serve(spark, out))
    val batch = rows(
      UnigramLm.encode(docs, "doc_id", "text", Models.loadVocab(spark, vp)))
    assert(served == batch,
      s"stream pieces diverge from batch: ${(served diff batch).take(3)}")
  }

  test("a replayed micro-batch leaves the served pieces unchanged") {
    val vp = trainedVocabPath()
    val out = Fixture.dir("graft_eci2")
    val b0 = docs.filter(col("doc_id") < 50)
    EncodeIngest.applyBatch(spark, b0, "doc_id", "text", vp, out, 0L)
    val before = rows(EncodeIngest.serve(spark, out))
    // crash-replay: the same batch id lands again
    EncodeIngest.applyBatch(spark, b0, "doc_id", "text", vp, out, 0L)
    assert(rows(EncodeIngest.serve(spark, out)) == before,
      "replay must be a no-op (per-batch directory overwrite)")
  }
}
