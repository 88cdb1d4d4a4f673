package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Classifier, Models, TextAnalysis}
import graft.streaming.ScoreIngest

/** Streaming model serving: scores produced batch-by-batch from the
  * persisted registry artifact must be BIT-IDENTICAL to batch
  * Classifier.predict over the same rows (scoring is row-local, so
  * batching can't change a single double), and a replayed micro-batch
  * must leave the served state unchanged.
  */
class ScoreIngestSpec extends SparkSpec {

  private lazy val docs =
    Tables(spark, sfDir, "documents").select("doc_id", "text")

  private def trainedModelPath(): String = {
    val dir = Fixture.dir("graft_scm")
    val teacher = TextAnalysis
      .qualityScore(Tables(spark, sfDir, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        (col("quality_bucket") === "high").cast("long").as("y"))
    val feats = Classifier.featurizeText(docs, "doc_id", "text", dims = 16)
      .join(teacher, "doc_id").localCheckpoint()
    val model = Classifier.trainLogisticNewton(feats, "x", "y", iters = 2)
    Models.saveLinear(spark, model, s"$dir/lin")
    s"$dir/lin"
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "margin", "pred").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  test("stream-scored corpus is bit-identical to batch predict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mp = trainedModelPath()
    val out = Fixture.dir("graft_sci")
    val all = docs.as[(Long, String)].collect()
    val batches = Seq(all.take(7).toSeq, all.slice(7, 60).toSeq,
      all.drop(60).toSeq)

    val mem = MemoryStream[(Long, String)]
    val q = ScoreIngest.start(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", mp, out, s"$out/__ckpt")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val served = rows(ScoreIngest.serve(spark, out))
    val batch = rows(Classifier.predict(
      Classifier.featurizeText(docs, "doc_id", "text", dims = 16),
      Models.loadLinear(spark, mp), "doc_id"))
    assert(served == batch,
      s"stream scores diverge from batch: ${(served diff batch).take(3)}")
  }

  test("a replayed micro-batch leaves the served scores unchanged") {
    val mp = trainedModelPath()
    val out = Fixture.dir("graft_sci2")
    val b0 = docs.filter(col("doc_id") < 50)
    ScoreIngest.applyBatch(spark, b0, "doc_id", "text", mp, out, 0L)
    val before = rows(ScoreIngest.serve(spark, out))
    // crash-replay: the same batch id lands again
    ScoreIngest.applyBatch(spark, b0, "doc_id", "text", mp, out, 0L)
    assert(rows(ScoreIngest.serve(spark, out)) == before,
      "replay must be a no-op (per-batch directory overwrite)")
  }
}
