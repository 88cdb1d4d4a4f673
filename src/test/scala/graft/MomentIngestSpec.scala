package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Pca
import graft.streaming.MomentIngest

/** Train-on-the-stream PCA: decimal moment partials merged across
  * micro-batches must yield the BIT-IDENTICAL model a single batch
  * pass over the union trains — exact, not approximate, because
  * decimal addition is associative. Plus the replay no-op.
  */
class MomentIngestSpec extends SparkSpec {

  private lazy val normed = Pca.normalized(
    Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")

  test("stream-merged moments train the exact batch model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft_mom")
    val all = normed.as[(Long, Seq[Double])].collect()
    val batches = Seq(all.take(11).toSeq, all.slice(11, 200).toSeq,
      all.drop(200).toSeq)

    val mem = MemoryStream[(Long, Seq[Double])]
    val q = MomentIngest.start(mem.toDF().toDF("vec_id", "nv"),
      "nv", dir, s"$dir/__ckpt")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = MomentIngest.model(spark, dir, outDims = 4)
    val batch = Pca.train(spark, normed, "vec_id", "nv", outDims = 4)
    assert(streamed.mean.toSeq == batch.mean.toSeq,
      "stream-merged mean must equal the batch mean to the last double")
    assert(streamed.components.map(_.toSeq).toSeq ==
      batch.components.map(_.toSeq).toSeq,
      "stream-merged components must equal the batch components exactly")
  }

  test("a replayed micro-batch leaves the merged moments unchanged") {
    val dir = Fixture.dir("graft_mom2")
    val b0 = normed.filter(col("vec_id") < 100)
    MomentIngest.applyBatch(b0, "nv", dir, 0L)
    MomentIngest.applyBatch(normed.filter(col("vec_id") >= 100), "nv", dir, 1L)
    val before = MomentIngest.model(spark, dir, outDims = 4)
    MomentIngest.applyBatch(b0, "nv", dir, 0L) // crash-replay
    val after = MomentIngest.model(spark, dir, outDims = 4)
    assert(before.mean.toSeq == after.mean.toSeq &&
      before.components.map(_.toSeq).toSeq ==
        after.components.map(_.toSeq).toSeq,
      "replay must be a no-op (per-batch directory overwrite)")
  }
}
