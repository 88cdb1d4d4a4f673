package graft

import org.apache.spark.sql.functions._

import graft.operators.{Models, Pca, Similarity}

/** Trained PCA projection: bit-reproducible across partitionings
  * (decimal-exact moment sums), orthonormal components that recover a
  * planted dominant direction, and — the lossless sanity anchor — at
  * outDims = d the projection is a rotation, so shortlist + rerank
  * reproduces the exact cosine top-k identically.
  */
class PcaSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sfDir, "embeddings")

  test("training is bit-identical across partitionings") {
    val n = Pca.normalized(emb, "vec_id", "embedding")
    val m1 = Pca.train(spark, n.repartition(1), "vec_id", "nv", outDims = 4)
    val m5 = Pca.train(spark, n.repartition(5, col("vec_id")), "vec_id", "nv",
      outDims = 4)
    assert(m1.mean.toSeq == m5.mean.toSeq)
    assert(m1.components.map(_.toSeq).toSeq ==
      m5.components.map(_.toSeq).toSeq,
      "decimal moment sums must make the model partitioning-independent")
  }

  test("components are orthonormal and recover a planted direction") {
    import spark.implicits._
    // points hugging the (1,1,0,...,0)/√2 axis with tiny noise off-axis
    val d = 8
    val rows = (0 until 200).map { i =>
      val t = (i - 100) / 10.0
      val noise = ((i * 2654435761L) % 97 - 48) / 4800.0
      val v = Array.fill(d)(0.0)
      v(0) = t / math.sqrt(2) + noise
      v(1) = t / math.sqrt(2) - noise
      v(2) = noise / 2
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("id", "v")
    val m = Pca.train(spark, df, "id", "v", outDims = 2)
    // orthonormal
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(m.components(0), m.components(0)) - 1.0) < 1e-9)
    assert(math.abs(dot(m.components(1), m.components(1)) - 1.0) < 1e-9)
    assert(math.abs(dot(m.components(0), m.components(1))) < 1e-9)
    // the top component is the planted axis (sign pinned positive)
    val c0 = m.components(0)
    assert(math.abs(c0(0) - 1 / math.sqrt(2)) < 0.02 &&
      math.abs(c0(1) - 1 / math.sqrt(2)) < 0.02,
      s"top component should be the planted axis, got ${c0.take(3).toSeq}")
  }

  test("at outDims = d the rotation is lossless: rerank == exact top-k") {
    val n = Pca.normalized(emb, "vec_id", "embedding").localCheckpoint()
    val d = n.select(size(col("nv"))).head().getInt(0)
    val m = Pca.train(spark, n, "vec_id", "nv", outDims = d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rer = Pca.searchRerank(emb, q, m, "vec_id", "embedding", k = 10,
        shortlist = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rer == exact,
      "a full-rank rotation must reproduce the exact ranking")
  }

  test("the composed IVF rung is lossless too at full rank + all probes") {
    val n = Pca.normalized(emb, "vec_id", "embedding").localCheckpoint()
    val d = n.select(size(col("nv"))).head().getInt(0)
    val m = Pca.train(spark, n, "vec_id", "nv", outDims = d)
    val ivf = graft.operators.Ivf.train(spark,
      Pca.project(n, m, "vec_id", "nv"), "vec_id", "proj", k = 4)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probe EVERY cell: candidate generation degenerates to the full
    // scan, the rotation is lossless, so the rerank must reproduce the
    // exact ranking — the anchor that separates index recall loss
    // (nprobe) from projection recall loss (outDims)
    val got = Pca.searchIvfRerank(spark, emb, q, m, ivf,
        "vec_id", "embedding", k = 10, shortlist = 64, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exact,
      "full-rank + all-probes must reproduce the exact ranking")
  }

  test("PCA model round-trips through the registry bit-for-bit") {
    val dir = Fixture.dir("graft-pcamodel")
    val n = Pca.normalized(emb, "vec_id", "embedding")
    val trained = Pca.train(spark, n, "vec_id", "nv", outDims = 4)
    Models.savePca(spark, trained, s"$dir/pca")
    val loaded = Models.loadPca(spark, s"$dir/pca")
    assert(loaded.mean.toSeq == trained.mean.toSeq)
    assert(loaded.components.map(_.toSeq).toSeq ==
      trained.components.map(_.toSeq).toSeq)
    // a missing component row is a corrupt artifact
    spark.read.parquet(s"$dir/pca").filter(col("ci") =!= 2)
      .write.mode("overwrite").parquet(s"$dir/pca2")
    val ex = intercept[IllegalArgumentException] {
      Models.loadPca(spark, s"$dir/pca2")
    }
    assert(ex.getMessage.contains("gaps"))
  }
}
