package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classifier, Ivf, Models, Pq, Similarity, TextAnalysis, UnigramLm}

/** Model artifacts must round-trip EXACTLY: a loaded model has to
  * produce identical codes and identical search results to the trained
  * one, or incrementally-encoded code tables stop being comparable
  * across ingest batches.
  */
class ModelsSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sfDir, "embeddings")

  test("PQ model round-trips bit-for-bit and encodes identically") {
    val dir = Fixture.dir("graft-pqmodel")
    val trained = Pq.train(spark, emb, "vec_id", "embedding",
      m = 8, k = 8, iters = 2)
    Models.savePq(spark, trained, s"$dir/pq")
    val loaded = Models.loadPq(spark, s"$dir/pq")
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      trained.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must survive parquet bit-for-bit")
    def codes(m: Pq.Model) =
      Pq.encode(spark, emb, m, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(codes(loaded) == codes(trained),
      "a loaded model must encode exactly like the trained one")
  }

  test("IVF model round-trips and searches identically") {
    val dir = Fixture.dir("graft-ivfmodel")
    val trained = Ivf.train(spark, emb, "vec_id", "embedding", k = 8, iters = 2)
    Models.saveIvf(spark, trained, s"$dir/ivf")
    val loaded = Models.loadIvf(spark, s"$dir/ivf")
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      trained.centroids.map(_.toSeq).toSeq)
    val q = emb.filter(col("vec_id") % 100 === 0)
    def hits(m: Ivf.Model) =
      Ivf.search(emb, q, m, "vec_id", "embedding", k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits(loaded) == hits(trained),
      "a loaded model must search exactly like the trained one")
  }

  test("loading a truncated PQ model fails loudly, not silently") {
    val dir = Fixture.dir("graft-pqbad")
    val trained = Pq.train(spark, emb, "vec_id", "embedding",
      m = 8, k = 8, iters = 1)
    Models.savePq(spark, trained, s"$dir/pq")
    // drop ONE (subspace, centroid) row: a ragged artifact, unlike a
    // uniformly-smaller k which is a legitimately complete model
    val crippled = spark.read.parquet(s"$dir/pq")
      .filter(!(col("mi") === 0 && col("ci") === 7))
    crippled.write.mode("overwrite").parquet(s"$dir/pq2")
    val ex = intercept[IllegalArgumentException] {
      Models.loadPq(spark, s"$dir/pq2")
    }
    assert(ex.getMessage.contains("incomplete"))
  }

  test("linear classifier model round-trips bit-for-bit and scores " +
      "identically") {
    val dir = Fixture.dir("graft-linmodel")
    val docs = Tables(spark, sfDir, "documents")
    val teacher = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"),
        (col("quality_bucket") === "high").cast("long").as("y"))
    val feats = Classifier.featurizeText(docs, "doc_id", "text", dims = 16)
      .join(teacher, "doc_id").localCheckpoint()
    val trained = Classifier.trainLogisticNewton(feats, "x", "y", iters = 2)
    Models.saveLinear(spark, trained, s"$dir/lin")
    val loaded = Models.loadLinear(spark, s"$dir/lin")
    assert(loaded.weights.toSeq == trained.weights.toSeq,
      "doubles must survive parquet bit-for-bit")
    val a = Classifier.predict(feats, trained, "doc_id")
      .orderBy("doc_id").collect().toSeq
    val b = Classifier.predict(feats, loaded, "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "a loaded model must score identically")
    // a gap in the dimension space is a corrupt artifact
    spark.read.parquet(s"$dir/lin").filter(col("j") =!= 3)
      .write.mode("overwrite").parquet(s"$dir/lin2")
    val ex = intercept[IllegalArgumentException] {
      Models.loadLinear(spark, s"$dir/lin2")
    }
    assert(ex.getMessage.contains("gaps"))
  }

  test("unigram vocabulary round-trips; a loaded model encodes bit-identically") {
    val docs = Tables(spark, sfDir, "documents")
    val vocab = UnigramLm.train(docs, "text")
    val path = Fixture.dir("graft_models_vocab") + "/vocab"
    Models.saveVocab(spark, vocab, path)
    val loaded = Models.loadVocab(spark, path)
    val a = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = loaded.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "piece counts must survive the registry round trip")
    val ea = UnigramLm.encode(docs, "doc_id", "text", vocab)
      .select("doc_id", "pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val eb = UnigramLm.encode(docs, "doc_id", "text", loaded)
      .select("doc_id", "pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(ea == eb, "loaded vocabulary must encode identically")
  }
}
