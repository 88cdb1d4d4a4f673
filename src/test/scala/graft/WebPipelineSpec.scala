package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classifier, Curation, Dedup, Models, TextAnalysis}
import graft.streaming.ScoreIngest

/** End-to-end web-corpus release: the full crawl shape composed from
  * the gated operators — HTML strip → near-dup cluster keeps →
  * trained-classifier quality filter → temperature-scaled mixture →
  * budget packing. Each stage is individually hash-gated; this spec
  * locks that they COMPOSE (schemas line up, determinism survives the
  * chain, and every stage only ever drops rows it should).
  */
class WebPipelineSpec extends SparkSpec {

  test("crawl HTML to packed release, deterministically") {
    val docs = Tables(spark, sfDir, "documents")
    // 1. crawl wrapper off: recover the text + audit tag count
    val html = concat(lit("<html><body><p>"), col("text"),
      lit("</p>&amp;</body></html>"))
    val stripped = TextAnalysis.stripHtml(
      docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
    assert(stripped.filter(col("n_tags") =!= 6).count() == 0,
      "fixed wrapper => fixed tag count")
    val texts = stripped.join(docs.select("doc_id", "lang"), "doc_id")
    // strip recovered the original words (entities decoded, ws squeezed)
    assert(texts.join(docs.withColumnRenamed("text", "orig"), "doc_id")
      .filter(col("text") =!= concat(col("orig"), lit(" &"))).count() == 0)

    // 2. near-dup clusters -> keep the best member per cluster
    val clusters = Dedup.nearDupClusters(texts, "doc_id", "text",
      k = 48, bands = 24, threshold = 0.5)
    val quality = TextAnalysis.qualityScore(texts, "doc_id", "text")
    val keeps = Curation.keepBestPerCluster(clusters, quality, "doc_id")
    val drops = clusters.join(keeps.select(col("keep_id")),
      clusters("doc_id") === col("keep_id"), "left_anti")
    val survivors = texts.join(drops.select(col("doc_id").as("__d")),
      texts("doc_id") === col("__d"), "left_anti")
    val nDocs = texts.count()
    val nSurv = survivors.count()
    assert(nSurv == nDocs - drops.count(), "keeps drop exactly the non-best")

    // 3. trained quality filter from the registry artifact
    val teacher = quality.select(col("doc_id"),
      (col("quality_bucket") === "high").cast("long").as("y"))
    val feats = Classifier.featurizeText(survivors, "doc_id", "text",
      dims = 16).join(teacher, "doc_id").localCheckpoint()
    val model = Classifier.trainLogisticNewton(feats, "x", "y", iters = 3)
    val mdir = Fixture.dir("graft_wp")
    Models.saveLinear(spark, model, s"$mdir/lin")
    ScoreIngest.applyBatch(spark, survivors, "doc_id", "text",
      s"$mdir/lin", mdir, 0L)
    val kept = ScoreIngest.serve(spark, mdir).filter(col("pred") === 1)
      .select("doc_id")
      .join(survivors, "doc_id")
    assert(kept.count() > 0 && kept.count() < nSurv,
      "the filter must actually separate")

    // 4. temperature mixture + 5. budget packing
    val sampled = Curation.temperatureSample(kept, "doc_id", "lang",
      budget = 60L, halvings = 1)
    assert(sampled.count() <= 60L)
    val packed = Curation.packByBudget(
      sampled.withColumn("tok",
        size(expr(graft.functions.Text.wordsExpr("text"))).cast("long")),
      "doc_id", "tok", "lang", budget = 512L)
    // packing preserves every sampled row and respects the budget
    // shape: every doc STARTS inside its shard's window, so a shard
    // minus its last (highest-id) doc always fits the budget
    assert(packed.count() == sampled.count())
    import org.apache.spark.sql.expressions.Window
    val wLast = Window.partitionBy("lang", "shard")
      .orderBy(col("doc_id").desc)
    val over = packed
      .withColumn("__rn", row_number().over(wLast))
      .groupBy("lang", "shard")
      .agg(sum(when(col("__rn") > 1, col("tok")).otherwise(0L)).as("t"))
      .filter(col("t") >= 512L)
    assert(over.count() == 0,
      "a shard minus its last doc must fit the token budget")

    // determinism: the whole chain replays to the identical release
    val again = Curation.temperatureSample(kept, "doc_id", "lang",
      budget = 60L, halvings = 1)
    assert(sampled.select("doc_id").collect().map(_.getLong(0)).toSet ==
      again.select("doc_id").collect().map(_.getLong(0)).toSet)
  }
}
