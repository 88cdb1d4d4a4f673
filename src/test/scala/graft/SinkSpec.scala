package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Classifier, Dedup, Ivf, Models}
import graft.streaming.{DedupIngest, IvfIngest, NoveltyIngest, ScoreIngest}

/** The shared streaming sink: `hasBatch` means "committed" — a batch
  * directory whose write never reached `_SUCCESS` (Spark creates the
  * directory when the job starts) reads as NOT absorbed, so a backfill
  * driver trusting hasBatch replays it — and the sink protocols live
  * in `Sink.scala` alone.
  */
class SinkSpec extends SparkSpec {

  private def delete(path: String): Unit =
    assert(new File(path).delete(), s"missing $path")

  test("Dedup: a batch directory without _SUCCESS or marker is not absorbed") {
    import spark.implicits._
    val dir = Fixture.dir("graft_sink_dd")
    val b0 = Seq((5L, "x"), (6L, "y"), (2L, "x")).toDF("doc_id", "text")
    DedupIngest.applyBatch(b0, "doc_id", "text", dir, 0L)
    delete(s"$dir/state/batch=0/_SUCCESS")
    delete(s"$dir/_absorbed/batch-0")
    assert(new File(s"$dir/state/batch=0").isDirectory)
    assert(!DedupIngest.hasBatch(spark, dir, 0L),
      "an uncommitted batch directory must not read as absorbed")

    DedupIngest.applyBatch(b0, "doc_id", "text", dir, 0L) // the replay
    assert(DedupIngest.hasBatch(spark, dir, 0L))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(DedupIngest.serve(spark, dir, "text")) ==
      rows(Dedup.exact(b0, "doc_id", "text")))
  }

  test("Ivf: a batch directory without _SUCCESS or marker is not absorbed") {
    val dir = Fixture.dir("graft_sink_ivf")
    val emb = Tables(spark, sfDir, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 8)
    IvfIngest.applyBatch(emb, model, "vec_id", "embedding", dir, 0L)
    delete(s"$dir/assign/batch=0/_SUCCESS")
    delete(s"$dir/_absorbed/batch-0")
    assert(new File(s"$dir/assign/batch=0").isDirectory)
    assert(!IvfIngest.hasBatch(spark, dir, 0L),
      "an uncommitted batch directory must not read as absorbed")

    IvfIngest.applyBatch(emb, model, "vec_id", "embedding", dir, 0L)
    assert(IvfIngest.hasBatch(spark, dir, 0L))
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def topk(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(topk(IvfIngest.search(spark, dir, queries, model,
      "vec_id", "embedding", k = 10, nprobe = 4)) ==
      topk(Ivf.search(emb, queries, model, "vec_id", "embedding",
        k = 10, nprobe = 4)))
  }

  test("Novelty: a docs directory without _SUCCESS is not absorbed") {
    import spark.implicits._
    val dir = Fixture.dir("graft_sink_nov")
    val b0 = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    NoveltyIngest.applyBatch(b0, "doc_id", "text", dir, 0L)
    delete(s"$dir/docs/batch=0/_SUCCESS")
    assert(new File(s"$dir/docs/batch=0").isDirectory)
    assert(!NoveltyIngest.hasBatch(spark, dir, 0L),
      "a half-committed batch must not read as absorbed")

    NoveltyIngest.applyBatch(b0, "doc_id", "text", dir, 0L)
    assert(NoveltyIngest.hasBatch(spark, dir, 0L))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(NoveltyIngest.serve(spark, dir, "doc_id")) ==
      rows(Dedup.firstOccurrenceNovelty(b0, "doc_id", "text", n = 3)))
  }

  test("ScoreIngest loads its frozen model once per session and path") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val dir = Fixture.dir("graft_sink_score")
    val feats = Classifier.featurizeText(docs, "doc_id", "text", dims = 16)
      .withColumn("y", (col("doc_id") % 2).cast("long")).localCheckpoint()
    Models.saveLinear(spark,
      Classifier.trainLogisticNewton(feats, "x", "y", iters = 1), s"$dir/lin")
    val sc = spark.sparkContext
    def inGroup(group: String)(f: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
    }
    // the Spark jobs batch `b` runs; the status listener is asynchronous
    // but ordered, so once a later fence job is listed, so are the batch's
    val out = s"$dir/out"
    def batchJobs(b: Long): Int = {
      val group = s"graft_sink_score_$b"
      inGroup(group)(ScoreIngest.applyBatch(spark,
        docs.filter(col("doc_id") % 2 === b), "doc_id", "text", s"$dir/lin",
        out, b))
      inGroup(s"${group}_fence")(sc.parallelize(Seq(1)).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(s"${group}_fence").isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(10)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    batchJobs(0L)
    val n = batchJobs(1L)
    assert(n == 1, s"the second batch ran $n jobs: the model load is not cached")
    def rows(df: DataFrame) = df.select("doc_id", "margin", "pred").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(rows(ScoreIngest.serve(spark, out)) ==
      rows(Classifier.predict(feats, Models.loadLinear(spark, s"$dir/lin"),
        "doc_id")))
  }

  test("only Sink.scala spells out foreachBatch, the batch= listing and " +
      "the _SUCCESS check") {
    val banned = Seq(".foreachBatch", "startsWith(\"batch=\")", "_SUCCESS\"")
    val streaming = new File("src/main/scala/graft/streaming")
    assert(streaming.isDirectory, s"run from the repo root: $streaming")
    val hits = for {
      f <- streaming.listFiles().toSeq
      if f.getName.endsWith(".scala") && f.getName != "Sink.scala"
      code = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      b <- banned if code.contains(b)
    } yield s"${f.getName}: $b"
    assert(hits.isEmpty, s"route the sink protocol through graft.streaming.Sink: $hits")
  }
}
