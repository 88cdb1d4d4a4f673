package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text

/** Continuously-maintained first-occurrence novelty state over a
  * document stream — the incremental face of
  * [[graft.operators.Dedup.firstOccurrenceNovelty]]: "how much NEW
  * content did this batch of the crawl bring?" without rescanning the
  * corpus. Each micro-batch lands as
  *
  *  - `shingles/batch=<id>/` — the batch's distinct
  *    (sh, first_id = min doc id in batch) rows. min is a monoid, so
  *    the global first occurrence is the min over batch partials,
  *    merged at SERVE time — corpus-scale state is written ONCE
  *    ([[Sink]]'s batch directories, without markers: nothing ever
  *    compacts them).
  *  - `docs/batch=<id>/` — (doc_id, n_shingles) per document, the
  *    denominator side.
  *
  * [[serve]] reproduces the batch operator bit for bit: shingle
  * credit goes to the smallest doc id across ALL batches, and the
  * per-document aggregates are the same two linear group-bys
  * (NoveltyIngestSpec proves stream-built == direct over MemoryStream
  * micro-batches, including first-occurrence flips when an
  * earlier-id document arrives in a LATER batch).
  */
object NoveltyIngest {

  private def shPath(path: String) = s"$path/shingles"
  private def docPath(path: String) = s"$path/docs"

  private def exploded(batch: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    batch.select(col(idCol),
      explode(expr(Text.shinglesExpr(Text.wordsExpr(textCol), n))).as("sh"))

  /** Absorb one micro-batch of (id, text) documents. Idempotent per
    * `batchId` (directory overwrite replays to identical rows).
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
                 path: String, batchId: Long, n: Int = 3): Unit = {
    val e = exploded(batch, idCol, textCol, n)
    Sink.writeBatch(e.groupBy("sh").agg(min(col(idCol)).as("first_id")),
      shPath(path), batchId)
    Sink.writeBatch(e.groupBy(idCol).agg(count(lit(1)).as("n_shingles")),
      docPath(path), batchId)
  }

  /** Start continuous novelty-state maintenance over a document
    * stream.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            path: String, checkpoint: String, n: Int = 3): StreamingQuery =
    Sink.start(docs, checkpoint)(applyBatch(_, idCol, textCol, path, _, n))

  /** The merged per-document novelty view, with
    * [[graft.operators.Dedup.firstOccurrenceNovelty]]'s exact schema
    * and values: (idCol, n_shingles, n_novel, novelty). One shuffle
    * by shingle over the batch partials (min-of-mins), one by doc id —
    * the corpus text is never rescanned.
    */
  def serve(spark: SparkSession, path: String, idCol: String): DataFrame = {
    val novel = spark.read.parquet(shPath(path))
      .groupBy("sh").agg(min(col("first_id")).as("__fid"))
      .groupBy("__fid").agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("__fid", idCol)
    val nsh = spark.read.parquet(docPath(path))
      .groupBy(idCol).agg(sum(col("n_shingles")).as("n_shingles"))
    // the final projection is SHARED CODE with the batch operator —
    // bit-identity by construction, not by parallel maintenance
    graft.operators.Dedup.noveltyOf(nsh.select(col(idCol)), nsh, novel, idCol)
  }

  /** True when `id` was FULLY absorbed — both state tables'
    * directories [[Sink.committed]], because applyBatch's two writes
    * are not atomic together: a crash between them must read as "not
    * absorbed" so the caller replays (the replay overwrite is a
    * value-level no-op). Testing only the first-written directory would
    * report a half-applied batch as done and silently drop its
    * documents from serve().
    */
  def hasBatch(spark: SparkSession, path: String, id: Long): Boolean = {
    val fs = Sink.fs(spark, path)
    Seq(shPath(path), docPath(path))
      .forall(root => Sink.committed(fs, Sink.batchDir(root, id)))
  }
}
