package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** Continuously-maintained BM25 retrieval index: each micro-batch of
  * (doc_id, text) documents lands as
  *
  *  - `postings/batch=<id>/` — the batch's (did, dl, word, tf) posting
  *    rows, [[Sink]]'s batch directories. Documents are immutable, so
  *    batches carry DISJOINT postings; the "merge" is directory append.
  *    Corpus-scale state is therefore written once and never rewritten
  *    — the property that makes this shape viable at 100 TB (compare
  *    the vocab merge below, which rewrites per batch but is
  *    VOCABULARY-scale).
  *  - `vocab/` — (word, df) merged by sum (disjoint docs ⇒ per-batch
  *    partial dfs add) under [[Sink.mergeSwap]]'s transactional
  *    batch-id guard.
  *  - `stats/` — 1-row (n_docs, tot_dl), same merge + guard.
  *
  * Queries serve from the index via [[Retrieval.bm25TopKFromIndex]] —
  * bit-identical to running [[Retrieval.bm25TopK]] over the full
  * corpus (IndexIngestSpec proves equality after a multi-batch run),
  * without rescanning the corpus at query time.
  */
object IndexIngest {

  private def postingsPath(path: String) = s"$path/postings"
  private def vocabPath(path: String) = s"$path/vocab"
  private def statsPath(path: String) = s"$path/stats"

  /** Absorb one micro-batch of documents. Idempotent per `batchId`:
    * the postings directory overwrite is naturally so; vocab and stats
    * carry the transactional batch-id column. Crash anywhere between
    * the three writes replays the batch, and each table individually
    * skips or applies — order (postings, vocab, stats) never matters
    * because the guards are per-table. The [[Sink.absorbOnce]] marker
    * makes a replay arriving AFTER [[compactPostings]] relocated this
    * batch's rows a complete no-op instead of a postings rewrite that
    * would double-count.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String,
                 batchId: Long): Unit = Sink.absorbOnce(spark, path, batchId) {
    val post = Retrieval.postingsOf(batch, "doc_id", "text")
    Sink.writeBatch(post, postingsPath(path), batchId)

    val words = post.groupBy("word").agg(count(lit(1)).as("df"))
    Sink.mergeSwap(spark, vocabPath(path), Some(batchId))(words.limit(0)) {
      _.unionByName(words).groupBy("word").agg(sum(col("df")).as("df"))
    }

    // Zero-word documents produce no postings but still count into
    // n_docs, so the batch's contribution comes from the BATCH, not
    // from `post`.
    val scalars = Retrieval.docLengths(batch, "doc_id", "text")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    Sink.mergeSwap(spark, statsPath(path), Some(batchId))(scalars.limit(0)) {
      _.unionByName(scalars)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
    }
  }

  /** True when `batchId` was fully absorbed — durable across
    * [[compactPostings]] (the marker, not the directory layout, is
    * authoritative: compaction relocates rows and vacuums the batch's
    * own directory). Lets a manual/backfill driver skip work safely.
    */
  def hasBatch(spark: SparkSession, path: String, batchId: Long): Boolean =
    BatchMarkers.isAbsorbed(Sink.fs(spark, path), path, batchId)

  /** Start continuous index maintenance over a document stream. */
  def start(spark: SparkSession, docs: DataFrame, path: String,
            checkpoint: String): StreamingQuery =
    Sink.start(docs, checkpoint)(applyBatch(spark, _, path, _))

  /** Collapse the accumulated per-batch postings directories into one
    * by [[Sink.compact]]. Serving is unaffected: postings rows are
    * merely relocated. A missing marker is reconstructed only when the
    * vocab AND stats transactional batch ids have also reached the id
    * (batch ids apply in stream order, so table-id ≥ id means id's
    * merge committed); an unproven batch's pending replay completes
    * vocab/stats under their guards (IndexIngestSpec locks the
    * replay-after-compaction and crash-window shapes to a
    * bit-identical serve).
    */
  def compactPostings(spark: SparkSession, path: String,
                      files: Int = 1): Unit = {
    lazy val mergedThrough = math.min(Sink.lastBatch(spark, vocabPath(path)),
      Sink.lastBatch(spark, statsPath(path)))
    Sink.compact(spark, postingsPath(path), path, files, _ <= mergedThrough)(identity)
  }

  /** The index's three faces, bookkeeping stripped. */
  def postings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(postingsPath(path)).drop("batch")
  def vocab(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(vocabPath(path)).drop(Sink.BatchCol)
  def stats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(statsPath(path)).drop(Sink.BatchCol)

  /** BM25 top-k served from the maintained index. */
  def bm25(spark: SparkSession, path: String, terms: Seq[String],
           k: Int = 10): DataFrame =
    Retrieval.bm25TopKFromIndex(
      postings(spark, path), vocab(spark, path), stats(spark, path), terms, k)
}
