package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** Continuously-maintained BM25 retrieval index: each micro-batch of
  * (doc_id, text) documents lands as
  *
  *  - `postings/batch=<id>/` — the batch's (did, dl, word, tf) posting
  *    rows. Documents are immutable, so batches carry DISJOINT
  *    postings; the "merge" is directory append, and replay idempotency
  *    is the overwrite of the batch's own directory. Corpus-scale state
  *    is therefore written once and never rewritten — the property that
  *    makes this shape viable at 100 TB (compare the vocab merge below,
  *    which rewrites per batch but is VOCABULARY-scale).
  *  - `vocab/` — (word, df) merged by sum (disjoint docs ⇒ per-batch
  *    partial dfs add), RollupIngest's transactional-batch-id guard:
  *    the last applied micro-batch id is a column of the table itself,
  *    committed in the same AtomicSwap rename as the data it describes,
  *    so a replayed batch sees itself applied and no-ops.
  *  - `stats/` — 1-row (n_docs, tot_dl), same merge + guard.
  *
  * Queries serve from the index via [[Retrieval.bm25TopKFromIndex]] —
  * bit-identical to running [[Retrieval.bm25TopK]] over the full
  * corpus (IndexIngestSpec proves equality after a multi-batch run),
  * without rescanning the corpus at query time.
  */
object IndexIngest {

  import RollupIngest.{BatchCol, lastBatch}

  private def postingsPath(path: String) = s"$path/postings"
  private def vocabPath(path: String) = s"$path/vocab"
  private def statsPath(path: String) = s"$path/stats"

  /** Absorb one micro-batch of documents. Idempotent per `batchId`:
    * the postings directory overwrite is naturally so; vocab and stats
    * carry the transactional batch-id column. Crash anywhere between
    * the three writes replays the batch, and each table individually
    * skips or applies — order (postings, vocab, stats) never matters
    * because the guards are per-table. A [[BatchMarkers]] marker is
    * written LAST: once present the whole batch committed, so a replay
    * — including one arriving AFTER [[compactPostings]] relocated this
    * batch's rows and vacuumed its directory — is a complete no-op
    * instead of a postings rewrite that would double-count (or, for
    * the compacted id itself, drop every other batch's rows).
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, path: String,
                 batchId: Long): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (BatchMarkers.isAbsorbed(fs, path, batchId)) return
    val post = Retrieval.postingsOf(batch, "doc_id", "text")

    // corpus-scale: write once into this batch's own directory
    post.write.mode("overwrite")
      .parquet(s"${postingsPath(path)}/batch=$batchId")

    // vocabulary-scale: merge df by word under the replay guard
    AtomicSwap.recover(fs, vocabPath(path))
    if (batchId > lastBatch(spark, vocabPath(path))) {
      val partial = post.groupBy("word").agg(count(lit(1)).as("df"))
      val cur =
        if (fs.exists(new Path(vocabPath(path))))
          spark.read.parquet(vocabPath(path)).drop(BatchCol)
        else partial.limit(0)
      val merged = cur.unionByName(partial)
        .groupBy("word").agg(sum(col("df")).as("df"))
        .withColumn(BatchCol, lit(batchId))
      AtomicSwap.rewrite(fs, vocabPath(path), merged)
    }

    // 1-row corpus scalars: same merge + guard. Zero-word documents
    // produce no postings but still count into n_docs, so the batch's
    // contribution comes from the BATCH, not from `post`.
    AtomicSwap.recover(fs, statsPath(path))
    if (batchId > lastBatch(spark, statsPath(path))) {
      val partial = graft.operators.Retrieval
        .docLengths(batch, "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
      val cur =
        if (fs.exists(new Path(statsPath(path))))
          spark.read.parquet(statsPath(path)).drop(BatchCol)
        else partial.limit(0)
      val merged = cur.unionByName(partial)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
        .withColumn(BatchCol, lit(batchId))
      AtomicSwap.rewrite(fs, statsPath(path), merged)
    }

    BatchMarkers.record(fs, path, batchId)
  }

  /** True when `batchId` was fully absorbed — durable across
    * [[compactPostings]] (the marker, not the directory layout, is
    * authoritative: compaction relocates rows and vacuums the batch's
    * own directory). Lets a manual/backfill driver skip work safely.
    */
  def hasBatch(spark: SparkSession, path: String, batchId: Long): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BatchMarkers.isAbsorbed(fs, path, batchId)
  }

  /** Start continuous index maintenance over a document stream. */
  def start(spark: SparkSession, docs: DataFrame, path: String,
            checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(spark, batch, path, id)
      }
      .start()

  /** Collapse the accumulated per-batch postings directories into one —
    * the small-files housekeeping a long-running ingest needs (10k
    * micro-batches = 10k directories of tiny files; scan planning cost
    * grows with file count even though the data is fine). Serving is
    * unaffected: postings rows are merely relocated.
    *
    * The compacted rows land under the OLDEST included MARKED batch
    * id, and the AtomicSwap rewrite vacuums every superseded
    * per-batch directory in the same rename (readers see old or new
    * layout, whole). Replays arriving after that are no-ops for every
    * batch whose [[BatchMarkers]] marker exists — applyBatch returns
    * before touching any state when the marker is present. The marker
    * is written AFTER the three state writes, though, so a crash in
    * between leaves committed postings with no marker; compacting
    * them and then replaying would rewrite the vacuumed directory and
    * double-count. So compact first RECONSTRUCTS a missing marker
    * when the state itself proves full commit (postings directory has
    * _SUCCESS, and the vocab AND stats transactional batch ids have
    * reached this id — batch ids apply in stream order, so table-id ≥
    * id means id's merge committed), and any batch it still can't
    * prove passes through UNDER ITS OWN BATCH ID: the pending
    * replay's directory overwrite lands exactly where the rows live,
    * completes vocab/stats under their guards, writes the marker, and
    * a later compact absorbs it (IndexIngestSpec locks the
    * replay-after-compaction and crash-window shapes to a
    * bit-identical serve).
    */
  def compactPostings(spark: SparkSession, path: String,
                      files: Int = 1): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = postingsPath(path)
    AtomicSwap.recover(fs, root)
    val rootP = new Path(root)
    if (!fs.exists(rootP)) return
    val ids = fs.listStatus(rootP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
    val vocabLast = lastBatch(spark, vocabPath(path))
    val statsLast = lastBatch(spark, statsPath(path))
    ids.filterNot(BatchMarkers.isAbsorbed(fs, path, _)).foreach { id =>
      if (fs.exists(new Path(rootP, s"batch=$id/_SUCCESS")) &&
          vocabLast >= id && statsLast >= id)
        BatchMarkers.record(fs, path, id)
    }
    val (marked, unmarked) = ids.partition(BatchMarkers.isAbsorbed(fs, path, _))
    if (marked.isEmpty) return
    val minBatch = marked.min
    val cur = spark.read.parquet(root)
    val markedRows =
      if (unmarked.isEmpty) cur else cur.filter(!col("batch").isin(unmarked: _*))
    val flat = markedRows.drop("batch")
      .repartition(files)
      .withColumn("batch", lit(minBatch))
    val out =
      if (unmarked.isEmpty) flat
      else flat.unionByName(cur.filter(col("batch").isin(unmarked: _*))
        .withColumn("batch", col("batch").cast("long")))
    AtomicSwap.rewrite(fs, root, out, partitionCols = Seq("batch"))
  }

  /** The index's three faces, bookkeeping stripped. */
  def postings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(postingsPath(path)).drop("batch")
  def vocab(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(vocabPath(path)).drop(BatchCol)
  def stats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(statsPath(path)).drop(BatchCol)

  /** BM25 top-k served from the maintained index. */
  def bm25(spark: SparkSession, path: String, terms: Seq[String],
           k: Int = 10): DataFrame =
    Retrieval.bm25TopKFromIndex(
      postings(spark, path), vocab(spark, path), stats(spark, path), terms, k)
}
