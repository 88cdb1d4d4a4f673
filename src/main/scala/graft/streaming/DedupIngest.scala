package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Continuously-maintained exact-dedup state over a document stream —
  * the streaming face of [[Dedup.exact]]. Each micro-batch lands as
  *
  *  - `state/batch=<id>/` — the batch's LOCAL dedup rows
  *    (content, keep_id = min id in batch, n_copies in batch).
  *
  * Exact dedup is a mergeable monoid — (min, sum) per content key —
  * so per-batch partials are append-only directories (corpus-scale
  * state written ONCE, the property that survives 100 TB) and the
  * cross-batch merge happens at serve time over unique-content-scale
  * rows, not at ingest time over the corpus. The state is [[Sink]]'s
  * batch directories under [[BatchMarkers]]; no transactional guard is
  * needed because no shared table is rewritten.
  *
  * [[serve]] is bit-identical to running [[Dedup.exact]] over the full
  * corpus: min-of-mins and sum-of-counts over disjoint batches equal
  * the global min/count (DedupIngestSpec proves equality after a
  * multi-batch run, including a duplicate that spans batches).
  */
object DedupIngest {

  private def statePath(path: String) = s"$path/state"

  /** Absorb one micro-batch of (id, content) documents. Idempotent per
    * `batchId`: the directory overwrite replays to identical rows, and
    * the marker makes a replay arriving AFTER [[compact]] relocated
    * this batch's rows a complete no-op — without it the replay would
    * re-create the batch directory beside the compacted partials and
    * serve() would double-count n_copies.
    */
  def applyBatch(batch: DataFrame, idCol: String, contentCol: String,
                 path: String, batchId: Long): Unit =
    Sink.absorbOnce(batch.sparkSession, path, batchId) {
      Sink.writeBatch(Dedup.exact(batch, idCol, contentCol), statePath(path), batchId)
    }

  /** Start continuous dedup-state maintenance over a document stream. */
  def start(docs: DataFrame, idCol: String, contentCol: String,
            path: String, checkpoint: String): StreamingQuery =
    Sink.start(docs, checkpoint)(applyBatch(_, idCol, contentCol, path, _))

  /** The merged dedup view: (content, keep_id, n_copies) with
    * [[Dedup.exact]]'s exact schema and values — one shuffle over
    * unique-content-scale partials, never a corpus rescan.
    */
  def serve(spark: SparkSession, path: String, contentCol: String): DataFrame =
    merge(spark.read.parquet(statePath(path)), contentCol)

  /** The (min, sum) merge of dedup partials per content key. */
  private def merge(partials: DataFrame, contentCol: String): DataFrame =
    partials.groupBy(contentCol)
      .agg(min(col("keep_id")).as("keep_id"), sum(col("n_copies")).as("n_copies"))

  /** True when `id` was already absorbed — lets a caller driving
    * applyBatch by hand (tests, backfills) skip work. The answer is
    * the durable [[BatchMarkers]] marker, NOT the directory layout:
    * after [[compact]] relocates all merged rows under the oldest
    * batch id, every other absorbed batch's directory is gone, and a
    * layout-based check would report those batches missing — a
    * backfill driver trusting it would re-apply them and (pre-marker)
    * double-count n_copies. A [[Sink.committed]] directory is kept as
    * a fallback for state written before markers existed.
    */
  def hasBatch(spark: SparkSession, path: String, id: Long): Boolean = {
    val fs = Sink.fs(spark, path)
    BatchMarkers.isAbsorbed(fs, path, id) ||
      Sink.committed(fs, Sink.batchDir(statePath(path), id))
  }

  /** Collapse the accumulated per-batch state directories into one by
    * [[Sink.compact]]. The compacted rows are the MERGED partials (min
    * keep_id, summed n_copies per content), so serving is
    * value-identical before and after. Dedup state is single-table, so
    * a committed batch directory is the whole applyBatch transaction
    * and proves a missing marker (DedupIngestSpec locks both the
    * replay-after-compaction and the crash-window shapes to a
    * value-identical serve).
    */
  def compact(spark: SparkSession, path: String, contentCol: String,
              files: Int = 1): Unit =
    Sink.compact(spark, statePath(path), path, files)(merge(_, contentCol))
}
