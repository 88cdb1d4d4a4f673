package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Models, UnigramLm}

/** Tokenizer-serving over a document stream: encode each arriving
  * micro-batch with a PERSISTED unigram-LM vocabulary
  * ([[graft.operators.Models.loadVocab]]) — the deploy shape of the
  * qt29 trainer, and the tokenizer member of the streaming-serve trio
  * beside ScoreIngest (classifier) and IvfIngest (vector index):
  * train once on the reference corpus, encode every ingest batch
  * forever with the registry artifact, so shard N of a 100 TB encode
  * is comparable with shard 0 however long the backfill runs.
  *
  * Encoded batches land as `pieces/batch=<id>/` parquet, [[Sink]]'s
  * batch directories without markers (nothing ever compacts them),
  * and [[serve]] is a plain union read — no merge step, because
  * encoding is row-local given the frozen vocabulary (batches never
  * interact).
  *
  * Determinism: [[UnigramLm.encode]] is a pure function of
  * (batch rows, vocabulary), piece counts are exact integers, and
  * string arrays round-trip parquet exactly — so a stream-encoded
  * corpus is BIT-IDENTICAL to the batch encode of the same rows
  * (EncodeIngestSpec locks the equality; qt30 hashes the same
  * invariant flags as qt29).
  */
object EncodeIngest {

  private def piecesPath(path: String) = s"$path/pieces"

  /** The vocabulary, loaded once per (session, path): its non-empty
    * validation is an eager vocab-scan job.
    */
  private val vocabAt = new Sink.Frozen(Models.loadVocab)

  /** Encode one micro-batch of (id, text) documents with the
    * vocabulary at `vocabPath`. Idempotent per `batchId`.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                 textCol: String, vocabPath: String, path: String,
                 batchId: Long, maxPieceLen: Int = 6): Unit = {
    val vocab = vocabAt(spark, vocabPath)
    Sink.writeBatch(UnigramLm.encode(batch, idCol, textCol, vocab, maxPieceLen),
      piecesPath(path), batchId)
  }

  /** Start continuous encoding over a document stream. */
  def start(docs: DataFrame, idCol: String, textCol: String,
            vocabPath: String, path: String, checkpoint: String,
            maxPieceLen: Int = 6): StreamingQuery = {
    // validate the artifact (and warm the cache) BEFORE the stream
    // starts: a missing/empty vocab fails here, loudly, not inside the
    // first micro-batch
    vocabAt(docs.sparkSession, vocabPath)
    Sink.start(docs, checkpoint) { (batch, id) =>
      applyBatch(batch.sparkSession, batch, idCol, textCol, vocabPath,
        path, id, maxPieceLen)
    }
  }

  /** All encoded rows across batches: (idCol, pieces, n_pieces, batch). */
  def serve(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(piecesPath(path))
}
