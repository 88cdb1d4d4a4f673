package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Classifier, Models}

/** Model-serving over a document stream: score each arriving
  * micro-batch with a PERSISTED linear quality classifier
  * ([[graft.operators.Models.loadLinear]]) — the deploy shape of the
  * qt27 trainer: train once on a reference corpus (expensive full
  * passes), then score every ingest batch forever with the registry
  * artifact. Scores land as `scores/batch=<id>/` parquet, [[Sink]]'s
  * batch directories without markers (nothing ever compacts them),
  * and [[serve]] is a plain union read — no merge step, because
  * scoring is row-local (batches never interact).
  *
  * Scale posture: the model is d+1 driver-side doubles folded into the
  * projection as literals — no broadcast table, no shuffle, the
  * scoring plan is a narrow map over the batch scan at any corpus
  * size. Scores are doubles computed per-row on the JVM, so a
  * stream-scored corpus is bit-identical to batch
  * [[graft.operators.Classifier.predict]] over the same rows
  * (ScoreIngestSpec; the qt28 gate hashes the same verdict the batch
  * path produces).
  */
object ScoreIngest {

  private def scorePath(path: String) = s"$path/scores"

  /** Score one micro-batch of (id, text) documents with the model at
    * `modelPath`. Idempotent per `batchId`.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                 textCol: String, modelPath: String, path: String,
                 batchId: Long, dims: Int = 16): Unit = {
    val model = Models.loadLinear(spark, modelPath)
    val feats = Classifier.featurizeText(batch, idCol, textCol, dims)
    Sink.writeBatch(Classifier.predict(feats, model, idCol), scorePath(path), batchId)
  }

  /** Start continuous scoring over a document stream. */
  def start(docs: DataFrame, idCol: String, textCol: String,
            modelPath: String, path: String, checkpoint: String,
            dims: Int = 16): StreamingQuery =
    Sink.start(docs, checkpoint) { (batch, id) =>
      applyBatch(batch.sparkSession, batch, idCol, textCol, modelPath,
        path, id, dims)
    }

  /** All scored rows across batches: (idCol, margin, pred, batch). */
  def serve(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(scorePath(path))
}
