package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Pca

/** Train-on-the-stream moment maintenance for PCA: each micro-batch
  * contributes its raw-moment partials (count, Σx_j, Σx_j·x_k — the
  * [[graft.operators.Pca.momentRows]] schema, DECIMAL(38,18)) as
  * `moments/batch=<id>/` parquet, [[Sink]]'s batch directories
  * without markers (nothing ever compacts them). Because decimal
  * addition is exact and associative, the merged stream totals are
  * BIT-IDENTICAL to a single batch pass over the union — so [[model]]
  * returns the EXACT model a batch [[graft.operators.Pca.train]] over
  * all rows would (MomentIngestSpec locks equality to the last double),
  * not an approximation. This is
  * the property float sums cannot give: with doubles, the batch split
  * would change the model.
  *
  * Scale posture: per-batch state is d(d+3)/2 + 1 rows regardless of
  * batch size; serving reads only these partials (one tiny group-by),
  * never the vectors. The corpus is scanned exactly once, as it
  * arrives.
  */
object MomentIngest {

  private def momPath(path: String) = s"$path/moments"

  /** Absorb one micro-batch of vectors. Idempotent per `batchId`. */
  def applyBatch(batch: DataFrame, vecCol: String, path: String,
                 batchId: Long): Unit =
    Sink.writeBatch(Pca.momentRows(batch, vecCol)
      .coalesce(1), // d(d+3)/2 + 1 rows: metadata-scale
      momPath(path), batchId)

  /** Start continuous moment maintenance over a vector stream. */
  def start(vecs: DataFrame, vecCol: String, path: String,
            checkpoint: String): StreamingQuery =
    Sink.start(vecs, checkpoint)(applyBatch(_, vecCol, path, _))

  /** The model from the merged stream state — bit-identical to batch
    * training over the union of all absorbed batches.
    */
  def model(spark: SparkSession, path: String, outDims: Int,
            sweeps: Int = 12): Pca.Model = {
    import org.apache.spark.sql.functions.{col, sum}
    val rows = spark.read.parquet(momPath(path))
      .groupBy("j", "k").agg(sum(col("s")).as("s")) // exact decimal merge
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDecimal(2))).toSeq
    Pca.fromMoments(rows, outDims, sweeps)
  }
}
