package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.Expectations
import graft.etl.Expectations.{FkRule, Rule}

/** Continuous VALIDATED ingest: every micro-batch flows through the
  * declarative expectations (etl.Expectations) and splits into an
  * append-only clean table and an append-only quarantine table whose
  * rows carry their violation reasons and batch id — the streaming form
  * of the write-time quality gate (qq01), so bad rows never reach the
  * fact path but are never dropped silently either.
  *
  * Exactly-once WITHOUT rewrites: each sink appends one
  * `batch=<id>` directory per micro-batch, published by writing to a
  * dot-temp dir and renaming (atomic on HDFS-likes; partition
  * discovery never lists dot-dirs, so a crashed half-write is
  * invisible). A replayed batch sees its directory already published
  * and no-ops — publish-once, stronger than the overwrite of
  * [[Sink.writeBatch]] — per sink, so a crash between the clean publish and the
  * quarantine publish replays into convergence. Appends are
  * batch-proportional (RollupIngest's whole-table swap is for
  * metadata-scale rollups; a quarantine log must scale with input).
  */
object QuarantineIngest {

  /** Clear leftover temp dirs from crashed publishes. */
  private def recover(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = Sink.fs(spark, path)
    if (fs.exists(p))
      fs.listStatus(p).filter(_.getPath.getName.startsWith("."))
        .foreach(s => fs.delete(s.getPath, true))
  }

  private def publish(spark: SparkSession, df: DataFrame, path: String,
                      id: Long): Unit = {
    val fs = Sink.fs(spark, path)
    val target = Sink.batchDir(path, id)
    if (fs.exists(target)) return // replayed batch: already published
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(path, s".tmp-$id-$token")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(new Path(path)) // parent must exist for rename
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, true)
      // concurrent replay won the rename — its content is identical
      require(fs.exists(target), s"failed to publish $target")
    }
  }

  /** Validate and append one micro-batch — idempotent per `batchId`. */
  def applyBatch(spark: SparkSession, batch: DataFrame,
                 rules: Seq[Rule], fks: Seq[FkRule],
                 cleanPath: String, quarantinePath: String,
                 batchId: Long): Unit = {
    recover(spark, cleanPath)
    recover(spark, quarantinePath)
    val (clean, quarantine) = Expectations.validate(batch, rules, fks)
    publish(spark, clean, cleanPath, batchId)
    publish(spark,
      quarantine.withColumn("violations",
        concat_ws(",", col("violations"))), // parquet partition dirs + arrays are fine, but a flat reason string reads anywhere
      quarantinePath, batchId)
  }

  /** Start continuous validated ingest over a stream. */
  def start(spark: SparkSession, stream: DataFrame,
            rules: Seq[Rule], fks: Seq[FkRule],
            cleanPath: String, quarantinePath: String,
            checkpoint: String): StreamingQuery =
    Sink.start(stream, checkpoint)(
      applyBatch(spark, _, rules, fks, cleanPath, quarantinePath, _))

  /** All clean rows (batch id surfaced as a partition column). */
  def readClean(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** All quarantined rows with their violation reasons. */
  def readQuarantine(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
