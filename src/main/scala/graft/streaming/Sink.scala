package graft.streaming

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Snapshots

/** The sink protocols the streaming ingests are built from, each written
  * once. The checkpoint ([[start]]) delivers each micro-batch at least
  * once; the ingest's discipline makes the replay exactly-once:
  *
  *  - [[mergeSwap]] — metadata-scale state (rollups, sketches, vocab,
  *    dimensions) rewritten whole per batch through [[AtomicSwap]].
  *    Replay is safe either by the merge's algebra (HLL/bitmap union,
  *    SCD2's change predicate: re-merging a batch is a no-op) or by the
  *    transactional guard: the last applied batch id is a column
  *    ([[BatchCol]]) of the table itself, committed in the same rename
  *    as the data it describes, so a replayed batch sees itself applied
  *    and no-ops — there is no separate marker that could decouple.
  *  - batch directories — corpus-scale state written ONCE per batch as
  *    `<root>/batch=<id>/` ([[writeBatch]]); replay idempotency is the
  *    overwrite of the batch's own directory. [[absorbOnce]] adds the
  *    [[BatchMarkers]] marker that keeps a replay a no-op after
  *    [[compact]] has relocated the batch's rows.
  *  - snapshot commits — the applied batch id rides the commit's
  *    manifest ([[replayed]]).
  */
private[streaming] object Sink {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A checkpointed `foreachBatch` query applying `apply` per batch. */
  def start(stream: DataFrame, checkpoint: String)
           (apply: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(apply)
      .start()

  val BatchCol = "__last_batch"

  /** Last micro-batch id merged into the table at `path`, or -1. */
  def lastBatch(spark: SparkSession, path: String): Long =
    if (!fs(spark, path).exists(new Path(path))) -1L
    else spark.read.parquet(path).select(max(col(BatchCol))).head() match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }

  /** Rewrite the table at `path` as `merge(current)`, where current is
    * the stored table, or `empty` when there is none yet. With
    * `guard = Some(id)` a batch at or below the stored [[lastBatch]] is
    * a replay and no-ops, and `id` is stored as [[BatchCol]].
    */
  def mergeSwap(spark: SparkSession, path: String, guard: Option[Long])
               (empty: => DataFrame)(merge: DataFrame => DataFrame): Unit = {
    val fs = this.fs(spark, path)
    AtomicSwap.recover(fs, path)
    if (guard.exists(_ <= lastBatch(spark, path))) return
    val cur =
      if (fs.exists(new Path(path))) spark.read.parquet(path).drop(BatchCol)
      else empty
    val merged = merge(cur)
    AtomicSwap.rewrite(fs, path,
      guard.fold(merged)(id => merged.withColumn(BatchCol, lit(id))))
  }

  def batchDir(root: String, id: Long): Path = new Path(root, s"batch=$id")

  /** Write `df` as batch `id`'s directory under `root`, replacing any
    * earlier attempt's.
    */
  def writeBatch(df: DataFrame, root: String, id: Long): Unit =
    df.write.mode("overwrite").parquet(batchDir(root, id).toString)

  /** True when the write job that produced `dir` committed. Spark
    * creates the directory (with `_temporary` inside) when the job
    * STARTS, so existence alone would read a crashed write as done.
    */
  def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** The ids of the `batch=<id>` directories under `root`. */
  def batchIds(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
  }

  /** Run `write` unless batch `id`'s marker under `markerBase` exists,
    * then record the marker — LAST, so marker-present means every state
    * write of the batch committed.
    */
  def absorbOnce(spark: SparkSession, markerBase: String, id: Long)
                (write: => Unit): Unit = {
    val fs = this.fs(spark, markerBase)
    if (BatchMarkers.isAbsorbed(fs, markerBase, id)) return
    write
    BatchMarkers.record(fs, markerBase, id)
  }

  /** Collapse the `batch=<id>` directories under `root` into one — the
    * small-files housekeeping a long-running ingest needs (10k
    * micro-batches = 10k directories; scan planning cost grows with
    * file count). `fold` maps the marked batches' rows, `batch` column
    * dropped, to their compacted form.
    *
    * The folded rows land under the OLDEST marked batch id, and the
    * AtomicSwap rewrite vacuums every superseded directory in the same
    * rename (readers see old or new layout, whole). A replay arriving
    * after that is a no-op for every batch whose marker (under
    * `markerBase`) exists. The marker is written after the state
    * writes, though, so a crash in between leaves a committed
    * directory with no marker; folding its rows and then replaying
    * would re-apply them beside the compacted rows (double counts), or,
    * for the compacted id itself, drop every other batch's rows. So a
    * missing marker is first RECONSTRUCTED when the state proves the
    * batch committed — its directory is [[committed]] and `proven(id)`
    * holds (the ingest's other tables, if any, have it too) — and any
    * batch still unproven passes through UNDER ITS OWN ID: the pending
    * replay's overwrite lands exactly where its rows live, writes the
    * marker, and a later compact absorbs it. The subdirectories named
    * in `keep` are invisible to the parquet read, so they are copied
    * byte-for-byte into the staging directory and publish in the same
    * rename as the compacted rows.
    */
  def compact(spark: SparkSession, root: String, markerBase: String,
              files: Int, proven: Long => Boolean = _ => true,
              keep: Seq[String] = Nil)(fold: DataFrame => DataFrame): Unit = {
    val fs = this.fs(spark, root)
    AtomicSwap.recover(fs, root)
    val ids = batchIds(fs, root)
    ids.filterNot(BatchMarkers.isAbsorbed(fs, markerBase, _))
      .filter(id => committed(fs, batchDir(root, id)) && proven(id))
      .foreach(BatchMarkers.record(fs, markerBase, _))
    val (marked, unmarked) = ids.partition(BatchMarkers.isAbsorbed(fs, markerBase, _))
    if (marked.isEmpty) return
    val cur = spark.read.parquet(root)
    val markedRows =
      if (unmarked.isEmpty) cur else cur.filter(!col("batch").isin(unmarked: _*))
    val folded = fold(markedRows.drop("batch"))
      .repartition(files)
      .withColumn("batch", lit(marked.min))
    val out =
      if (unmarked.isEmpty) folded
      else folded.unionByName(cur.filter(col("batch").isin(unmarked: _*))
        .withColumn("batch", col("batch").cast("long")))
    AtomicSwap.rewriteStaged(fs, root) { staging =>
      out.write.mode("overwrite").partitionBy("batch").parquet(staging.toString)
      keep.map(new Path(root, _)).filter(fs.exists).foreach { p =>
        FileUtil.copy(fs, p, fs, new Path(staging, p.getName), false,
          spark.sparkContext.hadoopConfiguration)
      }
    }
  }

  val BatchKey = "batch_id"

  /** True when snapshot `table` already committed `batchId` (a replay).
    * Versions are scanned newest-first for the last APPLIED batch id:
    * an interleaved meta-less commit (a manual Snapshots.commit) must
    * not blind the guard, and Snapshots.compact carries meta forward,
    * so the id also survives vacuumed history.
    */
  def replayed(spark: SparkSession, table: String, batchId: Long): Boolean = {
    val applied = Snapshots.versions(spark, table).reverseIterator
      .map(v => Snapshots.meta(spark, table, Some(v)).get(BatchKey))
      .collectFirst { case Some(b) => b.toLong }
    require(applied.forall(_ <= batchId),
      s"batch $batchId arrived after ${applied.get} was committed — " +
        "out-of-order replay the checkpoint should make impossible")
    applied.contains(batchId)
  }
}
