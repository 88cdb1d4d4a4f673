package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ivf

/** Continuously-maintained IVF vector index — the streaming face of
  * [[Ivf]], completing the ingest trio (BM25 postings, dedup state,
  * now ANN): embeddings arrive in micro-batches, each batch's vectors
  * are assigned to their nearest coarse cell against a FROZEN
  * centroid model and land as
  *
  *  - `assign/batch=<id>/` — the batch's (vid, v, nrm, cid) rows
  *    ([[Ivf.assign]]'s schema).
  *
  * Assignment is a row-local map and the assignment of a union is the
  * union of the assignments, so per-batch partials are append-only
  * directories — corpus-scale state written ONCE (the IndexIngest
  * postings discipline), and [[search]] serves BIT-IDENTICALLY to
  * running [[Ivf.search]] over the full corpus with the same model
  * (IvfIngestSpec proves row-set equality after a multi-batch build;
  * the qs24 gate holds the served recall to qs06's oracle). That is
  * the index-update story a 100 TB embedding store needs: arriving
  * vectors pay one assignment pass, queries keep probing nprobe cells,
  * and the centroids stay a k-vector driver-side model — retraining
  * is a deliberate offline event ([[Ivf.train]] + a fresh path), never
  * an ingest-time obligation. The doubles round-trip through parquet
  * exactly, so persistence adds no drift.
  *
  * Crash discipline is [[DedupIngest]]'s: [[Sink]]'s batch
  * directories under [[BatchMarkers]], single-table state, so a
  * committed directory is the whole transaction.
  *
  * RETRACTIONS: [[applyDeletes]] absorbs takedown/prune batches as
  * TOMBSTONES in their own batch-id + marker namespace; serving
  * anti-joins them (terminal per id — a replayed insert of a deleted
  * vector stays suppressed), and [[compact]] applies committed
  * tombstones physically without ever discarding them. qs28 gates
  * serve-after-ingest+delete+compact against the batch search over
  * the surviving corpus.
  */
object IvfIngest {

  private def statePath(path: String) = s"$path/assign"

  /** The retrained model rides INSIDE the assignment root (an
    * underscore-prefixed subdir is invisible to the parquet reader's
    * file listing, the `_delta_log` trick), so [[retrainSwap]]'s one
    * directory rename publishes the (model, assignment) pair as a
    * single atomic unit — a reader can never see new cells against old
    * centroids or vice versa.
    */
  private def modelSubdir(assignRoot: String) = s"$assignRoot/_model"

  /** The at-train value of the drift probe (mean assigned-centroid
    * cosine of the training corpus under the published model), stored
    * NEXT TO the model it describes — so the (model, ref) pair travels
    * through the same atomic rename as the (model, assignment) pair.
    */
  private def driftRefFile(modelDir: String) = new Path(modelDir, "_drift_ref")

  private def writeDriftRef(fs: org.apache.hadoop.fs.FileSystem,
                            modelDir: String, v: Double): Unit = {
    val out = fs.create(driftRefFile(modelDir), true)
    out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Tombstone namespace: delete batches get their own marker root so
    * their batch-id space never collides with assignment batches.
    */
  private def tombPath(path: String) = s"$path/tombstone"
  private def tombStatePath(path: String) = s"${tombPath(path)}/ids"

  /** Absorb one micro-batch of (id, vector) rows against the frozen
    * `model`. Idempotent per `batchId` (directory overwrite + marker).
    */
  def applyBatch(batch: DataFrame, model: Ivf.Model, idCol: String,
                 vecCol: String, path: String, batchId: Long): Unit =
    Sink.absorbOnce(batch.sparkSession, path, batchId) {
      Sink.writeBatch(Ivf.assign(batch, model, idCol, vecCol), statePath(path), batchId)
    }

  /** Absorb one micro-batch of DELETIONS (takedowns, dedup-driven
    * prunes — the retractions a real corpus makes that an append-only
    * index cannot express): `batch`'s `idCol` values become TOMBSTONES
    * under their own batch directory + marker namespace (ids never
    * collide with assignment batches). A tombstone is TERMINAL for an
    * id — [[assigned]]/[[search]] anti-join the tombstone set, so a
    * replayed ingest batch that re-adds a deleted vector stays
    * suppressed at serve, and [[compact]] applies tombstones
    * physically without ever discarding them (the qj14 MoR
    * discipline: the delta is change-proportional, the rewrite is a
    * deliberate compaction event). Idempotent per `batchId`
    * (overwrite + marker, exactly [[applyBatch]]'s contract).
    */
  def applyDeletes(batch: DataFrame, idCol: String, path: String,
                   batchId: Long): Unit =
    Sink.absorbOnce(batch.sparkSession, tombPath(path), batchId) {
      Sink.writeBatch(batch.select(col(idCol).as("vid")).distinct(),
        tombStatePath(path), batchId)
    }

  /** The standing tombstone set (empty frame when no deletes ever
    * arrived — schema taken from the assignment state's vid column).
    */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    if (Sink.fs(spark, path).exists(new Path(tombStatePath(path))))
      Some(spark.read.parquet(tombStatePath(path)).select("vid").distinct())
    else None

  /** Start continuous index maintenance over an embedding stream. */
  def start(docs: DataFrame, model: Ivf.Model, idCol: String,
            vecCol: String, path: String, checkpoint: String): StreamingQuery =
    Sink.start(docs, checkpoint)(applyBatch(_, model, idCol, vecCol, path, _))

  /** The maintained corpus assignment, bookkeeping stripped and
    * tombstoned ids suppressed (see [[applyDeletes]]).
    */
  def assigned(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(statePath(path)).drop("batch")
    tombstones(spark, path) match {
      case Some(t) => base.join(t, Seq("vid"), "left_anti")
      case None => base
    }
  }

  /** True when `batchId` was absorbed — durable across [[compact]]
    * (marker-first, a [[Sink.committed]] directory as the pre-marker
    * fallback).
    */
  def hasBatch(spark: SparkSession, path: String, id: Long): Boolean = {
    val fs = Sink.fs(spark, path)
    BatchMarkers.isAbsorbed(fs, path, id) ||
      Sink.committed(fs, Sink.batchDir(statePath(path), id))
  }

  /** ANN top-k served from the maintained index — [[Ivf.searchAssigned]]
    * over the streamed assignment, bit-identical to a batch
    * [[Ivf.search]] with the same model over the same vectors.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             model: Ivf.Model, idCol: String, vecCol: String, k: Int,
             nprobe: Int = 2): DataFrame =
    Ivf.searchAssigned(assigned(spark, path), queries, model,
      idCol, vecCol, k, nprobe)

  /** The model the index currently serves with, when a [[retrainSwap]]
    * has published one (pre-swap indexes carry their model caller-side,
    * the original contract).
    */
  def currentModel(spark: SparkSession, path: String): Option[Ivf.Model] = {
    val mp = new Path(modelSubdir(statePath(path)))
    if (Sink.fs(spark, path).exists(mp))
      Some(graft.operators.Models.loadIvf(spark, mp.toString))
    else None
  }

  /** Retrain the coarse quantizer on the MAINTAINED corpus and swap
    * the (model, assignment) pair atomically under readers — the
    * remediation path for centroid drift that r16 left open (the
    * centroids were frozen forever; a drifting corpus degraded recall
    * with no fix short of a manual rebuild).
    *
    *  - Retrains on [[assigned]] — the tombstone-suppressed survivors
    *    — so deleted vectors influence nothing.
    *  - Rewrites the physical state against the new centroids in two
    *    disjoint keying classes. UNMARKED (in-flight) batches keep
    *    their EXACT physical row set — tombstoned vids included — at
    *    their own batch ids, only the cid recomputed ([[Ivf.reassign]]
    *    is row-local and deterministic), so the pending replay's
    *    directory overwrite writes back BIT-IDENTICAL rows: a replayed
    *    [[applyBatch]] against [[currentModel]] is a physical no-op.
    *    (Keying on "vid appears in any unmarked batch", not max batch
    *    id, is what makes this hold when a vid also sits in a marked
    *    batch — the marked copy is dropped here and the replay
    *    re-creates nothing, so no row re-duplicates; and a tombstoned
    *    vid inside an unmarked batch is RETAINED physically so the
    *    replay cannot resurrect a row the rewrite had dropped. Serve
    *    correctness never depended on either — the tombstone anti-join
    *    covers both — but the replay idempotency claim is now exact,
    *    not merely serve-equivalent.) Vids living ONLY in marked
    *    batches collapse under the oldest marked id (compact's
    *    convention), tombstone-suppressed and deduplicated.
    *  - Publishes model + assignment in ONE rename
    *    ([[AtomicSwap.rewriteStaged]]): readers see the old pair or
    *    the new pair, never a mix; [[AtomicSwap.recover]] covers every
    *    crash window because the pair travels together.
    *  - Tombstones live in their own root, UNTOUCHED by the swap —
    *    deletes stay terminal across a retrain (qs29 REQUIREs it).
    *
    * Scale shape: one [[Ivf.train]] (iters linear passes, k driver
    * rows) + one row-local re-assignment pass + the swap's two
    * metadata renames. Returns the new model.
    */
  def retrainSwap(spark: SparkSession, path: String, k: Int,
                  iters: Int = 3): Ivf.Model = {
    val root = statePath(path)
    val fs = Sink.fs(spark, root)
    AtomicSwap.recover(fs, root)
    // one row per surviving vid (a re-ingested id collapses here —
    // same id means same vector in this index's contract)
    val corpus = assigned(spark, path).select("vid", "v")
      .dropDuplicates("vid")
    val model = Ivf.train(spark, corpus, "vid", "v", k, iters)
    val (marked, unmarked) =
      Sink.batchIds(fs, root).partition(BatchMarkers.isAbsorbed(fs, path, _))
    val minBatch = if (marked.nonEmpty) marked.min else 0L
    val all = spark.read.parquet(root)
      .withColumn("batch", col("batch").cast("long"))
    val inUnmarked: Column =
      if (unmarked.isEmpty) lit(false) else col("batch").isin(unmarked: _*)
    // in-flight batches: exact physical rows (tombstoned vids and all),
    // own batch ids, cid recomputed — the pending replay overwrites
    // these directories with bit-identical content (scaladoc above)
    val unmarkedRows = Ivf.reassign(all.filter(inUnmarked), model)
    // marked-only vids: tombstone-suppressed, one row per vid, under
    // the oldest marked id; vids with an in-flight copy are dropped
    // here so the replay re-duplicates nothing
    val markedOnly0 = all.filter(!inUnmarked)
      .join(unmarkedRows.select("vid").distinct(), Seq("vid"), "left_anti")
    val markedOnly1 = tombstones(spark, path) match {
      case Some(t) => markedOnly0.join(t, Seq("vid"), "left_anti")
      case None => markedOnly0
    }
    val markedRows = Ivf.reassign(markedOnly1.dropDuplicates("vid"), model)
      .withColumn("batch", lit(minBatch).cast("long"))
    val reassigned = markedRows.unionByName(unmarkedRows)
    // at-train drift reference: the probe value of the TRAINING corpus
    // under the model it trained — [[maintainIndex]] compares the live
    // probe against this to decide when the next retrain fires
    val refSim = Ivf.meanAssignedSim(
      Ivf.assign(corpus, model, "vid", "v"), model)
    AtomicSwap.rewriteStaged(fs, root) { staging =>
      reassigned.write.mode("overwrite").partitionBy("batch")
        .parquet(staging.toString)
      graft.operators.Models.saveIvf(spark, model,
        modelSubdir(staging.toString))
      writeDriftRef(fs, modelSubdir(staging.toString), refSim)
    }
    model
  }

  /** The live drift probe against the published (model, drift-ref)
    * pair: returns (at-train reference, current probe value) — the
    * current value is [[Ivf.meanAssignedSim]] over the maintained
    * tombstone-suppressed survivors (deduplicated per vid, the
    * training-corpus convention). None until a [[retrainSwap]] has
    * published a model (pre-publication indexes carry their model
    * caller-side and the caller owns the retrain decision).
    *
    * Scale shape: one row-local projection + one AVG over the
    * assignment state — safe on every maintenance tick.
    */
  def drift(spark: SparkSession, path: String): Option[(Double, Double)] = {
    val model = currentModel(spark, path).getOrElse(return None)
    val fs = Sink.fs(spark, path)
    val rf = driftRefFile(modelSubdir(statePath(path)))
    if (!fs.exists(rf)) return None
    val in = fs.open(rf)
    val ref =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toDouble
      finally in.close()
    val cur = Ivf.meanAssignedSim(
      assigned(spark, path).dropDuplicates("vid"), model)
    Some((ref, cur))
  }

  /** Drift-triggered index maintenance — the POLICY over
    * [[retrainSwap]]'s mechanism: when the drift probe has dropped
    * more than `maxDrop` below its at-train reference (the corpus has
    * shifted away from the centroids enough that recall is degrading),
    * retrain-and-swap and return the new model; otherwise do nothing
    * and return None. A maintenance loop calls this on a schedule; the
    * probe is one AVG over the assignment state, so an un-fired tick
    * costs one scan and no shuffle, while a fired tick pays exactly
    * one [[retrainSwap]] (which also publishes the NEW reference, so
    * the next tick measures drift from the fresh centroids).
    *
    * `maxDrop` is in absolute cosine: 0.01 means "the average vector
    * lost 0.01 of its similarity to its cell centroid since training".
    * The default is deliberately tight because both sides have orders
    * of magnitude of margin: a stable corpus reads ~1e-15 drift (the
    * probe re-reads the value the reference was computed from, modulo
    * float association), while ingesting an ANTIPODAL half measures a
    * 0.023-0.066 drop across sf0.001-sf1 corpus geometries and k in
    * {4, 8} (measured round 18). qs30 gates that a shifted ingest
    * slice fires the probe and that post-swap recall recovers to the
    * fresh-index level, and IvfIngestSpec locks that an UNSHIFTED
    * corpus does NOT fire it (no retrain storms on stable data).
    */
  def maintainIndex(spark: SparkSession, path: String, k: Int,
                    maxDrop: Double = 0.01, iters: Int = 3): Option[Ivf.Model] = {
    val (ref, cur) = drift(spark, path).getOrElse(throw new IllegalStateException(
      s"maintainIndex($path): no published (model, drift-ref) pair — " +
        "run retrainSwap once to publish the model this policy maintains"))
    if (ref - cur > maxDrop) Some(retrainSwap(spark, path, k, iters))
    else None
  }

  /** Collapse the accumulated per-batch assignment directories into
    * one by [[Sink.compact]] — rows are relocation-only (assignments
    * never merge).
    */
  def compact(spark: SparkSession, path: String, files: Int = 4): Unit = {
    // Tombstone side FIRST (marker reconstruction + collapse), so the
    // assignment pass below applies a COMMITTED tombstone set: only
    // MARKED tombstones are dropped physically, and only from MARKED
    // assignment rows — an unmarked (in-flight) batch on either side
    // passes through untouched, with the serve-time anti-join (which
    // reads ALL tombstones, in-flight included) covering the gap.
    // Tombstones are compacted but NEVER discarded, so a post-compact
    // replay that re-adds a deleted id stays suppressed (deletes are
    // terminal).
    Sink.compact(spark, tombStatePath(path), tombPath(path), files)(identity)
    val applyTomb = committedTombstones(spark, path)
    // A published model ([[retrainSwap]]) lives INSIDE this root as the
    // _model subdir, so it is kept: a plain rewrite would silently drop
    // it and break [[currentModel]] after routine maintenance, and
    // re-staging it keeps the (model, assignment) pair atomic across
    // compaction too.
    Sink.compact(spark, statePath(path), path, files, keep = Seq("_model")) { rows =>
      applyTomb.fold(rows)(rows.join(_, Seq("vid"), "left_anti"))
    }
  }

  /** The vids of every MARKED (committed) tombstone batch — the set
    * [[compact]] may apply physically.
    */
  private def committedTombstones(spark: SparkSession,
                                  path: String): Option[DataFrame] = {
    val fs = Sink.fs(spark, path)
    val marked = Sink.batchIds(fs, tombStatePath(path))
      .filter(BatchMarkers.isAbsorbed(fs, tombPath(path), _))
    if (marked.isEmpty) None
    else Some(spark.read.parquet(tombStatePath(path))
      .filter(col("batch").isin(marked: _*)).select("vid").distinct())
  }
}
