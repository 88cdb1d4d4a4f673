package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Ivf
import graft.streaming.IvfIngest

/** Streaming IVF index maintenance: after any number of micro-batches,
  * serving from the streamed assignment must equal Ivf.search over the
  * full corpus with the same frozen model BIT FOR BIT — assignment is
  * a row-local map (union of assignments == assignment of union) and
  * doubles round-trip parquet exactly, so the two paths are identical,
  * not approximately so.
  */
class IvfIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def topk(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sorted

  test("stream-built IVF index serves bit-identical to the batch search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft_ivf")
    val emb = Tables(spark, sf, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 8)
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()

    val mem = MemoryStream[(Long, Seq[Double])]
    val q = IvfIngest.start(mem.toDF().toDF("vec_id", "embedding"),
      model, "vec_id", "embedding", dir, s"$dir/__ckpt")
    try {
      Seq(rows.take(13), rows.slice(13, 50), rows.drop(50)).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val queries = emb.filter(col("vec_id") % 100 === 0)
    val direct = Ivf.search(emb, queries, model, "vec_id", "embedding",
      k = 10, nprobe = 4)
    val served = IvfIngest.search(spark, dir, queries, model,
      "vec_id", "embedding", k = 10, nprobe = 4)
    assert(topk(served) == topk(direct),
      "streamed and batch IVF search must be bit-identical")
  }

  test("replay no-ops; compact relocates without changing the serve; the " +
      "marker crash window is safe") {
    import spark.implicits._
    val dir = Fixture.dir("graft_ivf2")
    val emb = Tables(spark, sf, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 8)
    val b0 = emb.filter(col("vec_id") % 2 === 0)
    val b1 = emb.filter(col("vec_id") % 2 === 1)
    IvfIngest.applyBatch(b0, model, "vec_id", "embedding", dir, 0L)
    IvfIngest.applyBatch(b1, model, "vec_id", "embedding", dir, 1L)
    assert(IvfIngest.hasBatch(spark, dir, 0L) &&
      IvfIngest.hasBatch(spark, dir, 1L))

    val queries = emb.filter(col("vec_id") % 100 === 0)
    def serve() = topk(IvfIngest.search(spark, dir, queries, model,
      "vec_id", "embedding", k = 10, nprobe = 4))
    val before = serve()

    // replay is a no-op
    IvfIngest.applyBatch(b1, model, "vec_id", "embedding", dir, 1L)
    assert(serve() == before)

    // crash window: marker write never happened for batch 1 — compact
    // reconstructs it from the committed directory, then the replay
    // after compaction still no-ops
    assert(new java.io.File(s"$dir/_absorbed/batch-1").delete())
    IvfIngest.compact(spark, dir)
    assert(IvfIngest.hasBatch(spark, dir, 1L),
      "compact must reconstruct the marker from the committed directory")
    val dirs = new java.io.File(s"$dir/assign").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=0"), s"expected one compacted dir: $dirs")
    IvfIngest.applyBatch(b1, model, "vec_id", "embedding", dir, 1L)
    assert(serve() == before,
      "replay after compaction must not duplicate assignments")
  }

  test("tombstones: deleted ids vanish from serve, compact applies them " +
      "physically, and re-adds stay suppressed") {
    val dir = Fixture.dir("graft_ivf3")
    val emb = Tables(spark, sf, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 8)
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 2 === 0),
      model, "vec_id", "embedding", dir, 0L)
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 2 === 1),
      model, "vec_id", "embedding", dir, 1L)
    val doomed = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    IvfIngest.applyDeletes(doomed, "vec_id", dir, 0L)

    val queries = emb.filter(col("vec_id") % 100 === 0)
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    def serve() = topk(IvfIngest.search(spark, dir, queries, model,
      "vec_id", "embedding", k = 10, nprobe = 4))
    val batch = topk(Ivf.search(survivors, queries, model,
      "vec_id", "embedding", k = 10, nprobe = 4))
    assert(serve() == batch,
      "post-delete serve must be bit-identical to the batch search " +
        "over the surviving corpus")

    // delete replay is a no-op
    IvfIngest.applyDeletes(doomed, "vec_id", dir, 0L)
    assert(serve() == batch)

    // compact applies committed tombstones physically — the rows leave
    // the assignment state, and the serve is unchanged
    IvfIngest.compact(spark, dir)
    assert(serve() == batch, "compaction must not change the serve")
    assert(spark.read.parquet(s"$dir/assign")
      .filter(col("vid") % 7 === 3).count() == 0,
      "compact must drop tombstoned rows from the assignment state")

    // deletes are terminal: a LATER ingest batch that re-adds a
    // tombstoned vector stays suppressed at serve
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 7 === 3),
      model, "vec_id", "embedding", dir, 5L)
    assert(serve() == batch,
      "re-added tombstoned ids must stay suppressed at serve")
  }

  test("retrainSwap: new (model, assignment) pair serves like a fresh " +
      "batch index; tombstones and replay idempotency survive the swap") {
    val dir = Fixture.dir("graft_ivf4")
    val emb = Tables(spark, sf, "embeddings")
    // deliberately stale model: trained on one slice only
    val stale = Ivf.train(spark, emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", k = 8)
    (0 until 3).foreach { b =>
      IvfIngest.applyBatch(emb.filter(col("vec_id") % 3 === b),
        stale, "vec_id", "embedding", dir, b.toLong)
    }
    val doomed = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    IvfIngest.applyDeletes(doomed, "vec_id", dir, 0L)

    val retrained = IvfIngest.retrainSwap(spark, dir, k = 8)
    // the pair is served together: currentModel is the retrained one
    val served = IvfIngest.currentModel(spark, dir)
    assert(served.exists(m => m.centroids.map(_.toSeq).toSeq ==
      retrained.centroids.map(_.toSeq).toSeq))
    // and the assignment state agrees with the model next to it: every
    // stored cid equals a fresh assignment against the served model
    val state = IvfIngest.assigned(spark, dir)
    val re = Ivf.assign(state.select(col("vid"), col("v")),
      served.get, "vid", "v")
      .select(col("vid"), col("cid").as("recid"))
    assert(state.join(re, "vid").filter(col("cid") =!= col("recid"))
      .count() == 0, "stored cells must match the served model")

    val queries = emb.filter(col("vec_id") % 100 === 0)
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    def serve() = topk(IvfIngest.search(spark, dir, queries, retrained,
      "vec_id", "embedding", k = 10, nprobe = 4))
    // deterministic train ⇒ a fresh batch build on the survivors is the
    // same model, so the serve matches it bit for bit
    val fresh = Ivf.train(spark, survivors, "vec_id", "embedding", k = 8)
    assert(fresh.centroids.map(_.toSeq).toSeq ==
      retrained.centroids.map(_.toSeq).toSeq,
      "retrain on the maintained corpus must equal a fresh train")
    val batch = topk(Ivf.search(survivors, queries, fresh,
      "vec_id", "embedding", k = 10, nprobe = 4))
    assert(serve() == batch,
      "post-swap serve must equal the fresh batch index")

    // tombstones survived the swap: a replayed re-add stays suppressed
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 7 === 3),
      retrained, "vec_id", "embedding", dir, 9L)
    assert(serve() == batch,
      "tombstones must stay terminal across the retrain swap")
    // and a replay of an ABSORBED ingest batch is still a no-op (the
    // markers live outside the swapped directory)
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 3 === 1),
      retrained, "vec_id", "embedding", dir, 1L)
    assert(serve() == batch,
      "an absorbed batch's replay must stay a no-op after the swap")
  }

  test("compact preserves the published (model, drift-ref) pair") {
    val dir = Fixture.dir("graft_ivf6")
    val emb = Tables(spark, sf, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 4)
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 2 === 0),
      model, "vec_id", "embedding", dir, 0L)
    IvfIngest.applyBatch(emb.filter(col("vec_id") % 2 === 1),
      model, "vec_id", "embedding", dir, 1L)
    IvfIngest.retrainSwap(spark, dir, k = 4)
    val before = IvfIngest.currentModel(spark, dir)
    val refBefore = IvfIngest.drift(spark, dir).map(_._1)
    assert(before.nonEmpty && refBefore.nonEmpty, "pair must be published")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def serve() = topk(IvfIngest.search(spark, dir, queries, before.get,
      "vec_id", "embedding", k = 10, nprobe = 4))
    val pre = serve()
    // routine maintenance after a retrain: the _model subdir rides
    // INSIDE the swapped root, so a compaction that staged only the
    // parquet rows would silently delete the published pair
    IvfIngest.compact(spark, dir)
    val after = IvfIngest.currentModel(spark, dir)
    assert(after.exists(m => m.centroids.map(_.toSeq).toSeq ==
      before.get.centroids.map(_.toSeq).toSeq),
      "compact must carry the published model across the rewrite")
    assert(IvfIngest.drift(spark, dir).map(_._1) == refBefore,
      "the drift reference must survive compaction")
    assert(serve() == pre, "compaction must not change the serve")
  }

  test("retrainSwap leaves in-flight batches bit-identical for the " +
      "pending replay; no re-duplication, no tombstone resurrection") {
    val dir = Fixture.dir("graft_ivf7")
    val emb = Tables(spark, sf, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 8)
    // in-flight batch 0: the odd vids PLUS an overlap slice that also
    // lives in the HIGHER-id marked batch (the advisor's
    // re-duplication scenario), plus tombstoned vids
    val inflight = emb.filter(col("vec_id") % 2 === 1 ||
      col("vec_id") % 10 === 0)
    val markedB = emb.filter(col("vec_id") % 2 === 0)
    IvfIngest.applyBatch(inflight, model, "vec_id", "embedding", dir, 0L)
    // crash window: batch 0's rows landed but its marker never did
    assert(new java.io.File(s"$dir/_absorbed/batch-0").delete())
    IvfIngest.applyBatch(markedB, model, "vec_id", "embedding", dir, 1L)
    val doomed = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    IvfIngest.applyDeletes(doomed, "vec_id", dir, 0L)

    val retrained = IvfIngest.retrainSwap(spark, dir, k = 8)
    def rowsOf(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2),
        r.getLong(3))).toSet
    val staged = rowsOf(s"$dir/assign/batch=0")
    // a tombstoned vid inside the in-flight batch is RETAINED
    // physically (the replay would re-write it anyway; serve
    // suppresses it via the anti-join)
    assert(staged.exists(t => t._1 % 7 == 3),
      "in-flight tombstoned rows must be retained for the replay")
    // the pending replay against the published model is a physical
    // no-op: bit-identical rows into the same directory
    IvfIngest.applyBatch(inflight, IvfIngest.currentModel(spark, dir).get,
      "vec_id", "embedding", dir, 0L)
    assert(rowsOf(s"$dir/assign/batch=0") == staged,
      "the pending replay must reproduce the staged rows bit-identically")
    // a vid present in both the in-flight and the marked batch lives
    // ONLY under its in-flight copy — the replay re-duplicated nothing
    val state = spark.read.parquet(s"$dir/assign")
    assert(state.groupBy("vid").count().filter(col("count") > 1)
      .count() == 0, "no vid may be duplicated after the replay")
    // and the serve still equals a fresh batch index on the survivors
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    assert(topk(IvfIngest.search(spark, dir, queries, retrained,
        "vec_id", "embedding", k = 10, nprobe = 4)) ==
      topk(Ivf.search(survivors, queries, retrained,
        "vec_id", "embedding", k = 10, nprobe = 4)))
  }

  test("maintainIndex: no fire on a stable corpus, fires on a shifted " +
      "ingest, republishes the reference") {
    val dir = Fixture.dir("graft_ivf8")
    val emb = Tables(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") % 2 === 0)
    val m0 = Ivf.train(spark, a, "vec_id", "embedding", k = 4)
    IvfIngest.applyBatch(a, m0, "vec_id", "embedding", dir, 0L)
    // no published (model, ref) pair yet: the policy refuses to guess
    intercept[IllegalStateException] {
      IvfIngest.maintainIndex(spark, dir, k = 4, maxDrop = 0.01)
    }
    IvfIngest.retrainSwap(spark, dir, k = 4)
    // stable corpus: the probe reads its own at-train value — no fire
    // (policy threshold 0.01: the measured drop of an antipodal half
    // at this corpus is 0.023-0.066 across scales and k, while a
    // stable corpus reads ~1e-15 — see the qs30 gate site)
    assert(IvfIngest.maintainIndex(spark, dir, k = 4, maxDrop = 0.01).isEmpty,
      "no retrain storm on stable data")
    // shifted ingest: every new vector antipodal to the trained cells
    val bShift = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding",
        transform(col("embedding").cast("array<double>"), x => -x))
    IvfIngest.applyBatch(bShift, IvfIngest.currentModel(spark, dir).get,
      "vec_id", "embedding", dir, 1L)
    val (ref, cur) = IvfIngest.drift(spark, dir).get
    assert(ref - cur > 0.03, f"shift must show in the probe: $ref%.4f -> $cur%.4f")
    val fired = IvfIngest.maintainIndex(spark, dir, k = 4, maxDrop = 0.01)
    assert(fired.nonEmpty, "the probe must fire on a drifted corpus")
    assert(IvfIngest.currentModel(spark, dir).exists(m =>
      m.centroids.map(_.toSeq).toSeq ==
        fired.get.centroids.map(_.toSeq).toSeq))
    // the swap republished the reference at the new centroids: the
    // probe reads ~zero drift and the next tick does not re-fire
    val (ref2, cur2) = IvfIngest.drift(spark, dir).get
    assert(math.abs(ref2 - cur2) < 1e-9,
      f"fresh pair must read zero drift: $ref2%.6f vs $cur2%.6f")
    assert(IvfIngest.maintainIndex(spark, dir, k = 4, maxDrop = 0.01).isEmpty)
  }

  test("retrainSwap pair survives every crash window via recover") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.AtomicSwap
    val dir = Fixture.dir("graft_ivf5")
    val emb = Tables(spark, sf, "embeddings")
    val model = Ivf.train(spark, emb, "vec_id", "embedding", k = 4)
    IvfIngest.applyBatch(emb, model, "vec_id", "embedding", dir, 0L)
    IvfIngest.retrainSwap(spark, dir, k = 4)
    val root = s"$dir/assign"
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dst, staging, prev) = AtomicSwap.paths(root)
    def pairConsistent(): Unit = {
      val m = IvfIngest.currentModel(spark, dir)
      assert(m.nonEmpty, "model lost")
      val state = IvfIngest.assigned(spark, dir)
      val re = Ivf.assign(state.select(col("vid"), col("v")),
        m.get, "vid", "v").select(col("vid"), col("cid").as("recid"))
      assert(state.join(re, "vid").filter(col("cid") =!= col("recid"))
        .count() == 0, "model and assignment must stay paired")
    }
    // crash window 1: the swap died between its two renames — live
    // path missing, COMPLETE staging present. recover must promote
    // staging, bringing model AND assignment forward together.
    assert(fs.rename(dst, staging), "stage the crash")
    AtomicSwap.recover(fs, root)
    pairConsistent()
    // crash window 2: live renamed aside to __prev, staging already
    // gone (promoted or never written) — recover must restore prev,
    // again with the pair intact.
    assert(fs.rename(dst, prev), "stage the crash")
    AtomicSwap.recover(fs, root)
    pairConsistent()
  }
}
