package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.DimIngest

/** Continuous SCD2 dimension maintenance: micro-batches version the
  * persisted dimension, replays are idempotent, and the swap is atomic
  * (the dimension is always a complete parquet table).
  */
case class DimUpd(k: Long, manager: String)

class DimIngestSpec extends SparkSpec {

  private def seedDim(path: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, "Ann", "2013-01-01", "9999-12-31", "Y"),
      (2L, "Bo", "2013-01-01", "9999-12-31", "Y"))
      .toDF("k", "manager", "effective_date", "expiration_date",
        "current_row_ind")
      .select(col("k"), col("manager"),
        to_date(col("effective_date")).as("effective_date"),
        to_date(col("expiration_date")).as("expiration_date"),
        col("current_row_ind"))
      .write.mode("overwrite").parquet(path)
  }

  private def snapshot(path: String): Set[(Long, String, String, String, String)] =
    spark.read.parquet(path).collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("manager"),
        r.getAs[java.sql.Date]("effective_date").toString,
        r.getAs[java.sql.Date]("expiration_date").toString,
        r.getAs[String]("current_row_ind"))).toSet

  test("micro-batches version the dimension; new keys insert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Fixture.dir("graft-dim-ingest")
    val dim = s"$tmp/dim_store"
    seedDim(dim)
    val mem = MemoryStream[DimUpd]
    val q = DimIngest.start(spark, mem.toDF(), dim, "k", Seq("manager"),
      s"$tmp/ckpt", id => s"2014-0${id + 1}-01")
    try {
      mem.addData(DimUpd(1L, "Zed")) // change k=1's manager in batch 0
      q.processAllAvailable()
      assert(snapshot(dim) == Set(
        (1L, "Ann", "2013-01-01", "2014-01-01", "N"),
        (1L, "Zed", "2014-01-01", "9999-12-31", "Y"),
        (2L, "Bo", "2013-01-01", "9999-12-31", "Y")))
      mem.addData(DimUpd(9L, "New")) // brand-new key in batch 1
      q.processAllAvailable()
      assert(snapshot(dim) == Set(
        (1L, "Ann", "2013-01-01", "2014-01-01", "N"),
        (1L, "Zed", "2014-01-01", "9999-12-31", "Y"),
        (2L, "Bo", "2013-01-01", "9999-12-31", "Y"),
        (9L, "New", "2014-02-01", "9999-12-31", "Y")))
    } finally q.stop()
  }

  test("replaying a batch is idempotent (at-least-once → exactly-once state)") {
    import spark.implicits._
    val tmp = Fixture.dir("graft-dim-replay")
    val dim = s"$tmp/dim"
    seedDim(dim)
    val batch = Seq(DimUpd(1L, "Zed"), DimUpd(7L, "Eve")).toDF("k", "manager")
    DimIngest.applyBatch(spark, batch, dim, "k", Seq("manager"), "2014-06-01")
    val once = snapshot(dim)
    // a crash between sink commit and checkpoint commit replays the batch
    DimIngest.applyBatch(spark, batch, dim, "k", Seq("manager"), "2014-06-01")
    assert(snapshot(dim) == once,
      "re-applying the same batch must not re-version any row")
    assert(once.contains((1L, "Zed", "2014-06-01", "9999-12-31", "Y")))
    assert(once.contains((7L, "Eve", "2014-06-01", "9999-12-31", "Y")))
  }

  test("a first-ever batch bootstraps an absent dimension") {
    import spark.implicits._
    val tmp = Fixture.dir("graft-dim-boot")
    val dim = s"$tmp/dim" // never seeded
    val batch = Seq(DimUpd(1L, "Ann"), DimUpd(2L, "Bo")).toDF("k", "manager")
    DimIngest.applyBatch(spark, batch, dim, "k", Seq("manager"), "2014-01-01")
    assert(snapshot(dim) == Set(
      (1L, "Ann", "2014-01-01", "9999-12-31", "Y"),
      (2L, "Bo", "2014-01-01", "9999-12-31", "Y")))
  }

  test("recover restores the live path from every crash window") {
    import spark.implicits._
    val tmp = Fixture.dir("graft-dim-crash")
    val dim = s"$tmp/dim"
    seedDim(dim)
    val fs = new org.apache.hadoop.fs.Path(dim)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(dim)
    val staging = new org.apache.hadoop.fs.Path(dim + "__staging")
    val prev = new org.apache.hadoop.fs.Path(dim + "__prev")

    // window (b): live renamed aside, complete staging not yet renamed
    // in — the next batch's recover must promote STAGING (the new state)
    val upd = Seq(DimUpd(1L, "Zed")).toDF("k", "manager")
    DimIngest.applyBatch(spark, upd, dim, "k", Seq("manager"), "2014-06-01")
    val after = snapshot(dim)
    spark.read.parquet(dim).write.parquet(staging.toString) // staged copy
    assert(fs.rename(dst, prev)) // simulate crash between the two renames
    DimIngest.recover(fs, dim)
    assert(snapshot(dim) == after, "recover must promote the staged state")
    assert(!fs.exists(prev) && !fs.exists(staging))

    // window (c): swap finished but __prev not dropped — recover drops it
    assert(fs.mkdirs(prev))
    DimIngest.recover(fs, dim)
    assert(snapshot(dim) == after && !fs.exists(prev))

    // degenerate: only __prev survives (no staging) — recover falls back
    assert(fs.rename(dst, prev))
    DimIngest.recover(fs, dim)
    assert(snapshot(dim) == after)
  }
}
