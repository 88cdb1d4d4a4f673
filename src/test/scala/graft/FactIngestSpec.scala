package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.refstar.Warehouse
import graft.streaming.FactIngest
import graft.streaming.FactIngest.RawSale

/** Continuous fact ingest: raw sale events resolved against the
  * persisted dimensions (stream-static joins) must reproduce the
  * batch-built Fact_SalesActual rows bit for bit.
  */
class FactIngestSpec extends SparkSpec {

  /** Raw detail+header rows for known detail ids, reconstructed from
    * the warehouse staging layer (what a CDC feed would deliver).
    */
  private def rawRows(ids: Seq[Long]): Seq[RawSale] = {
    import spark.implicits._
    val d = Warehouse.table(spark, "stg_salesdetail")
      .filter(col("SALESDETAILID").isin(ids: _*))
      .select("SALESDETAILID", "SALESHEADERID", "PRODUCTID", "SALESQUANTITY",
        "SALESAMOUNT")
    val h = Warehouse.table(spark, "stg_salesheader")
      .select(col("SALESHEADERID").as("__hid"), col("DATE"), col("CHANNELID"),
        col("STOREID"), col("CUSTOMERID"), col("RESELLERID"))
    d.join(h, col("SALESHEADERID") === col("__hid")).drop("__hid")
      .as[RawSale].collect().toSeq
  }

  test("streaming ingest reproduces the batch-built fact exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // mix of store, reseller and online (customer) sales
    val ids = Seq(1L, 2L, 3L, 100L, 5000L)
    val raws = rawRows(ids)
    assert(raws.size == ids.size)
    val mem = MemoryStream[RawSale]
    val q = FactIngest.resolved(spark, mem.toDF())
      .writeStream.format("memory").queryName("fact_ingest")
      .outputMode("append").start()
    try {
      mem.addData(raws: _*)
      q.processAllAvailable()
      val got = spark.table("fact_ingest")
      val want = Warehouse.table(spark, "fact_salesactual")
        .filter(col("SalesDetailID").isin(ids: _*))
      assert(got.count() == ids.size.toLong)
      assert(got.columns.toSeq == want.columns.toSeq, "fact contract columns")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "streamed rows must equal the batch-built fact rows exactly")
    } finally q.stop()
  }

  test("restart from the checkpoint neither duplicates nor loses rows") {
    import spark.implicits._
    // file source (replayable across restarts, unlike MemoryStream):
    // the checkpoint + parquet sink metadata log carry exactly-once
    // across a stop/restart boundary
    val tmp = Fixture.dir("graft-fact-restart")
    val srcDir = s"$tmp/src"; val outDir = s"$tmp/fact"; val ck = s"$tmp/ckpt"
    val schema = implicitly[org.apache.spark.sql.Encoder[RawSale]].schema
    def feed(ids: Seq[Long]): Unit =
      rawRows(ids).toDF().write.mode("append").parquet(srcDir)
    def start() = FactIngest.start(spark,
      spark.readStream.schema(schema).parquet(srcDir), outDir, ck)

    feed(Seq(21L, 22L, 23L))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // rows arriving while the stream is DOWN must surface after restart
    feed(Seq(24L, 25L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir).drop(Warehouse.FactYearCol)
    assert(out.count() == 5, "all rows from both uptimes, exactly once")
    assert(out.select("SalesDetailID").distinct().count() == 5,
      "no detail id ingested twice across the restart")
    val want = Warehouse.table(spark, "fact_salesactual")
      .filter(col("SalesDetailID").isin(21L, 22L, 23L, 24L, 25L))
    assert(out.except(want).isEmpty && want.except(out).isEmpty,
      "restarted stream output must equal the batch-built fact rows")
  }

  test("streaming ingest maintains the stats manifest per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Fixture.dir("graft-fact-manifest")
    val mem = MemoryStream[RawSale]
    val q = FactIngest.start(spark, mem.toDF(), s"$tmp/fact", s"$tmp/ckpt",
      manifestCols = Seq("SalesDetailID"))
    try {
      mem.addData(rawRows(Seq(30L, 31L)): _*)
      q.processAllAvailable()
      mem.addData(rawRows(Seq(32L)): _*)
      q.processAllAvailable()
      // the maintenance listener fires asynchronously after each batch;
      // poll the manifest READ-ONLY so a dead listener cannot be masked
      val manifest = java.nio.file.Paths.get(s"$tmp/fact", "_stats_manifest")
      def coveredFiles(): Int =
        if (!java.nio.file.Files.exists(manifest)) 0
        else java.nio.file.Files.readAllLines(manifest).toArray
          .map(_.toString.split('\t')(0)).distinct.length
      def sinkFiles(): Int = spark.read.parquet(s"$tmp/fact").inputFiles.length
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (coveredFiles() < sinkFiles() && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(coveredFiles() == sinkFiles(),
        "the listener must cover every committed file without help")
      val hit = graft.sources.StatsManifest.candidateFiles(
        spark, s"$tmp/fact", "SalesDetailID", "30", "30")
      val all = spark.read.parquet(s"$tmp/fact").inputFiles.length
      assert(all >= 2, "two micro-batches must have appended at least two files")
      assert(hit.size < all,
        s"a point probe must prune streamed files (${hit.size} of $all kept)")
    } finally q.stop()
  }

  test("parquet sink appends resolved fact rows under a checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Fixture.dir("graft-fact-ingest")
    val mem = MemoryStream[RawSale]
    val q = FactIngest.start(spark, mem.toDF(), s"$tmp/fact", s"$tmp/ckpt")
    try {
      mem.addData(rawRows(Seq(10L, 11L)): _*)
      q.processAllAvailable()
      mem.addData(rawRows(Seq(12L)): _*)
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/fact")
      assert(out.count() == 3)
      assert(out.filter(col("DimProductID") === 1L || col("DimChannelID") === 1L)
        .count() == 0, "known products/channels must resolve, not fall back")
      // streamed appends land in the same year-partitioned layout as the
      // batch warehouse fact, so year-bounded reads prune them too
      assert(new java.io.File(s"$tmp/fact").listFiles()
        .exists(_.getName.startsWith(s"${Warehouse.FactYearCol}=")),
        "appends must be partitioned by derived sale year")
    } finally q.stop()
  }
}
