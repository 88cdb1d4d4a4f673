package graft

import org.apache.spark.sql.functions.col

import graft.refstar.Warehouse

/** Incremental backfill (round-7 verdict item 4): rebuilding ONE fact
  * year must (a) reproduce exactly the content the full build wrote —
  * the recipe is shared — and (b) leave every other year's files and
  * all dimension tables byte-untouched (same paths, same mtimes), so a
  * one-year correction at 100 TB costs one year of compute and I/O.
  */
class WarehouseBackfillSpec extends SparkSpec {

  private def files(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filterNot(_.getName.startsWith("_"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("single-year backfill: identical content, untouched years and dims") {
    val tmp = Fixture.dir("graft-wh-backfill")
    sys.props("graft.warehouse.dir") = tmp
    try {
      Warehouse.rebuild(spark)
      val factPath = s"$tmp/fact_salesactual"
      val before = spark.read.parquet(factPath).orderBy("SalesDetailID")
        .collect().toSeq
      val rows2013 = spark.read.parquet(factPath)
        .filter(col(Warehouse.FactYearCol) === 2013).count()
      val untouchedYear = files(s"$factPath/SaleYear=2014")
      val dims = Warehouse.DimTables.map(d => d -> files(s"$tmp/$d")).toMap
      assert(untouchedYear.nonEmpty && rows2013 > 0)

      val written = Warehouse.rebuildPartitions(spark, Seq(2013))

      assert(written == rows2013,
        s"backfill must rewrite exactly the 2013 rows: $written vs $rows2013")
      assert(files(s"$factPath/SaleYear=2014") == untouchedYear,
        "untouched years must keep the same files and mtimes")
      dims.foreach { case (d, fs) =>
        assert(files(s"$tmp/$d") == fs, s"dim $d must not be rewritten")
      }
      val after = spark.read.parquet(factPath).orderBy("SalesDetailID")
        .collect().toSeq
      assert(after == before,
        "a backfill from unchanged staging must reproduce identical content")
    } finally {
      sys.props.remove("graft.warehouse.dir")
      Warehouse.invalidateMemo()
    }
  }

  test("composed maintenance: backfill + z-order compact + manifest refresh, " +
    "hashes stable and untouched partitions byte-identical") {
    import graft.operators.Maintenance
    import graft.sources.StatsManifest
    val tmp = Fixture.dir("graft-wh-composed")
    sys.props("graft.warehouse.dir") = tmp
    try {
      Warehouse.rebuild(spark)
      val factPath = s"$tmp/fact_salesactual"
      StatsManifest.write(spark, factPath, Seq("DimSaleDateID"))

      // the answers every later assert must reproduce
      def factRows() = spark.read.parquet(factPath)
        .orderBy("SalesDetailID").collect().toSeq
      // decimal-exact sum (the qv gates' pattern): the rewrite reorders
      // rows, and a raw double sum is order-dependent in the last ulps
      def profitByProduct() = spark.read.parquet(factPath)
        .groupBy("DimProductID")
        .agg(graft.functions.Exact.dsum(col("SaleAmount")).as("amt"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .orderBy("DimProductID").collect().toSeq
      val rowsBefore = factRows()
      val aggBefore = profitByProduct()
      val untouchedYear = files(s"$factPath/SaleYear=2014")
      val dims = Warehouse.DimTables.map(d => d -> files(s"$tmp/$d")).toMap

      // 1. correct one year (dynamic single-partition overwrite)
      Warehouse.rebuildPartitions(spark, Seq(2013))
      // 2. restore the corrected year's file layout (z-order inside the
      //    partition directory, treated as a standalone table)
      Maintenance.zorderCompact(spark, s"$factPath/SaleYear=2013",
        Seq("DimProductID", "DimStoreID"), targetBytes = 32L << 10)
      // 3. bring the table-level manifest back to tight (incremental:
      //    only the rewritten year's files are read)
      val covered = StatsManifest.appendMissing(spark, factPath)
      assert(covered > 0, "the rewritten year's files must need re-covering")

      // content: both the row-level hash surface (qr08's shape) and an
      // analytical rollup (the qv shape) are unchanged
      assert(factRows() == rowsBefore, "fact content must be hash-stable")
      assert(profitByProduct() == aggBefore, "aggregates must be hash-stable")
      // isolation: other years and every dim are byte-identical
      assert(files(s"$factPath/SaleYear=2014") == untouchedYear,
        "untouched years must keep the same files and mtimes")
      dims.foreach { case (d, fs) =>
        assert(files(s"$tmp/$d") == fs, s"dim $d must not be rewritten")
      }
      // and the refreshed manifest PRUNES: a 2013 date band keeps the
      // (newly covered) 2013 files but drops other years' files
      val all = spark.read.parquet(factPath).inputFiles.length
      val hit = StatsManifest.candidateFiles(spark, factPath,
        "DimSaleDateID", "20130101", "20130131")
      assert(hit.nonEmpty && hit.size < all,
        s"manifest must prune other years (${hit.size} of $all kept)")
      assert(hit.forall(_.contains("SaleYear=2013")),
        "a 2013 date band must only keep 2013 files")
    } finally {
      sys.props.remove("graft.warehouse.dir")
      Warehouse.invalidateMemo()
    }
  }
}
