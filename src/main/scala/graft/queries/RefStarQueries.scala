package graft.queries

import org.apache.spark.sql.DataFrame

import graft.refstar.{RefStarSql, RefStarViewsSql, Staging, Views, Warehouse}

/** The reference-entity star, gated: one query per dimension and fact,
  * each hash-compared against a DuckDB oracle that rebuilds the same
  * star from the same fixture CSVs (RefStarSql). This is the reference's
  * actual dimensional workload (rahil/load_dimension_tables.py,
  * load_fact_tables.py) run end to end — staging CSV reads, unknown
  * members, composite location lookup, date-keyed facts.
  *
  * The qr queries read the MATERIALIZED star (Warehouse — built once
  * from the RefStar recipes and persisted as parquet, the reference's
  * INSERT INTO…SELECT architecture), so the gate validates the stored
  * tables every view actually queries, not just the lazy recipes.
  *
  * The queries ignore the sf dir: the star's inputs are the deterministic
  * fixture CSVs (Fixtures), generated on first touch by Staging.load.
  */
object RefStarQueries {

  private def over(select: String): String = RefStarSql.over(select)

  val all: Seq[Q] = Seq(

    Q("qr01_dim_location", over("SELECT * FROM dim_location")) { (s, _) =>
      Warehouse.table(s, "dim_location")
    },

    Q("qr02_dim_channel", over("SELECT * FROM dim_channel")) { (s, _) =>
      Warehouse.table(s, "dim_channel")
    },

    Q("qr03_dim_customer", over("SELECT * FROM dim_customer")) { (s, _) =>
      Warehouse.table(s, "dim_customer")
    },

    Q("qr04_dim_reseller", over("SELECT * FROM dim_reseller")) { (s, _) =>
      Warehouse.table(s, "dim_reseller")
    },

    Q("qr05_dim_store", over("SELECT * FROM dim_store")) { (s, _) =>
      Warehouse.table(s, "dim_store")
    },

    Q("qr06_dim_product", over("SELECT * FROM dim_product")) { (s, _) =>
      Warehouse.table(s, "dim_product")
    },

    Q("qr07_dim_date", RefStarSql.dimDateSelect) { (s, _) =>
      Warehouse.table(s, "dim_date")
    },

    Q("qr08_fact_sales", over("SELECT * FROM fact_salesactual")) { (s, _) =>
      Warehouse.table(s, "fact_salesactual")
    },

    Q("qr09_fact_product_target",
      over("SELECT * FROM fact_productsalestarget")) { (s, _) =>
      Warehouse.table(s, "fact_productsalestarget")
    },

    Q("qr10_fact_src_target",
      over("SELECT * FROM fact_srcsalestarget")) { (s, _) =>
      Warehouse.table(s, "fact_srcsalestarget")
    },

    // catalog path: the full runner (2 databases, external tables, 17
    // registered views), read back through a pass-through view with the
    // reference's explicit column list (rahil/create_views.py:19-31)
    Q("qr11_vw_dim_product",
      over("SELECT DimProductID, ProductID, ProductTypeID, " +
        "ProductCategoryID, ProductName, ProductType, ProductCategory, " +
        "ProductRetailPrice, ProductWholesalePrice, ProductCost, " +
        "ProductRetailProfit, ProductWholesaleUnitProfit, " +
        "ProductProfitMarginUnitPercent FROM dim_product")) { (s, _) =>
      graft.runner.RefStarRunner.ensure(s)
      s.table(s"${graft.runner.RefStarRunner.DimensionDb}.vw_dim_product")
    },

    // catalog path for an ANALYTICAL view: the runner registers all 7
    // in the dimension database (rahil/create_views.py:145-497 creates
    // them IN the database); this reads one back through the catalog
    Q("qr12_vw_store58_catalog", over(RefStarViewsSql.store58Performance)) {
      (s, _) =>
        graft.runner.RefStarRunner.ensure(s)
        s.table(s"${graft.runner.RefStarRunner.DimensionDb}.vw_store58performance")
    },

    // SCD Type 2 applied to the PERSISTED star: a store-manager update
    // batch (new manager for stores 5/8, one brand-new store) versions
    // dimension.dim_store. The oracle states the EXPECTED post-merge
    // dimension directly from the merge semantics — closed prior
    // versions, fresh open versions, untouched others — rather than
    // re-running the operator.
    Q("qr13_dim_store_scd2", scd2StoreOracle) { (s, _) =>
      val (cur, upd) = scd2StoreInputs(s)
      mergeStores(cur, upd)
    },

    // CDC-fold twin of qr13: the same update batch arrives as a
    // MULTI-VERSION CDC feed (an intermediate ' Sr.' manager version
    // before the final ' Jr.' one, ordered by LSN). foldCdc compacts
    // to last-per-key, so the merge — and the oracle — are identical
    // to qr13's: intermediate versions never become dimension rows.
    Q("qr14_dim_store_cdc_fold", scd2StoreOracle) { (s, _) =>
      import org.apache.spark.sql.functions._
      val (cur, upd) = scd2StoreInputs(s)
      val base = Warehouse.table(s, "dim_store")
      val v1 = base.filter(col("StoreID") =!= -1L)
        .select(col("StoreID"), col("StoreName"), col("StoreNumber"),
          when(col("StoreNumber").isin("5", "8"),
            concat(col("StoreManager"), lit(" Sr.")))
            .otherwise(col("StoreManager")).as("StoreManager"),
          col("DimLocationID"))
        .withColumn("lsn", lit(1L))
      val cdc = v1.unionByName(upd.withColumn("lsn", lit(2L)))
      val folded = graft.etl.Scd2.foldCdc(cdc, "StoreID", "lsn").drop("lsn")
      mergeStores(cur, folded)
    },

    // Point-in-time lookup over the VERSIONED dimension: as of
    // 2013-06-01 (before the 2014-06-01 update batch) every store must
    // answer with its ORIGINAL attributes and store 999 must not exist
    // yet — the oracle is simply the unversioned dimension's business
    // columns. As of a post-update date the qr13 oracle's open rows
    // would answer instead; this gate pins the half-open interval
    // semantics (closed-on date belongs to the successor).
    Q("qr15_dim_store_asof",
      over("""SELECT StoreID, StoreName, StoreNumber, StoreManager,
             |  DimLocationID FROM dim_store""".stripMargin)) { (s, _) =>
      val (cur, upd) = scd2StoreInputs(s)
      val versioned = mergeStores(cur, upd)
      graft.etl.Scd2.asOf(versioned, "2013-06-01")
    },

    // The query SCD2 exists to serve: facts joined to the dimension
    // version IN FORCE ON THE SALE DATE (equi on the business key plus
    // the half-open interval — the bounded dim broadcasts, so the range
    // predicate is a cheap post-join filter, never a BNLJ over facts).
    // 2013 sales land on the original managers; sales on/after
    // 2014-06-01 land on the ' Jr.' versions of stores 5/8. The oracle
    // states the versioned dimension directly from the merge semantics
    // (the qr13 shape) and runs the same interval join.
    Q("qr16_fact_asof_dim",
      over("""WITH v AS (
             |  SELECT StoreID, StoreManager,
             |    DATE '2013-01-01' AS eff, DATE '2014-06-01' AS exp
             |  FROM dim_store WHERE StoreNumber IN ('5', '8')
             |  UNION ALL
             |  SELECT StoreID, StoreManager || ' Jr.',
             |    DATE '2014-06-01', DATE '9999-12-31'
             |  FROM dim_store WHERE StoreNumber IN ('5', '8')
             |  UNION ALL
             |  SELECT StoreID, StoreManager,
             |    DATE '2013-01-01', DATE '9999-12-31'
             |  FROM dim_store WHERE StoreNumber NOT IN ('5', '8')),
             |b AS (
             |  SELECT s.StoreID, s.StoreNumber,
             |    CAST(strptime(CAST(fs.DimSaleDateID AS VARCHAR), '%Y%m%d')
             |      AS DATE) AS sale_date,
             |    fs.SaleQuantity
             |  FROM fact_salesactual fs
             |  JOIN dim_store s ON fs.DimStoreID = s.DimStoreID)
             |SELECT b.StoreNumber, v.StoreManager,
             |  COUNT(*) AS n_sales,
             |  CAST(SUM(CAST(b.SaleQuantity AS BIGINT)) AS BIGINT) AS total_qty
             |FROM b JOIN v ON b.StoreID = v.StoreID
             |  AND v.eff <= b.sale_date AND b.sale_date < v.exp
             |GROUP BY b.StoreNumber, v.StoreManager""".stripMargin)) { (s, _) =>
      import org.apache.spark.sql.functions._
      val (cur, upd) = scd2StoreInputs(s)
      val versioned = mergeStores(cur, upd)
        .select(col("StoreID").as("__v_sid"), col("StoreManager"),
          col("effective_date"), col("expiration_date"))
      val bridge = Warehouse.table(s, "dim_store")
        .select(col("DimStoreID").as("__b_id"), col("StoreID").as("__b_sid"),
          col("StoreNumber"))
      Warehouse.table(s, "fact_salesactual")
        .select(col("DimStoreID"), col("DimSaleDateID"), col("SaleQuantity"))
        .join(bridge, col("DimStoreID") === col("__b_id"))
        .withColumn("sale_date",
          to_date(col("DimSaleDateID").cast("string"), "yyyyMMdd"))
        .join(versioned,
          col("__b_sid") === col("__v_sid") &&
            col("effective_date") <= col("sale_date") &&
            col("sale_date") < col("expiration_date"))
        .groupBy("StoreNumber", "StoreManager")
        .agg(count(lit(1)).as("n_sales"),
          sum(col("SaleQuantity").cast("long")).as("total_qty"))
    },

    // ----- the 7 analytical views (rahil/create_views.py:145-497) -------
    // Oracles run the reference's ORIGINAL view SQL (exactness casts
    // aside) over the same star — incl. qv03's naive 4-clause
    // OR-IS-NULL fact join, proving the Spark-side equi-branch rewrite.

    Q("qv01_sales_performance", over(RefStarViewsSql.salesPerformanceSummary)) {
      (s, _) => Views.salesPerformanceSummary(s)
    },

    Q("qv02_customer_analysis", over(RefStarViewsSql.customerSalesAnalysis)) {
      (s, _) => Views.customerSalesAnalysis(s)
    },

    Q("qv03_target_vs_actual", over(RefStarViewsSql.targetVsActual)) {
      (s, _) => Views.targetVsActual(s)
    },

    Q("qv04_store58_performance", over(RefStarViewsSql.store58Performance)) {
      (s, _) => Views.store58Performance(s)
    },

    Q("qv05_store_bonus", over(RefStarViewsSql.storeBonusRecommendation)) {
      (s, _) => Views.storeBonusRecommendation(s)
    },

    Q("qv06_store58_dayofweek", over(RefStarViewsSql.store58DayOfWeek)) {
      (s, _) => Views.store58DayOfWeek(s)
    },

    Q("qv07_multistore_analysis", over(RefStarViewsSql.multiStoreVsSingleStore)) {
      (s, _) => Views.multiStoreVsSingleStore(s)
    },

    // Integrity audit over the persisted star: key uniqueness per dim,
    // referential integrity per fact FK, measure null counts — the
    // dbt-test layer as ONE hash-gated report. The FK-fallback design
    // makes orphans structurally impossible; this PROVES the zeros
    // (and DimSaleDateID→DATE_PKEY is a genuine check: a sale dated
    // outside the generated calendar would surface here).
    Q("qr17_integrity_report", over(
      """SELECT 'rows_fact_salesactual' AS metric,
        |  CAST(COUNT(*) AS BIGINT) AS value FROM fact_salesactual
        |UNION ALL SELECT 'dup_keys_dim_product',
        |  CAST(COUNT(DimProductID) - COUNT(DISTINCT DimProductID) AS BIGINT) FROM dim_product
        |UNION ALL SELECT 'dup_keys_dim_store',
        |  CAST(COUNT(DimStoreID) - COUNT(DISTINCT DimStoreID) AS BIGINT) FROM dim_store
        |UNION ALL SELECT 'dup_keys_dim_customer',
        |  CAST(COUNT(DimCustomerID) - COUNT(DISTINCT DimCustomerID) AS BIGINT) FROM dim_customer
        |UNION ALL SELECT 'dup_keys_dim_reseller',
        |  CAST(COUNT(DimResellerID) - COUNT(DISTINCT DimResellerID) AS BIGINT) FROM dim_reseller
        |UNION ALL SELECT 'dup_keys_dim_channel',
        |  CAST(COUNT(DimChannelID) - COUNT(DISTINCT DimChannelID) AS BIGINT) FROM dim_channel
        |UNION ALL SELECT 'dup_keys_dim_date',
        |  CAST(COUNT(DATE_PKEY) - COUNT(DISTINCT DATE_PKEY) AS BIGINT) FROM dim_date
        |UNION ALL SELECT 'orphans_fact_salesactual_DimProductID',
        |  CAST((SELECT COUNT(*) FROM fact_salesactual f LEFT JOIN dim_product d
        |    ON f.DimProductID = d.DimProductID WHERE d.DimProductID IS NULL) AS BIGINT)
        |UNION ALL SELECT 'orphans_fact_salesactual_DimStoreID',
        |  CAST((SELECT COUNT(*) FROM fact_salesactual f LEFT JOIN dim_store d
        |    ON f.DimStoreID = d.DimStoreID WHERE d.DimStoreID IS NULL) AS BIGINT)
        |UNION ALL SELECT 'orphans_fact_salesactual_DimCustomerID',
        |  CAST((SELECT COUNT(*) FROM fact_salesactual f LEFT JOIN dim_customer d
        |    ON f.DimCustomerID = d.DimCustomerID WHERE d.DimCustomerID IS NULL) AS BIGINT)
        |UNION ALL SELECT 'orphans_fact_salesactual_DimResellerID',
        |  CAST((SELECT COUNT(*) FROM fact_salesactual f LEFT JOIN dim_reseller d
        |    ON f.DimResellerID = d.DimResellerID WHERE d.DimResellerID IS NULL) AS BIGINT)
        |UNION ALL SELECT 'orphans_fact_salesactual_DimChannelID',
        |  CAST((SELECT COUNT(*) FROM fact_salesactual f LEFT JOIN dim_channel d
        |    ON f.DimChannelID = d.DimChannelID WHERE d.DimChannelID IS NULL) AS BIGINT)
        |UNION ALL SELECT 'orphans_fact_salesactual_DimSaleDateID',
        |  CAST((SELECT COUNT(*) FROM fact_salesactual f LEFT JOIN dim_date d
        |    ON f.DimSaleDateID = d.DATE_PKEY WHERE d.DATE_PKEY IS NULL) AS BIGINT)
        |UNION ALL SELECT 'nulls_fact_salesactual_SaleAmount',
        |  CAST(SUM(CASE WHEN SaleAmount IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fact_salesactual
        |UNION ALL SELECT 'nulls_fact_salesactual_SaleUnitPrice',
        |  CAST(SUM(CASE WHEN SaleUnitPrice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fact_salesactual""".stripMargin)) {
      (s, _) =>
        val fact = Warehouse.table(s, "fact_salesactual")
        graft.etl.Integrity.report(fact, "fact_salesactual",
          Seq(
            ("DimProductID", Warehouse.table(s, "dim_product"), "DimProductID", "dim_product"),
            ("DimStoreID", Warehouse.table(s, "dim_store"), "DimStoreID", "dim_store"),
            ("DimCustomerID", Warehouse.table(s, "dim_customer"), "DimCustomerID", "dim_customer"),
            ("DimResellerID", Warehouse.table(s, "dim_reseller"), "DimResellerID", "dim_reseller"),
            ("DimChannelID", Warehouse.table(s, "dim_channel"), "DimChannelID", "dim_channel"),
            ("DimSaleDateID", Warehouse.table(s, "dim_date"), "DATE_PKEY", "dim_date")),
          measures = Seq("SaleAmount", "SaleUnitPrice"))
    },

    // Backfill-UNDER-READERS: the reference's re-run-one-step workflow
    // (rahil/run_dimensional_etl.py:31-59) performed while a registered
    // catalog reader already holds the fact table. The query (1) warms
    // the catalog fact table — forcing its file index and partition
    // metadata to be taken BEFORE the rewrite, the exact state the
    // round-12 bench failure proved can go stale — then (2) backfills
    // year 2014 in place via dynamic partition overwrite, and (3) reads
    // the per-year totals back THROUGH THE SAME catalog table. Green
    // means the write path's invalidation (Warehouse.rebuildPartitions
    // → clearCache + RefStarRunner.invalidate) serves fresh files to a
    // standing reader; the oracle is the plain per-year aggregate
    // (backfilling a year from unchanged staging data is idempotent).
    Q("qr18_backfill_under_readers", over(
      """SELECT CAST(FLOOR(DimSaleDateID / 10000) AS INT) AS sale_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(SaleQuantity) AS BIGINT) AS sum_qty
        |FROM fact_salesactual GROUP BY 1""".stripMargin)) { (s, _) =>
      import org.apache.spark.sql.functions._
      graft.runner.RefStarRunner.ensure(s)
      val catalogFact =
        s.table(s"${graft.runner.RefStarRunner.DimensionDb}.fact_salesactual")
      catalogFact.count() // warm: pin listing + partition metadata pre-rewrite
      Warehouse.rebuildPartitions(s, Seq(2014))
      s.table(s"${graft.runner.RefStarRunner.DimensionDb}.fact_salesactual")
        .groupBy(floor(col("DimSaleDateID") / 10000L).cast("int")
          .as("sale_year"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("SaleQuantity")).cast("long").as("sum_qty"))
    },
  )

  /** The expected post-merge dim_store, stated directly from the SCD2
    * merge semantics (closed prior versions for stores 5/8, fresh open
    * versions, one brand-new store, untouched others) — shared by qr13
    * (clean one-row-per-key batch) and qr14 (multi-version CDC feed,
    * compacted by foldCdc to the same batch).
    */
  private def scd2StoreOracle: String =
    over("""SELECT StoreID, StoreName, StoreNumber, StoreManager,
           |  DimLocationID, DATE '2013-01-01' AS effective_date,
           |  DATE '9999-12-31' AS expiration_date, 'Y' AS current_row_ind
           |FROM dim_store WHERE StoreNumber NOT IN ('5', '8')
           |UNION ALL
           |SELECT StoreID, StoreName, StoreNumber, StoreManager,
           |  DimLocationID, DATE '2013-01-01', DATE '2014-06-01', 'N'
           |FROM dim_store WHERE StoreNumber IN ('5', '8')
           |UNION ALL
           |SELECT StoreID, StoreName, StoreNumber, StoreManager || ' Jr.',
           |  DimLocationID, DATE '2014-06-01', DATE '9999-12-31', 'Y'
           |FROM dim_store WHERE StoreNumber IN ('5', '8')
           |UNION ALL
           |SELECT CAST(999 AS BIGINT), 'Store 99', '99', 'New Manager',
           |  CAST(1 AS BIGINT), DATE '2014-06-01', DATE '9999-12-31',
           |  'Y'""".stripMargin)

  /** The store scenario's SCD2 merge, effective 2014-06-01. */
  private def mergeStores(cur: DataFrame, updates: DataFrame) =
    graft.etl.Scd2.merge(cur, updates, "StoreID",
      Seq("StoreName", "StoreNumber", "StoreManager", "DimLocationID"), "2014-06-01")

  /** (current dimension state, clean last-per-key update batch) for the
    * qr13/qr14 store SCD2 scenario.
    */
  private def scd2StoreInputs(s: org.apache.spark.sql.SparkSession)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val base = Warehouse.table(s, "dim_store")
    val cur = base
      .select(col("StoreID"), col("StoreName"), col("StoreNumber"),
        col("StoreManager"), col("DimLocationID"))
      .withColumn("effective_date", to_date(lit("2013-01-01")))
      .withColumn("expiration_date", to_date(lit(graft.etl.Scd2.OpenEnd)))
      .withColumn("current_row_ind", lit("Y"))
    val upd = base.filter(col("StoreID") =!= -1L)
      .select(col("StoreID"), col("StoreName"), col("StoreNumber"),
        when(col("StoreNumber").isin("5", "8"),
          concat(col("StoreManager"), lit(" Jr.")))
          .otherwise(col("StoreManager")).as("StoreManager"),
        col("DimLocationID"))
      .unionByName(s.range(1).select(
        lit(999L).as("StoreID"), lit("Store 99").as("StoreName"),
        lit("99").as("StoreNumber"), lit("New Manager").as("StoreManager"),
        lit(1L).as("DimLocationID")))
    (cur, upd)
  }

  /** Referenced so the staging entity list stays honest at compile time. */
  private val entityCount = Staging.schemas.size
  require(entityCount == 12)
}
