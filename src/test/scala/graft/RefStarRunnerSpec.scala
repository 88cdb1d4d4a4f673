package graft

import graft.refstar.{Staging, Warehouse}
import graft.runner.RefStarRunner

/** The refstar pipeline driven end to end through the runner — the
  * reference's three entry points (run_etl / run_dimensional_etl /
  * run_views_etl) with per-step accounting, golden counts, dependency
  * order, and the two-namespace catalog (staging / dimension).
  */
class RefStarRunnerSpec extends SparkSpec {

  // Redirect the warehouse root for the WHOLE suite: these tests
  // rebuild() the store, and pointed at the shared repo fixture that
  // deletes parquet out from under any CONCURRENT Verify/Bench JVM's
  // pinned listings (observed: a parallel verify run failed qr11/qr18
  // with FILE_NOT_EXIST mid-rebuild). Runner semantics are
  // path-independent; every sibling warehouse spec already isolates
  // this way.
  private val whTmp =
    Fixture.dir("graft-runner-wh")

  override def beforeAll(): Unit = {
    sys.props("graft.warehouse.dir") = whTmp
    Warehouse.invalidateMemo()
    RefStarRunner.invalidate(spark)
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    try super.afterAll()
    finally {
      sys.props.remove("graft.warehouse.dir")
      Warehouse.invalidateMemo()
      RefStarRunner.invalidate(spark)
    }
  }

  private lazy val results = RefStarRunner.run(spark)

  test("full pipeline: every step ok, golden row counts, dependency order") {
    assert(results.forall(_.ok),
      results.filterNot(_.ok).map(r => s"${r.step}: ${r.error}").mkString("; "))
    val rows = results.map(r => r.step -> r.rows).toMap
    val golden = Map(
      "load_dim_location" -> 14L, "load_dim_channel" -> 6L,
      "load_dim_customer" -> 4L, "load_dim_reseller" -> 5L,
      "load_dim_store" -> 7L, "load_dim_product" -> 21L,
      "load_dim_date" -> 730L, "load_fact_salesactual" -> 187320L,
      "load_fact_productsalestarget" -> 48L, "load_fact_srcsalestarget" -> 22L,
      "load_stg_salesdetail" -> 187320L, "load_stg_store" -> 6L)
    golden.foreach { case (k, v) =>
      assert(rows.get(k).contains(v), s"$k: got ${rows.get(k)}, want $v")
    }
    // reference dependency order (run_dimensional_etl.py:31-59):
    // staging before dims, Dim_Date + Dim_Location before the entity
    // dims that reference them, dims before facts, facts before views
    val order = results.map(_.step)
    def idx(s: String) = { val i = order.indexOf(s); assert(i >= 0, s); i }
    assert(idx("load_stg_customer") < idx("load_dim_location"))
    assert(idx("load_dim_location") < idx("load_dim_customer"))
    assert(idx("load_dim_location") < idx("load_dim_store"))
    assert(idx("load_dim_date") < idx("load_fact_salesactual"))
    assert(idx("load_dim_product") < idx("load_fact_salesactual"))
    assert(idx("load_fact_salesactual") < idx("view_vw_fact_salesactual"))
  }

  test("two-namespace catalog: staging/dimension databases with their tables") {
    assert(results.forall(_.ok))
    val dbs = spark.catalog.listDatabases().collect().map(_.name).toSet
    assert(Set(RefStarRunner.StagingDb, RefStarRunner.DimensionDb)
      .subsetOf(dbs), dbs)
    val stg = spark.catalog.listTables(RefStarRunner.StagingDb)
      .collect().map(_.name).toSet
    assert(Staging.schemas.keySet.subsetOf(stg), stg)
    val dim = spark.catalog.listTables(RefStarRunner.DimensionDb)
      .collect().map(_.name).toSet
    (Warehouse.DimTables ++ Warehouse.FactTables).foreach { t =>
      assert(dim.contains(t), s"missing dimension.$t")
    }
  }

  test("all 17 named views are registered in the dimension catalog") {
    assert(results.forall(_.ok))
    val dim = spark.catalog.listTables(RefStarRunner.DimensionDb).collect()
    val names = dim.map(_.name).toSet
    val all17 = (RefStarRunner.PassThroughViews.map(_._1) ++
      RefStarRunner.AnalyticalViews.map(_._1)).toSet
    assert(all17.subsetOf(names), (all17 -- names).mkString(", "))
    assert(dim.count(_.tableType == "VIEW") >= 17,
      "all 17 views live in the catalog, not the session")
    assert(RefStarRunner.PassThroughViews.size == 10)
    assert(RefStarRunner.AnalyticalViews.size == 7)
    // a pass-through view query returns the golden dim count with the
    // reference's explicit column list
    val store = spark.table(s"${RefStarRunner.DimensionDb}.vw_dim_store")
    assert(store.count() == 7)
    assert(store.columns.toSeq == Seq("DimStoreID", "StoreID", "DimLocationID",
      "SourceStoreID", "StoreName", "StoreNumber", "StoreManager"))
    // an analytical view queries the materialized star through the catalog
    assert(spark.table(s"${RefStarRunner.DimensionDb}.vw_store58performance")
      .count() == 48)
  }

  test("catalog qv03 body plans as equi joins, never a nested loop") {
    assert(results.forall(_.ok))
    val plan = spark
      .table(s"${RefStarRunner.DimensionDb}.vw_targetvsactualperformance")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the catalog view must carry the equi-branch rewrite, not the " +
        "reference's naive OR-IS-NULL shape")
  }

  test("every qv gate, and qr12, serves its catalog analytical view") {
    import org.apache.spark.sql.catalyst.plans.logical.View
    assert(results.forall(_.ok))
    val served = (1 to 7).map(i => f"qv$i%02d_")
      .zip(RefStarRunner.AnalyticalViews.map(_._1)) :+
      ("qr12_", "vw_store58performance")
    served.foreach { case (prefix, view) =>
      val gate = SparkEntry.allQueries.find(_.name.startsWith(prefix)).get
      val views = gate.build(spark, sfDir).queryExecution.analyzed
        .collect { case v: View => v.desc.identifier }
      assert(views.exists(id => id.table == view &&
        id.database.contains(RefStarRunner.DimensionDb)),
        s"${gate.name} must read ${RefStarRunner.DimensionDb}.$view, " +
          s"found views: ${views.mkString(", ")}")
    }
  }

  test("view creation is immune to session temp views shadowing star names") {
    // round-12 regression: an unrelated suite's temp view named
    // `dim_date` (wrong schema) outranked dimension.dim_date during
    // CREATE VIEW analysis and broke vw_salesperformancesummary with
    // UNRESOLVED_COLUMN. The runner now creates analytical views in a
    // sibling session whose temp namespace is empty.
    import spark.implicits._
    assert(results.forall(_.ok))
    Seq(("dim_date", "x"), ("fact_salesactual", "y"))
      .toDF("not_a_real_column", "v")
      .createOrReplaceTempView("dim_date")
    try {
      val rs = RefStarRunner.run(spark)
      assert(rs.forall(_.ok),
        rs.filterNot(_.ok).map(r => s"${r.step}: ${r.error}").mkString("; "))
      assert(spark
        .table(s"${RefStarRunner.DimensionDb}.vw_salesperformancesummary")
        .count() > 0)
    } finally spark.catalog.dropTempView("dim_date")
  }

  test("in-session rebuild invalidates standing catalog readers and caches") {
    // the round-12 bench failure end to end: a session that has (a)
    // registered the catalog and (b) cached a plan over the fact table
    // BEFORE an in-place rebuild must read fresh rows afterwards with
    // no manual refresh — the write path owns the invalidation.
    RefStarRunner.ensure(spark)
    val fact = spark.table(s"${RefStarRunner.DimensionDb}.fact_salesactual")
    fact.cache()
    assert(fact.count() == 187320L) // pin listing + cache pre-rebuild
    assert(spark.table(s"${RefStarRunner.DimensionDb}.vw_dim_product")
      .count() == 21)
    try {
      Warehouse.rebuild(spark)
      // qr11 path (pass-through view), qr12 path (analytical view), and
      // the previously-cached fact — all through the same session
      assert(spark.table(s"${RefStarRunner.DimensionDb}.vw_dim_product")
        .count() == 21)
      assert(spark
        .table(s"${RefStarRunner.DimensionDb}.vw_store58performance")
        .count() == 48)
      assert(spark.table(s"${RefStarRunner.DimensionDb}.fact_salesactual")
        .count() == 187320L)
    } finally fact.unpersist()
  }

  test("single-year backfill under a standing catalog reader stays fresh") {
    // the incremental path of the same hazard (reference's
    // re-run-one-step workflow, rahil/run_dimensional_etl.py:31-59):
    // rebuildPartitions replaces the 2014 directory while the catalog
    // table holds its partition metadata and file index.
    RefStarRunner.ensure(spark)
    val tbl = s"${RefStarRunner.DimensionDb}.fact_salesactual"
    assert(spark.table(tbl).count() == 187320L) // warm the file index
    val written = Warehouse.rebuildPartitions(spark, Seq(2014))
    assert(written > 0)
    assert(spark.table(tbl).count() == 187320L,
      "catalog reader must see the backfilled files, not stale listings")
    val perYear = spark.table(tbl)
      .groupBy(org.apache.spark.sql.functions.col("SaleYear")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perYear.keySet == Set(2013, 2014) && perYear.values.sum == 187320L,
      perYear.toString)
  }

  test("a failed step stops every later wave; results keep declared order") {
    // its own warehouse, so the suite's shared `results` are untouched:
    // built, then one star table's parquet removed under the memoised
    // build, so only its catalog registration can fail
    sys.props("graft.warehouse.dir") = Fixture.dir("graft-runner-abort")
    Warehouse.invalidateMemo()
    try {
      Warehouse.ensure(spark)
      Fixture.deleteTree(new java.io.File(Warehouse.path("dim_store")))
      val rs = RefStarRunner.run(spark)
      val dim = RefStarRunner.DimensionDb
      assert(rs.filterNot(_.ok).map(_.step) == Seq(s"register_$dim.dim_store"),
        rs.filterNot(_.ok).map(r => s"${r.step}: ${r.error}").mkString("; "))
      val steps = rs.map(_.step)
      assert(!steps.exists(_.startsWith("view_")), steps)
      val loads = steps.filter(_.startsWith("load_"))
      assert(loads.size == 22, loads)
      val registrations = Warehouse.StagingTables.map(t =>
        s"register_${RefStarRunner.StagingDb}.${t.stripPrefix("stg_")}") ++
        (Warehouse.DimTables ++ Warehouse.FactTables).map(t => s"register_$dim.$t")
      assert(steps == Seq("create_databases") ++ loads ++ registrations, steps)
    } finally {
      // point the catalog back at the suite's warehouse
      sys.props("graft.warehouse.dir") = whTmp
      Warehouse.invalidateMemo()
      RefStarRunner.run(spark)
    }
  }
}
