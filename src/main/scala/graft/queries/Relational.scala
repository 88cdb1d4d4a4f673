package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Text
import graft.functions.Exact._

import Shared._

/** Relational parity suite: every operator class in SURVEY.md §2
  * (projections P*, joins J*, aggregations A*, windows W*, sorts O*,
  * set-ops U*, scalar functions F*, data-quality Q*) re-expressed over
  * the TPC-H-ish test tables, Spark-first (DataFrame API, Catalyst does
  * the planning), with a DuckDB oracle per query.
  *
  * Beyond the reference's own surface it gates what a complete engine
  * needs even though the reference never uses it (SURVEY.md §2.3 "No
  * semi/anti", §2.4 "No grouping sets"): semi/anti joins, grouping
  * sets, bag set-ops and window frames; the `qa` typed aggregators and
  * sketch bounds; and the `qf` function surface — Spark's lambda
  * higher-order functions, maps and the scalar string/math/date
  * batteries, gated against DuckDB's list lambdas and built-ins.
  *
  * Scale notes are inline: every join states its expected physical
  * strategy at 100 TB (broadcast vs shuffle), every aggregate is
  * partial-aggregatable, and the one non-equi join (J6) is implemented
  * as the scale-safe union-of-equi-joins rewrite rather than a
  * BroadcastNestedLoopJoin.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** revenue expression used throughout (TPC-H style). */
  private def revenue(c: Column, d: Column): Column = c * (lit(1) - d)

  val all: Seq[Q] = Seq(

    // ----- P1: explicit projection (column pruning reaches the scan) ----
    Q("q01_projection",
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem") {
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // ----- P2/F10: derived projection with arithmetic measures ----------
    Q("q02_derived_projection",
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        (revenue(col("l_extendedprice"), col("l_discount")) *
          (lit(1) + col("l_tax"))).as("charge"))
    },

    // ----- P3/P5: IS NOT NULL + range + inequality predicates ----------
    Q("q03_filter_range",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        |WHERE l_quantity >= 30 AND l_returnflag <> 'A'
        |  AND l_shipdate IS NOT NULL""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_returnflag") =!= "A" &&
          col("l_shipdate").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    },

    // ----- P4: IN-list predicate ----------------------------------------
    Q("q04_inlist",
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin) {
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
    },

    // ----- A2/A6: grouped multi-aggregate (TPC-H Q1 shape) --------------
    // Partial (map-side) aggregation is automatic; 2-key low-cardinality
    // group-by shuffles only 6 groups of partials at any scale.
    Q("q05_groupby_agg",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(revenue(col("l_extendedprice"), col("l_discount")))
              .as("sum_disc_price"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
    },

    // ----- A3: exact COUNT(DISTINCT) ------------------------------------
    Q("q06_count_distinct",
      """SELECT c_mktsegment,
        |  COUNT(DISTINCT c_nationkey) AS n_nations,
        |  COUNT(*) AS n_customers
        |FROM customer GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n_customers"))
    },

    // ----- A4/F4: conditional aggregation -------------------------------
    Q("q07_conditional_agg",
      """SELECT l_linestatus,
        |  CAST(CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END
        |    AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS returned_qty,
        |  CAST(CAST(SUM(CAST(CASE WHEN l_returnflag <> 'R' THEN l_quantity ELSE 0 END
        |    AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS kept_qty
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(lit(0)).cast(Dec)).cast(DoubleType).as("returned_qty"),
          sum(when(col("l_returnflag") =!= "R", col("l_quantity"))
            .otherwise(lit(0)).cast(Dec)).cast(DoubleType).as("kept_qty"))
    },

    // ----- A5/F6: ratio-of-aggregates with divide-by-zero guard ---------
    Q("q08_ratio_nullif",
      s"""SELECT l_returnflag,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")}
         |    / NULLIF(${dsumSql("l_quantity")}, 0) AS revenue_per_unit
         |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg((dsum(revenue(col("l_extendedprice"), col("l_discount"))) /
          nullif(dsum(col("l_quantity")), lit(0.0))).as("revenue_per_unit"))
    },

    // ----- A7: HAVING over aggregates -----------------------------------
    Q("q09_having",
      s"""SELECT l_suppkey, ${dsumSql("l_quantity")} AS total_qty
         |FROM lineitem GROUP BY l_suppkey
         |HAVING ${dsumSql("l_quantity")} > 3000""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 3000)
    },

    // ----- A8: re-aggregation of an aggregate (agg over agg) ------------
    Q("q10_agg_over_agg",
      s"""WITH per_cust AS (
         |  SELECT o_custkey, COUNT(*) AS n_orders,
         |    ${dsumSql("o_totalprice")} AS total_spend
         |  FROM orders GROUP BY o_custkey)
         |SELECT c_mktsegment,
         |  CAST(SUM(n_orders) AS BIGINT) AS orders_in_segment,
         |  ${dsumSql("total_spend")} / COUNT(*) AS avg_customer_spend
         |FROM per_cust JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val perCust = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      perCust
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum(col("n_orders")).as("orders_in_segment"),
          davg(col("total_spend")).as("avg_customer_spend"))
    },

    // ----- J1: inner equi-join, 2 tables (broadcast at any scale) -------
    Q("q11_join_inner",
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin) {
      (s, dir) =>
        t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name", "r_name")
    },

    // ----- J2: inner equi-join chain, 3 tables --------------------------
    Q("q12_join_chain3",
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
    },

    // ----- J3/Q2/F1/F2: left lookup on normalized expression keys -------
    // The reference's Dim_Location lookup pattern
    // (rahil/load_dimension_tables.py:158-163): COALESCE/CAST-normalized
    // composite key, left join, fallback to the unknown member. Still an
    // equi-join despite the expressions, so it hash-joins (and the dim
    // side broadcasts) at scale.
    Q("q13_lookup_left_coalesce",
      """SELECT c_custkey,
        |  COALESCE(CAST(d.n_nationkey AS BIGINT), -1) AS dim_nation_key,
        |  COALESCE(d.n_name, 'Unknown') AS nation_name
        |FROM customer c
        |LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 20) d
        |  ON COALESCE(CAST(c.c_nationkey AS VARCHAR), '?')
        |   = COALESCE(CAST(d.n_nationkey AS VARCHAR), '?')""".stripMargin) {
      (s, dir) =>
        val norm = (c: Column) => coalesce(c.cast(StringType), lit("?"))
        val dim = t(s, dir, "nation").filter(col("n_nationkey") < 20)
        t(s, dir, "customer")
          .join(broadcast(dim), norm(col("c_nationkey")) === norm(col("n_nationkey")), "left")
          .select(
            col("c_custkey"),
            coalesce(col("n_nationkey").cast(LongType), lit(-1L)).as("dim_nation_key"),
            coalesce(col("n_name"), lit("Unknown")).as("nation_name"))
    },

    // ----- J4: star join (fact ⋈ 3 dims) + grouped rollup ---------------
    // At 100 TB: lineitem⋈orders and orders⋈customer are real shuffles
    // (lineitem/orders/customer all grow with data volume, so no static
    // broadcast hint — AQE upgrades to broadcast at runtime when the
    // build side measures small). Only nation (bounded, 25 rows at any
    // SF) keeps an explicit hint.
    Q("q14_star_join",
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS order_year,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).cast(LongType).as("order_year"))
          .agg(
            dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
    },

    // ----- J5: left-outer join chain from a spine -----------------------
    Q("q15_left_chain",
      """SELECT r_name, n_name, s_name, s_acctbal
        |FROM region
        |LEFT JOIN nation   ON r_regionkey = n_regionkey
        |LEFT JOIN supplier ON n_nationkey = s_nationkey""".stripMargin) {
      (s, dir) =>
        t(s, dir, "region")
          .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"), "left")
          .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"), "left")
          .select("r_name", "n_name", "s_name", "s_acctbal")
    },

    // ----- J6: theta join with OR-IS-NULL wildcard ----------------------
    // The reference's target-matching join (rahil/create_views.py:253-258)
    // treats NULL keys as wildcards. Naively that's a
    // BroadcastNestedLoopJoin (O(n*m)); here it is implemented as the
    // scale-safe rewrite — UNION ALL of two equi/cross branches — which
    // keeps both branches hash- or broadcast-joinable at 100 TB. The
    // oracle states the naive theta join; results are identical.
    Q("q16_theta_or_null",
      """WITH targets AS (
        |  SELECT s_suppkey AS t_id,
        |    CASE WHEN s_suppkey % 3 = 0 THEN NULL ELSE s_nationkey END AS t_nationkey,
        |    s_acctbal AS t_target
        |  FROM supplier)
        |SELECT n_nationkey, n_name, t_id, t_target
        |FROM nation JOIN targets
        |  ON (t_nationkey = n_nationkey OR t_nationkey IS NULL)""".stripMargin) {
      (s, dir) =>
        val targets = t(s, dir, "supplier").select(
          col("s_suppkey").as("t_id"),
          when(col("s_suppkey") % 3 === 0, lit(null).cast(IntegerType))
            .otherwise(col("s_nationkey")).as("t_nationkey"),
          col("s_acctbal").as("t_target"))
        val nation = t(s, dir, "nation")
        val keyed = nation.join(targets.filter(col("t_nationkey").isNotNull),
          col("t_nationkey") === col("n_nationkey"))
        val wild = nation.crossJoin(
          targets.filter(col("t_nationkey").isNull))
        val cols = Seq("n_nationkey", "n_name", "t_id", "t_target").map(col)
        keyed.select(cols: _*).unionAll(wild.select(cols: _*))
    },

    // ----- J7: join against a CTE/aggregated result ---------------------
    Q("q17_cte_join",
      """WITH nation_counts AS (
        |  SELECT n_regionkey, COUNT(*) AS n_nations FROM nation GROUP BY n_regionkey)
        |SELECT r_name, n_nations
        |FROM region JOIN nation_counts ON r_regionkey = n_regionkey""".stripMargin) {
      (s, dir) =>
        val counts = t(s, dir, "nation")
          .groupBy("n_regionkey").agg(count(lit(1)).as("n_nations"))
        t(s, dir, "region")
          .join(counts, col("r_regionkey") === col("n_regionkey"))
          .select("r_name", "n_nations")
    },

    // ----- U1/U2: UNION with distinct semantics -------------------------
    // Spark union = UNION ALL; the reference's UNION is distinct
    // (rahil/load_dimension_tables.py:88,102) so .distinct() is required.
    Q("q18_union_distinct",
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    },

    // ----- W1: rank over an aggregate (window-over-agg) -----------------
    Q("q19_rank_over_agg",
      s"""WITH sup_rev AS (
         |  SELECT n_name, s_name,
         |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation   ON s_nationkey = n_nationkey
         |  GROUP BY n_name, s_name)
         |SELECT n_name, s_name, rev,
         |  RANK() OVER (PARTITION BY n_name ORDER BY rev DESC, s_name) AS sales_rank
         |FROM sup_rev""".stripMargin) { (s, dir) =>
      val supRev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
      val w = Window.partitionBy("n_name").orderBy(col("rev").desc, col("s_name"))
      supRev.withColumn("sales_rank", rank().over(w).cast(LongType))
    },

    // ----- W2: share-of-total window ------------------------------------
    Q("q20_share_of_total",
      s"""WITH sup_rev AS (
         |  SELECT n_name, s_name,
         |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation   ON s_nationkey = n_nationkey
         |  GROUP BY n_name, s_name)
         |SELECT n_name, s_name, rev,
         |  (rev * 100) / CAST(CAST(SUM(CAST(rev AS DECIMAL(25,6)))
         |    OVER (PARTITION BY n_name) AS STRING) AS DOUBLE) AS pct_of_nation
         |FROM sup_rev""".stripMargin) { (s, dir) =>
      val supRev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
      val w = Window.partitionBy("n_name")
      supRev.withColumn("pct_of_nation",
        (col("rev") * 100) / sum(col("rev").cast(Dec)).over(w).cast(DoubleType))
    },

    // ----- W3: comparative baseline (avg over window) -------------------
    Q("q21_avg_over_window",
      s"""WITH sup_rev AS (
         |  SELECT n_name, s_name,
         |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation   ON s_nationkey = n_nationkey
         |  GROUP BY n_name, s_name)
         |SELECT n_name, s_name, rev,
         |  CAST(CAST(SUM(CAST(rev AS DECIMAL(25,6))) OVER (PARTITION BY n_name) AS STRING) AS DOUBLE)
         |    / COUNT(*) OVER (PARTITION BY n_name) AS nation_avg_rev,
         |  rev - CAST(CAST(SUM(CAST(rev AS DECIMAL(25,6))) OVER (PARTITION BY n_name) AS STRING) AS DOUBLE)
         |    / COUNT(*) OVER (PARTITION BY n_name) AS rev_vs_nation_avg
         |FROM sup_rev""".stripMargin) { (s, dir) =>
      val supRev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(dsum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
      val w = Window.partitionBy("n_name")
      val nationAvg =
        sum(col("rev").cast(Dec)).over(w).cast(DoubleType) / count(lit(1)).over(w)
      supRev
        .withColumn("nation_avg_rev", nationAvg)
        .withColumn("rev_vs_nation_avg", col("rev") - nationAvg)
    },

    // ----- W4: conditional window aggregate -----------------------------
    Q("q22_conditional_window",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year, o_totalprice,
        |  CAST(CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END
        |      AS DECIMAL(25,6))) OVER (PARTITION BY year(o_orderdate)) AS STRING) AS DOUBLE)
        |    / NULLIF(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
        |      OVER (PARTITION BY year(o_orderdate)), 0) AS urgent_avg_price
        |FROM orders""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(year(col("o_orderdate")))
      val urgent = col("o_orderpriority") === "1-URGENT"
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        col("o_totalprice"),
        (sum(when(urgent, col("o_totalprice")).cast(Dec)).over(w).cast(DoubleType) /
          nullif(count(when(urgent, lit(1))).over(w), lit(0L)))
          .as("urgent_avg_price"))
    },

    // ----- O1/O2: global sort + LIMIT top-k ------------------------------
    // orderBy().limit() compiles to TakeOrderedAndProject: per-partition
    // top-k then a k-row merge on the driver — no global sort at scale.
    Q("q23_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) {
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select("o_orderkey", "o_totalprice")
          .limit(20)
    },

    // ----- O1: multi-column mixed-direction sort + limit ----------------
    Q("q24_multisort",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey LIMIT 50""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer")
          .orderBy(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey"))
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .limit(50)
    },

    // ----- F1-F8: scalar function battery -------------------------------
    Q("q25_scalar_funcs",
      """SELECT c_custkey,
        |  COALESCE(c_mktsegment, 'Unknown') AS segment,
        |  c_name || ' [' || c_mktsegment || ']' AS name_tag,
        |  CASE WHEN c_acctbal > 5000 THEN 'High'
        |       WHEN c_acctbal > 0 THEN 'Medium'
        |       ELSE 'Low' END AS bal_bucket,
        |  ROUND(c_acctbal, 2) AS bal_round,
        |  NULLIF(c_acctbal, 0) AS bal_nullif,
        |  CAST(c_custkey AS VARCHAR) AS custkey_str
        |FROM customer""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        coalesce(col("c_mktsegment"), lit("Unknown")).as("segment"),
        concat(col("c_name"), lit(" ["), col("c_mktsegment"), lit("]")).as("name_tag"),
        when(col("c_acctbal") > 5000, "High")
          .when(col("c_acctbal") > 0, "Medium")
          .otherwise("Low").as("bal_bucket"),
        round(col("c_acctbal"), 2).as("bal_round"),
        nullif(col("c_acctbal"), lit(0.0)).as("bal_nullif"),
        col("c_custkey").cast(StringType).as("custkey_str"))
    },

    // ----- F9 (partial): date-part extraction ---------------------------
    Q("q26_date_parts",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS order_day,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
        |  strftime(o_orderdate, '%Y-%m') AS year_month,
        |  isodow(o_orderdate) AS iso_dow
        |FROM orders""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        month(col("o_orderdate")).cast(LongType).as("order_month"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("order_day"),
        quarter(col("o_orderdate")).cast(LongType).as("order_quarter"),
        date_format(col("o_orderdate"), "yyyy-MM").as("year_month"),
        (weekday(col("o_orderdate")) + 1).cast(LongType).as("iso_dow"))
    },

    // ----- Q1/S7 + IDENTITY: dimension with unknown member + surrogate keys
    // Reference pattern: seed surrogate key 1 as the Unknown row
    // (rahil/create_dimension_tables.py:91-130), then dense keys.
    // row_number over a single partition is fine for dim-sized tables
    // (documented scaling caveat; facts never get row_number keys).
    Q("q28_dim_surrogate",
      """SELECT CAST(1 AS BIGINT) AS dim_nation_key,
        |  'Unknown' AS nation_name, 'Unknown' AS region_name
        |UNION ALL
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_name) + 1 AS BIGINT),
        |  n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin) {
      (s, dir) =>
        val base = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_name").as("nation_name"), col("r_name").as("region_name"))
        graft.etl.SurrogateKeys.withUnknownMember(
          s, base, "dim_nation_key", orderCol = "nation_name",
          unknown = Map("nation_name" -> "Unknown", "region_name" -> "Unknown"))
    },

    // ----- Q2: fact build with FK fallback to the unknown member --------
    Q("q29_fact_fk_fallback",
      """WITH dim AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_name) + 1 AS BIGINT) AS dim_key,
        |    n_nationkey
        |  FROM nation WHERE n_nationkey < 20)
        |SELECT o_orderkey, COALESCE(d.dim_key, 1) AS dim_nation_key, o_totalprice
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN dim d ON c_nationkey = d.n_nationkey""".stripMargin) {
      (s, dir) =>
        val dim = graft.etl.SurrogateKeys.globalRowNumber(
            t(s, dir, "nation").filter(col("n_nationkey") < 20),
            Seq("n_name"), "dim_key", startAt = 2L)
          .select("dim_key", "n_nationkey")
        t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"), "left")
          .select(
            col("o_orderkey"),
            coalesce(col("dim_key"), lit(1L)).as("dim_nation_key"),
            col("o_totalprice"))
    },

    // ----- events: batch windowed aggregation (streaming-equivalent) ----
    Q("q30_events_hourly",
      s"""SELECT event_type, CAST(ts AS DATE) AS event_date,
         |  hour(ts) AS event_hour,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM events
         |GROUP BY event_type, CAST(ts AS DATE), hour(ts)""".stripMargin) {
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            col("event_type"),
            col("ts").cast(DateType).as("event_date"),
            hour(col("ts")).cast(LongType).as("event_hour"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
    },

    // ----- left semi join = EXISTS --------------------------------------
    Q("q33_semi_join",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "customer")
          .join(
            Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
    },

    // ----- left anti join = NOT EXISTS ----------------------------------
    Q("q34_anti_join",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey)""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "customer")
          .join(Tables(s, dir, "orders"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
    },

    // ----- rollup subtotals ----------------------------------------------
    Q("q35_rollup",
      s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
         |  ${dsumSql("s_acctbal")} AS total_bal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)""".stripMargin) { (s, dir) =>
      // via the SQL surface: DataFrame .rollup on a join output trips
      // Spark 4's ambiguous-self-join detector (column lineage tags
      // survive even a fresh select), while the parsed plan is clean
      Seq("supplier", "nation", "region")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(
        s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
           |  ${dsumSql("s_acctbal")} AS total_bal
           |FROM supplier
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)
    },

    // ----- CUBE: all grouping-set combinations ---------------------------
    Q("q45_cube",
      s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
         |  ${dsumSql("s_acctbal")} AS total_bal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY CUBE (r_name, n_name)""".stripMargin) { (s, dir) =>
      // SQL surface for the same reason as q35 (see comment there)
      Seq("supplier", "nation", "region")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
      s.sql(
        s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
           |  ${dsumSql("s_acctbal")} AS total_bal
           |FROM supplier
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY CUBE (r_name, n_name)""".stripMargin)
    },

    // ----- PIVOT: wide conditional aggregation ---------------------------
    // Spark's .pivot with an explicit value list compiles to the same
    // conditional aggregates the oracle states — no dynamic-column pass
    // over the data (the two-phase distinct-then-pivot form is the
    // scale trap; explicit values keep it a single shuffle).
    Q("q46_pivot",
      s"""SELECT o_orderpriority,
         |  ${Seq("F", "O", "P").map(st =>
               s"""${dsumSql(s"CASE WHEN o_orderstatus = '$st' THEN o_totalprice END")} AS status_$st""")
             .mkString(",\n  ")}
         |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      import graft.functions.Exact.dsum
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .select(col("o_orderpriority"), col("F").as("status_F"),
          col("O").as("status_O"), col("P").as("status_P"))
    },

    // ----- JSON field extraction (events.props payload) ------------------
    Q("q36_json_extract",
      s"""SELECT event_id, event_type,
         |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS prop_k
         |FROM events""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events").select(
        col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("prop_k"))
    },

    // ----- window frames + offsets + ntile -------------------------------
    // Window order note: the synthetic data does NOT keep
    // (l_orderkey, l_linenumber) unique (118k duplicate pairs at
    // sf0.1), so the order extends into every column the outputs
    // depend on (quantity, extendedprice, discount) — rows still tied
    // then have identical windowed outputs, making the result a
    // deterministic multiset on both engines.
    Q("q39_window_frames",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
        |    OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |          l_quantity, l_extendedprice, l_discount
        |          ROWS UNBOUNDED PRECEDING) AS STRING) AS DOUBLE) AS running_revenue,
        |  lag(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |      l_quantity, l_extendedprice, l_discount) AS prev_qty,
        |  lead(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |      l_quantity, l_extendedprice, l_discount) AS next_qty,
        |  CAST(ntile(4) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |      l_quantity, l_extendedprice, l_discount) AS BIGINT) AS quartile
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        rev.as("revenue"),
        sum(rev.cast(graft.functions.Exact.Dec))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_revenue"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"),
        lead(col("l_quantity"), 1).over(w).as("next_qty"),
        ntile(4).over(w).cast(LongType).as("quartile"))
    },

    // ----- RANGE-interval window frame (value-bounded, not row-count) ----
    // 30-day trailing quantity per supplier: the frame is bounded by the
    // ORDER-BY VALUE (ship date), so sparse/dense date runs change the
    // row count inside the frame — a genuinely different operator from
    // q39's ROWS frames. Quantity through BIGINT so the windowed sum is
    // order-independent on both engines.
    Q("q47_range_interval_frame",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate
        |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS qty_30d
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // midnight-timestamp ship dates -> day numbers; RANGE [-30, 0]
      val w = Window.partitionBy("l_suppkey")
        .orderBy(datediff(col("l_shipdate"), lit("1970-01-01")).cast(LongType))
        .rangeBetween(-30L, 0L)
      Tables(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast(LongType)).over(w).as("qty_30d"))
    },

    // ----- INTERSECT / EXCEPT (distinct set semantics) -------------------
    Q("q40_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    },

    Q("q41_except",
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    },

    // ----- typed Aggregator: exact top-k frequent words ------------------
    Q("qa01_topk_words",
      s"""WITH w AS ($wCteWordsOnly),
         |wd AS (SELECT unnest(ws) AS word FROM w),
         |c AS (SELECT word, COUNT(*) AS n FROM wd GROUP BY word)
         |SELECT word AS value, n, rnk FROM (
         |  SELECT word, n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rnk FROM c)
         |WHERE rnk <= 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      val words = Tables(s, dir, "documents")
        .select(explode(expr(graft.functions.Text.wordsExpr("text"))).as("w"))
        .as[String]
      words
        .select(new graft.functions.TopKWords(10).toColumn.name("top"))
        .toDF("top")
        .select(posexplode(col("top")).as(Seq("pos", "wc")))
        .select(col("wc.value").as("value"), col("wc.n").as("n"),
          (col("pos") + 1).cast(LongType).as("rnk"))
    },

    // ----- as-of join (most recent state at event time) ------------------
    // Spark lacks a native ASOF operator; graft composes it as
    // union + running last(ignoreNulls) (operators.AsOfJoin). DuckDB
    // HAS native ASOF JOIN, which makes a strict oracle possible.
    Q("q42_asof_join",
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type IN ('view', 'click')),
        |r AS (SELECT user_id, ts, max(value) AS value FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts,
        |  r.value AS asof_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
        val left = ev.filter(col("event_type").isin("view", "click"))
          .select("event_id", "user_id", "ts")
        val right = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("value"))
        graft.operators.AsOfJoin.asOf(left, right, "user_id", "ts", Seq("value"))
    },

    // ----- range join via bucketization ----------------------------------
    // Interval/point joins scale by mapping both sides to equi-join
    // buckets (here: day) instead of a non-equi point-in-range probe.
    Q("q43_bucket_range_join",
      """WITH days AS (
        |  SELECT CAST(generate_series AS DATE) AS d
        |  FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY))
        |SELECT e.event_id,
        |  CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_pkey,
        |  isodow(d) AS iso_day_of_week,
        |  CASE WHEN isodow(d) >= 6 THEN 'Weekend' ELSE 'Weekday' END AS weekday_ind,
        |  e.value
        |FROM events e JOIN days ON CAST(e.ts AS DATE) = d""".stripMargin) {
      (s, dir) =>
        val spine = graft.etl.DateDim.build(s, "2024-01-01", "2024-12-31")
          .select("date", "date_pkey", "iso_day_of_week", "weekday_ind")
        Tables(s, dir, "events")
          .join(broadcast(spine), col("ts").cast("date") === col("date"))
          .select("event_id", "date_pkey", "iso_day_of_week", "weekday_ind", "value")
    },

    // ----- SCD Type 2 merge ----------------------------------------------
    // The reference's dims carry SCD2 scaffolding (EFFECTIVE_DATE /
    // EXPIRATION_DATE / CURRENT_ROW_IND) but never implement versioned
    // updates; etl.Scd2 supplies them. The batch here exercises all
    // three open-row paths (changed -> close+new version, identical
    // update -> untouched, brand-new key -> initial version).
    Q("q44_scd2_merge",
      """WITH cur AS (
        |  SELECT c_custkey AS cust_bk, c_name AS name,
        |    c_mktsegment AS segment, DATE '2020-01-01' AS effective_date,
        |    DATE '9999-12-31' AS expiration_date, 'Y' AS current_row_ind
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey AS cust_bk, c_name AS name, 'RELOCATED' AS segment
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_mktsegment
        |  FROM customer WHERE c_custkey % 5 = 1
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'New Customer ' || CAST(c_custkey AS VARCHAR), 'NEW'
        |  FROM customer WHERE c_custkey % 97 = 0),
        |j AS (
        |  SELECT cur.cust_bk, cur.name, cur.segment, cur.effective_date,
        |    cur.expiration_date, cur.current_row_ind,
        |    upd.cust_bk AS u_bk, upd.name AS u_name, upd.segment AS u_segment,
        |    ((cur.name IS DISTINCT FROM upd.name) OR
        |     (cur.segment IS DISTINCT FROM upd.segment)) AS changed
        |  FROM cur FULL JOIN upd ON cur.cust_bk = upd.cust_bk)
        |SELECT cust_bk, name, segment, effective_date, expiration_date,
        |  current_row_ind
        |FROM j WHERE cust_bk IS NOT NULL AND (u_bk IS NULL OR NOT changed)
        |UNION ALL
        |SELECT cust_bk, name, segment, effective_date, DATE '2024-06-01', 'N'
        |FROM j WHERE cust_bk IS NOT NULL AND u_bk IS NOT NULL AND changed
        |UNION ALL
        |SELECT u_bk, u_name, u_segment, DATE '2024-06-01', DATE '9999-12-31', 'Y'
        |FROM j WHERE u_bk IS NOT NULL AND (cust_bk IS NULL OR changed)""".stripMargin) {
      (s, dir) =>
        val c = Tables(s, dir, "customer")
        val current = c.select(
          col("c_custkey").as("cust_bk"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"),
          to_date(lit("2020-01-01")).as("effective_date"),
          to_date(lit("9999-12-31")).as("expiration_date"),
          lit("Y").as("current_row_ind"))
        val updates = c.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey").as("cust_bk"), col("c_name").as("name"),
            lit("RELOCATED").as("segment"))
          .unionAll(c.filter(col("c_custkey") % 5 === 1)
            .select(col("c_custkey").as("cust_bk"), col("c_name").as("name"),
              col("c_mktsegment").as("segment")))
          .unionAll(c.filter(col("c_custkey") % 97 === 0)
            .select((col("c_custkey") + 10000000L).as("cust_bk"),
              concat(lit("New Customer "), col("c_custkey").cast("string"))
                .as("name"),
              lit("NEW").as("segment")))
        graft.etl.Scd2.merge(current, updates, "cust_bk",
          Seq("name", "segment"), "2024-06-01")
    },

    // ----- GROUPING SETS with grouping markers ---------------------------
    // The third grouping shape next to ROLLUP (q35) / CUBE (q45):
    // explicit set list + GROUPING() flags so consumers can tell a real
    // NULL key from a subtotal row. SQL surface in both engines.
    Q("q53_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
         |  COUNT(*) AS n, ${graft.functions.Exact.dsumSql("l_quantity")} AS qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         |  (l_returnflag), ())""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           |  COUNT(*) AS n, ${graft.functions.Exact.dsumSql("l_quantity")} AS qty
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           |  (l_returnflag), ())""".stripMargin)
    },

    // ----- mergeable sketch rollup (persisted-sketch pattern) ------------
    // The 100 TB distinct-count architecture: per-day HLL sketches are
    // built ONCE (a rollup table would persist them as binary columns),
    // then ANY date range's distinct count is a cheap union-merge of
    // sketches — no raw-data rescan. The gate builds daily sketches,
    // union-merges them, and emits the deterministic bound verdict vs
    // the exact distinct (default lgK=12 -> rsd 1.6%; the 10% band is
    // ~6 sigma — never flaky), plus the exact day count the oracle can
    // state independently.
    Q("q54_sketch_rollup",
      """SELECT CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |  TRUE AS within_10pct FROM events""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events").createOrReplaceTempView("events")
      s.sql(
        """WITH daily AS (
          |  SELECT date_trunc('DAY', ts) AS d, hll_sketch_agg(user_id) AS sk
          |  FROM events GROUP BY date_trunc('DAY', ts)),
          |merged AS (
          |  SELECT COUNT(*) AS n_days,
          |    hll_sketch_estimate(hll_union_agg(sk)) AS est
          |  FROM daily),
          |exact AS (SELECT COUNT(DISTINCT user_id) AS c FROM events)
          |SELECT CAST(n_days AS BIGINT) AS n_days,
          |  abs(est - c) <= c * 0.10 AS within_10pct
          |FROM merged, exact""".stripMargin)
    },

    // ----- ntile curriculum binning --------------------------------------
    // Per-stratum deciles (curriculum bucketing by difficulty proxy).
    // PARTITIONED window — per-priority sorts parallelize across strata;
    // the total order (price, key) makes tied rows output-identical in
    // both engines (the q39 duplicate-sort-key lesson).
    Q("q52_ntile_bins",
      """SELECT o_orderkey, CAST(NTILE(10) OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
        |FROM orders""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders").select(col("o_orderkey"),
        ntile(10).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice"), col("o_orderkey")))
          .cast("long").as("decile"))
    },

    // ----- exact interpolated median -------------------------------------
    // Hash-exact cross-engine because l_quantity is integer-valued: the
    // midpoint of two small integers is exact in IEEE double under
    // either engine's interpolation formula. (Medians of arbitrary
    // doubles would differ in final ulps between a+(b-a)*f and
    // (1-f)*a+f*b — integer-valued columns erase that.)
    Q("q51_exact_median",
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"))
    },

    // ----- sketch-bound gates: the approximates made measurable ----------
    // Same pattern as the qs05/qs06 ANN-recall gates: the Spark side
    // computes the sketch AND the exact value in one plan and emits only
    // the deterministic bound verdict; the oracle states the expected
    // verdict. The verdicts are order-independent (HLL register merges
    // are max-based; the quantile/heavy-hitter bounds hold for ANY merge
    // order by construction), so a broken sketch — and only a broken
    // sketch — flips a boolean and hash-mismatches.
    Q("q48_approx_distinct_bound",
      """SELECT l_returnflag, TRUE AS within_10pct FROM lineitem
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // Pre-distinct once and feed BOTH aggregates: HLL is
      // duplicate-insensitive, so the estimate is unchanged, while the
      // plan avoids the Expand shape that mixing countDistinct with a
      // second aggregate forces (measured 9s -> sub-second at sf0.1).
      Tables(s, dir, "lineitem")
        .select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag")
        // rsd 0.02: the 10% verdict band is then ~5 sigma of sketch
        // error — comfortably deterministic, never flaky
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"),
          count(lit(1)).as("exact"))
        .select(col("l_returnflag"),
          (abs(col("approx") - col("exact")) <=
            col("exact").cast("double") * 0.10).as("within_10pct"))
    },

    Q("q49_approx_percentile_bound",
      """SELECT o_orderpriority, TRUE AS within_rank_band FROM orders
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
            .as("approx"),
          expr("percentile(o_totalprice, 0.45)").as("lo"),
          expr("percentile(o_totalprice, 0.55)").as("hi"))
        .select(col("o_orderpriority"),
          (col("approx") >= col("lo") && col("approx") <= col("hi"))
            .as("within_rank_band"))
    },

    // ----- interval-join attribution (batch twin of the stream-stream
    // join) — the SAME EventsStream.attribution code runs here on batch
    // frames (watermarks no-op in batch), so the streaming operator's
    // join semantics get a DuckDB oracle. Equi on user_id + time-range
    // filter: per-user event runs are bounded, so the hash join holds
    // at scale.
    Q("q50_attribution",
      """SELECT a.user_id, a.event_id AS action_id, t.event_id AS trigger_id,
        |  a.ts AS a_ts, t.ts AS t_ts
        |FROM events a JOIN events t ON a.user_id = t.user_id
        |  AND t.ts <= a.ts AND t.ts >= a.ts - INTERVAL 10 MINUTE
        |WHERE a.event_type = 'purchase' AND t.event_type = 'click'""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
        graft.streaming.EventsStream.attribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizon = "10 minutes")
    },

    // SpaceSaving guarantees: every reported count overestimates the
    // true count by at most n/capacity, for any merge order.
    Q("qa03_heavy_hitters_bound",
      """SELECT CAST(10 AS BIGINT) AS n_hitters, TRUE AS all_overestimate,
        |  TRUE AS all_error_bounded""".stripMargin) { (s, dir) =>
      val words = Tables(s, dir, "documents")
        .select(explode(expr(graft.functions.Text.wordsExpr("text"))).as("w"))
      val hh = words
        .agg(graft.functions.Text.spaceSavingTopK(col("w"), 64, 10).as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.value").as("w"), col("e.est").as("est"))
      val exact = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      val total = words.agg(count(lit(1)).as("n"))
      hh.join(exact, "w").crossJoin(total)
        .agg(count(lit(1)).as("n_hitters"),
          expr("bool_and(est >= cnt)").as("all_overestimate"),
          expr("bool_and(est - cnt <= n / 64.0)").as("all_error_bounded"))
    },

    // ----- Count-Min sketch frequency bounds ------------------------------
    // The frequency twin of qa03: a 5x2048 Count-Min sketch over every
    // corpus word (pre-hashed through the shared polyhash), then the
    // top-20 exact frequencies audited against the sketch's in-plan
    // least() estimates. CMS never underestimates (deterministic), and
    // the min over 5 mixer-independent rows keeps overestimates within
    // 8N/width here. The sketch is partitioning-invariant (counter
    // sums commute — spec-asserted), which is what makes persisted
    // per-day sketches summable into any date range, the q54 rollup
    // architecture with frequencies instead of cardinality.
    Q("qa04_cms_bound",
      """SELECT CAST(20 AS BIGINT) AS n_items, TRUE AS all_overestimate,
        |  TRUE AS all_error_bounded""".stripMargin) { (s, dir) =>
      val W = 2048; val D = 5
      val words = Tables(s, dir, "documents")
        .select(explode(expr(graft.functions.Text.wordsExpr("text"))).as("w"))
      val sketch = words
        .select(graft.functions.Text.polyhash(col("w")).as("h"))
        .agg(graft.functions.Text.countMin(col("h"), W, D).as("cms"))
      val exact = words.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(20)
        .withColumn("h", graft.functions.Text.polyhash(col("w")))
      val total = words.agg(count(lit(1)).as("n"))
      exact.crossJoin(sketch).crossJoin(total)
        .withColumn("est", expr(
          graft.expressions.CountMinAgg.estimateExpr("cms", "h", W, D)))
        .agg(count(lit(1)).as("n_items"),
          expr("bool_and(est >= cnt)").as("all_overestimate"),
          expr(s"bool_and(est - cnt <= 8.0 * n / $W)").as("all_error_bounded"))
    },

    // ----- ordered conversion funnel --------------------------------------
    // The product-analytics staple Spark has no operator for: users who
    // viewed, then clicked AFTER their first view, then purchased AFTER
    // that click. Each stage is a per-user aggregate joined to the
    // previous stage's (shrinking, broadcastable) user set — the
    // standard distributed funnel shape: no window over all events, no
    // per-user collect, three equi-joins on the same key that AQE
    // broadcasts as the funnel narrows. The strict ts ordering makes the
    // stage sets deterministic in both engines.
    Q("q55_funnel",
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |      GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS viewed,
        |       (SELECT COUNT(*) FROM c) AS clicked_after,
        |       (SELECT COUNT(*) FROM p) AS purchased_after""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        v.agg(count(lit(1)).as("viewed"))
          .crossJoin(c.agg(count(lit(1)).as("clicked_after")))
          .crossJoin(p.agg(count(lit(1)).as("purchased_after")))
    },

    // ----- top event paths (sequence analysis) ----------------------------
    // Each user's first-5-event path, counted across users: ONE window
    // shuffle on user_id (the rn<=5 cap bounds per-user state), then a
    // group-by on the bounded path string. The in-group order is made
    // total by (ts, event_id) — the q39 duplicate-sort-key lesson — and
    // Spark's unordered collect_list is sorted by rn via array_sort
    // before joining, because collect_list order is not a contract.
    Q("q56_event_paths",
      """WITH r AS (SELECT user_id, event_type,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS rn
        |           FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 10""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
        .groupBy("user_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(10)
    },

    // ----- retention cohorts ----------------------------------------------
    // Weekly cohort retention matrix: users bucketed by the week of
    // their first event; each later (cohort, offset) cell counts users
    // active that week. Two aggregation shuffles on user_id (first-week
    // + distinct user-weeks, co-partitioned so the self-join is
    // shuffle-free under AQE) then a group-by on the tiny matrix. Week
    // index is day-diff floor-division from a fixed epoch — pure
    // integer arithmetic both engines share, instead of date_trunc
    // week-start conventions.
    Q("q57_retention_cohorts",
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |      AS BIGINT) AS wk
        |  FROM events),
        |coh AS (SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id)
        |SELECT c.cohort_week, u.wk - c.cohort_week AS week_offset,
        |       COUNT(*) AS n_users
        |FROM uw u JOIN coh c ON u.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val uw = Tables(s, dir, "events")
        .select(col("user_id"),
          floor(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")) / 7)
            .cast("long").as("wk"))
        .distinct()
      val coh = uw.groupBy("user_id").agg(min("wk").as("cohort_week"))
      uw.join(coh, "user_id")
        .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // ----- one-pass table profile (ANALYZE-style stats collection) --------
    // Null rate, exact distinct, min/max/avg per column — ALL columns in
    // ONE aggregate pass over the scan (one shuffle of partial-agg
    // states, never one job per column). The avg goes through the
    // decimal-exact pattern; the two COUNT(DISTINCT)s keep the plan an
    // Expand over the single scan, still one pass over the data.
    Q("q58_table_profile",
      s"""SELECT COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT(l_returnflag) AS null_returnflag,
         |  COUNT(DISTINCT l_returnflag) AS d_returnflag,
         |  COUNT(DISTINCT l_suppkey) AS d_suppkey,
         |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
         |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("l_returnflag"))).as("null_returnflag"),
        countDistinct(col("l_returnflag")).as("d_returnflag"),
        countDistinct(col("l_suppkey")).as("d_suppkey"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        davg(col("l_quantity")).as("avg_qty"),
        min("l_shipdate").as("min_ship"), max("l_shipdate").as("max_ship"))
    },

    // ----- distribution-position window functions -------------------------
    // percent_rank / cume_dist / first_value / last_value — the window
    // battery's remaining members. The in-partition order is made total
    // by (rev DESC, s_name): rev comes from the decimal-exact sum so
    // ties are engine-identical, and s_name breaks them. percent_rank
    // and cume_dist are small-integer ratios in double — the same IEEE
    // division in both engines. last_value needs the full frame
    // (UNBOUNDED FOLLOWING); the default frame would peg it to the
    // current row.
    Q("q60_rank_distribution",
      s"""WITH sup_rev AS (
         |  SELECT n_name, s_name,
         |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation   ON s_nationkey = n_nationkey
         |  GROUP BY n_name, s_name)
         |SELECT n_name, s_name, rev,
         |  percent_rank() OVER w AS pr,
         |  cume_dist() OVER w AS cd,
         |  first_value(s_name) OVER w AS top_supplier,
         |  last_value(s_name) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND UNBOUNDED FOLLOWING) AS bottom_supplier
         |FROM sup_rev
         |WINDOW w AS (PARTITION BY n_name ORDER BY rev DESC, s_name)""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val supRev = Tables(s, dir, "lineitem")
          .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name", "s_name")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        val w = Window.partitionBy("n_name").orderBy(col("rev").desc, col("s_name"))
        supRev.select(col("n_name"), col("s_name"), col("rev"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first_value(col("s_name")).over(w).as("top_supplier"),
          last_value(col("s_name")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("bottom_supplier"))
    },

    // ----- fixed-width histogram (distribution profiling) -----------------
    // Bucket index is FLOOR of the same IEEE double division in both
    // engines — NOT a double→integer CAST, which Spark truncates and
    // DuckDB rounds. One partial-agg shuffle on the bucket id; min/max
    // per bucket are single-value aggregates (no accumulation order to
    // diverge). The data-profiling companion to q58.
    Q("q59_histogram",
      """SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 25000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    },

    // ----- argmin via struct-min aggregation -----------------------------
    // "The row that attains the group minimum" WITHOUT a window: a
    // lexicographic struct-min is an ordinary partial-aggregable
    // aggregate — map-side combine, one shuffle of one struct per
    // (partition, group) — where the ROW_NUMBER()=1 formulation (the
    // oracle here) shuffles every row into its group's sort. Ties on
    // the minimum break by the struct's next field, so both sides are
    // deterministic.
    Q("q65_argmin",
      """SELECT o_custkey, o_totalprice AS min_price, o_orderkey
        |FROM (SELECT o_custkey, o_totalprice, o_orderkey,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_totalprice").as("min_price"),
          col("m.o_orderkey").as("o_orderkey"))
    },

    // ----- built-in session windows --------------------------------------
    // Spark's native session_window beside the custom gaps-and-islands
    // formulation (q31) and the stateful streaming one
    // (EventsStream.sessionize): events merge while the gap stays
    // UNDER 30 min (session_window's strict-< semantics — the oracle's
    // island break is >= to match), window.start is the session's min
    // ts. One shuffle on (user, merged window).
    Q("q64_session_window",
      s"""WITH o AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM o)
         |SELECT user_id, min(ts) AS session_start,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM s GROUP BY user_id, session_seq""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("session_window.start").as("session_start"),
          col("user_id"), col("n_events"), col("total_value"))
    },

    // ----- correlated scalar subquery (SQL surface) ----------------------
    // Catalyst decorrelates the per-row subquery into an aggregate +
    // left join — the plan a hand-written join would produce — so the
    // SQL stays declarative and the execution stays a hash join, not a
    // per-row probe. Runs through spark.sql to exercise the SQL entry
    // path end to end.
    Q("q63_correlated_subquery",
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) AS n_items
        |FROM orders o
        |WHERE o_totalprice > 400000""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT o_orderkey, o_totalprice,
          |  (SELECT COUNT(*) FROM lineitem l
          |   WHERE l.l_orderkey = o.o_orderkey) AS n_items
          |FROM orders o
          |WHERE o_totalprice > 400000""".stripMargin)
    },

    // ----- unpivot / melt (wide → long) ----------------------------------
    // The inverse of q46's pivot: per-year measures melt into
    // (yr, measure, value) rows via Dataset.unpivot — a narrow
    // generate over the aggregated rows, no extra shuffle. Counts ride
    // as doubles (exact to 2^53, far above any count here) so the
    // value column is single-typed, like SQL UNPIVOT requires.
    Q("q61_unpivot",
      s"""WITH wide AS (SELECT year(o_orderdate) AS yr,
         |  CAST(COUNT(*) AS DOUBLE) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS sum_price,
         |  MAX(o_totalprice) AS max_price
         |FROM orders GROUP BY 1)
         |SELECT yr, 'n_orders' AS measure, n_orders AS value FROM wide
         |UNION ALL
         |SELECT yr, 'sum_price', sum_price FROM wide
         |UNION ALL
         |SELECT yr, 'max_price', max_price FROM wide""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"))
          .agg(count(lit(1)).cast("double").as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"),
            max(col("o_totalprice")).as("max_price"))
          .unpivot(Array(col("yr")),
            Array(col("n_orders"), col("sum_price"), col("max_price")),
            "measure", "value")
    },

    // ----- hopping (sliding) window aggregation --------------------------
    // 1 h windows every 30 min over event time — the batch twin of a
    // sliding streaming window (each event lands in exactly 2 windows).
    // Spark's window() generates the window structs row-locally, then
    // one partial-agg shuffle on (window, type); the oracle derives the
    // same two epoch-aligned starts arithmetically.
    Q("q62_hopping_window",
      s"""WITH e AS (SELECT event_type, value,
         |  CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS s1
         |  FROM events),
         |x AS (SELECT make_timestamp(s1 * 1000000) AS win_start,
         |        event_type, value FROM e
         |      UNION ALL
         |      SELECT make_timestamp((s1 - 1800) * 1000000),
         |        event_type, value FROM e)
         |SELECT win_start, event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS total_value
         |FROM x GROUP BY win_start, event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n_events"), col("total_value"))
    },

    // ----- time-series gap fill + forward fill ---------------------------
    // Resample each user's events to a dense daily grid (sequence()
    // explode over their own [first, last] span — no global calendar
    // join) and forward-fill missing days from the last observed value.
    // The window is PARTITIONED by user and the grid is generated
    // row-locally, so the whole thing is one group-by, one left join
    // and one bounded per-user window — the standard sensor/activity
    // resampling shape at any scale. First grid day always has data
    // (it IS the user's first event day), so the fill never yields NULL.
    Q("q66_gap_fill",
      s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS day_value
         |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
         |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
         |  FROM daily GROUP BY user_id),
         |grid AS (SELECT user_id,
         |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM span),
         |j AS (SELECT g.user_id, g.day, d.day_value
         |  FROM grid g LEFT JOIN daily d
         |  ON g.user_id = d.user_id AND g.day = d.day)
         |SELECT user_id, day,
         |  LAST_VALUE(day_value IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS value_ffill,
         |  CAST(day_value IS NULL AS BIGINT) AS is_gap
         |FROM j""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DateType
      val daily = Tables(s, dir, "events")
        .groupBy(col("user_id"), col("ts").cast(DateType).as("day"))
        .agg(dsum(col("value")).as("day_value"))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("day_value"), ignoreNulls = true).over(w).as("value_ffill"),
          col("day_value").isNull.cast(LongType).as("is_gap"))
    },

    // ----- fuzzy entity resolution (deletion-neighborhood blocking) ------
    // Exact edit-distance-1 record linkage over customer names with
    // NO quadratic probe on either engine: both sides generate the
    // FastSS deletion-neighborhood keys, equi-join, and verify with
    // exact levenshtein — the oracle mirrors the candidate scheme, and
    // the scheme itself was validated against a brute-force cross join
    // (19 500 identical pairs at sf0.01).
    Q("q68_fuzzy_pairs",
      """WITH v AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |    unnest(list_distinct(list_prepend(c_name,
        |      list_transform(range(1, len(c_name) + 1),
        |        i -> substr(c_name, 1, CAST(i - 1 AS INTEGER)) ||
        |             substr(c_name, CAST(i + 1 AS INTEGER)))))) AS key
        |  FROM customer),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, a.name AS na, b.id AS id_b, b.name AS nb
        |  FROM v a JOIN v b ON a.key = b.key AND a.id < b.id)
        |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(na, nb) <= 1""".stripMargin) { (s, dir) =>
      graft.operators.EntityResolution.editDistancePairs(
        Tables(s, dir, "customer"), "c_custkey", "c_name")
    },

    // ----- rolling anomaly detection (integer-exact z-score) --------------
    // The monitoring staple over a metric stream: flag a day whose
    // event count sits more than k=3 sample standard deviations from
    // its own trailing-7-day mean. Everything stays in Long arithmetic
    // — the flag is (n·x − Σ)² > k²·(n·Σx² − Σ²), the z-score
    // inequality cross-multiplied so neither engine ever divides or
    // takes a square root — which is what makes a BOOLEAN flag
    // hash-comparable cross-engine (a double z-score would differ in
    // the last ulp and flip knife-edge rows). One partitioned window
    // per event_type (bounded ROWS frame, never a global sort); at
    // 100 TB the partition key would be (metric, entity) with the same
    // shape.
    Q("q69_rolling_anomaly",
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, x,
        |    COUNT(x) OVER t AS n, SUM(x) OVER t AS s, SUM(x*x) OVER t AS q
        |  FROM daily
        |  WINDOW t AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, x AS n_events,
        |  (n >= 4 AND (n*x - s)*(n*x - s) > 9 * (n*q - s*s)) AS is_anomaly
        |FROM w""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("x"))
      val t = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("n", count(col("x")).over(t))
        .withColumn("s", sum(col("x")).over(t))
        .withColumn("q", sum(col("x") * col("x")).over(t))
        .select(col("event_type"), col("day"), col("x").as("n_events"),
          (col("n") >= 4 &&
            (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))
              > lit(9L) * (col("n") * col("q") - col("s") * col("s")))
            .as("is_anomaly"))
    },

    // ----- mergeable histogram quantile rollup ----------------------------
    // The quantile member of the persisted-rollup family (q54 HLL =
    // cardinality, qa04 CMS = frequency, qa05 bitmaps = exact sets):
    // per-DAY fixed-width histograms of order value (decimal-exact
    // cents, $5000 buckets over the scale-invariant price domain),
    // re-aggregated over a date range by summing counts — any range's
    // quantiles come from stored day-grain rows with no raw rescan,
    // with error bounded by the bucket width BY CONSTRUCTION. The
    // quantile walk is the cross-multiplied integer inequality
    // 100·cum ≥ p·n (no ceil, no division), and the bucket counts
    // themselves are part of the hash-gated output — so the bound
    // claim rests on oracle-verified integers, not on a replicated
    // float percentile. KLL/t-digest were rejected deliberately:
    // their compactions are merge-order-dependent, which breaks the
    // partition-independence discipline every gate here holds.
    Q("qa08_quantile_rollup",
      """WITH daily AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 500000
        |      AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |merged AS (
        |  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM daily
        |  WHERE day BETWEEN
        |      datediff('day', DATE '1970-01-01', DATE '1997-01-01')
        |    AND datediff('day', DATE '1970-01-01', DATE '1997-12-31')
        |  GROUP BY bucket),
        |cum AS (
        |  SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum,
        |    (SELECT SUM(cnt) FROM merged) AS n
        |  FROM merged)
        |SELECT CAST(p.pct AS BIGINT) AS pct,
        |  CAST(MIN(c.bucket) AS BIGINT) AS bucket,
        |  CAST(MIN(c.bucket) * 500000 AS BIGINT) AS lo_cents,
        |  CAST((MIN(c.bucket) + 1) * 500000 AS BIGINT) AS hi_cents
        |FROM (VALUES (25), (50), (90)) p(pct) JOIN cum c
        |  ON 100 * c.cum >= p.pct * c.n
        |GROUP BY p.pct""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val W = 500000L
      val daily = Tables(s, dir, "orders")
        .select(
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
            .cast(LongType).as("day"),
          expr(s"CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            s" div $W").as("bucket"))
        .groupBy("day", "bucket").agg(count(lit(1)).as("cnt"))
      val lo = datediff(lit("1997-01-01").cast("date"), lit("1970-01-01"))
      val hi = datediff(lit("1997-12-31").cast("date"), lit("1970-01-01"))
      val merged = daily.filter(col("day").between(lo, hi))
        .groupBy("bucket").agg(sum("cnt").as("cnt"))
      val n = merged.agg(sum("cnt").as("n"))
      // cumulative walk over ~100 buckets: the tiny-dim global-window
      // precedent (SURVEY §7.3) — bounded by the bucket count, not data
      val cum = merged
        .withColumn("cum", sum("cnt").over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(n))
      Seq(25L, 50L, 90L).toDF("pct")
        .join(cum, lit(100) * col("cum") >= col("pct") * col("n"))
        .groupBy("pct")
        .agg(min("bucket").as("bucket"),
          (min("bucket") * W).as("lo_cents"),
          ((min("bucket") + 1) * W).as("hi_cents"))
    },

    // ----- recursive CTE: transitive closure to a root --------------------
    // Spark 4's WITH RECURSIVE, gated against DuckDB's: every customer
    // walks the synthesized referral chain parent(c) = c div 2 (a
    // binary tree over the key space) and reports its depth to the
    // root — transitive closure expressed IN SQL, no driver loop, no
    // mapPartitions fixpoint. Each iteration is a narrow map over the
    // frontier (rows leave the frontier when they hit the root), so
    // the recursion runs log₂(maxkey) rounds of frontier-sized work —
    // the engine-managed counterpart to the manual pointer-jumping in
    // Dedup.connectedComponents, which remains the scale path for
    // general graphs (this one is depth-bounded by construction).
    Q("q74_recursive_cte",
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT) AS d
        |  FROM customer
        |  UNION ALL
        |  SELECT node, cur // 2, d + 1 FROM anc WHERE cur > 1)
        |SELECT node AS c_custkey, CAST(MAX(d) AS BIGINT) AS depth_to_root
        |FROM anc GROUP BY node""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").createOrReplaceTempView("__rec_customer")
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT) AS d
          |  FROM __rec_customer
          |  UNION ALL
          |  SELECT node, cur DIV 2, d + 1 FROM anc WHERE cur > 1)
          |SELECT node AS c_custkey, MAX(d) AS depth_to_root
          |FROM anc GROUP BY node""".stripMargin)
    },

    // ----- A/B experiment significance (integer-exact chi-square) ---------
    // The experimentation primitive: users hash-split into two variants
    // (the qc07 deterministic-split discipline), conversion = any
    // purchase event, and the 2x2 chi-square test decided WITHOUT any
    // floating point — the alpha=0.05 critical value 3.841459 rides as
    // the rational 3841459/1e6 and the inequality is cross-multiplied:
    //   1e6 · n · (ad−bc)² > 3841459 · (a+b)(c+d)(a+c)(b+d)
    // in DECIMAL(38,0)/HUGEINT, so the significance BOOLEAN is
    // hash-comparable cross-engine (a double chi-square statistic
    // would flip knife-edge cases in the last ulp). At 100 TB the
    // shape is two partial-agg passes over events — no per-user state.
    Q("q71_ab_chisq",
      s"""WITH u AS (
         |  SELECT user_id,
         |    ${graft.functions.Text.polyhashSql("CAST(user_id AS VARCHAR)")} % 2
         |      AS variant,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY 1),
         |c AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |    CAST(SUM(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |    CAST(SUM(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
         |  FROM u)
         |SELECT a, b, c, d,
         |  1000000::HUGEINT * (a+b+c+d)::HUGEINT
         |      * (a::HUGEINT*d::HUGEINT - b::HUGEINT*c::HUGEINT)
         |      * (a::HUGEINT*d::HUGEINT - b::HUGEINT*c::HUGEINT)
         |    > 3841459::HUGEINT * (a+b)::HUGEINT * (c+d)::HUGEINT
         |      * (a+c)::HUGEINT * (b+d)::HUGEINT AS significant
         |FROM c""".stripMargin) { (s, dir) =>
      val dec = "DECIMAL(38,0)"
      val u = Tables(s, dir, "events")
        .groupBy(col("user_id"),
          pmod(graft.functions.Text.polyhash(col("user_id").cast("string")),
            lit(2L)).as("variant"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      u.agg(
          sum(when(col("variant") === 0 && col("conv") === 1, 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("variant") === 0 && col("conv") === 0, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("variant") === 1 && col("conv") === 1, 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("variant") === 1 && col("conv") === 0, 1L)
            .otherwise(0L)).as("d"))
        .withColumn("significant", expr(
          s"""CAST(1000000 AS $dec) * CAST(a+b+c+d AS $dec)
             |  * (CAST(a AS $dec) * CAST(d AS $dec)
             |     - CAST(b AS $dec) * CAST(c AS $dec))
             |  * (CAST(a AS $dec) * CAST(d AS $dec)
             |     - CAST(b AS $dec) * CAST(c AS $dec))
             |> CAST(3841459 AS $dec) * CAST(a+b AS $dec) * CAST(c+d AS $dec)
             |  * CAST(a+c AS $dec) * CAST(b+d AS $dec)""".stripMargin))
    },

    // ----- event transition matrix (Markov first-order) -------------------
    // P(next | current) as exact counts: per-user event sequences via
    // one partitioned lead() window (deterministic tie-break on
    // event_id), then a grouped count per (current, next) pair — the
    // behavioral-model / anomalous-flow primitive. One bounded window
    // shuffle + one partial agg; never a per-user collect.
    Q("q72_event_transitions",
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        |FROM seq WHERE nxt IS NOT NULL
        |GROUP BY cur, nxt""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir, "events")
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    },

    // ----- per-group trend slope (integer-exact least squares) ------------
    // Trend detection over daily series: the OLS slope of count-vs-day
    // per event_type, carried as the exact integer pair
    //   (n·Σxy − Σx·Σy, n·Σx² − (Σx)²)
    // instead of one lossy double division — consumers compare trends
    // by cross-multiplying numerators/denominators, and the gate
    // hash-compares exactly. One partial-agg pass over the daily
    // grain; x rides as epoch day.
    Q("q73_trend_slope",
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(COUNT(*) * SUM(x*y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
        |  CAST(COUNT(*) * SUM(x*x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
        |FROM daily GROUP BY event_type""".stripMargin) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01"))
            .cast(LongType).as("x"))
        .agg(count(lit(1)).as("y"))
      daily.groupBy("event_type")
        .agg(
          (count(lit(1)) * sum(col("x") * col("y"))
            - sum(col("x")) * sum(col("y"))).as("slope_num"),
          (count(lit(1)) * sum(col("x") * col("x"))
            - sum(col("x")) * sum(col("x"))).as("slope_den"))
    },

    // ----- exact bitmap distinct rollup -----------------------------------
    // The EXACT twin of q54's HLL rollup: one bitmap per (day) at the
    // stored granularity, re-aggregated to weeks by OR-merging the
    // BLOBS (BitmapOrAgg) — the weekly distinct-user counts come out of
    // stored per-day bitmaps with no raw-data rescan, and unlike the
    // sketch they are exact (the oracle is plain COUNT(DISTINCT)).
    // Bitmap OR is idempotent, so replaying a day into a stored rollup
    // is a no-op — the same replay-safety HLL's register max buys,
    // without the ~2% error. Cost trade documented in BitmapAgg's
    // scaladoc: bytes grow with distinct keys (metadata-scale next to
    // the raw events), where HLL stays 2 KB but cannot intersect.
    Q("qa05_bitmap_distinct_rollup",
      """SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
        |    AS week,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .select(datediff(col("ts").cast("date"), lit("1970-01-01"))
          .cast(LongType).as("day"), col("user_id"))
        .groupBy("day")
        .agg(graft.functions.Text.bitmapAgg(col("user_id")).as("bm"))
      daily
        .groupBy(expr("day div 7").as("week"))
        .agg(graft.functions.Text.bitmapOr(col("bm")).as("bm"))
        .select(col("week"),
          graft.functions.Text.bitmapCount(col("bm")).as("n_users"))
    },

    // ----- exact sliding-window distinct via bitmaps ----------------------
    // COUNT(DISTINCT) OVER a moving window is unsupported in Spark SQL
    // (and quadratic done naively: every day re-scans its 7 days of
    // raw rows). The bitmap rollup makes it exact AND linear in the
    // stored granularity: per-day blobs, a bounded range self-join
    // (each day joins its ≤7 trailing days — kilobyte blobs, never
    // user rows), OR-merge per day, popcount. The same stored table
    // answers ANY window length; the oracle re-derives each day's
    // trailing set from raw rows.
    Q("qa07_windowed_distinct",
      """WITH daily AS (
        |  SELECT DISTINCT
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM daily)
        |SELECT d.day AS day,
        |  CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
        |FROM days d JOIN daily u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin) { (s, dir) =>
      // day-grain blob table, materialized ONCE (localCheckpoint): both
      // the anchor list and the range probe consume it, and without the
      // cut each consumer re-scans raw events and re-builds the bitmaps
      // (the qt15 invariant-subtree discipline). Days-sized — tiny.
      val daily = Tables(s, dir, "events")
        .select(datediff(col("ts").cast("date"), lit("1970-01-01"))
          .cast(LongType).as("day"), col("user_id"))
        .groupBy("day")
        .agg(graft.functions.Text.bitmapAgg(col("user_id")).as("bm"))
        .localCheckpoint()
      val anchors = daily.select(col("day").as("anchor"))
      anchors.join(daily,
          col("day").between(col("anchor") - 6, col("anchor")))
        .groupBy(col("anchor").as("day"))
        .agg(graft.functions.Text.bitmapOr(col("bm")).as("bm"))
        .select(col("day"),
          graft.functions.Text.bitmapCount(col("bm")).as("n_users_7d"))
    },

    // ----- exact bitmap intersection (week-over-week retention) -----------
    // The operation NO cardinality sketch performs exactly: per-week
    // user bitmaps self-joined on week+1, intersected with BitmapAnd,
    // popcounted — users active in consecutive weeks, straight off the
    // stored blobs. At 100 TB this is the Druid/ClickHouse segment-
    // overlap pattern: the join moves kilobyte blobs, never user rows.
    // The oracle keeps zero-retention weeks via LEFT JOIN + COUNT(match)
    // to mirror the bitmap side, which emits a row for every week that
    // HAS a successor week (popcount 0 when the intersection is empty).
    Q("qa06_bitmap_retention",
      """WITH base AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
        |      AS week, user_id
        |  FROM events),
        |wu AS (SELECT DISTINCT week, user_id FROM base),
        |wks AS (SELECT DISTINCT week FROM wu)
        |SELECT a.week AS week, CAST(COUNT(b.user_id) AS BIGINT) AS n_retained
        |FROM wu a
        |JOIN wks n ON n.week = a.week + 1
        |LEFT JOIN wu b ON b.week = a.week + 1 AND b.user_id = a.user_id
        |GROUP BY a.week""".stripMargin) { (s, dir) =>
      // weeks-sized blob table, consumed by both join sides — same
      // materialize-once discipline as qa07
      val weekly = Tables(s, dir, "events")
        .select(expr(
          "datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7").as("week"),
          col("user_id"))
        .groupBy("week")
        .agg(graft.functions.Text.bitmapAgg(col("user_id")).as("bm"))
        .localCheckpoint()
      val nxt = weekly.select((col("week") - 1).as("week"), col("bm").as("bm2"))
      weekly.join(nxt, "week")
        .select(col("week"),
          graft.functions.Text.bitmapCount(
            graft.functions.Text.bitmapAnd(col("bm"), col("bm2")))
            .as("n_retained"))
    },

    // ----- higher-order array functions (codegen'd lambdas) -------------
    // transform / filter / aggregate / zip_with / exists / forall in ONE
    // row-local pass over the tokenized doc. All six are Catalyst
    // HigherOrderFunctions (whole-stage codegen, no UDF); the DuckDB
    // oracle re-expresses each with list lambdas. zip_with carries the
    // position-weighted sum (1-based index times word length) — the
    // Spark side zips against sequence(), the oracle indexes with
    // range(); empty docs are CASE-guarded on both engines because
    // sequence(1,0) descends in Spark and list_sum([]) is NULL in
    // DuckDB.
    Q("qf01_array_hof",
      s"""WITH w AS ($wCteSource)
         |SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(ws, w -> length(w) >= 6)) AS BIGINT) AS n_long,
         |  CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_len,
         |  CAST(CASE WHEN len(ws) = 0 THEN 0 ELSE coalesce(list_sum(
         |    list_transform(range(1, len(ws) + 1), i -> length(ws[i]) * i)), 0)
         |  END AS BIGINT) AS pos_weighted_len,
         |  len(list_filter(ws, w -> length(w) >= 8)) > 0 AS has_long_word,
         |  len(list_filter(ws, w -> length(w) > 7)) = 0 AS all_short
         |FROM w""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("ws", expr(Text.wordsExpr("text")))
        .select(
          col("doc_id"),
          size(col("ws")).cast(LongType).as("n_words"),
          size(expr("filter(ws, w -> length(w) >= 6)")).cast(LongType).as("n_long"),
          expr("aggregate(transform(ws, w -> CAST(length(w) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("sum_len"),
          expr("""CASE WHEN size(ws) = 0 THEN CAST(0 AS BIGINT) ELSE
                 |  aggregate(zip_with(ws, sequence(1, size(ws)),
                 |    (w, i) -> CAST(length(w) AS BIGINT) * i),
                 |    CAST(0 AS BIGINT), (a, x) -> a + x) END""".stripMargin)
            .as("pos_weighted_len"),
          expr("exists(ws, w -> length(w) >= 8)").as("has_long_word"),
          expr("forall(ws, w -> length(w) <= 7)").as("all_short"))
    },

    // ----- map-typed column functions -----------------------------------
    // Builds a per-document word→count map the SCALE way (explode →
    // partial-agg count → map_from_entries over collect_list — never a
    // per-element lambda re-scan of the words array), then exercises
    // Spark's map surface on it: size / element_at / map_filter /
    // map_values / transform_values. Outputs are plain integer columns
    // so the gate hashes engine-portably; DuckDB derives the same
    // values from list algebra.
    Q("qf02_map_funcs",
      s"""WITH w AS ($wCteSource)
         |SELECT doc_id,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_keys,
         |  CAST(len(list_filter(ws, x -> x = 'the')) AS BIGINT) AS the_count,
         |  CAST(len(list_filter(list_distinct(ws),
         |    w -> len(list_filter(ws, x -> x = w)) = 1)) AS BIGINT) AS n_singletons,
         |  CAST(len(ws) AS BIGINT) AS sum_counts,
         |  CAST(2 * len(list_filter(ws, x -> x = 'the')) AS BIGINT) AS doubled_the,
         |  CAST(len(list_filter(list_distinct(ws), w -> length(w) >= 6)) AS BIGINT)
         |    AS n_long_keys
         |FROM w""".stripMargin) { (s, dir) =>
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(expr(Text.wordsExpr("text"))).as("w"))
      val maps = words.groupBy("doc_id", "w").count()
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("w"), col("count")))).as("m"))
      // explode drops zero-word documents entirely, but the oracle emits
      // an all-zero row for every document — left-join the maps back onto
      // the full document frame and coalesce to the empty map so an
      // empty/punctuation-only doc survives with n_keys = 0
      val withEmpty = Tables(s, dir, "documents").select(col("doc_id"))
        .join(maps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("m"), expr("map()").cast("map<string,bigint>")).as("m"))
      withEmpty.select(
        col("doc_id"),
        size(col("m")).cast(LongType).as("n_keys"),
        coalesce(element_at(col("m"), "the"), lit(0L)).as("the_count"),
        size(expr("map_filter(m, (k, v) -> v = 1)")).cast(LongType).as("n_singletons"),
        expr("aggregate(map_values(m), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("sum_counts"),
        coalesce(element_at(expr("transform_values(m, (k, v) -> v * 2)"), "the"),
          lit(0L)).as("doubled_the"),
        size(expr("map_filter(m, (k, v) -> length(k) >= 6)")).cast(LongType)
          .as("n_long_keys"))
    },

    // ----- exact grouped percentiles ------------------------------------
    // ANSI inverse-distribution functions: percentile_disc (the exact
    // order statistic — smallest value whose cume_dist reaches p) and
    // percentile_cont's interpolated median, grouped by returnflag,
    // against DuckDB's quantile_disc/quantile_cont. Quantities are
    // integral doubles so the one interpolated value is exactly
    // representable (a midpoint of integers) — no ulp drift. Spark
    // computes these with a single partial-aggregable pass, no window.
    Q("q78_percentiles",
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS q25,
        |  quantile_disc(l_quantity, 0.5) AS q50,
        |  quantile_disc(l_quantity, 0.75) AS q75,
        |  quantile_cont(l_quantity, 0.5) AS c50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val view = s"li_pct_${ProcessHandle.current().pid()}"
      Tables(s, dir, "lineitem").createOrReplaceTempView(view)
      s.sql(
        s"""SELECT l_returnflag,
           |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
           |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS q50,
           |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS q75,
           |  percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS c50
           |FROM $view GROUP BY l_returnflag""".stripMargin)
    },

    // ----- scalar string-function battery -------------------------------
    // The everyday ETL string surface in one gate — case, set-trim,
    // padding, substring/split_part/left/right, replace/translate,
    // position, reverse, repeat, concat_ws, and levenshtein — each
    // hash-compared against DuckDB's implementation (ASCII inputs, so
    // collation/locale can't blur the comparison).
    Q("qf04_string_funcs",
      """SELECT c_custkey,
        |  lower(c_name) AS low,
        |  trim(c_name, 'Cur') AS trimmed,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS lp,
        |  rpad(c_mktsegment, 12, '.') AS rp,
        |  substring(c_name, 10, 5) AS sub,
        |  split_part(c_name, '#', 2) AS part2,
        |  left(c_name, 4) AS l4, right(c_name, 3) AS r3,
        |  replace(c_name, 'Customer', 'Cust') AS repl,
        |  translate(c_name, '0123456789', 'abcdefghij') AS tr,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
        |  reverse(c_mktsegment) AS rev,
        |  repeat('ab', CAST(c_custkey % 3 AS INTEGER)) AS reps,
        |  concat_ws('-', c_mktsegment, c_name) AS joined,
        |  CAST(levenshtein(c_mktsegment, 'MACHINERY') AS BIGINT) AS lev
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").select(
        col("c_custkey"),
        lower(col("c_name")).as("low"),
        expr("trim(BOTH 'Cur' FROM c_name)").as("trimmed"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("lp"),
        rpad(col("c_mktsegment"), 12, ".").as("rp"),
        substring(col("c_name"), 10, 5).as("sub"),
        expr("split_part(c_name, '#', 2)").as("part2"),
        expr("left(c_name, 4)").as("l4"), expr("right(c_name, 3)").as("r3"),
        expr("replace(c_name, 'Customer', 'Cust')").as("repl"),
        translate(col("c_name"), "0123456789", "abcdefghij").as("tr"),
        instr(col("c_name"), "#").cast(LongType).as("hash_pos"),
        reverse(col("c_mktsegment")).as("rev"),
        expr("repeat('ab', CAST(c_custkey % 3 AS INT))").as("reps"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined"),
        levenshtein(col("c_mktsegment"), lit("MACHINERY")).cast(LongType).as("lev"))
    },

    // ----- scalar math-function battery (exact-IEEE only) ---------------
    // abs/ceil/floor/sign/greatest/least/mod/power-of-two/sqrt are all
    // exactly-rounded IEEE-754 operations, so both engines produce
    // bit-identical doubles; transcendentals (exp/ln/log) and ROUND's
    // tie policy are NOT cross-libm stable and are deliberately
    // excluded — the same discipline that keeps float aggregates on
    // the DECIMAL hop.
    Q("qf06_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS adisc,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS pceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS pfloor,
        |  CAST(sign(l_quantity - 25) AS BIGINT) AS sgn,
        |  greatest(l_quantity, l_discount * 100) AS gmax,
        |  least(l_quantity, l_discount * 100) AS lmin,
        |  l_orderkey % 7 AS m7,
        |  power(2.0, l_linenumber) AS p2,
        |  sqrt(l_quantity) AS sq
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("adisc"),
        ceil(col("l_extendedprice")).cast(LongType).as("pceil"),
        floor(col("l_extendedprice")).cast(LongType).as("pfloor"),
        signum(col("l_quantity") - 25).cast(LongType).as("sgn"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gmax"),
        least(col("l_quantity"), col("l_discount") * 100).as("lmin"),
        (col("l_orderkey") % 7).as("m7"),
        pow(lit(2.0), col("l_linenumber")).as("p2"),
        sqrt(col("l_quantity")).as("sq"))
    },

    // ----- scalar date/time-function battery ----------------------------
    // Calendar arithmetic both engines must agree on byte-for-byte:
    // part extraction, month truncation, last_day, month addition with
    // end-of-month clamping, day offsets and differences, day-of-week
    // (Spark is 1=Sunday, DuckDB 0=Sunday — normalized in the oracle),
    // ISO week, and strftime-style formatting.
    Q("qf05_datetime_funcs",
      """WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
        |SELECT o_orderkey,
        |  CAST(year(od) AS BIGINT) AS yr,
        |  CAST(quarter(od) AS BIGINT) AS qt,
        |  CAST(month(od) AS BIGINT) AS mo,
        |  CAST(day(od) AS BIGINT) AS dy,
        |  CAST(dayofyear(od) AS BIGINT) AS doy,
        |  CAST(dayofweek(od) + 1 AS BIGINT) AS dow,
        |  CAST(weekofyear(od) AS BIGINT) AS wk,
        |  CAST(date_trunc('month', od) AS DATE) AS mstart,
        |  last_day(od) AS mend,
        |  CAST(od + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  od + 10 AS plus10d,
        |  CAST(date_diff('day', od, DATE '1996-01-01') AS BIGINT) AS to_96,
        |  strftime(od, '%Y-%m') AS ym
        |FROM d""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
        .select(
          col("o_orderkey"),
          year(col("od")).cast(LongType).as("yr"),
          quarter(col("od")).cast(LongType).as("qt"),
          month(col("od")).cast(LongType).as("mo"),
          dayofmonth(col("od")).cast(LongType).as("dy"),
          dayofyear(col("od")).cast(LongType).as("doy"),
          dayofweek(col("od")).cast(LongType).as("dow"),
          weekofyear(col("od")).cast(LongType).as("wk"),
          date_trunc("month", col("od")).cast("date").as("mstart"),
          last_day(col("od")).as("mend"),
          add_months(col("od"), 2).as("plus2m"),
          date_add(col("od"), 10).as("plus10d"),
          datediff(lit("1996-01-01").cast("date"), col("od"))
            .cast(LongType).as("to_96"),
          date_format(col("od"), "yyyy-MM").as("ym"))
    },

    // ----- null-preserving lateral explode ------------------------------
    // explode_outer keeps the parent row (with NULL) when the array is
    // empty — the LATERAL VIEW OUTER semantics a flattening pipeline
    // needs so empty-feature documents don't silently vanish. The
    // 8-char word filter leaves a mix of matching and empty arrays, so
    // both branches are exercised; DuckDB emulates the outer explode
    // with a CASE-to-[NULL] before unnest.
    Q("qf03_explode_outer",
      s"""WITH w AS ($wCteSource),
         |x AS (SELECT doc_id, list_filter(ws, w -> length(w) >= 8) AS xs FROM w)
         |SELECT doc_id,
         |  unnest(CASE WHEN len(xs) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE xs END)
         |    AS word
         |FROM x""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode_outer(expr("filter(" + Text.wordsExpr("text") +
            ", w -> length(w) >= 8)")).as("word"))
    },

    // ----- FULL OUTER join ----------------------------------------------
    // Both sides are filtered to OVERLAPPING but distinct key subsets so
    // unmatched rows genuinely exist on BOTH sides (customers without
    // order rollups AND order rollups without a surviving customer) —
    // a plain left/right join would hash-pass without exercising the
    // full-outer null-fill. Aggregate-then-join keeps the outer join on
    // pre-shrunk inputs (the scale shape: never outer-join the raw fact).
    Q("q75_full_outer",
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0),
        |o AS (SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |      FROM orders WHERE o_custkey % 3 <> 1 GROUP BY o_custkey)
        |SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
        |  c_name, n_orders, max_price
        |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey""".stripMargin) { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_name"))
      val o = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 3 =!= 1)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"), col("max_price"))
    },

    // ----- bag set-ops: INTERSECT ALL / EXCEPT ALL ----------------------
    // q40/q41 gate the DISTINCT variants; these are the multiset
    // semantics (min-of-multiplicities / multiplicity subtraction) —
    // different operators in both engines, and the duplicate-heavy
    // nationkey columns make the bag/set difference observable.
    Q("q76_intersect_all",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT s_nationkey FROM supplier""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersectAll(
          Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    },

    Q("q77_except_all",
      """SELECT s_nationkey AS nationkey FROM supplier
        |EXCEPT ALL
        |SELECT c_nationkey FROM customer WHERE c_custkey % 50 = 0""".stripMargin) { (s, dir) =>
      Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        .exceptAll(Tables(s, dir, "customer")
          .filter(col("c_custkey") % 50 === 0)
          .select(col("c_nationkey").as("nationkey")))
    },

    // ----- exact multi-grain distinct counts in ONE pass ----------------
    // GROUPING SETS × the exact bitmap aggregate: distinct users per
    // event type, per day, AND overall in a single grouping-sets pass —
    // the custom TypedImperativeAggregate composes with Catalyst's
    // Expand exactly like a built-in, and each grain's count is EXACT
    // (q54's HLL rollup carries 2% error; qa05 showed the per-day
    // grain; this is the multi-grain report in one scan). COUNT
    // (DISTINCT) over grouping sets would expand+shuffle per grain;
    // the bitmap partials merge mid-shuffle instead.
    Q("qa11_bitmap_grouping_sets",
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq,
        |  COUNT(*) AS n_rows
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
        ev.groupingSets(
            Seq(Seq(col("event_type")), Seq(col("day")), Seq.empty),
            col("event_type"), col("day"))
          .agg(Text.bitmapCount(Text.bitmapAgg(col("user_id"))).as("uniq"),
            count(lit(1)).as("n_rows"))
    },

    // ----- exact weighted median ----------------------------------------
    // Weighted order statistic (the token-weighted quantile a corpus
    // budgeter needs): smallest value whose cumulative weight reaches
    // half the group total, decided by cross-multiplication
    // (2·cumw >= totw) so no engine divides. Scale shape: weights
    // collapse to one row per (group, value) FIRST (partial-agg
    // shuffle), and the window then runs over the value-distinct
    // table — cardinality |values|, not |rows|.
    Q("qa10_weighted_median",
      """WITH g AS (SELECT l_returnflag, l_quantity,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS w
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |c AS (SELECT l_returnflag, l_quantity, w,
        |  CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    AS BIGINT) AS cumw,
        |  CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
        |FROM g)
        |SELECT l_returnflag, MIN(l_quantity) AS wmedian,
        |  MIN(totw) AS tot_weight
        |FROM c WHERE 2 * cumw >= totw GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(sum(col("l_linenumber").cast(LongType)).as("w"))
      val byFlag = Window.partitionBy("l_returnflag")
      val c = g
        .withColumn("cumw", sum(col("w")).over(
          byFlag.orderBy("l_quantity")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("totw", sum(col("w")).over(byFlag))
      c.filter(col("cumw") * 2 >= col("totw"))
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("wmedian"),
          min(col("totw")).as("tot_weight"))
    },

    // ----- median absolute deviation (robust spread) --------------------
    // MAD = median(|x − median(x)|) per group — the robust outlier
    // scale estimate (q69's z-score flags assume a mean/stddev; MAD is
    // what a contaminated 100 TB corpus actually needs). Two grouped
    // median passes; the 3-row per-group median table broadcasts back
    // onto the fact. Quantities are integral doubles, so medians land
    // on 0.5 steps and deviation medians on 0.25 steps — all exactly
    // representable, no ulp drift against DuckDB's quantile_cont.
    Q("q79_mad",
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l.l_returnflag, abs(l.l_quantity - m.med) AS dev
        |  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag)
        |SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val view = s"li_mad_${ProcessHandle.current().pid()}"
      Tables(s, dir, "lineitem").createOrReplaceTempView(view)
      s.sql(
        s"""WITH m AS (SELECT l_returnflag,
           |    percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med
           |  FROM $view GROUP BY l_returnflag)
           |SELECT l.l_returnflag,
           |  percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(l.l_quantity - m.med)) AS mad,
           |  COUNT(*) AS n
           |FROM $view l JOIN m ON l.l_returnflag = m.l_returnflag
           |GROUP BY l.l_returnflag""".stripMargin)
    },

    // ----- per-group top-k WITHOUT a window sort ------------------------
    // The ROW_NUMBER-window idiom (the oracle) shuffles every order row
    // to its priority's partition and sorts whole groups; the
    // GroupTopK TypedImperativeAggregate keeps ≤ k pairs per group per
    // partition, so the exchange moves ≤ k·|groups| rows no matter the
    // input size — at 100 TB that's the difference between a full-fact
    // sort and a kilobyte shuffle. Same rows, proven by hashing against
    // the window formulation; partial-agg plan shape CI-locked in
    // PlanChecksSpec, partition invariance in GroupTopKSpec.
    Q("qa09_group_topk",
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |FROM orders)
        |SELECT o_orderpriority, rk, o_orderkey, o_totalprice
        |FROM r WHERE rk <= 5""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(Text.groupTopK(col("o_totalprice"), col("o_orderkey"), 5).as("topk"))
        .select(col("o_orderpriority"), posexplode(col("topk")).as(Seq("pos", "e")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast(LongType).as("rk"),
          col("e.id").as("o_orderkey"),
          col("e.value").as("o_totalprice"))
    },

    // ----- time-constrained funnel (conversion windows) -----------------
    // q55's funnel with the constraint real conversion analysis needs:
    // each stage must land WITHIN an interval of the previous one
    // (click ≤ 1 day after first view, purchase ≤ 3 days after that
    // click). Same narrowing-equi-join shape as q55 — user-keyed joins
    // + min-aggregates, no global window, no per-user collect — with
    // the window bound as a residual range predicate on the co-
    // partitioned join, which is the scale-correct place for it.
    Q("q80_windowed_funnel",
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 1 DAY
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 3 DAY
        |      GROUP BY e.user_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS viewed,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS clicked_1d,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS purchased_3d""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id")
          .filter(col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 3 DAY"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        v.agg(count(lit(1)).as("viewed"))
          .crossJoin(c.agg(count(lit(1)).as("clicked_1d")))
          .crossJoin(p.agg(count(lit(1)).as("purchased_3d")))
    },

    // ----- array-function battery (set algebra + slicing) ---------------
    // The non-lambda half of the array surface qf01 left open: sort,
    // distinct, intersect/union/except, overlap, slice, flatten,
    // position, contains, min/max, reverse — each computed row-locally
    // (no shuffle; one codegen'd projection) and serialized to a
    // space-joined string so the gate compares scalars. Ordering
    // discipline: DuckDB's list_distinct/list_intersect reorder, so
    // every set-valued result is explicitly sorted on BOTH sides;
    // DuckDB's array_to_string([]) is NULL where Spark's array_join is
    // '' — the oracle coalesces.
    Q("qf07_array_funcs",
      s"""WITH w AS ($wCteSource),
         |m AS (SELECT doc_id, ws, ws[1:6] AS a, ws[4:12] AS b FROM w)
         |SELECT doc_id,
         |  COALESCE(array_to_string(list_sort(a), ' '), '') AS sorted_a,
         |  COALESCE(array_to_string(list_sort(list_distinct(a)), ' '), '') AS distinct_a,
         |  COALESCE(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ' '), '') AS inter_ab,
         |  COALESCE(array_to_string(list_sort(list_distinct(a || b)), ' '), '') AS union_ab,
         |  COALESCE(array_to_string(list_sort(list_distinct(
         |    list_filter(a, x -> NOT list_contains(b, x)))), ' '), '') AS except_ab,
         |  len(list_intersect(a, b)) > 0 AS overlap_ab,
         |  COALESCE(array_to_string(flatten([a, b]), ' '), '') AS flat_ab,
         |  COALESCE(array_to_string(list_reverse(a), ' '), '') AS rev_a,
         |  CAST(list_position(ws, 'the') AS BIGINT) AS pos_the,
         |  list_contains(ws, 'the') AS has_the,
         |  CAST(len(a) AS BIGINT) AS len_a,
         |  list_min(a) AS min_a,
         |  list_max(a) AS max_a
         |FROM m""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("ws", expr(Text.wordsExpr("text")))
        .withColumn("a", expr("slice(ws, 1, 6)"))
        .withColumn("b", expr("slice(ws, 4, 9)"))
        .select(
          col("doc_id"),
          array_join(array_sort(col("a")), " ").as("sorted_a"),
          array_join(array_sort(array_distinct(col("a"))), " ").as("distinct_a"),
          array_join(array_sort(array_intersect(col("a"), col("b"))), " ").as("inter_ab"),
          array_join(array_sort(array_union(col("a"), col("b"))), " ").as("union_ab"),
          array_join(array_sort(array_except(col("a"), col("b"))), " ").as("except_ab"),
          arrays_overlap(col("a"), col("b")).as("overlap_ab"),
          array_join(flatten(array(col("a"), col("b"))), " ").as("flat_ab"),
          array_join(reverse(col("a")), " ").as("rev_a"),
          array_position(col("ws"), "the").as("pos_the"),
          array_contains(col("ws"), "the").as("has_the"),
          size(col("a")).cast(LongType).as("len_a"),
          array_min(col("a")).as("min_a"),
          array_max(col("a")).as("max_a"))
    },

    // ----- bitwise + null-conditional battery ---------------------------
    // The remaining scalar surface qf04–qf06 left open: bitwise
    // AND/OR/XOR/shifts/popcount (hash bucketing, bitmap flags, feature
    // packing all live on these) and the null-conditional forms
    // (ifnull/nullif composition, inline if, greatest/least across
    // expressions — both engines skip NULLs). All row-local, one
    // codegen'd projection, hash-compared against DuckDB bit for bit.
    Q("qf08_bitwise_conditional",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey & l_partkey AS BIGINT) AS band,
        |  CAST(l_orderkey | l_linenumber AS BIGINT) AS bor,
        |  CAST(xor(l_orderkey, l_suppkey) AS BIGINT) AS bxor,
        |  CAST(l_linenumber << 3 AS BIGINT) AS shl,
        |  CAST(l_orderkey >> 2 AS BIGINT) AS shr,
        |  CAST(bit_count(l_orderkey) AS BIGINT) AS bcnt,
        |  ifnull(nullif(l_returnflag, 'N'), 'none') AS cond_flag,
        |  if(l_quantity > 25, 'hi', 'lo') AS qband,
        |  CAST(greatest(l_orderkey % 97, l_partkey % 97, l_suppkey % 97) AS BIGINT) AS g3,
        |  CAST(least(l_orderkey % 97, l_partkey % 97, l_suppkey % 97) AS BIGINT) AS l3
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_orderkey").bitwiseAND(col("l_partkey")).cast(LongType).as("band"),
        col("l_orderkey").bitwiseOR(col("l_linenumber")).cast(LongType).as("bor"),
        col("l_orderkey").bitwiseXOR(col("l_suppkey")).cast(LongType).as("bxor"),
        shiftleft(col("l_linenumber"), 3).cast(LongType).as("shl"),
        shiftright(col("l_orderkey"), 2).cast(LongType).as("shr"),
        bit_count(col("l_orderkey")).cast(LongType).as("bcnt"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("cond_flag"),
        when(col("l_quantity") > 25, "hi").otherwise("lo").as("qband"),
        greatest(col("l_orderkey") % 97, col("l_partkey") % 97,
          col("l_suppkey") % 97).cast(LongType).as("g3"),
        least(col("l_orderkey") % 97, col("l_partkey") % 97,
          col("l_suppkey") % 97).cast(LongType).as("l3"))
    },

    // ----- sketch-algebra set intersection ---------------------------------
    // q54 proved the persisted-sketch UNION answers any date range
    // without a rescan; this is the other half of the algebra: the
    // OVERLAP of two audiences from the same per-segment sketches via
    // inclusion-exclusion (est A + est B − est A∪B, the union being a
    // register-wise sketch merge — no raw data touched). At 100 TB
    // the per-segment sketches are KBs and any pairwise overlap
    // matrix costs |segments|² merges, not a corpus self-join. The
    // verdict bands the estimate against 10% of the exact UNION size
    // (inclusion-exclusion error scales with the union, not the
    // intersection); the exact arm rides the same gate row, so the
    // oracle pins both the true intersection and the verdict.
    Q("qa12_sketch_intersect",
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |        COUNT(*) AS inter
        |      FROM d x JOIN d y ON x.user_id = y.user_id
        |        AND x.event_type < y.event_type
        |      GROUP BY 1, 2),
        |t AS (SELECT DISTINCT event_type FROM d)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(COALESCE(i.inter, 0) AS BIGINT) AS exact_intersect,
        |  TRUE AS within_band
        |FROM t a JOIN t b ON a.event_type < b.event_type
        |LEFT JOIN i ON i.type_a = a.event_type
        |  AND i.type_b = b.event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events").createOrReplaceTempView("graft_qa12_events")
      s.sql(
        """WITH d AS (SELECT DISTINCT event_type, user_id
          |           FROM graft_qa12_events),
          |sk AS (SELECT event_type, hll_sketch_agg(user_id) AS sk,
          |         COUNT(*) AS n FROM d GROUP BY 1),
          |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |        hll_sketch_estimate(a.sk) + hll_sketch_estimate(b.sk)
          |          - hll_sketch_estimate(hll_union(a.sk, b.sk)) AS est,
          |        a.n AS na, b.n AS nb
          |      FROM sk a JOIN sk b ON a.event_type < b.event_type),
          |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
          |        COUNT(*) AS inter
          |      FROM d x JOIN d y ON x.user_id = y.user_id
          |        AND x.event_type < y.event_type
          |      GROUP BY 1, 2)
          |SELECT p.type_a, p.type_b,
          |  CAST(COALESCE(i.inter, 0) AS BIGINT) AS exact_intersect,
          |  (abs(p.est - COALESCE(i.inter, 0)) <=
          |    0.10 * (p.na + p.nb - COALESCE(i.inter, 0))) AS within_band
          |FROM p LEFT JOIN i ON p.type_a = i.type_a
          |  AND p.type_b = i.type_b""".stripMargin)
    }
  )
}
