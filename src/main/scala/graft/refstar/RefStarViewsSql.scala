package graft.refstar

/** View SQL for the 7 analytical views: the DuckDB oracle text and the
  * Spark catalog bodies.
  *
  * The oracle text is the reference's ORIGINAL view bodies
  * (rahil/create_views.py:145-497) over the RefStarSql star prefix,
  * with the repo's cross-engine exactness rewrites applied on top:
  *
  *  - double SUM/AVG through DECIMAL(25,6) (graft.functions.Exact)
  *  - computed integers CAST AS BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
  *  - ROUND through decimal, not double, rounding
  *
  * Spark's catalog (RefStarRunner.AnalyticalViews) parses the same text
  * for qv01, qv02 and qv04. qv03, qv05, qv06 and qv07 have Spark
  * instances (`*Spark`): qv03's is the equi-branch rewrite of the
  * reference's naive 4-clause OR-IS-NULL fact join, which its oracle
  * keeps verbatim, so the gate proves the rewrite semantics-preserving;
  * qv05-qv07's are the oracle body over the sales fact restricted to
  * its `SaleYear` partitions, so the scan prunes the years the view's
  * `YEAR IN (2013, 2014)` discards.
  */
object RefStarViewsSql {

  // The decimal → double hop goes THROUGH VARCHAR (see Exact.dsumSql):
  // DuckDB's direct CAST(DECIMAL AS DOUBLE) is up to 1 ulp off past
  // 2^53 quantums, while the string route is correctly rounded in both
  // engines and bit-matches Spark's BigDecimal.doubleValue.
  private def ds(x: String): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(25,6))) AS STRING) AS DOUBLE)"

  /** Window total of per-group decimal sums, as double. */
  private def wds(x: String, part: String): String =
    s"CAST(CAST(SUM(SUM(CAST($x AS DECIMAL(25,6)))) OVER (PARTITION BY $part) AS STRING) AS DOUBLE)"

  val salesPerformanceSummary: String =
    s"""SELECT p.ProductName, p.ProductCategory, p.ProductType,
       |  p.ProductRetailPrice, p.ProductCost, p.ProductProfitMarginUnitPercent,
       |  d.YEAR, d.QUARTER, d.MONTH_NAME, d.YEARMONTH,
       |  COUNT(DISTINCT fs.SalesHeaderID) AS TransactionCount,
       |  CAST(SUM(fs.SaleQuantity) AS BIGINT) AS TotalQuantitySold,
       |  ${ds("fs.SaleAmount")} AS TotalSalesAmount,
       |  ${ds("fs.SaleTotalProfit")} AS TotalProfit,
       |  ${ds("fs.SaleUnitPrice")} / COUNT(*) AS AvgUnitPrice,
       |  ${ds("fs.SaleAmount")} / NULLIF(CAST(SUM(fs.SaleQuantity) AS BIGINT), 0)
       |    AS AvgSalePerUnit,
       |  ${ds("fs.SaleTotalProfit")} / NULLIF(${ds("fs.SaleAmount")}, 0) * 100
       |    AS ProfitMarginPercent
       |FROM fact_salesactual fs
       |JOIN dim_product p ON fs.DimProductID = p.DimProductID
       |JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |GROUP BY p.ProductName, p.ProductCategory, p.ProductType,
       |  p.ProductRetailPrice, p.ProductCost, p.ProductProfitMarginUnitPercent,
       |  d.YEAR, d.QUARTER, d.MONTH_NAME, d.YEARMONTH""".stripMargin

  val customerSalesAnalysis: String =
    s"""SELECT c.CustomerGender, l.State_Province, l.Country,
       |  ch.ChannelName, ch.ChannelCategory, d.YEAR, d.QUARTER,
       |  COUNT(DISTINCT c.DimCustomerID) AS UniqueCustomers,
       |  COUNT(DISTINCT fs.SalesHeaderID) AS TotalTransactions,
       |  ${ds("fs.SaleAmount")} AS TotalSalesAmount,
       |  CAST(SUM(fs.SaleQuantity) AS BIGINT) AS TotalQuantity,
       |  ${ds("fs.SaleTotalProfit")} AS TotalProfit,
       |  ${ds("fs.SaleAmount")} / COUNT(*) AS AvgTransactionAmount,
       |  ${ds("fs.SaleAmount")} / NULLIF(COUNT(DISTINCT c.DimCustomerID), 0)
       |    AS SalesPerCustomer,
       |  ${ds("fs.SaleTotalProfit")} / NULLIF(COUNT(DISTINCT c.DimCustomerID), 0)
       |    AS ProfitPerCustomer
       |FROM fact_salesactual fs
       |JOIN dim_customer c ON fs.DimCustomerID = c.DimCustomerID
       |JOIN dim_location l ON c.DimLocationID = l.DimLocationID
       |JOIN dim_channel ch ON fs.DimChannelID = ch.DimChannelID
       |JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |GROUP BY c.CustomerGender, l.State_Province, l.Country,
       |  ch.ChannelName, ch.ChannelCategory, d.YEAR, d.QUARTER""".stripMargin

  val targetVsActual: String = {
    val inYQ = "d.YEAR = td.YEAR AND d.QUARTER = td.QUARTER"
    val actualQty =
      s"CAST(SUM(CASE WHEN $inYQ THEN fs.SaleQuantity ELSE 0 END) AS BIGINT)"
    val actualAmt = ds(s"CASE WHEN $inYQ THEN fs.SaleAmount ELSE 0 END")
    val prodTarget = "CAST(SUM(fps.ProductTargetSalesQuantity) AS BIGINT)"
    val srcTarget = ds("fst.SalesTargetAmount")
    s"""SELECT p.ProductName, p.ProductCategory, s.StoreName,
       |  sl.State_Province AS StoreState, sl.Country AS StoreCountry,
       |  r.ResellerName, rl.State_Province AS ResellerState, c.ChannelName,
       |  td.YEAR AS TargetYear, td.QUARTER AS TargetQuarter,
       |  td.MONTH_NAME AS TargetMonth,
       |  $prodTarget AS ProductSalesTarget,
       |  $srcTarget AS SRCSalesTarget,
       |  $actualQty AS ActualQuantitySold,
       |  $actualAmt AS ActualSalesAmount,
       |  ${ds(s"CASE WHEN $inYQ THEN fs.SaleTotalProfit ELSE 0 END")} AS ActualProfit,
       |  CASE WHEN $prodTarget > 0
       |       THEN $actualQty / $prodTarget * 100 ELSE 0 END
       |    AS QuantityTargetAchievementPercent,
       |  CASE WHEN $srcTarget > 0
       |       THEN $actualAmt / $srcTarget * 100 ELSE 0 END
       |    AS SalesTargetAchievementPercent
       |FROM dim_date td
       |LEFT JOIN fact_productsalestarget fps ON td.DATE_PKEY = fps.DimTargetDateID
       |LEFT JOIN fact_srcsalestarget fst ON td.DATE_PKEY = fst.DimTargetDateID
       |LEFT JOIN dim_product p ON fps.DimProductID = p.DimProductID
       |LEFT JOIN dim_store s ON fst.DimStoreID = s.DimStoreID
       |LEFT JOIN dim_location sl ON s.DimLocationID = sl.DimLocationID
       |LEFT JOIN dim_reseller r ON fst.DimResellerID = r.DimResellerID
       |LEFT JOIN dim_location rl ON r.DimLocationID = rl.DimLocationID
       |LEFT JOIN dim_channel c ON fst.DimChannelID = c.DimChannelID
       |LEFT JOIN fact_salesactual fs ON (
       |  (fps.DimProductID = fs.DimProductID OR fps.DimProductID IS NULL) AND
       |  (fst.DimStoreID = fs.DimStoreID OR fst.DimStoreID IS NULL) AND
       |  (fst.DimResellerID = fs.DimResellerID OR fst.DimResellerID IS NULL) AND
       |  (fst.DimChannelID = fs.DimChannelID OR fst.DimChannelID IS NULL))
       |LEFT JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |WHERE td.YEAR >= 2013 AND td.DAY_NUM_IN_MONTH = 1
       |GROUP BY p.ProductName, p.ProductCategory, s.StoreName, sl.State_Province,
       |  sl.Country, r.ResellerName, rl.State_Province, c.ChannelName,
       |  td.YEAR, td.QUARTER, td.MONTH_NAME
       |HAVING SUM(fps.ProductTargetSalesQuantity) > 0
       |    OR SUM(fst.SalesTargetAmount) > 0""".stripMargin
  }

  /** Spark body for the qv03 catalog view. The naive OR-IS-NULL shape
    * above would plan as a BroadcastNestedLoopJoin (the spine's NULL
    * keys match every fact row), so it is re-planned as a union of
    * three equi-join branches, split by the spine's key null-pattern
    * (fps and fst present / fps only / fst only): within a branch the
    * IS-NULL disjuncts are constant, so the condition collapses to pure
    * equi-keys. Spine rows where BOTH target facts are absent are
    * dropped up front: their groups have SUM(target) = NULL on both
    * sides, so the view's own HAVING discards them, and their group
    * keys (all dim names NULL) cannot collide with any branch row's,
    * since dim names are COALESCE'd non-null.
    *
    * At scale the spine is bounded by the entity-sized target facts,
    * not by sales volume, so building it once per branch is bounded
    * work; Spark's exchange reuse builds each of its broadcasts once
    * and the other branches read them back (PlanChecksSpec). Branches
    * with an empty slice collapse via AQE empty-relation propagation,
    * so the data decides how many fact passes run.
    */
  val targetVsActualSpark: String = {
    val inYQ = "d_year = TargetYear AND d_qtr = TargetQuarter"
    val prodTarget = "CAST(SUM(fps_qty) AS BIGINT)"
    val srcTarget = ds("fst_amt")
    val actualQty =
      s"CAST(SUM(CASE WHEN $inYQ THEN SaleQuantity ELSE 0 END) AS BIGINT)"
    val actualAmt = ds(s"CASE WHEN $inYQ THEN SaleAmount ELSE 0 END")
    val fsCols = "fs.DimSaleDateID, fs.SaleQuantity, fs.SaleAmount, " +
      "fs.SaleTotalProfit"
    s"""WITH td AS (
       |  SELECT DATE_PKEY AS td_key, YEAR AS TargetYear,
       |    QUARTER AS TargetQuarter, MONTH_NAME AS TargetMonth
       |  FROM dim_date WHERE YEAR >= 2013 AND DAY_NUM_IN_MONTH = 1),
       |spine AS (
       |  SELECT td.TargetYear, td.TargetQuarter, td.TargetMonth,
       |    fps.DimProductID AS fps_pid, fps.ProductTargetSalesQuantity AS fps_qty,
       |    fst.DimStoreID AS fst_sid, fst.DimResellerID AS fst_rid,
       |    fst.DimChannelID AS fst_chid, fst.SalesTargetAmount AS fst_amt,
       |    p.ProductName, p.ProductCategory, s.StoreName,
       |    sl.State_Province AS StoreState, sl.Country AS StoreCountry,
       |    r.ResellerName, rl.State_Province AS ResellerState, c.ChannelName,
       |    fps.DimProductID IS NOT NULL AS has_fps,
       |    fst.DimStoreID IS NOT NULL AS has_fst
       |  FROM td
       |  LEFT JOIN fact_productsalestarget fps ON td.td_key = fps.DimTargetDateID
       |  LEFT JOIN fact_srcsalestarget fst ON td.td_key = fst.DimTargetDateID
       |  LEFT JOIN dim_product p ON fps.DimProductID = p.DimProductID
       |  LEFT JOIN dim_store s ON fst.DimStoreID = s.DimStoreID
       |  LEFT JOIN dim_location sl ON s.DimLocationID = sl.DimLocationID
       |  LEFT JOIN dim_reseller r ON fst.DimResellerID = r.DimResellerID
       |  LEFT JOIN dim_location rl ON r.DimLocationID = rl.DimLocationID
       |  LEFT JOIN dim_channel c ON fst.DimChannelID = c.DimChannelID
       |  WHERE fps.DimProductID IS NOT NULL OR fst.DimStoreID IS NOT NULL),
       |joined AS (
       |  SELECT sp.*, $fsCols
       |  FROM spine sp LEFT JOIN fact_salesactual fs
       |    ON sp.fps_pid = fs.DimProductID AND sp.fst_sid = fs.DimStoreID
       |   AND sp.fst_rid = fs.DimResellerID AND sp.fst_chid = fs.DimChannelID
       |  WHERE sp.has_fps AND sp.has_fst
       |  UNION ALL
       |  SELECT sp.*, $fsCols
       |  FROM spine sp LEFT JOIN fact_salesactual fs
       |    ON sp.fps_pid = fs.DimProductID
       |  WHERE sp.has_fps AND NOT sp.has_fst
       |  UNION ALL
       |  SELECT sp.*, $fsCols
       |  FROM spine sp LEFT JOIN fact_salesactual fs
       |    ON sp.fst_sid = fs.DimStoreID AND sp.fst_rid = fs.DimResellerID
       |   AND sp.fst_chid = fs.DimChannelID
       |  WHERE NOT sp.has_fps AND sp.has_fst),
       |wd AS (
       |  SELECT j.*, d.YEAR AS d_year, d.QUARTER AS d_qtr
       |  FROM joined j LEFT JOIN dim_date d ON j.DimSaleDateID = d.DATE_PKEY)
       |SELECT ProductName, ProductCategory, StoreName, StoreState, StoreCountry,
       |  ResellerName, ResellerState, ChannelName,
       |  TargetYear, TargetQuarter, TargetMonth,
       |  $prodTarget AS ProductSalesTarget,
       |  $srcTarget AS SRCSalesTarget,
       |  $actualQty AS ActualQuantitySold,
       |  $actualAmt AS ActualSalesAmount,
       |  ${ds(s"CASE WHEN $inYQ THEN SaleTotalProfit ELSE 0 END")} AS ActualProfit,
       |  CASE WHEN $prodTarget > 0
       |       THEN $actualQty / $prodTarget * 100 ELSE 0 END
       |    AS QuantityTargetAchievementPercent,
       |  CASE WHEN $srcTarget > 0
       |       THEN $actualAmt / $srcTarget * 100 ELSE 0 END
       |    AS SalesTargetAchievementPercent
       |FROM wd
       |GROUP BY ProductName, ProductCategory, StoreName, StoreState,
       |  StoreCountry, ResellerName, ResellerState, ChannelName,
       |  TargetYear, TargetQuarter, TargetMonth
       |HAVING $prodTarget > 0 OR $srcTarget > 0""".stripMargin
  }

  val store58Performance: String = {
    val margin = s"${ds("fs.SaleTotalProfit")} / NULLIF(${ds("fs.SaleAmount")}, 0) * 100"
    s"""SELECT s.StoreNumber, s.StoreName, sl.State_Province AS StoreState,
       |  d.YEAR, d.QUARTER, d.MONTH_NAME,
       |  COUNT(DISTINCT fs.SalesHeaderID) AS TransactionCount,
       |  CAST(SUM(fs.SaleQuantity) AS BIGINT) AS TotalQuantitySold,
       |  ${ds("fs.SaleAmount")} AS TotalSalesAmount,
       |  ${ds("fs.SaleTotalProfit")} AS TotalProfit,
       |  ${ds("fs.SaleAmount")} / COUNT(*) AS AvgTransactionAmount,
       |  $margin AS ProfitMarginPercent,
       |  ${ds("fs.SaleAmount")} / COUNT(DISTINCT d.MONTH_NUM_IN_YEAR)
       |    AS AvgMonthlySales,
       |  ${ds("fs.SaleTotalProfit")} / COUNT(DISTINCT d.MONTH_NUM_IN_YEAR)
       |    AS AvgMonthlyProfit,
       |  CASE WHEN $margin > 40 THEN 'High Profit'
       |       WHEN $margin > 25 THEN 'Medium Profit'
       |       ELSE 'Low Profit' END AS ProfitCategory,
       |  CASE WHEN ${ds("fs.SaleAmount")} > 50000000 THEN 'High Revenue'
       |       WHEN ${ds("fs.SaleAmount")} > 25000000 THEN 'Medium Revenue'
       |       ELSE 'Low Revenue' END AS RevenueCategory
       |FROM fact_salesactual fs
       |JOIN dim_store s ON fs.DimStoreID = s.DimStoreID
       |JOIN dim_location sl ON s.DimLocationID = sl.DimLocationID
       |JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |WHERE s.StoreNumber IN ('5', '8')
       |GROUP BY s.StoreNumber, s.StoreName, sl.State_Province,
       |  d.YEAR, d.QUARTER, d.MONTH_NAME""".stripMargin
  }

  /** The sales fact restricted to the years qv05-qv07 keep: `YEAR` on
    * dim_date equals the fact's `SaleYear` partition (both derive from
    * the same yyyyMMdd key), so the restriction prunes every other
    * year's files at listing time (PlanChecksSpec asserts the
    * PartitionFilters) and leaves the view's rows unchanged.
    */
  private val factSales2013to2014 =
    "(SELECT * FROM fact_salesactual WHERE SaleYear IN (2013, 2014))"

  val storeBonusRecommendation: String = storeBonusRecommendationOver("fact_salesactual")
  val storeBonusRecommendationSpark: String = storeBonusRecommendationOver(factSales2013to2014)

  private def storeBonusRecommendationOver(fact: String): String = {
    val part = "d.YEAR, p.ProductType"
    val salesShare = s"${ds("fs.SaleAmount")} / ${wds("fs.SaleAmount", part)}"
    val profitShare = s"${ds("fs.SaleTotalProfit")} / ${wds("fs.SaleTotalProfit", part)}"
    def bonus(pool: Int): String =
      s"""CAST(CAST(ROUND(CAST($pool * ($salesShare) * 0.5 +
         |  $pool * ($profitShare) * 0.5 AS DECIMAL(25,6)), 2) AS STRING) AS DOUBLE)""".stripMargin
    s"""SELECT s.StoreNumber, s.StoreName, sl.State_Province AS StoreState,
       |  d.YEAR, p.ProductType,
       |  ${ds("fs.SaleAmount")} AS TotalSalesAmount,
       |  ${ds("fs.SaleTotalProfit")} AS TotalProfit,
       |  CAST(SUM(fs.SaleQuantity) AS BIGINT) AS TotalQuantity,
       |  COUNT(DISTINCT fs.SalesHeaderID) AS TransactionCount,
       |  ${ds("fs.SaleTotalProfit")} / NULLIF(${ds("fs.SaleAmount")}, 0) * 100
       |    AS ProfitMarginPercent,
       |  ${ds("fs.SaleAmount")} / COUNT(DISTINCT fs.SalesHeaderID)
       |    AS AvgTransactionValue,
       |  CAST(RANK() OVER (PARTITION BY $part
       |    ORDER BY ${ds("fs.SaleAmount")} DESC) AS BIGINT) AS SalesRank,
       |  CAST(RANK() OVER (PARTITION BY $part
       |    ORDER BY ${ds("fs.SaleTotalProfit")} DESC) AS BIGINT) AS ProfitRank,
       |  $salesShare * 100 AS SalesSharePercent,
       |  $profitShare * 100 AS ProfitSharePercent,
       |  CASE d.YEAR WHEN 2013 THEN ${bonus(500000)}
       |              WHEN 2014 THEN ${bonus(400000)}
       |              ELSE 0 END AS RecommendedBonus
       |FROM $fact fs
       |JOIN dim_store s ON fs.DimStoreID = s.DimStoreID
       |JOIN dim_location sl ON s.DimLocationID = sl.DimLocationID
       |JOIN dim_product p ON fs.DimProductID = p.DimProductID
       |JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |WHERE p.ProductType IN ('Men''s Casual', 'Women''s Casual')
       |  AND d.YEAR IN (2013, 2014)
       |  AND s.StoreNumber IS NOT NULL AND s.StoreNumber != 'Unknown'
       |GROUP BY s.StoreNumber, s.StoreName, sl.State_Province,
       |  d.YEAR, p.ProductType""".stripMargin
  }

  val store58DayOfWeek: String = store58DayOfWeekOver("fact_salesactual")
  val store58DayOfWeekSpark: String = store58DayOfWeekOver(factSales2013to2014)

  private def store58DayOfWeekOver(fact: String): String = {
    val part = "s.StoreNumber, d.YEAR"
    val avgDaily = s"${wds("fs.SaleAmount", part)} / COUNT(*) OVER (PARTITION BY $part)"
    s"""SELECT s.StoreNumber, s.StoreName, d.DAY_NAME, d.DAY_NUM_IN_WEEK,
       |  d.WEEKDAY_IND, d.YEAR,
       |  COUNT(DISTINCT fs.SalesHeaderID) AS TransactionCount,
       |  ${ds("fs.SaleAmount")} AS TotalSalesAmount,
       |  ${ds("fs.SaleTotalProfit")} AS TotalProfit,
       |  CAST(SUM(fs.SaleQuantity) AS BIGINT) AS TotalQuantity,
       |  ${ds("fs.SaleAmount")} / COUNT(*) AS AvgTransactionAmount,
       |  ${ds("fs.SaleAmount")} / ${wds("fs.SaleAmount", part)} * 100
       |    AS DaySharePercent,
       |  $avgDaily AS AvgDailySales,
       |  ${ds("fs.SaleAmount")} / ($avgDaily) * 100 AS DayVsAvgPercent,
       |  CAST(RANK() OVER (PARTITION BY $part
       |    ORDER BY ${ds("fs.SaleAmount")} DESC) AS BIGINT) AS DaySalesRank,
       |  CASE WHEN d.DAY_NAME IN ('Saturday', 'Sunday') THEN 'Weekend'
       |       ELSE 'Weekday' END AS DayType,
       |  CAST(CASE d.DAY_NAME
       |    WHEN 'Monday' THEN 1 WHEN 'Tuesday' THEN 2 WHEN 'Wednesday' THEN 3
       |    WHEN 'Thursday' THEN 4 WHEN 'Friday' THEN 5 WHEN 'Saturday' THEN 6
       |    WHEN 'Sunday' THEN 7 END AS BIGINT) AS DayOrder
       |FROM $fact fs
       |JOIN dim_store s ON fs.DimStoreID = s.DimStoreID
       |JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |WHERE s.StoreNumber IN ('5', '8') AND d.YEAR IN (2013, 2014)
       |GROUP BY s.StoreNumber, s.StoreName, d.DAY_NAME, d.DAY_NUM_IN_WEEK,
       |  d.WEEKDAY_IND, d.YEAR""".stripMargin
  }

  val multiStoreVsSingleStore: String = multiStoreVsSingleStoreOver("fact_salesactual")
  val multiStoreVsSingleStoreSpark: String = multiStoreVsSingleStoreOver(factSales2013to2014)

  private def multiStoreVsSingleStoreOver(fact: String): String = {
    def configAvg(config: String, metric: String): String =
      s"""CAST(CAST(SUM(CAST(CASE WHEN StoreConfiguration = '$config'
         |    THEN $metric END AS DECIMAL(25,6))) OVER (PARTITION BY YEAR) AS STRING) AS DOUBLE)
         |  / COUNT(CASE WHEN StoreConfiguration = '$config'
         |    THEN $metric END) OVER (PARTITION BY YEAR)""".stripMargin
    val multiAvgSales = configAvg("Multi-Store State", "AvgSalesPerStore")
    val singleAvgSales = configAvg("Single-Store State", "AvgSalesPerStore")
    s"""WITH store_count_by_state AS (
       |  SELECT l.State_Province,
       |    COUNT(DISTINCT s.DimStoreID) AS StoreCount,
       |    CASE WHEN COUNT(DISTINCT s.DimStoreID) > 1 THEN 'Multi-Store State'
       |         ELSE 'Single-Store State' END AS StoreConfiguration
       |  FROM dim_store s
       |  JOIN dim_location l ON s.DimLocationID = l.DimLocationID
       |  WHERE s.StoreNumber IS NOT NULL AND s.StoreNumber != 'Unknown'
       |  GROUP BY l.State_Province),
       |state_performance AS (
       |  SELECT l.State_Province, scs.StoreConfiguration, scs.StoreCount, d.YEAR,
       |    COUNT(DISTINCT s.DimStoreID) AS ActiveStores,
       |    ${ds("fs.SaleAmount")} AS TotalSalesAmount,
       |    ${ds("fs.SaleTotalProfit")} AS TotalProfit,
       |    CAST(SUM(fs.SaleQuantity) AS BIGINT) AS TotalQuantity,
       |    COUNT(DISTINCT fs.SalesHeaderID) AS TotalTransactions,
       |    ${ds("fs.SaleAmount")} / COUNT(DISTINCT s.DimStoreID) AS AvgSalesPerStore,
       |    ${ds("fs.SaleTotalProfit")} / COUNT(DISTINCT s.DimStoreID)
       |      AS AvgProfitPerStore,
       |    COUNT(DISTINCT fs.SalesHeaderID) / COUNT(DISTINCT s.DimStoreID)
       |      AS AvgTransactionsPerStore,
       |    ${ds("fs.SaleTotalProfit")} / NULLIF(${ds("fs.SaleAmount")}, 0) * 100
       |      AS ProfitMarginPercent,
       |    ${ds("fs.SaleAmount")} / NULLIF(COUNT(DISTINCT fs.SalesHeaderID), 0)
       |      AS AvgTransactionValue
       |  FROM $fact fs
       |  JOIN dim_store s ON fs.DimStoreID = s.DimStoreID
       |  JOIN dim_location l ON s.DimLocationID = l.DimLocationID
       |  JOIN dim_date d ON fs.DimSaleDateID = d.DATE_PKEY
       |  JOIN store_count_by_state scs ON l.State_Province = scs.State_Province
       |  WHERE s.StoreNumber IS NOT NULL AND s.StoreNumber != 'Unknown'
       |    AND d.YEAR IN (2013, 2014)
       |  GROUP BY l.State_Province, scs.StoreConfiguration, scs.StoreCount, d.YEAR)
       |SELECT sp.*,
       |  $multiAvgSales AS MultiStoreAvgSales,
       |  $singleAvgSales AS SingleStoreAvgSales,
       |  ${configAvg("Multi-Store State", "AvgProfitPerStore")} AS MultiStoreAvgProfit,
       |  ${configAvg("Single-Store State", "AvgProfitPerStore")} AS SingleStoreAvgProfit,
       |  CASE StoreConfiguration
       |    WHEN 'Multi-Store State' THEN AvgSalesPerStore / ($multiAvgSales) * 100
       |    ELSE AvgSalesPerStore / ($singleAvgSales) * 100
       |  END AS SalesVsConfigAvgPercent
       |FROM state_performance sp""".stripMargin
  }
}
