package graft.refstar

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.etl.{DateDim, SurrogateKeys}

/** The reference-entity star, end to end: 12 staging CSVs → 7 dimensions
  * → 3 facts, at reference shape.
  *
  *  - Dim_Location: 3-way UNION-distinct over customer/store/reseller
  *    addresses (rahil/load_dimension_tables.py:76-115)
  *  - Dim_Customer/Reseller/Store: 5-column COALESCE/CAST composite
  *    location lookup with unknown fallback (:158-163)
  *  - Dim_Product: product→type→category chain + margin calc (:241-258)
  *  - Dim_Date: the 34-attribute calendar (graft.etl.DateDim renamed to
  *    the reference's column spelling, rahil/create_views.py:62-72)
  *  - Facts: salesheader ⋈ salesdetail with five dim lookups and
  *    yyyyMMdd date-key semantics; targets resolve names to dims with
  *    unknown fallback (rahil/create_views.py:77-98 column contract).
  *
  * Scale posture: dimensions here are genuinely bounded (entity tables),
  * so fact-side lookups are left unhinted — AQE broadcasts them while
  * small. The only structural shuffle is salesheader ⋈ salesdetail,
  * which co-partitions on the header key. Surrogate keys use the
  * dims-only single-partition row_number (see SurrogateKeys scaladoc);
  * facts carry natural keys.
  *
  * Staging rows: the dimension and target-fact recipes read each staging
  * entity through their `stage` argument. It defaults to the CSV itself
  * (`Staging.load`); `Warehouse.build` passes the persisted staging
  * parquet instead, so a rebuild parses every CSV exactly once.
  */
object RefStar {

  private def unk(c: Column): Column = coalesce(c, lit("Unknown"))

  // ----- dimensions ---------------------------------------------------------

  /** Address rows of one staging entity, normalized exactly like the
    * reference's Dim_Location insert (COALESCE to 'Unknown', rows with
    * NULL address/city/country dropped).
    */
  private def locationRows(df: DataFrame): DataFrame =
    df.filter(col("ADDRESS").isNotNull && col("CITY").isNotNull &&
        col("COUNTRY").isNotNull)
      .select(
        unk(col("ADDRESS")).as("Address"),
        unk(col("CITY")).as("City"),
        unk(col("POSTALCODE").cast(StringType)).as("PostalCode"),
        unk(col("STATEPROVINCE")).as("State_Province"),
        unk(col("COUNTRY")).as("Country"))

  val LocationCols = Seq("Address", "City", "PostalCode", "State_Province", "Country")

  def dimLocation(spark: SparkSession,
      stage: Staging.Source = Staging.load): DataFrame = {
    val base = locationRows(stage(spark, "customer"))
      .union(locationRows(stage(spark, "store")))
      .union(locationRows(stage(spark, "reseller")))
      .distinct()
    SurrogateKeys.withUnknownMemberOrdered(spark, base, "DimLocationID",
      LocationCols, unknown = LocationCols.map(_ -> "Unknown").toMap)
  }

  /** The reference's 5-column expression-composite location lookup:
    * COALESCE-normalized equality on all of address/city/postal/state/
    * country, left join, unknown (key 1) fallback. Appends a
    * `DimLocationID` column to `df`.
    */
  def withLocationKey(df: DataFrame, dimLoc: DataFrame): DataFrame = {
    val l = dimLoc.select(
      col("DimLocationID").as("__loc_key"),
      col("Address").as("__l_addr"), col("City").as("__l_city"),
      col("PostalCode").as("__l_postal"), col("State_Province").as("__l_state"),
      col("Country").as("__l_country"))
    df.join(l,
        unk(col("ADDRESS")) === col("__l_addr") &&
        unk(col("CITY")) === col("__l_city") &&
        unk(col("POSTALCODE").cast(StringType)) === col("__l_postal") &&
        unk(col("STATEPROVINCE")) === col("__l_state") &&
        unk(col("COUNTRY")) === col("__l_country"), "left")
      .withColumn("DimLocationID", coalesce(col("__loc_key"), lit(1L)))
      .drop("__loc_key", "__l_addr", "__l_city", "__l_postal", "__l_state", "__l_country")
  }

  def dimChannel(spark: SparkSession,
      stage: Staging.Source = Staging.load): DataFrame = {
    val base = stage(spark, "channel")
      .join(stage(spark, "channelcategory")
          .select(col("CHANNELCATEGORYID").as("__cc_id"), col("CHANNELCATEGORY")),
        col("CHANNELCATEGORYID") === col("__cc_id"))
      .filter(col("CHANNEL").isNotNull)
      .select(
        col("CHANNELID").as("ChannelID"),
        col("CHANNELCATEGORYID").as("ChannelCategoryID"),
        unk(col("CHANNEL")).as("ChannelName"),
        unk(col("CHANNELCATEGORY")).as("ChannelCategory"))
    SurrogateKeys.withUnknownMember(spark, base, "DimChannelID", "ChannelID",
      unknown = Map("ChannelID" -> -1L, "ChannelCategoryID" -> -1L,
        "ChannelName" -> "Unknown Channel", "ChannelCategory" -> "Unknown"))
  }

  def dimCustomer(spark: SparkSession, dimLoc: DataFrame,
      stage: Staging.Source = Staging.load): DataFrame = {
    val base = withLocationKey(
      stage(spark, "customer").filter(col("CUSTOMERID").isNotNull), dimLoc)
      .select(
        col("CUSTOMERID").as("CustomerID"),
        col("DimLocationID"),
        concat(unk(col("FIRSTNAME")), lit(" "), unk(col("LASTNAME")))
          .as("CustomerFullName"),
        unk(col("FIRSTNAME")).as("CustomerFirstName"),
        unk(col("LASTNAME")).as("CustomerLastName"),
        unk(col("GENDER")).as("CustomerGender"))
    SurrogateKeys.withUnknownMember(spark, base, "DimCustomerID", "CustomerID",
      unknown = Map("CustomerID" -> "UNKNOWN", "DimLocationID" -> 1L,
        "CustomerFullName" -> "Unknown Customer", "CustomerFirstName" -> "Unknown",
        "CustomerLastName" -> "Unknown", "CustomerGender" -> "Unknown"))
  }

  def dimReseller(spark: SparkSession, dimLoc: DataFrame,
      stage: Staging.Source = Staging.load): DataFrame = {
    val base = withLocationKey(
      stage(spark, "reseller").filter(col("RESELLERID").isNotNull), dimLoc)
      .select(
        col("RESELLERID").as("ResellerID"),
        col("DimLocationID"),
        unk(col("RESELLERNAME")).as("ResellerName"),
        unk(col("CONTACT")).as("ContactName"),
        unk(col("PHONENUMBER")).as("PhoneNumber"),
        unk(col("EMAILADDRESS")).as("Email"))
    SurrogateKeys.withUnknownMember(spark, base, "DimResellerID", "ResellerID",
      unknown = Map("ResellerID" -> "UNKNOWN", "DimLocationID" -> 1L,
        "ResellerName" -> "Unknown Reseller", "ContactName" -> "Unknown",
        "PhoneNumber" -> "Unknown", "Email" -> "Unknown"))
  }

  def dimStore(spark: SparkSession, dimLoc: DataFrame,
      stage: Staging.Source = Staging.load): DataFrame = {
    val base = withLocationKey(
      stage(spark, "store").filter(col("STOREID").isNotNull), dimLoc)
      .select(
        col("STOREID").as("StoreID"),
        col("DimLocationID"),
        col("STOREID").as("SourceStoreID"),
        concat(lit("Store "), unk(col("STORENUMBER"))).as("StoreName"),
        unk(col("STORENUMBER").cast(StringType)).as("StoreNumber"),
        unk(col("STOREMANAGER")).as("StoreManager"))
    SurrogateKeys.withUnknownMember(spark, base, "DimStoreID", "StoreID",
      unknown = Map("StoreID" -> -1L, "DimLocationID" -> 1L, "SourceStoreID" -> -1L,
        "StoreName" -> "Unknown Store", "StoreNumber" -> "Unknown",
        "StoreManager" -> "Unknown"))
  }

  def dimProduct(spark: SparkSession,
      stage: Staging.Source = Staging.load): DataFrame = {
    val price = coalesce(col("PRICE"), lit(0.0))
    val cost = coalesce(col("COST"), lit(0.0))
    val wholesale = coalesce(col("WHOLESALEPRICE"), lit(0.0))
    val base = stage(spark, "product")
      .join(stage(spark, "producttype")
          .select(col("PRODUCTTYPEID").as("__pt_id"), col("PRODUCTTYPE"),
            col("PRODUCTCATEGORYID")),
        col("PRODUCTTYPEID") === col("__pt_id"))
      .join(stage(spark, "productcategory")
          .select(col("PRODUCTCATEGORYID").as("__pc_id"), col("PRODUCTCATEGORY")),
        col("PRODUCTCATEGORYID") === col("__pc_id"))
      .filter(col("PRODUCTID").isNotNull)
      .select(
        col("PRODUCTID").as("ProductID"),
        col("PRODUCTTYPEID").as("ProductTypeID"),
        col("PRODUCTCATEGORYID").as("ProductCategoryID"),
        unk(col("PRODUCT")).as("ProductName"),
        unk(col("PRODUCTTYPE")).as("ProductType"),
        unk(col("PRODUCTCATEGORY")).as("ProductCategory"),
        price.as("ProductRetailPrice"),
        wholesale.as("ProductWholesalePrice"),
        cost.as("ProductCost"),
        (price - cost).as("ProductRetailProfit"),
        (wholesale - cost).as("ProductWholesaleUnitProfit"),
        // reference margin formula incl. the COALESCE(price, 1) guard
        // (rahil/load_dimension_tables.py:249-252)
        when(price === 0.0, lit(0.0))
          .otherwise((price - cost) / coalesce(col("PRICE"), lit(1.0)) * 100.0)
          .as("ProductProfitMarginUnitPercent"))
    SurrogateKeys.withUnknownMember(spark, base, "DimProductID", "ProductID",
      unknown = Map("ProductID" -> -1L, "ProductTypeID" -> -1L,
        "ProductCategoryID" -> -1L, "ProductName" -> "Unknown Product",
        "ProductType" -> "Unknown", "ProductCategory" -> "Unknown",
        "ProductRetailPrice" -> 0.0, "ProductWholesalePrice" -> 0.0,
        "ProductCost" -> 0.0, "ProductRetailProfit" -> 0.0,
        "ProductWholesaleUnitProfit" -> 0.0,
        "ProductProfitMarginUnitPercent" -> 0.0))
  }

  /** The 34-column reference calendar: graft.etl.DateDim attributes
    * mapped onto the reference's spelling (rahil/create_views.py:65-72).
    */
  def dimDate(spark: SparkSession): DataFrame =
    DateDim.build(spark).select(
      col("date_pkey").as("DATE_PKEY"),
      col("date").as("DATE"),
      col("full_date_desc").as("FULL_DATE_DESC"),
      col("day_num_in_week").as("DAY_NUM_IN_WEEK"),
      col("day_num_in_month").as("DAY_NUM_IN_MONTH"),
      col("day_num_in_year").as("DAY_NUM_IN_YEAR"),
      col("day_name").as("DAY_NAME"),
      col("day_abbrev").as("DAY_ABBREV"),
      col("weekday_ind").as("WEEKDAY_IND"),
      col("holiday_ind").as("US_HOLIDAY_IND"),
      col("month_end_ind").as("MONTH_END_IND"),
      col("week_begin_date_nkey").as("WEEK_BEGIN_DATE_NKEY"),
      col("week_begin_date").as("WEEK_BEGIN_DATE"),
      col("week_end_date_nkey").as("WEEK_END_DATE_NKEY"),
      col("week_end_date").as("WEEK_END_DATE"),
      col("week_num_in_year").as("WEEK_NUM_IN_YEAR"),
      col("month_name").as("MONTH_NAME"),
      col("month_abbrev").as("MONTH_ABBREV"),
      col("month_num_in_year").as("MONTH_NUM_IN_YEAR"),
      col("year_month").as("YEARMONTH"),
      col("quarter").as("QUARTER"),
      col("yearquarter").as("YEARQUARTER"),
      col("year").as("YEAR"),
      col("fiscal_week_num").as("FISCAL_WEEK_NUM"),
      col("fiscal_month_num").as("FISCAL_MONTH_NUM"),
      col("fiscal_year_month").as("FISCAL_YEARMONTH"),
      col("fiscal_quarter").as("FISCAL_QUARTER"),
      col("fiscal_yearquarter").as("FISCAL_YEARQUARTER"),
      col("fiscal_halfyear").as("FISCAL_HALFYEAR"),
      col("fiscal_year").as("FISCAL_YEAR"),
      col("sql_timestamp").as("SQL_TIMESTAMP"),
      col("current_row_ind").as("CURRENT_ROW_IND"),
      col("effective_date").as("EFFECTIVE_DATE"),
      col("expiration_date").as("EXPIRATION_DATE"))

  // ----- facts ---------------------------------------------------------------

  /** Source date → yyyyMMdd BIGINT, parsed structurally so the same
    * arithmetic runs in the DuckDB oracle with no format-dialect
    * dependence. Handles BOTH observed source styles (SURVEY §1.2):
    * `M/d/yy` (two-digit years 2000-pivoted like the source data) and
    * `yyyy-MM-dd[ HH:mm:ss]` (fixed-position substrings; time-of-day
    * ignored). CaseWhen short-circuits, so only the matching branch's
    * casts evaluate — an ISO row never feeds the slash arithmetic.
    */
  private[refstar] def dateKey(c: Column): Column = {
    val p = split(c, "/")
    val slash = (element_at(p, 3).cast(LongType) + 2000L) * 10000L +
      element_at(p, 1).cast(LongType) * 100L +
      element_at(p, 2).cast(LongType)
    val iso = substring(c, 1, 4).cast(LongType) * 10000L +
      substring(c, 6, 2).cast(LongType) * 100L +
      substring(c, 9, 2).cast(LongType)
    when(c.contains("/"), slash).otherwise(iso)
  }

  /** Fact_SalesActual: salesdetail ⋈ salesheader + five dim lookups with
    * unknown fallback; derived measures per the reference contract
    * (SaleUnitPrice = amount/qty, SaleExtendedCost = qty × product cost,
    * SaleTotalProfit = amount − extended cost). DimLocationID is the
    * location of whichever party made the sale (store, else reseller,
    * else customer).
    */
  def factSalesActual(spark: SparkSession): DataFrame = {
    val dimLoc = dimLocation(spark)
    factSalesActual(spark, dimProduct(spark), dimStore(spark, dimLoc),
      dimCustomer(spark, dimLoc), dimReseller(spark, dimLoc), dimChannel(spark))
  }

  def factSalesActual(spark: SparkSession, product: DataFrame, store: DataFrame,
                      customer: DataFrame, reseller: DataFrame,
                      channel: DataFrame): DataFrame = {
    val detail = Staging.load(spark, "salesdetail")
      .select("SALESDETAILID", "SALESHEADERID", "PRODUCTID", "SALESQUANTITY",
        "SALESAMOUNT")
    val header = Staging.load(spark, "salesheader").select(
      col("SALESHEADERID").as("__h_hid"), col("DATE"), col("CHANNELID"),
      col("STOREID"), col("CUSTOMERID"), col("RESELLERID"))
    resolveFact(
      detail.join(header, col("SALESHEADERID") === col("__h_hid")).drop("__h_hid"),
      product, store, customer, reseller, channel)
  }

  /** FK resolution + derived measures for raw sale rows — the
    * denormalized detail+header shape (SALESDETAILID, SALESHEADERID,
    * PRODUCTID, SALESQUANTITY, SALESAMOUNT, DATE, CHANNELID, STOREID,
    * CUSTOMERID, RESELLERID). Shared by the batch fact build above and
    * continuous ingest (graft.streaming.FactIngest): `raw` may be a
    * STREAMING DataFrame — the five dim lookups are stateless
    * stream-static left joins, so no watermark is required and the hot
    * path has no shuffle.
    */
  def resolveFact(raw: DataFrame, product: DataFrame, store: DataFrame,
                  customer: DataFrame, reseller: DataFrame,
                  channel: DataFrame): DataFrame = {
    val p = product.select(col("DimProductID"), col("ProductID").as("__p_pid"),
      col("ProductCost").as("__p_cost"))
    val s = store.select(col("DimStoreID"), col("StoreID").as("__s_sid"),
      col("DimLocationID").as("__s_loc"))
    val c = customer.select(col("DimCustomerID"), col("CustomerID").as("__c_cid"),
      col("DimLocationID").as("__c_loc"))
    val r = reseller.select(col("DimResellerID"), col("ResellerID").as("__r_rid"),
      col("DimLocationID").as("__r_loc"))
    val ch = channel.select(col("DimChannelID"), col("ChannelID").as("__ch_cid"))
    val extCost = col("SALESQUANTITY") * coalesce(col("__p_cost"), lit(0.0))
    raw
      .join(p, col("PRODUCTID") === col("__p_pid"), "left")
      .join(s, col("STOREID") === col("__s_sid"), "left")
      .join(c, col("CUSTOMERID") === col("__c_cid"), "left")
      .join(r, col("RESELLERID") === col("__r_rid"), "left")
      .join(ch, col("CHANNELID") === col("__ch_cid"), "left")
      .select(
        coalesce(col("DimProductID"), lit(1L)).as("DimProductID"),
        coalesce(col("DimStoreID"), lit(1L)).as("DimStoreID"),
        coalesce(col("DimResellerID"), lit(1L)).as("DimResellerID"),
        coalesce(col("DimCustomerID"), lit(1L)).as("DimCustomerID"),
        coalesce(col("DimChannelID"), lit(1L)).as("DimChannelID"),
        dateKey(col("DATE")).as("DimSaleDateID"),
        coalesce(col("__s_loc"), col("__r_loc"), col("__c_loc"), lit(1L))
          .as("DimLocationID"),
        col("SALESHEADERID").as("SalesHeaderID"),
        col("SALESDETAILID").as("SalesDetailID"),
        col("SALESAMOUNT").as("SaleAmount"),
        col("SALESQUANTITY").as("SaleQuantity"),
        (col("SALESAMOUNT") / col("SALESQUANTITY")).as("SaleUnitPrice"),
        extCost.as("SaleExtendedCost"),
        (col("SALESAMOUNT") - extCost).as("SaleTotalProfit"))
  }

  /** Fact_ProductSalesTarget: product targets keyed to Jan-1 of the
    * target year (yyyyMMdd), unknown-product fallback.
    */
  def factProductSalesTarget(spark: SparkSession, product: DataFrame,
      stage: Staging.Source = Staging.load): DataFrame =
    stage(spark, "targetdataproduct")
      .join(product.select(col("DimProductID"), col("ProductID").as("__p_pid")),
        col("PRODUCTID") === col("__p_pid"), "left")
      .select(
        coalesce(col("DimProductID"), lit(1L)).as("DimProductID"),
        (col("YEAR") * 10000L + 101L).as("DimTargetDateID"),
        col("SALESQUANTITYTARGET").as("ProductTargetSalesQuantity"))

  /** Fact_SRCSalesTarget: channel targets; TARGETNAME resolves against
    * store names then reseller names, unknown fallback for whichever
    * side doesn't match (both, for names like 'Indiana Department
    * Store' that exist only in the source file).
    */
  def factSrcSalesTarget(spark: SparkSession, store: DataFrame,
      reseller: DataFrame, channel: DataFrame,
      stage: Staging.Source = Staging.load): DataFrame =
    stage(spark, "targetdatachannel")
      .join(channel.select(col("DimChannelID"), col("ChannelName").as("__ch_nm")),
        col("CHANNELNAME") === col("__ch_nm"), "left")
      .join(store.select(col("DimStoreID"), col("StoreName").as("__s_nm")),
        col("TARGETNAME") === col("__s_nm"), "left")
      .join(reseller.select(col("DimResellerID"), col("ResellerName").as("__r_nm")),
        col("TARGETNAME") === col("__r_nm"), "left")
      .select(
        coalesce(col("DimStoreID"), lit(1L)).as("DimStoreID"),
        coalesce(col("DimResellerID"), lit(1L)).as("DimResellerID"),
        coalesce(col("DimChannelID"), lit(1L)).as("DimChannelID"),
        (col("YEAR") * 10000L + 101L).as("DimTargetDateID"),
        col("TARGETSALESAMOUNT").as("SalesTargetAmount"))
}
