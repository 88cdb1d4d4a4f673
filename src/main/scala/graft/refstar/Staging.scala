package graft.refstar

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.CsvStageReader

/** Declared schemas + stage loader for the 12 reference staging entities
  * (column order per FIXTURES.md, observed from the reference's run
  * logs). Schema-on-load like the reference's DDL: ids are BIGINT,
  * money/weights DOUBLE, everything else VARCHAR — never inferred, so a
  * 100 TB stage load is a single pass.
  */
object Staging {

  private val audit = Seq(
    StructField("CREATEDDATE", StringType), StructField("CREATEDBY", StringType),
    StructField("MODIFIEDDATE", StringType), StructField("MODIFIEDBY", StringType))

  private def s(name: String) = StructField(name, StringType)
  private def l(name: String) = StructField(name, LongType)
  private def d(name: String) = StructField(name, DoubleType)

  val schemas: Map[String, StructType] = Map(
    "channel" -> StructType(
      Seq(l("CHANNELID"), l("CHANNELCATEGORYID"), s("CHANNEL")) ++ audit),
    "channelcategory" -> StructType(
      Seq(l("CHANNELCATEGORYID"), s("CHANNELCATEGORY")) ++ audit),
    "customer" -> StructType(
      Seq(s("CUSTOMERID"), l("SUBSEGMENTID"), s("FIRSTNAME"), s("LASTNAME"),
        s("GENDER"), s("EMAILADDRESS"), s("ADDRESS"), s("CITY"),
        s("STATEPROVINCE"), s("COUNTRY"), s("POSTALCODE"), s("PHONENUMBER")) ++ audit),
    "product" -> StructType(
      Seq(l("PRODUCTID"), l("PRODUCTTYPEID"), s("PRODUCT"), s("COLOR"), s("STYLE"),
        l("UNITOFMEASUREID"), d("WEIGHT"), d("PRICE"), d("COST")) ++ audit ++
        Seq(d("WHOLESALEPRICE"))),
    "productcategory" -> StructType(
      Seq(l("PRODUCTCATEGORYID"), s("PRODUCTCATEGORY")) ++ audit),
    "producttype" -> StructType(
      Seq(l("PRODUCTTYPEID"), l("PRODUCTCATEGORYID"), s("PRODUCTTYPE")) ++ audit),
    "reseller" -> StructType(
      Seq(s("RESELLERID"), s("CONTACT"), s("EMAILADDRESS"), s("ADDRESS"), s("CITY"),
        s("STATEPROVINCE"), s("COUNTRY"), s("POSTALCODE"), s("PHONENUMBER")) ++ audit ++
        Seq(s("RESELLERNAME"))),
    "salesdetail" -> StructType(
      Seq(l("SALESDETAILID"), l("SALESHEADERID"), l("PRODUCTID"),
        l("SALESQUANTITY"), d("SALESAMOUNT")) ++ audit),
    "salesheader" -> StructType(
      Seq(l("SALESHEADERID"), s("DATE"), l("CHANNELID"), l("STOREID"),
        s("CUSTOMERID"), s("RESELLERID")) ++ audit),
    "store" -> StructType(
      Seq(l("STOREID"), l("SUBSEGMENTID"), s("STORENUMBER"), s("STOREMANAGER"),
        s("ADDRESS"), s("CITY"), s("STATEPROVINCE"), s("COUNTRY"),
        s("POSTALCODE"), s("PHONENUMBER")) ++ audit),
    "targetdatachannel" -> StructType(
      Seq(l("YEAR"), s("CHANNELNAME"), s("TARGETNAME"), d("TARGETSALESAMOUNT"))),
    "targetdataproduct" -> StructType(
      Seq(l("PRODUCTID"), s("PRODUCT"), l("YEAR"), l("SALESQUANTITYTARGET"))))

  /** Where a recipe reads a staging entity's rows from: `load` (the
    * CSV) or the Warehouse's persisted staging table.
    */
  type Source = (SparkSession, String) => DataFrame

  /** Load one staging entity through the CSV stage reader (NULL_IF,
    * empty-as-null, error-tolerant) with its declared schema. Cached and
    * counted up front (`CsvStageReader.read`); a frame that is consumed
    * once should come from `stage` instead.
    */
  def load(spark: SparkSession, entity: String): DataFrame =
    CsvStageReader.read(spark, csv(entity), schemas(entity)).df

  /** The same rows as `load`, parsed in the pass that consumes them: no
    * cache and no count job; the rows kept and rejected are reported by
    * that pass (`CsvStageReader.stage`). This is the staging write's
    * COPY INTO.
    */
  def stage(spark: SparkSession, entity: String): CsvStageReader.Staged =
    CsvStageReader.stage(spark, csv(entity), schemas(entity))

  private def csv(entity: String): String =
    s"${Fixtures.ensure()}/$entity/$entity.csv"
}
