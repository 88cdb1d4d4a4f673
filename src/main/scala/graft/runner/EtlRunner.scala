package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.StarSchema

/** Sequenced ETL driver mirroring the reference's three entry points
  * (rahil/run_etl.py, run_dimensional_etl.py, run_views_etl.py):
  * each step runs, verifies (row-count checkpoint, the reference's
  * per-step accounting, rahil/load_data.py:22-74), and the pipeline
  * aborts on the first failure (rahil/run_dimensional_etl.py:31-59).
  * Views are registered in the session catalog at the end.
  */
object EtlRunner {

  def run(spark: SparkSession, dir: String): Seq[StepResult] = {
    val steps = new Steps

    def step(name: String)(f: => DataFrame): Option[DataFrame] =
      if (!steps.ok) None
      else try {
        val df = f
        steps += StepResult.counted(name, df.count())
        Some(df)
      } catch {
        case e: Exception =>
          steps += StepResult.failed(name, e)
          None
      }

    val dimDate = step("dim_date")(StarSchema.dimDate(spark))
    val dimCust = step("dim_customer")(StarSchema.dimCustomer(spark, dir))
    val dimSupp = step("dim_supplier")(StarSchema.dimSupplier(spark, dir))
    val fact = for (c <- dimCust; s <- dimSupp)
      yield step("fact_sales")(StarSchema.factSales(spark, dir, c, s))
    // views phase: register the star + analytical views in the catalog.
    // The temp views carry an etl_ prefix: session temp views outrank
    // catalog tables during analysis, so scratch names like bare
    // `dim_date` would hijack any later bare-name CREATE VIEW in the
    // same session (the round-12 suite hit exactly that against
    // RefStarRunner's analytical views).
    for (d <- dimDate; c <- dimCust; s <- dimSupp; f <- fact.flatten) {
      d.createOrReplaceTempView("etl_dim_date")
      c.createOrReplaceTempView("etl_dim_customer")
      s.createOrReplaceTempView("etl_dim_supplier")
      f.createOrReplaceTempView("etl_fact_sales")
      spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW vw_sales_by_nation AS
          |SELECT c.nation_name, COUNT(*) AS n_items, SUM(f.revenue) AS revenue
          |FROM etl_fact_sales f JOIN etl_dim_customer c
          |  ON f.dim_customer_key = c.dim_customer_key
          |GROUP BY c.nation_name""".stripMargin)
      spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW vw_sales_by_month AS
          |SELECT d.year_month, SUM(f.revenue) AS revenue
          |FROM etl_fact_sales f JOIN etl_dim_date d
          |  ON f.dim_order_date_key = d.date_pkey
          |GROUP BY d.year_month""".stripMargin)
      steps += StepResult("views", ok = true,
        spark.table("vw_sales_by_nation").count(), None)
    }
    steps.results
  }
}
