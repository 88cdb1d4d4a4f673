package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CurationGates, DedupGates, Etl, GraphGates, LakehouseGates, MultimodalGates, Q, RefStarQueries, Relational, SearchGates, TextGates}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the correctness surface: one entry per implemented
  * operator from SURVEY.md §2 (+ the training-data-pipeline extensions),
  * each with a DuckDB oracle in `oracleSql` where SQL-expressible.
  */
object SparkEntry {

  /** Every gated query, from the per-domain registries. A name held
    * twice would collapse to one entry in `queries` and `oracleSql`
    * without a trace, so it fails here instead.
    */
  def allQueries: Seq[Q] = {
    val all = Relational.all ++ Etl.all ++ RefStarQueries.all ++
      LakehouseGates.all ++ DedupGates.all ++ SearchGates.all ++
      TextGates.all ++ GraphGates.all ++ CurationGates.all ++
      MultimodalGates.all
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"gate names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    allQueries.find(_.name == "q14_star_join").get.build(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
