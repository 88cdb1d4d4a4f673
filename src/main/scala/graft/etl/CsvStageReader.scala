package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** CSV stage reader reproducing the reference's CSV_FORMAT + COPY INTO
  * semantics (rahil/create_stages.py:23-30, rahil/load_data.py:41-52):
  *
  *  - comma delimiter, 1 header row skipped
  *  - NULL_IF ('NULL','null') and EMPTY_FIELD_AS_NULL: Spark's CSV
  *    reader takes a single nullValue, so 'NULL' is handled at parse
  *    time and the remaining variants by a normalization pass
  *  - ON_ERROR='CONTINUE': PERMISSIVE mode with a corrupt-record
  *    column; bad rows are counted and dropped, not fatal (counted
  *    eagerly by `read`, or by the consuming pass itself with `stage`)
  *  - LIST-before-load: empty-glob guard instead of failing the read
  *
  * Schemas are always declared (schema-on-load like the reference's
  * DDL files) — never inferred, so a 100 TB load is a single pass.
  */
object CsvStageReader {

  val CorruptCol = "_corrupt_record"

  /** True if the stage path has at least one file (the reference's
    * `LIST @stage` guard, rahil/load_data.py:32-38).
    */
  def stageHasFiles(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(p) match {
      case null => false
      case st => st.nonEmpty
    }
  }

  /** Load result: clean rows plus the rejected-row count (the
    * reference logs per-file loaded/error counts).
    */
  case class Loaded(df: DataFrame, errorRows: Long)

  /** Eager form: the parse is cached and its rejected rows counted up
    * front, so `errorRows` is known before `df` is used. The cache is
    * required, not an optimisation: Spark's CSV source refuses a query
    * whose only referenced column is the corrupt-record column.
    */
  def read(spark: SparkSession, path: String, schema: StructType): Loaded = {
    val raw = parse(spark, path, schema).cache()
    Loaded(clean(raw, schema), raw.filter(col(CorruptCol).isNotNull).count())
  }

  /** Single-pass result: the clean rows of an uncached parse, and the
    * `Observation` that the first action over `df` fills with the rows
    * kept and rejected. `kept` and `rejected` block until that action
    * has run.
    */
  case class Staged(df: DataFrame, metrics: Observation) {
    def kept: Long = metrics.get("kept").asInstanceOf[Long]
    def rejected: Long = metrics.get("rejected").asInstanceOf[Long]
  }

  /** Single-pass form for a loader that consumes the rows once (the
    * staging write): no cache and no count job; the ON_ERROR=CONTINUE
    * accounting rides on the pass that reads the file.
    */
  def stage(spark: SparkSession, path: String, schema: StructType): Staged = {
    val metrics = Observation()
    val bad = col(CorruptCol).isNotNull
    val raw = parse(spark, path, schema).observe(metrics,
      count_if(!bad).as("kept"), count_if(bad).as("rejected"))
    Staged(clean(raw, schema), metrics)
  }

  /** The PERMISSIVE parse, with the corrupt-record column, uncached. */
  private def parse(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", "NULL")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema.add(CorruptCol, StringType))
      .csv(path)

  /** Rejected rows dropped, then the second NULL_IF token and
    * EMPTY_FIELD_AS_NULL applied to the string columns.
    */
  private def clean(raw: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(raw.filter(col(CorruptCol).isNull).drop(CorruptCol)) {
      (df, f) =>
        if (f.dataType == StringType)
          df.withColumn(f.name,
            when(col(f.name) === "null" || col(f.name) === "", lit(null))
              .otherwise(col(f.name)))
        else df
    }

  /** The reference's two observed source timestamp styles
    * (`1/1/13 20:54` and `2013-01-01 21:20:22`,
    * rahil/logs/etl_run_20250514_204417.log:208,243) parsed leniently:
    * first format that matches wins, else null.
    */
  def parseSourceTimestamp(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("M/d/yy H:mm")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")))
}
