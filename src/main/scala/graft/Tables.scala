package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table registry over a scale-factor directory
  * (/root/testdata/sfX — see TESTDATA.md).
  *
  * Mirrors the reference's external-stage registry
  * (rahil/create_stages.py:39-49): one named source per entity, resolved
  * to a storage URI. Here the storage is local parquet; on a cluster the
  * same loader works for abfss:///s3:// paths unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects by
    // default (PARQUET_TYPE_ILLEGAL). Read it as raw nanos and convert
    // to microsecond TIMESTAMP_NTZ (floor division, matching the
    // precision every other engine truncates to).
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}
