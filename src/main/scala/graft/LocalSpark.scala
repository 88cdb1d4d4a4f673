package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every main and the test suite run on:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * no UI, WARN logging. `cpus` is SPARK_GRAFT_CPUS, else every core the
  * JVM sees.
  */
object LocalSpark {
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
