package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Fixture

/** ORC source/sink coverage — the second columnar format a warehouse
  * interop layer must speak (Spark's ORC reader/writer is built in; no
  * extra dependency). The corpus is materialized ONCE per sf dir as ORC
  * by Spark's writer, then every read is a plain columnar scan with the
  * same pushdown/pruning machinery as parquet (same
  * FileSourceScanExec). DuckDB cannot read ORC, so the qj02 gate proves
  * the ROUND TRIP instead: parquet → ORC → scan must hash-equal the
  * oracle's direct parquet read — any writer/reader type mangling
  * (timestamps, nullability, string encoding) breaks the hash.
  */
object Orc {

  /** Bump when the materialization recipe changes. */
  val Version = 1

  def root: String =
    sys.env.getOrElse("GRAFT_ORC_FIXTURE_DIR", Fixture.checkoutDir("orc"))

  private def dir(sfDir: String): String =
    s"$root/${Paths.get(sfDir).getFileName}/documents"

  /** Write (once per sf dir) and return the ORC path. Thread-safe in-JVM.
    * The marker lives BESIDE the data dir — a non-ORC file inside it
    * would fail the scan (the reader takes every file in the directory).
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val d = dir(sfDir)
    Fixture.versioned(s"$d.VERSION", Version) {
      graft.Tables(spark, sfDir, "documents")
        .write.mode("overwrite").orc(d)
    }
    d
  }

  /** Columnar ORC scan of the materialized documents corpus. */
  def read(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.orc(ensure(spark, sfDir))
}
