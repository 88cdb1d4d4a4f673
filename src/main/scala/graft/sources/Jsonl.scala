package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.Fixture

/** JSON-lines source coverage: a deterministic JSONL fixture (nested
  * struct + array fields) read with a DECLARED schema — never
  * inference, which at 100 TB would scan the corpus twice and type
  * drift silently. The qj01 gate reads the same file through DuckDB's
  * read_json with the equivalent column spec, so text→typed parsing of
  * longs, doubles, strings, arrays, and nested structs is
  * hash-verified cross-engine. Scores step by 0.5, so the double text
  * round-trip is exact in both engines.
  */
object Jsonl {

  /** Bump when fixture content changes so stale files regenerate. */
  val Version = 1

  val Count = 1000

  def root: String =
    sys.env.getOrElse("GRAFT_JSONL_FIXTURE_DIR", Fixture.checkoutDir("jsonl"))

  def path: String = s"$root/events.jsonl"

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("tags", ArrayType(StringType)),
    StructField("nested", StructType(Seq(StructField("k", LongType))))))

  /** Generate (once) and return the fixture path. Thread-safe in-JVM. */
  def ensure(): String = {
    Fixture.versioned(s"$root/VERSION", Version) {
      Files.createDirectories(Paths.get(root))
      val sb = new StringBuilder
      (0 until Count).foreach { i =>
        val tags = Seq("a", "b").take(1 + i % 2)
          .map(t => s""""$t"""").mkString(",")
        sb.append(s"""{"id":$i,"name":"n-$i","score":${i * 0.5},""" +
          s""""tags":[$tags],"nested":{"k":${i % 7}}}""").append('\n')
      }
      Files.write(Paths.get(path), sb.toString.getBytes)
    }
    path
  }

  /** The declared-schema scan (splittable: JSONL is line-delimited, so
    * executors read byte ranges independently at any file size).
    */
  def read(spark: SparkSession): DataFrame =
    spark.read.schema(schema).json(ensure())

  // ----- SINK direction: corpus export as gzipped JSONL ----------------

  /** Bump when the export recipe changes. */
  val DocsVersion = 1

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docsDir(sfDir: String): String =
    s"$root/${Paths.get(sfDir).getFileName}/documents"

  /** Materialize (once per sf dir) the documents corpus as gzipped
    * JSON-lines — the de-facto text-corpus release format — and return
    * the directory. Per-file gzip keeps files whole-file-decompressed
    * (not splittable) but shard-parallel, which is exactly how released
    * corpora ship; the qj09 gate proves the ROUND TRIP (parquet →
    * .json.gz → declared-schema scan hash-equals the oracle's direct
    * parquet read), so JSON string escaping, unicode, and long fidelity
    * are all on the hook.
    */
  def ensureDocs(spark: SparkSession, sfDir: String): String = {
    val d = docsDir(sfDir)
    Fixture.versioned(s"$d.VERSION", DocsVersion) {
      graft.Tables(spark, sfDir, "documents")
        .write.mode("overwrite").option("compression", "gzip").json(d)
    }
    d
  }

  /** Declared-schema scan of the exported corpus. */
  def readDocs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(docsSchema).json(ensureDocs(spark, sfDir))
}
