package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.{Blocks, SparkEntry}
import graft.refstar.{Fixtures, RefStarSql, RefStarViewsSql, Warehouse}
import graft.runner.RefStarRunner

/** One timed operation: its top-level span, its time, and the error it
  * threw or the way its result differed from an earlier operation's.
  */
final case class Op(span: Span, seconds: Double, error: Option[String])

/** What the output check compares in DuckDB: tables to build first (name
  * and SQL, in order), then for each checked result the SQL that reads
  * what the program wrote and the oracle SQL it must equal.
  */
final case class Check(tables: Seq[(String, String)], outputs: Map[String, (String, String)])

object Check {
  /** DuckDB SQL reading a parquet directory the program wrote. */
  def written(dir: String): String = s"SELECT * FROM read_parquet('$dir/*.parquet')"
}

/** A workload: untimed set-up, one closed-loop operation, untimed output
  * check. Results to verify go under `outDir`.
  */
abstract class Workload(val outDir: String) {
  def setup(): Map[String, Double]
  def step(): Op
  def check(): Check
  /** Facts of one span, written next to it in the span dump. */
  val attrs: mutable.Map[Int, Map[String, Double]] = mutable.Map.empty
}

/** Benchmark process. Usage:
  *   gen <seed> <dir>
  *   run <workload> <seed> <seconds> <trace 0|1> <scratch dir> <sf dir>
  * `run` writes `<scratch>/result.json`; perfbench/run.py checks and
  * reports it.
  */
object Main {

  /** Row count and an order-free checksum of every row of `df`, observed
    * on the way into `write`.
    */
  def signature(df: DataFrame)(write: DataFrame => Unit): String = {
    val obs = Observation()
    val cols: Seq[Column] = df.columns.toSeq.map(c => col(s"`$c`"))
    write(df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(cols: _*) % 2147483647L).as("h")))
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def parquetTo(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: seed :: dir :: Nil =>
      val sizes = Gen.generate(dir, seed.toLong)
      println(obj(sizes.toSeq.sorted.map { case (e, (r, b)) =>
        e -> s"""{"rows":$r,"bytes":$b}""" }))
    case "run" :: workload :: seed :: secs :: trace :: scratch :: sfDir :: Nil =>
      run(workload, seed.toLong, secs.toDouble, trace == "1", scratch, sfDir)
    case _ =>
      System.err.println("usage: gen <seed> <dir> | " +
        "run <workload> <seed> <seconds> <trace> <scratch> <sf dir>")
      sys.exit(2)
  }

  /** Spark's own first-query costs (class loading, the first codegen,
    * the first parquet write and read), paid before any program code
    * runs, so they count in set-up and not in the first operation.
    */
  private def warmSession(spark: SparkSession, dir: String): Unit = {
    spark.range(0, 1000).selectExpr("id % 7 AS k", "id AS v")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    noop(df.join(df.groupBy("k").agg(sum("v").as("t")), "k"))
  }

  private def run(workload: String, seed: Long, secs: Double, trace: Boolean,
      scratch: String, sfDir: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warmSession(spark, s"$scratch/warm")
    val sessionReady = System.currentTimeMillis()

    val rng = new Random(seed)
    val tracer = new Tracer(spark)
    val out = s"$scratch/check"
    val w: Workload = workload match {
      case "elt_pipeline" => new EltPipeline(spark, tracer, rng, Fixtures.root, out)
      case "operators_mix" => new OperatorsMix(spark, tracer, rng, sfDir, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupParts = w.setup()

    if (trace) tracer.listen()
    val windowStart = System.currentTimeMillis()
    val end = System.nanoTime() + (secs * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[Op]
    do ops += w.step() while (System.nanoTime() < end)
    val windowEnd = System.currentTimeMillis()
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val gcMs = if (trace) tracer.stop() else 0L

    val t0 = System.nanoTime()
    val check = w.check()
    val checkSeconds = secondsSince(t0)

    val opsJson = ops.map { o =>
      s"""{"span":${o.span.id},"seconds":${num(o.seconds)},""" +
        s""""error":${o.error.map(q).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    val spansJson = tracer.spans.sortBy(_.id).map { s =>
      val counters =
        if (!trace) ""
        else {
          val c = tracer.countersOf(s)
          val gap = if (s.parent < 0) tracer.driverGapSeconds(s) else 0.0
          s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
            s""""run_ms":${c.runMs},"cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},""" +
            s""""shuffle_write":${c.shuffleWrite},"shuffle_read":${c.shuffleRead},""" +
            s""""spill":${c.spill},"input_bytes":${c.inputBytes},""" +
            s""""output_bytes":${c.outputBytes},"driver_gap_s":${num(gap)}"""
        }
      val a = w.attrs.getOrElse(s.id, Map.empty).map { case (k, v) => k -> num(v) }
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""seconds":${num(s.seconds)},"attrs":${obj(a)}$counters}"""
    }.mkString("[\n", ",\n", "]")
    val globals = Map(
      "analysis_ms" -> tracer.analysisMs, "optimization_ms" -> tracer.optimizationMs,
      "planning_ms" -> tracer.planningMs, "queries" -> tracer.queries,
      "files_read" -> tracer.filesRead, "files_pruned" -> tracer.filesPruned,
      "files_written" -> tracer.filesWritten, "gc_ms" -> gcMs,
      "listener_ns" -> tracer.listenerNs.get)
    val json =
      s"""{"workload":${q(workload)},"seed":$seed,"cores":$cores,""" +
        s""""jvm_start_ms":${java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime},""" +
        s""""session_ready_ms":$sessionReady,"window_start_ms":$windowStart,""" +
        s""""window_end_ms":$windowEnd,"peak_rss_kb":$peakRssKb,"check_s":$checkSeconds,""" +
        s""""setup":${obj(setupParts.map { case (k, v) => k -> num(v) })},""" +
        s""""ops":$opsJson,""" +
        s""""tables":${check.tables.map { case (t, sql) => s"[${q(t)},${q(sql)}]" }
          .mkString("[", ",", "]")},""" +
        s""""checks":${obj(check.outputs.map { case (k, (got, want)) =>
          k -> s"[${q(got)},${q(want)}]" })},""" +
        s""""trace_globals":${obj(globals.map { case (k, v) => k -> v.toString })},""" +
        s""""spans":$spansJson}"""
    Files.write(Paths.get(scratch, "result.json"), json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** The paper's pipeline, end to end, once per operation: the Warehouse
  * rebuild (staging load, dimensions, facts), the runner's catalog and
  * 17 views, a one-year backfill and the first catalog read after it.
  */
final class EltPipeline(spark: SparkSession, tracer: Tracer, rng: Random,
    csvRoot: String, outDir: String) extends Workload(outDir) {

  val views: Seq[String] = RefStarRunner.AnalyticalViews.map(_._1)

  /** DuckDB bodies of the analytical views. The Spark catalog uses an
    * equi-join rewrite of the target-vs-actual view; the oracle keeps the
    * reference's own formulation.
    */
  private val oracleViews: Map[String, String] = Map(
    "vw_salesperformancesummary" -> RefStarViewsSql.salesPerformanceSummary,
    "vw_customersalesanalysis" -> RefStarViewsSql.customerSalesAnalysis,
    "vw_targetvsactualperformance" -> RefStarViewsSql.targetVsActual,
    "vw_store58performance" -> RefStarViewsSql.store58Performance,
    "vw_storebonusrecommendation" -> RefStarViewsSql.storeBonusRecommendation,
    "vw_store58dayofweekanalysis" -> RefStarViewsSql.store58DayOfWeek,
    "vw_multistorevssinglestoreanalysis" -> RefStarViewsSql.multiStoreVsSingleStore)

  val starTables: Seq[String] = Warehouse.DimTables ++ Warehouse.FactTables
  val readView = "vw_salesperformancesummary"
  val years = Seq(2013, 2014)

  private var csvBytes = 0L
  /** Year-filtered reads written so far: output name -> year. */
  private val reads = mutable.Map.empty[String, Int]

  private def starSize: Long = starTables.map { t =>
    val s = Files.walk(Paths.get(Warehouse.path(t)))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    } finally s.close()
  }.sum

  private def viewFrame(v: String): DataFrame =
    spark.sql(s"SELECT * FROM ${RefStarRunner.DimensionDb}.$v")

  /** Generate the inputs three times; the median is the set-up cost. */
  def setup(): Map[String, Double] = {
    val seed = rng.nextLong()
    var sizes: Gen.Sizes = Map.empty
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sizes = Gen.generate(csvRoot, seed)
      Main.secondsSince(t0)
    }.sorted
    csvBytes = sizes.values.map(_._2).sum
    Map("generate_s" -> t(1), "input_bytes" -> csvBytes.toDouble) ++
      sizes.map { case (e, (rows, _)) => s"rows.stg_$e" -> rows.toDouble }
  }

  def step(): Op = {
    val year = years(rng.nextInt(years.size))
    val error =
      try {
        tracer.span("elt.iteration") {
          val steps = tracer.span("warehouse.rebuild")(Warehouse.rebuild(spark))
          def maxOf(prefix: String) =
            steps.filter(_.name.startsWith(prefix)).map(_.seconds).foldLeft(0.0)(math.max)
          attrs(tracer.spans.last.id) = Map("staging_s" -> maxOf("stg_"),
            "facts_s" -> maxOf("fact_"), "rows_written" -> steps.map(_.rows).sum.toDouble) ++
            steps.map(s => s"rows.${s.name}" -> s.rows.toDouble)
          val results = tracer.span("runner.run")(RefStarRunner.run(spark))
          attrs(tracer.spans.last.id) = Map("steps_failed" -> results.count(!_.ok).toDouble)
          val backfilled = tracer.span("warehouse.rebuildPartitions")(
            Warehouse.rebuildPartitions(spark, Seq(year)))
          attrs(tracer.spans.last.id) = Map("rows" -> backfilled.toDouble, "year" -> year.toDouble)
          val name = s"read_${tracer.spans.length}"
          tracer.span("catalog.read")(Main.parquetTo(s"$outDir/$name")(
            viewFrame(readView).filter(col("YEAR") === year)))
          reads(name) = year
          attrs(tracer.spans.last.id) = Map("star_bytes" -> starSize.toDouble,
            "csv_bytes" -> csvBytes.toDouble)
        }
        None
      } catch { case e: Exception => Some(String.valueOf(e.getMessage)) }
    Op(tracer.spans.last, tracer.spans.last.seconds, error)
  }

  /** The final 10 star tables as the Warehouse stored them, the 7 views
    * read through the catalog, and each timed year-filtered read, against
    * DuckDB running the star's SQL over the same CSVs. The view writes
    * run concurrently: they are check work, not timed work.
    */
  def check(): Check = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(views) { v =>
      Future(Main.parquetTo(s"$outDir/$v")(viewFrame(v)))
    }, Duration.Inf)
    finally pool.shutdown()
    val stored = starTables.map { t =>
      val p = Warehouse.path(t)
      t -> (if (t == "fact_salesactual")
        s"SELECT * EXCLUDE (${Warehouse.FactYearCol}) FROM " +
          s"read_parquet('$p/*/*.parquet', hive_partitioning = true)"
      else Check.written(p))
    }
    Check(
      starTables.map(t => t -> RefStarSql.over(s"SELECT * FROM $t")),
      stored.map { case (t, got) => t -> (got, s"SELECT * FROM $t") }.toMap ++
        oracleViews.map { case (v, sql) => v -> (Check.written(s"$outDir/$v"), sql) } ++
        reads.map { case (n, y) => n -> (Check.written(s"$outDir/$n"),
          s"SELECT * FROM (${oracleViews(readView)}) WHERE YEAR = $y") })
  }
}

/** Iterative and kernel-heavy operator gates over a fixed table set, one
  * pass per operation in a seeded order. Each gate writes its result as
  * parquet for the output check; every pass must reproduce the first.
  */
final class OperatorsMix(spark: SparkSession, tracer: Tracer, rng: Random,
    sfDir: String, outDir: String) extends Workload(outDir) {

  val gateNames: Seq[String] = Seq("qt18_bpe_encode", "qt29_unigram_encode",
    "qs09_pq_recall", "qd05_minhash_lsh", "qg01_pagerank", "q39_window_frames",
    "q14_star_join")
  private val gates = {
    val all = SparkEntry.allQueries.map(g => g.name -> g).toMap
    gateNames.map(all)
  }
  private var firstPass: Option[Map[String, String]] = None

  def setup(): Map[String, Double] = Map.empty

  /** The pass time is the sum of its gate spans: the block-manager probe
    * and the checkpoint sweep after each gate are outside them.
    */
  def step(): Op = {
    val sigs = mutable.Map.empty[String, String]
    val errors = mutable.ArrayBuffer.empty[String]
    tracer.span("pass") {
      rng.shuffle(gates).foreach { g =>
        try {
          sigs(g.name) = tracer.span(s"gate.${g.name}")(
            Main.signature(g.build(spark, sfDir))(Main.parquetTo(s"$outDir/${g.name}")))
          val (_, mem, disk) = Blocks.storagePinned(spark)
          attrs(tracer.spans.last.id) = Map("pinned_mb" -> (mem + disk) / 1048576.0)
        } catch { case e: Exception => errors += s"${g.name}: ${e.getMessage}" }
        Blocks.sweepLocalCheckpoints(spark)
      }
    }
    val pass = tracer.spans.last
    val gateSeconds = tracer.spans.filter(_.parent == pass.id).map(_.seconds).sum
    if (errors.isEmpty) firstPass match {
      case None => firstPass = Some(sigs.toMap)
      case Some(first) =>
        errors ++= gateNames.filter(n => first(n) != sigs(n)).map(n => s"$n: result changed")
    }
    Op(pass, gateSeconds, if (errors.isEmpty) None else Some(errors.mkString("; ")))
  }

  /** The last pass's outputs are on disk already. */
  def check(): Check = Check(Nil, gates.map(g =>
    g.name -> (Check.written(s"$outDir/${g.name}"), g.oracle.get)).toMap)
}
