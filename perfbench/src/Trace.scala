package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. `op` is the id of the top-level span
  * the call belongs to; `parent` is -1 for a top-level span.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-span scheduler counters, filled from stage completions. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around every public call the benchmark makes. With `listen` on,
  * each span tags its Spark jobs with `setJobGroup`, and two listeners
  * attribute scheduler, shuffle, scan, write and Catalyst counters to it.
  * Threads the program starts inside a span (the Warehouse build's pool)
  * inherit the job group, so their jobs count too. Everything stays in
  * memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private var nextId = 0
  @volatile private var listening = false

  private val byGroup = new ConcurrentHashMap[String, SpanCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var queries = 0L
  var filesRead = 0L
  var filesPruned = 0L
  var filesWritten = 0L
  /** Time spent inside the two listeners. */
  val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  private def timedHook(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private def counters(group: String): SpanCounters =
    byGroup.computeIfAbsent(group, _ => new SpanCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedHook {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("pb-")) {
        val c = counters(g)
        c.synchronized(c.jobs += 1)
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedHook {
      val i = e.stageInfo
      val g = stageGroup.get(i.stageId)
      if (g != null) {
        val c = counters(g)
        val m = i.taskMetrics
        c.synchronized {
          c.stages += 1
          c.tasks += i.numTasks
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
          for (s <- i.submissionTime; d <- i.completionTime) c.windows += ((s, d))
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (listening) timedHook {
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
        val plan: SparkPlan = qe.executedPlan
        val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
        val writes = collect(plan) { case w: DataWritingCommandExec => w }
        Tracer.this.synchronized {
          queries += 1
          analysisMs += ms("analysis")
          optimizationMs += ms("optimization")
          planningMs += ms("planning")
          scans.foreach { s =>
            val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            val all = s.relation.location.inputFiles.length.toLong
            filesRead += read
            filesPruned += math.max(0L, all - read)
          }
          writes.foreach { w =>
            filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var gcAtStart = 0L
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Start attributing counters to spans. */
  def listen(): Unit = {
    gcAtStart = gcMillis
    sc.addSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(queryListener)
    listening = true
  }

  /** Stop listening once every queued event has been delivered. */
  def stop(): Long = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    listening = false
    sc.removeSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.unregister(queryListener)
    gcMillis - gcAtStart
  }

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val op = stack.headOption.map(_._2).getOrElse(id)
    stack = (id, op) :: stack
    if (listening) sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spansBuf += Span(id, name, parent, op, t0, t1)
      stack = stack.tail
      if (listening) stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(s"pb-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = spansBuf.toSeq

  /** Counters of one span alone (not its children). */
  def countersOf(span: Span): SpanCounters =
    Option(byGroup.get(s"pb-${span.id}")).getOrElse(new SpanCounters)

  /** Wall time of a span that no stage of it or its children covers. */
  def driverGapSeconds(root: Span): Double = {
    val ids = mutable.Set(root.id)
    spansBuf.sortBy(_.id).foreach(s => if (ids.contains(s.parent)) ids += s.id)
    val wins = spansBuf.filter(s => ids.contains(s.id)).flatMap { s =>
      val c = countersOf(s)
      c.synchronized(c.windows.toList)
    }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    wins.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, root.seconds - covered / 1e3)
  }
}
