package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level profiler (measurement harness, not part of the gate):
  * runs a named gate once warm, then once instrumented, and prints
  * every stage's wall time, task-time sum, and task count — the local
  * stand-in for the Spark UI's stage table (guide §7.1) when chasing
  * where a query's seconds actually go.
  * Usage: runMain graft.tools.StageProf <gate> [<gate> ...]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSpark.session("graft-stageprof")
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap

    case class St(name: String, wallMs: Long, taskMs: Long, tasks: Int)
    val stages = mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += St(i.name.linesIterator.next(), wall,
            i.taskMetrics.executorRunTime, i.numTasks)
        }
        ()
      }
    }
    args.foreach { name =>
      val q = byName(name)
      // two warm passes (JIT/codegen/layout builds), then the measured one
      (1 to 2).foreach { _ =>
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        graft.Blocks.sweepLocalCheckpoints(spark)
      }
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500) // drain async listener bus
      graft.Blocks.sweepLocalCheckpoints(spark)
      println(f"[stageprof] $name total=$total%.3f s, ${stages.size} stages")
      val top = stages.synchronized(stages.sortBy(-_.wallMs).take(25))
      top.foreach { s =>
        println(f"[stageprof]   wall=${s.wallMs}%6d ms task=${s.taskMs}%6d ms " +
          f"n=${s.tasks}%3d  ${s.name.take(110)}")
      }
      println(f"[stageprof] sum-wall=${stages.map(_.wallMs).sum} ms " +
        f"sum-task=${stages.map(_.taskMs).sum} ms")
    }
    spark.stop()
  }
}
