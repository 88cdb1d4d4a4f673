package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of gated queries to a file — the
  * per-round plan-review loop (check PushedFilters / ReadSchema / join
  * strategies / WholeStageCodegen spans before trusting a bench number)
  * and, with gate names, the per-change plan-diff loop.
  * Usage: runMain graft.Plans [sfDir] [outFile] [gate ...] — no gate
  * names dumps the whole suite.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val spark = LocalSpark.session("graft-plans")
    val byName = SparkEntry.queries
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.allQueries.map(_.name)
    val sb = new StringBuilder
    names.foreach { n =>
      sb.append(s"\n===== $n =====\n")
      try sb.append(byName(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      Blocks.sweepLocalCheckpoints(spark)
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
