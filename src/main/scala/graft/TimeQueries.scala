package graft

/** Dev-loop timing probe: run the named gates (by prefix) a few times
  * at a given sf dir and print per-pass wall times. NOT the bench —
  * no archive, no regression math; just the quick "did my change make
  * this query slower" answer without paying a full Bench run.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <prefix> [<prefix> ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.TimeQueries <sfDir> <prefix> [<prefix> ...]")
    val dir = args.head
    val prefixes = args.tail.toSeq
    val spark = LocalSpark.session("graft-time-queries")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    if (names.isEmpty)
      System.err.println(s"[time] no gates match ${prefixes.mkString(", ")}")
    // SPARK_GRAFT_TIMEQ_NOOP=1 evaluates via the noop sink exactly like
    // Bench.timeOne (materializes every column; count() lets Catalyst
    // prune aggregates-only columns) — use it when chasing a bench-only
    // slowdown
    val noop = sys.env.get("SPARK_GRAFT_TIMEQ_NOOP").contains("1")
    for (n <- names; pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      val cnt =
        if (noop) { df.write.format("noop").mode("overwrite").save(); -1L }
        else df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[time] $n%-28s pass$pass $dt%7.3f s rows=$cnt")
    }
    spark.stop()
  }
}
