package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions

/** RangeBinJoinRewrite: a pure range join (no equi keys) must lose its
  * nested-loop plan under the rule and keep identical rows —
  * including multiplicity, inverted intervals, NULLs, and negative
  * domains.
  */
class RangeBinJoinRewriteSpec extends SparkSpec {

  private def withExtendedSession[T](width: Long)(f: SparkSession => T): T = {
    spark // force shared session init first
    val s = GraftExtensions.session()
    s.conf.set("spark.graft.rangeJoin.binWidth", width.toString)
    try f(s)
    finally s.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  private def points(s: SparkSession) = {
    import s.implicits._
    // includes a NULL point and negative values
    Seq(Some(-250L), Some(-1L), Some(0L), Some(7L), Some(99L), Some(100L),
      Some(101L), Some(999L), None)
      .toDF("p").withColumn("pid", monotonically_increasing_id())
  }

  private def intervals(s: SparkSession) = {
    import s.implicits._
    // overlapping intervals, a point interval, an inverted one, a
    // NULL-bounded one, and a negative-domain one
    Seq((1L, Some(0L), Some(100L)), (2L, Some(50L), Some(150L)),
      (3L, Some(99L), Some(99L)), (4L, Some(500L), Some(400L)),
      (5L, None, Some(10L)), (6L, Some(-300L), Some(-2L)))
      .toDF("iid", "lo", "hi")
  }

  private def rangeJoin(s: SparkSession) = {
    val pt = points(s)
    val iv = intervals(s)
    pt.join(iv, pt("p") >= iv("lo") && pt("p") <= iv("hi"))
      .select("pid", "p", "iid")
  }

  test("rule turns the nested-loop range join into a binned hash join " +
      "with identical rows") {
    val naive = rangeJoin(spark)
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(naivePlan.contains("NestedLoopJoin"),
      "without the rule this should be a nested loop: " + naivePlan.take(800))
    val expected = naive.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(expected.nonEmpty)

    Seq(1L, 7L, 100L, 1000L).foreach { width =>
      withExtendedSession(width) { s =>
        val rewritten = rangeJoin(s)
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(!plan.contains("NestedLoopJoin"),
          s"width=$width should rewrite the join: " + plan.take(800))
        val rows = rewritten.collect().map(_.toSeq).toSeq.sortBy(_.toString)
        assert(rows == expected, s"width=$width changed the result")
      }
    }
  }

  test("duplicate rows keep their multiplicity through the rewrite") {
    val mkPoints = (s: SparkSession) => {
      import s.implicits._
      Seq(5L, 5L, 7L).toDF("p") // duplicate point VALUE, two rows
    }
    val mkIv = (s: SparkSession) => {
      import s.implicits._
      Seq((1L, 0L, 10L), (2L, 0L, 10L)).toDF("iid", "lo", "hi") // dup intervals
    }
    val naive = mkPoints(spark).join(mkIv(spark),
        col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("p", "iid").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 2 rows of p=5 × 2 intervals → count 2 per (5, iid); p=7 → 1 each
    assert(naive == Set((5L, 1L, 2L), (5L, 2L, 2L), (7L, 1L, 1L), (7L, 2L, 1L)))
    withExtendedSession(4L) { s =>
      val got = mkPoints(s).join(mkIv(s),
          col("p") >= col("lo") && col("p") <= col("hi"))
        .groupBy("p", "iid").count()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive, "rewrite must preserve row multiplicity exactly")
    }
  }

  test("rule is inert without the width conf and for equi joins") {
    withExtendedSession(0L) { s =>
      val plan = rangeJoin(s).queryExecution.executedPlan.toString
      assert(plan.contains("NestedLoopJoin"),
        "width=0 must leave the join alone: " + plan.take(500))
    }
    withExtendedSession(100L) { s =>
      import s.implicits._
      // an equi conjunct spanning the sides: already hash-joinable
      val a = Seq((1L, 5L), (2L, 50L)).toDF("k", "v")
      val b = Seq((1L, 0L, 10L), (2L, 0L, 10L)).toDF("k2", "lo", "hi")
      val j = a.join(b, a("k") === b("k2") && a("v") >= b("lo") && a("v") <= b("hi"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__range_bin"),
        "spanning equality must suppress the rewrite: " + plan.take(500))
      assert(j.collect().map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("events-scale sanity: per-user range join matches the naive plan") {
    // a realistic shape: event timestamps (micros) against hour bands
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
    val lo = ev.agg(min("t")).head().getLong(0)
    import spark.implicits._
    val bands = (0 until 12).map { i =>
      (i.toLong, lo + i * 3600000000L, lo + (i + 1) * 3600000000L - 1)
    }.toDF("band", "lo", "hi")
    val naive = ev.join(bands, col("t") >= col("lo") && col("t") <= col("hi"))
      .groupBy("band").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    withExtendedSession(3600000000L) { s =>
      val ev2 = Tables(s, sfDir, "events")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
      val bands2 = bands.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      import s.implicits._
      val b2 = bands2.toSeq.toDF("band", "lo", "hi")
      val joined = ev2.join(b2, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!joined.queryExecution.executedPlan.toString.contains("NestedLoopJoin"))
      val got = joined.groupBy("band").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive)
    }
  }
}
