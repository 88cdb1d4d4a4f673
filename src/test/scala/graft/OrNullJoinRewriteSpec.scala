package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions

/** The injected optimizer rule must (a) remove the
  * BroadcastNestedLoopJoin from a naive null-wildcard theta join and
  * (b) leave the results identical.
  */
class OrNullJoinRewriteSpec extends SparkSpec {

  private def withExtendedSession[T](f: SparkSession => T): T = {
    // a second SparkSession on the same SparkContext, with extensions
    spark // force shared session init first
    f(GraftExtensions.session())
  }

  private def thetaJoin(s: SparkSession) = {
    val nation = Tables(s, sfDir, "nation")
    val targets = Tables(s, sfDir, "supplier").select(
      col("s_suppkey").as("t_id"),
      when(col("s_suppkey") % 3 === 0, lit(null).cast("int"))
        .otherwise(col("s_nationkey")).as("t_nationkey"),
      col("s_acctbal").as("t_target"))
    nation.join(targets,
      targets("t_nationkey") === nation("n_nationkey") ||
        targets("t_nationkey").isNull)
      .select("n_nationkey", "n_name", "t_id", "t_target")
  }

  test("rule removes the BNLJ and preserves results") {
    val naive = thetaJoin(spark)
    naive.collect()
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      "without the rule this should be a BNLJ: " + naivePlan.take(800))
    val naiveRows = naive.collect().map(_.toSeq).toSeq.sortBy(_.toString)

    withExtendedSession { s =>
      val rewritten = thetaJoin(s)
      rewritten.collect()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        "rule should have rewritten the join: " + plan.take(800))
      val rows = rewritten.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(rows == naiveRows)
    }
  }

  test("custom expressions are callable from pure SQL via the extensions") {
    withExtendedSession { s =>
      // graft_polyhash: same value the Column API produces
      val sqlHash = s.sql("SELECT graft_polyhash('table hash part')").head().getLong(0)
      import org.apache.spark.sql.functions.lit
      val colHash = s.range(1)
        .select(graft.functions.Text.polyhash(lit("table hash part")))
        .head().getLong(0)
      assert(sqlHash == colHash)
      // graft_dot over array literals, fused-loop kernel
      val d = s.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d))")
        .head().getDouble(0)
      assert(d == 32.0)
      // bitmap family: build per-group blobs, OR-roll them up, count
      // and intersect — the whole qa05/qa06 pipeline in pure SQL
      s.range(0, 100).createOrReplaceTempView("__ids")
      val cnt = s.sql(
        """SELECT graft_bitmap_count(graft_bitmap_or_agg(bm)) FROM (
          |  SELECT id % 3 AS g, graft_bitmap_agg(id) AS bm
          |  FROM __ids GROUP BY id % 3)""".stripMargin).head().getLong(0)
      assert(cnt == 100L)
      val both = s.sql(
        """SELECT graft_bitmap_count(graft_bitmap_and(a.bm, b.bm)) FROM
          |  (SELECT graft_bitmap_agg(id) AS bm FROM __ids WHERE id < 60) a,
          |  (SELECT graft_bitmap_agg(id) AS bm FROM __ids WHERE id >= 40) b"""
          .stripMargin).head().getLong(0)
      assert(both == 20L)
      // graft_nfc: decomposed composes to the precomposed bytes
      val nfc = s.sql("SELECT graft_nfc('Café') = 'Café'")
        .head().getBoolean(0)
      assert(nfc)
      // graft_jaro_winkler: the classic MARTHA/MARHTA value, same
      // kernel the Column API and qe02's gate use
      val jw = s.sql("SELECT graft_jaro_winkler('MARTHA', 'MARHTA')")
        .head().getDouble(0)
      assert(jw == graft.expressions.JaroWinklerSim.compute("MARTHA".getBytes("UTF-8"), "MARHTA".getBytes("UTF-8")))
      // graft_jaro_winkler_cp: the CODEPOINT mode — one unit per CJK
      // character here, hand-computed 0.8222… (ExpressionsSpec pins
      // the full divergence table; DuckDB cannot oracle this mode)
      val jwCp = s.sql("SELECT graft_jaro_winkler_cp('日本語', '日本誤')")
        .head().getDouble(0)
      assert(math.abs(jwCp - 0.8222222222222222) < 1e-12)
      // graft_group_topk: per-group bounded top-k from pure SQL
      val topk = s.sql(
        """SELECT g, e.id FROM (
          |  SELECT id % 2 AS g, graft_group_topk(CAST(id AS DOUBLE), id, 2) AS t
          |  FROM __ids GROUP BY id % 2)
          |LATERAL VIEW explode(t) AS e""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(topk == Set((0L, 98L), (0L, 96L), (1L, 99L), (1L, 97L)))
    }
  }
}
