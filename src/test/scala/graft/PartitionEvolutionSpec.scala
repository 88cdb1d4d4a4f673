package graft

import org.apache.spark.sql.functions._

import graft.sources.{PartitionSpec, Snapshots}

/** Hidden-partitioning + partition-spec evolution over snapshot tables:
  * layout never changes query results, mixed specs union in one read,
  * per-file path pruning is exact under evolution, identity values
  * survive path escaping, and time travel / vacuum compose.
  */
class PartitionEvolutionSpec extends SparkSpec {

  private def freshTable(): String =
    Fixture.dir("graft-pspec")

  private def li = Tables(spark, sfDir, "lineitem")
    .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity", "l_returnflag")

  private def keyset(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet

  test("partitioned commit reads back identically to a flat commit; layout is hidden") {
    val flat = freshTable(); val part = freshTable()
    Snapshots.commit(spark, flat, li)
    Snapshots.commit(spark, part, li, partitionBy = Seq(("year", "l_shipdate")))
    val a = Snapshots.read(spark, flat)
    val b = Snapshots.read(spark, part)
    assert(a.columns.toSeq == b.columns.toSeq, "no __p_* leakage")
    assert(keyset(a) == keyset(b))
    assert(b.filter(col("l_shipdate").isNull).count() ==
      a.filter(col("l_shipdate").isNull).count())
    // the layout really is partitioned on disk
    assert(Snapshots.files(spark, part).forall(_.contains("__p_year_l_shipdate=")))
  }

  test("spec evolution: one table mixes year- and month-partitioned commits") {
    val t = freshTable()
    val cut = "1998-01-01"
    Snapshots.commit(spark, t, li.filter(col("l_shipdate") < cut),
      partitionBy = Seq(("year", "l_shipdate")))
    Snapshots.commit(spark, t, li.filter(col("l_shipdate") >= cut),
      mode = "append", partitionBy = Seq(("month", "l_shipdate")))
    val rel = Snapshots.files(spark, t)
    assert(rel.exists(_.contains("__p_year_l_shipdate=")))
    assert(rel.exists(_.contains("__p_month_l_shipdate=")))
    assert(keyset(Snapshots.read(spark, t)) == keyset(li))
    // time travel: v0 is only the pre-cut half, under the old spec
    assert(keyset(Snapshots.read(spark, t, Some(0))) ==
      keyset(li.filter(col("l_shipdate") < cut)))
  }

  test("rangeRead prunes files under each file's OWN spec and stays exact") {
    val t = freshTable()
    val cut = "1998-01-01"
    Snapshots.commit(spark, t, li.filter(col("l_shipdate") < cut),
      partitionBy = Seq(("year", "l_shipdate")))
    Snapshots.commit(spark, t, li.filter(col("l_shipdate") >= cut),
      mode = "append", partitionBy = Seq(("month", "l_shipdate")))
    val (lo, hi) = ("1997-06-01", "1998-03-31")
    val got = Snapshots.rangeRead(spark, t, "l_shipdate", lo, hi)
    val exp = li.filter(col("l_shipdate") >= lo && col("l_shipdate") <= hi)
    assert(keyset(got) == keyset(exp))
    // the pruner keeps exactly: 1997 year-files (1998 rows live in the
    // month-spec half) and 1998-01..03 month-files (336..338 since 1970-01)
    val rel = Snapshots.files(spark, t)
    val kept = rel.filter(PartitionSpec.mayContain(_, "l_shipdate", lo, hi))
    assert(kept.nonEmpty && kept.size < rel.size, "pruning must drop files")
    val keptYears = kept.filter(_.contains("__p_year_")).flatMap(
      PartitionSpec.segments(_).collectFirst { case ("year", _, v) => v.toInt })
    assert(keptYears.toSet == Set(1997))
    val keptMonths = kept.filter(_.contains("__p_month_")).flatMap(
      PartitionSpec.segments(_).collectFirst { case ("month", _, v) => v.toInt })
    assert(keptMonths.toSet == Set(336, 337, 338))
    // pruning on an UNPARTITIONED column keeps everything (conservative)
    assert(rel.count(PartitionSpec.mayContain(_, "l_quantity", "0", "1")) == rel.size)
  }

  test("partition evolution composes with schema evolution: old partitioned " +
    "files null-fill the evolved column under the declared schema") {
    val t = freshTable()
    val cut = "1998-01-01"
    Snapshots.commit(spark, t,
      li.select("l_orderkey", "l_linenumber", "l_shipdate")
        .filter(col("l_shipdate") < cut),
      partitionBy = Seq(("year", "l_shipdate")))
    Snapshots.commit(spark, t,
      li.select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .filter(col("l_shipdate") >= cut),
      mode = "append", partitionBy = Seq(("month", "l_shipdate")))
    val r = Snapshots.read(spark, t)
    assert(r.columns.toSeq ==
      Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"))
    // pre-evolution rows (year-spec files) null-fill; new rows carry data
    assert(r.filter(col("l_shipdate") < cut)
      .filter(col("l_quantity").isNotNull).count() == 0)
    assert(r.filter(col("l_shipdate") >= cut)
      .filter(col("l_quantity").isNull).count() == 0)
    assert(keyset(r) == keyset(li))
    // time travel reads v0 under ITS schema (no l_quantity at all)
    assert(Snapshots.read(spark, t, Some(0)).columns.toSeq ==
      Seq("l_orderkey", "l_linenumber", "l_shipdate"))
    // and the pruned range read aligns both generations too
    val got = Snapshots.rangeRead(spark, t, "l_shipdate",
      "1997-06-01", "1998-03-31")
    assert(got.columns.toSeq ==
      Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"))
    assert(keyset(got) == keyset(li.filter(
      col("l_shipdate") >= "1997-06-01" && col("l_shipdate") <= "1998-03-31")))
  }

  test("identity transform: equality prune survives path escaping") {
    val t = freshTable()
    import spark.implicits._
    val df = Seq(("a b:c", 1L), ("plain", 2L), ("x%20y", 3L))
      .toDF("k", "v")
    Snapshots.commit(spark, t, df, partitionBy = Seq(("identity", "k")))
    val rel = Snapshots.files(spark, t)
    assert(rel.size >= 3)
    for (k <- Seq("a b:c", "plain", "x%20y")) {
      val kept = rel.filter(PartitionSpec.mayContain(_, "k", k, k))
      val got = Snapshots.rangeRead(spark, t, "k", k, k)
        .select("v").collect().map(_.getLong(0)).toSet
      assert(got == df.where(col("k") === k).select("v")
        .collect().map(_.getLong(0)).toSet, s"k=$k")
      assert(kept.size < rel.size, s"k=$k must prune the other partitions")
    }
    // a RANGE over identity never prunes (string order is unsound)
    assert(rel.count(PartitionSpec.mayContain(_, "k", "a", "z")) == rel.size)
  }

  test("bucket transform: point reads prune to one bucket; ranges never prune") {
    val t = freshTable()
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Snapshots.commit(spark, t, orders,
      partitionBy = Seq(("bucket16", "o_custkey")))
    val rel = Snapshots.files(spark, t)
    val buckets = rel.flatMap(
      PartitionSpec.segments(_).collectFirst { case (b, _, v) if b.startsWith("bucket") => v })
      .toSet
    assert(buckets.size > 8, s"expected most of 16 buckets, got $buckets")
    // every present custkey lands in exactly its own bucket's files
    val someKey = orders.select("o_custkey").limit(1).collect().head.getLong(0)
    val kept = rel.filter(PartitionSpec.mayContain(_, "o_custkey", s"$someKey", s"$someKey"))
    val expBucket = PartitionSpec.bucketValue(someKey.toString, 16).toString
    assert(kept.nonEmpty && kept.forall(
      PartitionSpec.segments(_).exists { case (_, _, v) => v == expBucket }))
    assert(kept.size < rel.size)
    val got = Snapshots.rangeRead(spark, t, "o_custkey", s"$someKey", s"$someKey")
    assert(got.count() == orders.filter(col("o_custkey") === someKey).count())
    // a RANGE over a hashed key must keep everything
    assert(rel.count(PartitionSpec.mayContain(_, "o_custkey", "1", "99999")) == rel.size)
  }

  test("history reports one metadata row per version; restore re-references " +
    "the old files with zero copy and survives vacuum") {
    val t = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    Snapshots.commit(spark, t, nation.filter(col("n_nationkey") < 10))      // v0
    Snapshots.commit(spark, t, nation.filter(col("n_nationkey") < 5),
      mode = "append")                                                      // v1
    Snapshots.commit(spark, t, nation.filter(col("n_nationkey") >= 20))     // v2
    val h = Snapshots.history(spark, t).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getBoolean(5))).toList
    assert(h.map(_._1) == List(0, 1, 2))
    assert(h.count(_._3) == 1 && h.last._3, "exactly the head is current")
    assert(h(1)._2 > h(0)._2, "append grows the referenced file count")
    assert(Snapshots.history(spark, t)
      .filter(col("committed_at_ms").isNull).count() == 0)
    // restore: new head, v0's exact file list, no data copied
    val v0Files = Snapshots.files(spark, t, Some(0))
    assert(Snapshots.restore(spark, t, 0) == 3)
    assert(Snapshots.files(spark, t) == v0Files)
    def keys0 = Snapshots.read(spark, t).select("n_nationkey")
      .collect().map(_.getAs[Number](0).longValue).toSet
    val expect = keys0
    // vacuum to the restored head only: v1/v2's unreferenced data goes,
    // v0's files survive because the head re-references them
    val removed = Snapshots.vacuum(spark, t, keepLast = 1)
    assert(removed > 0, "v1/v2 data must be reclaimed")
    assert(keys0 == expect, "restored head must read bit-identically post-vacuum")
  }

  test("vacuum reclaims a dropped partitioned version without touching the kept one") {
    val t = freshTable()
    Snapshots.commit(spark, t, li.filter(col("l_orderkey") % 2 === 0),
      partitionBy = Seq(("year", "l_shipdate")))
    Snapshots.commit(spark, t, li.filter(col("l_orderkey") % 2 === 1),
      partitionBy = Seq(("year", "l_shipdate")))
    val removed = Snapshots.vacuum(spark, t, keepLast = 1)
    assert(removed > 0, "v0's partitioned files must be reclaimed")
    assert(keyset(Snapshots.read(spark, t)) ==
      keyset(li.filter(col("l_orderkey") % 2 === 1)))
  }
}
