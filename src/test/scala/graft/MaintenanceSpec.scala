package graft

import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Small-file compaction: content-identical, layout-preserving, fewer
  * files — and the partition pruning built on the layout still works.
  */
class MaintenanceSpec extends SparkSpec {

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("compaction merges small files, preserves content and partitions") {
    val dir = Fixture.dir("graft-compact")
    val events = Tables(spark, sfDir, "events")
    // accrete many small files per partition (streaming-ingest shape)
    events.repartition(16)
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val before = dataFiles(dir).size
    val want = events.orderBy("event_id").collect().toSeq

    Maintenance.compact(spark, dir, partitionCols = Seq("event_type"))

    val after = dataFiles(dir).size
    assert(after < before,
      s"expected fewer files after compaction, got $before -> $after")
    val got = spark.read.parquet(dir)
      .select(events.columns.map(col): _*) // partition col back in place
      .orderBy("event_id").collect().toSeq
    assert(got == want, "compaction must not change content")

    // pruning still works on the compacted layout
    val pruned = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: ["))
  }

  test("sorted compaction yields files with disjoint key ranges") {
    val dir = Fixture.dir("graft-sorted")
    val orders = Tables(spark, sfDir, "orders")
    orders.repartition(8).write.mode("overwrite").parquet(dir)
    // force a multi-file layout so disjointness is non-trivial
    Maintenance.compact(spark, dir, targetBytes = 8L << 10,
      sortCols = Seq("o_orderkey"))
    val files = dataFiles(dir)
    assert(files.size > 1, "need several files to prove range layout")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file key ranges overlap: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("deleteWhere rewrites only affected partitions and drops emptied ones") {
    val dir = Fixture.dir("graft-delete")
    val events = Tables(spark, sfDir, "events")
    events.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val untouched = dataFiles(dir)
      .filter(_.getPath.contains("event_type=purchase"))
      .map(f => f.getPath -> f.lastModified()).toMap
    assert(untouched.nonEmpty)

    // surgical delete: a user slice inside ONE partition
    val nClickBefore = events.filter(col("event_type") === "click").count()
    val nHit = events.filter(col("event_type") === "click" &&
      col("user_id") % 10 === 0).count()
    assert(nHit > 0)
    Maintenance.deleteWhere(spark, dir, Seq("event_type"),
      col("event_type") === "click" && col("user_id") % 10 === 0)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("event_type") === "click").count() ==
      nClickBefore - nHit)
    assert(after.filter(col("event_type") === "click" &&
      col("user_id") % 10 === 0).count() == 0)
    // untouched partitions: same files, same mtimes — never rewritten
    val untouchedAfter = dataFiles(dir)
      .filter(_.getPath.contains("event_type=purchase"))
      .map(f => f.getPath -> f.lastModified()).toMap
    assert(untouchedAfter == untouched,
      "unaffected partitions must not be read or rewritten")

    // emptying delete: the whole 'view' partition disappears
    Maintenance.deleteWhere(spark, dir, Seq("event_type"),
      col("event_type") === "view")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName == "event_type=view"),
      "an emptied partition's directory must be dropped")
    assert(spark.read.parquet(dir)
      .filter(col("event_type") === "view").count() == 0)
  }

  test("sorted compaction within partition dirs: pruning plus in-file range skipping") {
    val dir = Fixture.dir("graft-psort")
    val events = Tables(spark, sfDir, "events")
    events.repartition(16)
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val want = events.orderBy("event_id").collect().toSeq

    Maintenance.compact(spark, dir, partitionCols = Seq("event_type"),
      targetBytes = 8L << 10, sortCols = Seq("event_id"))

    // each partition directory's files hold DISJOINT event_id ranges —
    // min/max stats can skip files inside the directory pruning chose
    val partDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(partDirs.nonEmpty)
    var multiFileDirs = 0
    partDirs.foreach { pd =>
      val files = dataFiles(pd.toString)
      if (files.size > 1) multiFileDirs += 1
      val ranges = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("event_id"), max("event_id")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi <= lo2, s"in-partition file ranges overlap in ${pd.getName}: $ranges")
        case _ =>
      }
    }
    assert(multiFileDirs > 0,
      "need a partition dir with several files to prove in-dir range layout")

    // directory pruning still works, and content is unchanged
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: ["))
    val got = spark.read.parquet(dir)
      .select(events.columns.map(col): _*)
      .orderBy("event_id").collect().toSeq
    assert(got == want, "sorted partitioned compaction must not change content")
  }

  test("partitioned compaction splits an oversized partition into multiple files") {
    val dir = Fixture.dir("graft-psplit")
    val events = Tables(spark, sfDir, "events")
    events.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    Maintenance.compact(spark, dir, partitionCols = Seq("event_type"),
      targetBytes = 2L << 10)
    val perDir = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
      .map(pd => dataFiles(pd.toString).size)
    assert(perDir.exists(_ > 1),
      s"a partition above targetBytes must split into several files, got $perDir")
    assert(spark.read.parquet(dir).count() == events.count())
  }

  test("deleteWhere keeps rows whose predicate evaluates NULL (SQL DELETE semantics)") {
    val dir = Fixture.dir("graft-delnull")
    import spark.implicits._
    val df = Seq(
      ("2024", "alice", 1), ("2024", "bob", 2), ("2024", null, 3),
      ("2025", "alice", 4), ("2025", null, 5)
    ).toDF("year", "user", "amount")
    df.write.partitionBy("year").mode("overwrite").parquet(dir)

    // delete alice from 2024: the NULL-user row in that partition makes
    // the predicate evaluate NULL — it must SURVIVE, not be erased
    val n = Maintenance.deleteWhere(spark, dir, Seq("year"),
      col("user") === "alice" && col("year") === "2024")
    assert(n == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == 4)
    assert(after.filter(col("user").isNull && col("year") === "2024").count() == 1,
      "NULL-predicate rows must survive a delete of their partition")
    assert(after.filter(col("user") === "alice" && col("year") === "2024").count() == 0)
    assert(after.filter(col("year") === "2025").count() == 2)
  }

  test("deleteWhere reaches a partition whose value contains DEL (full Hive escape set)") {
    val dir = Fixture.dir("graft-deldel")
    import spark.implicits._
    //  (DEL) is escaped by Spark's partition-path writer; a
    // composed DROP path missing it never matches the directory Spark
    // wrote and the emptied partition's rows would silently survive
    val weird = "xy"
    val df = Seq((weird, "alice", 1), (weird, "bob", 2), ("ok", "bob", 3))
      .toDF("region", "user", "amount")
    df.write.partitionBy("region").mode("overwrite").parquet(dir)
    val n = Maintenance.deleteWhere(spark, dir, Seq("region"),
      col("region") === weird)
    assert(n == 1, "exactly the DEL-valued partition is affected")
    val after = spark.read.parquet(dir)
    assert(after.count() == 1)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.contains("%7F")),
      "the emptied DEL-valued partition directory must be dropped")
  }

  test("zorderCompact survives an all-NULL z column and an empty table") {
    val dir = Fixture.dir("graft-znull")
    import spark.implicits._
    // all-NULL second column: its range is undefined, so it contributes
    // nothing to the curve — but the rewrite must not NPE
    Seq((1L, Option.empty[Long], "a"), (2L, None, "b"), (3L, None, "c"))
      .toDF("k", "v", "s")
      .write.mode("overwrite").parquet(dir)
    Maintenance.zorderCompact(spark, dir, Seq("k", "v"), targetBytes = 1L << 20)
    assert(spark.read.parquet(dir).count() == 3)
    assert(spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("k"))
      .head().getLong(0) == 6L)

    val empty = Fixture.dir("graft-zempty")
    Seq((1L, 2L)).toDF("k", "v").filter(col("k") < 0)
      .write.mode("overwrite").parquet(empty)
    Maintenance.zorderCompact(spark, empty, Seq("k", "v"), targetBytes = 1L << 20)
    assert(spark.read.parquet(empty).count() == 0)
  }

  test("deleteWhere reaches rows in a NULL partition value") {
    val dir = Fixture.dir("graft-delnullpart")
    import spark.implicits._
    val df = Seq(
      ("us", "alice", 1), ("us", "bob", 2),
      (null, "alice", 3), (null, "carol", 4)
    ).toDF("region", "user", "amount")
    df.write.partitionBy("region").mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName == "region=__HIVE_DEFAULT_PARTITION__"))

    val n = Maintenance.deleteWhere(spark, dir, Seq("region"),
      col("user") === "alice")
    assert(n == 2, "both the us and the NULL partition hold alice rows")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("user") === "alice").count() == 0,
      "alice rows in the NULL partition must actually be deleted")
    assert(after.count() == 2)
    assert(after.filter(col("region").isNull).count() == 1,
      "the NULL partition's surviving row must remain")

    // emptying the NULL partition drops its directory too
    Maintenance.deleteWhere(spark, dir, Seq("region"), col("region").isNull)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName == "region=__HIVE_DEFAULT_PARTITION__"),
      "an emptied NULL partition's directory must be dropped")
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("recoverDelete rolls a journaled crash forward") {
    val dir = Fixture.dir("graft-delrecover")
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("b", 3)).toDF("p", "v")
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    // simulate a crash AFTER the commit point (stage + journal written,
    // no renames done): partition a's survivors staged, partition b emptied
    Seq(("a", 2)).toDF("p", "v")
      .write.partitionBy("p").mode("overwrite").parquet(dir + "__delstage")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "._delete_journal"), "KEEP p=a\nDROP p=b\n")

    Maintenance.recoverDelete(spark, dir)

    val after = spark.read.parquet(dir)
    assert(after.collect().map(r => (r.getAs[String]("p"), r.getAs[Int]("v")))
      .toSet == Set(("a", 2)), "recovery must complete the journaled delete")
    assert(!new java.io.File(dir, "._delete_journal").exists())
    assert(!new java.io.File(dir + "__delstage").exists())
    // idempotent when clean
    Maintenance.recoverDelete(spark, dir)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("z-order compaction bounds file ranges on BOTH columns; single-key sort does not") {
    val zdir = Fixture.dir("graft-zorder")
    val sdir = Fixture.dir("graft-zsort")
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    events.repartition(8).write.mode("overwrite").parquet(zdir)
    events.repartition(8).write.mode("overwrite").parquet(sdir)
    val want = events.orderBy("event_id").collect().toSeq

    // fine-grained byte target: the z-curve bounds per-file ranges only
    // once there are enough files to cut the curve below quadrant size
    Maintenance.zorderCompact(spark, zdir, Seq("event_id", "user_id"),
      targetBytes = 2L << 10)
    Maintenance.compact(spark, sdir, targetBytes = 2L << 10,
      sortCols = Seq("event_id"))

    // per-file (min,max) of a column; a point "hits" a file when it
    // falls inside that file's range — the files parquet min/max stats
    // CANNOT skip for an equality/range predicate at that point
    def hits(dir: String, c: String, p: Long): (Int, Int) = {
      val files = dataFiles(dir)
      val hit = files.count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)), max(col(c))).head()
        r.getLong(0) <= p && p <= r.getLong(1)
      }
      (hit, files.size)
    }
    val eMid = events.agg(expr("percentile(event_id, 0.5)")).head().getDouble(0).toLong
    val uMid = events.agg(expr("percentile(user_id, 0.5)")).head().getDouble(0).toLong

    val (ze, zn) = hits(zdir, "event_id", eMid)
    val (zu, _) = hits(zdir, "user_id", uMid)
    assert(zn > 2, s"need several files to prove skipping, got $zn")
    assert(ze < zn, s"z-order must skip some files on event_id ($ze/$zn hit)")
    assert(zu < zn, s"z-order must skip some files on user_id ($zu/$zn hit)")

    // the single-key sorted layout skips perfectly on its key but a
    // mid-range user_id point hits EVERY file — the gap z-order closes
    val (se, sn) = hits(sdir, "event_id", eMid)
    val (su, _) = hits(sdir, "user_id", uMid)
    assert(se < sn)
    assert(su == sn, s"single-key sort should not bound user_id ranges ($su/$sn)")

    val got = spark.read.parquet(zdir).orderBy("event_id").collect().toSeq
    assert(got == want, "z-order compaction must not change content")
  }

  test("compaction of an unpartitioned table coalesces to the byte target") {
    val dir = Fixture.dir("graft-compact1")
    val nation = Tables(spark, sfDir, "nation")
    nation.repartition(8).write.mode("overwrite").parquet(dir)
    assert(dataFiles(dir).size > 1)
    val n = Maintenance.compact(spark, dir) // tiny table -> 1 file
    assert(n == 1 && dataFiles(dir).size == 1)
    assert(spark.read.parquet(dir).count() == nation.count())
  }
}
