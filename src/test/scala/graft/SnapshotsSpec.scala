package graft

import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** Snapshot semantics: versioned commits, pinned reads, append as a
  * zero-rewrite manifest extension, crash-orphan invisibility, and
  * vacuum that reclaims without disturbing kept versions.
  */
class SnapshotsSpec extends SparkSpec {

  private def freshTable(): String =
    Fixture.dir("graft-snap")

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet

  test("every committed version stays readable bit-for-bit") {
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    assert(Snapshots.commit(spark, dir, nation) == 0)
    assert(Snapshots.commit(spark, dir,
      nation.filter(col("n_nationkey") < 10)) == 1)
    assert(Snapshots.commit(spark, dir,
      nation.filter(col("n_nationkey") >= 20)) == 2)
    assert(Snapshots.versions(spark, dir) == Seq(0, 1, 2))
    assert(keys(Snapshots.read(spark, dir, Some(0))) == keys(nation))
    assert(keys(Snapshots.read(spark, dir, Some(1))) ==
      keys(nation.filter(col("n_nationkey") < 10)))
    // latest = v2
    assert(keys(Snapshots.read(spark, dir)) ==
      keys(nation.filter(col("n_nationkey") >= 20)))
  }

  test("append commits reference prior files instead of rewriting them") {
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    Snapshots.commit(spark, dir, nation.filter(col("n_nationkey") < 10))
    val v0Files = Snapshots.files(spark, dir, Some(0))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes0 = v0Files.map(f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, f)).getModificationTime).toMap
    Snapshots.commit(spark, dir,
      nation.filter(col("n_nationkey") >= 10), mode = "append")
    val v1Files = Snapshots.files(spark, dir, Some(1))
    assert(v0Files.toSet.subsetOf(v1Files.toSet),
      "append must carry every prior file forward")
    v0Files.foreach { f =>
      assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, f))
        .getModificationTime == mtimes0(f), s"append must not rewrite $f")
    }
    assert(keys(Snapshots.read(spark, dir)) == keys(nation))
  }

  test("a reader's file set is pinned: later commits don't change it") {
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    Snapshots.commit(spark, dir, nation.filter(col("n_nationkey") < 5))
    val pinned = Snapshots.read(spark, dir) // plans v0's files NOW
    Snapshots.commit(spark, dir, nation) // v1 = everything
    assert(keys(pinned) == keys(nation.filter(col("n_nationkey") < 5)),
      "the already-planned read must still see v0")
    assert(keys(Snapshots.read(spark, dir)) == keys(nation))
  }

  test("a crashed commit's orphan data is invisible and vacuum reclaims it") {
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    Snapshots.commit(spark, dir, nation.filter(col("n_nationkey") < 10))
    // fake a crash: data directory written, manifest never published
    nation.filter(col("n_nationkey") >= 10)
      .write.parquet(s"$dir/snap-v99999999-deadbeef")
    assert(keys(Snapshots.read(spark, dir)) ==
      keys(nation.filter(col("n_nationkey") < 10)),
      "orphan files must be invisible to readers")
    val removed = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(removed >= 1, "vacuum must reclaim the orphan's files")
    assert(!new java.io.File(s"$dir/snap-v99999999-deadbeef").exists)
    assert(keys(Snapshots.read(spark, dir)) ==
      keys(nation.filter(col("n_nationkey") < 10)),
      "the kept version survives vacuum intact")
  }

  test("vacuum drops old versions but never files kept versions share") {
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    Snapshots.commit(spark, dir, nation.filter(col("n_nationkey") < 10))
    Snapshots.commit(spark, dir,
      nation.filter(col("n_nationkey").between(10, 19)), mode = "append")
    Snapshots.commit(spark, dir,
      nation.filter(col("n_nationkey") >= 20), mode = "append")
    // keep v1 and v2; v1's files are shared INTO v2's manifest
    Snapshots.vacuum(spark, dir, keepLast = 2)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(keys(Snapshots.read(spark, dir, Some(1))) ==
      keys(nation.filter(col("n_nationkey") < 20)))
    assert(keys(Snapshots.read(spark, dir, Some(2))) == keys(nation))
    val ex = intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, Some(0)).collect()
    }
    assert(ex.getMessage.contains("v0"))
  }

  test("snapshot compaction: fewer files, same rows, old layout intact") {
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    Snapshots.commit(spark, dir, nation.repartition(8)) // small-file mess
    val before = Snapshots.files(spark, dir, Some(0))
    assert(before.size == 8)
    val v = Snapshots.compact(spark, dir, targetBytes = 1L << 30)
    assert(v == 1)
    val after = Snapshots.files(spark, dir, Some(1))
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    assert(keys(Snapshots.read(spark, dir, Some(1))) == keys(nation))
    // the compacted-away version is STILL the old 8-file layout
    assert(Snapshots.files(spark, dir, Some(0)) == before)
    assert(keys(Snapshots.read(spark, dir, Some(0))) == keys(nation))
  }

  test("manifest-pruned range reads compose with time travel") {
    import graft.sources.StatsManifest
    val dir = freshTable()
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    // v0: range-layout → disjoint per-file key ranges the stats can cut
    Snapshots.commit(spark, dir,
      orders.repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    StatsManifest.appendMissing(spark, dir, Seq("o_orderkey"))
    def keySet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("o_orderkey").collect().map(_.getAs[Number](0).longValue).toSet
    val lo = "1"; val hi = "300"
    val pruned0 = Snapshots.rangeRead(spark, dir, "o_orderkey", lo, hi, Some(0))
    assert(pruned0.inputFiles.length < Snapshots.files(spark, dir, Some(0)).size,
      "stats must drop non-intersecting files of the pinned version")
    assert(keySet(pruned0) == keySet(orders.filter(
      col("o_orderkey").between(1L, 300L))), "pruned ≡ full filter")
    // v1 replaces the contents; v0's pruned read must be UNCHANGED
    Snapshots.commit(spark, dir,
      orders.filter(col("o_orderkey") > 3000L)
        .repartitionByRange(3, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    StatsManifest.appendMissing(spark, dir)
    assert(keySet(Snapshots.rangeRead(spark, dir, "o_orderkey", lo, hi, Some(0)))
      == keySet(orders.filter(col("o_orderkey").between(1L, 300L))),
      "time-travel + pruning still exact after a newer commit")
    assert(Snapshots.rangeRead(spark, dir, "o_orderkey", lo, hi).count() == 0L,
      "the latest version genuinely has no keys in the band")
  }

  test("concurrent commits yield distinct versions and uncorrupted history") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dir = freshTable()
    val nation = Tables(spark, sfDir, "nation")
    // four writers race; a loser that picked an already-taken version
    // must FAIL (IOException), never clobber — so the surviving
    // manifests are distinct versions and every one reads cleanly
    val attempts = (0 until 4).map { i =>
      Future(scala.util.Try(Snapshots.commit(spark, dir,
        nation.filter(col("n_nationkey") % 4 === i))))
    }
    val done = Await.result(Future.sequence(attempts), 180.seconds)
    val won = done.collect { case scala.util.Success(v) => v }
    assert(won.nonEmpty, "at least one writer must win")
    assert(won.distinct.size == won.size, "no two winners share a version")
    done.collect { case scala.util.Failure(e) => e }.foreach { e =>
      assert(e.isInstanceOf[java.io.IOException] &&
        e.getMessage.contains("concurrent writer"), s"unexpected: $e")
    }
    val vs = Snapshots.versions(spark, dir)
    assert(vs.toSet == won.toSet, "manifests on disk = exactly the winners")
    vs.foreach(v => Snapshots.read(spark, dir, Some(v)).collect())
  }

  test("diff classifies inserts, deletes, updates — null-safe — and " +
    "ignores unchanged rows") {
    import spark.implicits._
    val dir = freshTable()
    val v0 = Seq((1L, Option("a"), 10L), (2L, Option("b"), 20L),
      (3L, Option.empty[String], 30L), (4L, Option("d"), 40L))
      .toDF("k", "s", "v")
    val v1 = Seq((1L, Option("a"), 10L), // unchanged -> absent from diff
      (2L, Option("B"), 20L), // value update
      (3L, Option("c"), 30L), // NULL -> value: must count as update
      (5L, Option("e"), 50L)) // insert; 4 deleted
      .toDF("k", "s", "v")
    Snapshots.commit(spark, dir, v0)
    Snapshots.commit(spark, dir, v1)
    val got = Snapshots.diff(spark, dir, 0, 1, Seq("k")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        r.getString(3))).toSet
    assert(got == Set(
      (2L, Some("B"), 20L, "update"),
      (3L, Some("c"), 30L, "update"),
      (4L, Some("d"), 40L, "delete"),
      (5L, Some("e"), 50L, "insert")))
    // diff is version-pinned: a later commit doesn't change it
    Snapshots.commit(spark, dir, v0)
    assert(Snapshots.diff(spark, dir, 0, 1, Seq("k")).count() == 4)
    // reverse diff swaps insert/delete and keeps updates
    val rev = Snapshots.diff(spark, dir, 1, 0, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(rev == Set((2L, "update"), (3L, "update"),
      (4L, "insert"), (5L, "delete")))
  }

  test("merge upserts, deletes, and leaves untouched rows intact") {
    import spark.implicits._
    val dir = freshTable()
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    Snapshots.commit(spark, dir, v0)
    val source = Seq((2L, "B", false), // update
      (4L, "d", false), // insert
      (3L, "ignored", true)) // delete
      .toDF("k", "s", "__del")
    val v = Snapshots.merge(spark, dir, source, Seq("k"), Some("__del"))
    assert(v == 1)
    val got = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (4L, "d")))
    // v0 unchanged under the merge (time travel intact)
    assert(Snapshots.read(spark, dir, Some(0)).count() == 3)
    // diffWide carries both sides of the update for IVM consumers
    val w = Snapshots.diffWide(spark, dir, 0, 1, Seq("k")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        r.getString(3))).toSet
    assert(w == Set(
      (2L, Some("b"), Some("B"), "update"),
      (3L, Some("c"), None, "delete"),
      (4L, None, Some("d"), "insert")))
  }

  test("merge-on-read: stacked deltas resolve last-writer-wins, " +
    "compaction folds the log, pruned reads degrade correctly meanwhile") {
    import spark.implicits._
    import graft.sources.StatsManifest
    val dir = freshTable()
    Snapshots.commit(spark,
      dir, (1L to 100L).map(k => (k, s"v$k")).toDF("k", "s")) // v0
    // delta 1: update k=2, delete k=3, insert k=200
    Snapshots.commitDelta(spark, dir,
      Seq((2L, "B", false), (3L, "x", true), (200L, "new", false))
        .toDF("k", "s", "__del"), Seq("k"), Some("__del"))
    // delta 2: update k=2 AGAIN, resurrect k=3
    Snapshots.commitDelta(spark, dir,
      Seq((2L, "BB", false), (3L, "back", false)).toDF("k", "s", "__del"),
      Seq("k"), Some("__del"))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val merged = rows(Snapshots.read(spark, dir))
    assert(merged.size == 101 && merged(2L) == "BB" && merged(3L) == "back"
      && merged(200L) == "new" && merged(1L) == "v1")
    // pinned history: v0 pre-delta, v1 sees delta 1 only (k=3 deleted)
    assert(rows(Snapshots.read(spark, dir, Some(0))).size == 100)
    val v1 = rows(Snapshots.read(spark, dir, Some(1)))
    assert(v1.size == 100 && v1(2L) == "B" && !v1.contains(3L))
    // rangeRead with pending deltas: correct (delta-aware), even though
    // unpruned — the updated k=2 must surface its DELTA value
    val rr = rows(Snapshots.rangeRead(spark, dir, "k", "1", "5"))
    assert(rr == Map(1L -> "v1", 2L -> "BB", 3L -> "back", 4L -> "v4", 5L -> "v5"))
    // compaction folds the log: same rows, no delta files, meta cleared
    val cv = Snapshots.compactDeltas(spark, dir)
    assert(rows(Snapshots.read(spark, dir)) == merged)
    assert(!Snapshots.files(spark, dir, Some(cv)).exists(_.startsWith("delta-v")))
    assert(!Snapshots.meta(spark, dir).contains("mor.keys"))
    // and a second compactDeltas is a no-op
    assert(Snapshots.compactDeltas(spark, dir) == cv)
    // stats-manifest pruning applies again on the folded layout
    StatsManifest.appendMissing(spark, dir, Seq("k"))
    assert(rows(Snapshots.rangeRead(spark, dir, "k", "1", "5")).size == 5)
    // guards: duplicate keys within one batch, and schema drift, fail loud
    intercept[IllegalArgumentException] {
      Snapshots.commitDelta(spark, dir,
        Seq((7L, "a", false), (7L, "b", false)).toDF("k", "s", "__del"),
        Seq("k"), Some("__del"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitDelta(spark, dir,
        Seq((7L, "a", 1L, false)).toDF("k", "s", "extra", "__del"),
        Seq("k"), Some("__del"))
    }
  }

  test("AS OF TIMESTAMP resolves pinned commit clocks; new commits " +
    "never inherit their predecessor's stamp") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "s"),
      withMeta = Map("committed_at" -> "1000"))
    Snapshots.commit(spark, dir, Seq((1L, "b")).toDF("k", "s"),
      withMeta = Map("committed_at" -> "2000"))
    assert(Snapshots.versionAsOf(spark, dir, 999L).isEmpty)
    assert(Snapshots.versionAsOf(spark, dir, 1500L).contains(0))
    assert(Snapshots.readAsOf(spark, dir, 1500L).head().getString(1) == "a")
    assert(Snapshots.versionAsOf(spark, dir, 9999999999999L).contains(1))
    // a delta commit must carry a FRESH stamp, not v1's pinned 2000
    Snapshots.commitDelta(spark, dir,
      Seq((1L, "c", false)).toDF("k", "s", "__del"), Seq("k"), Some("__del"))
    val deltaStamp = Snapshots.meta(spark, dir, Some(2))("committed_at").toLong
    assert(deltaStamp > 2000L, "delta stamp must be its own wall-clock")
    assert(Snapshots.versionAsOf(spark, dir, 1999L).contains(0))
    assert(Snapshots.readAsOf(spark, dir, deltaStamp).head().getString(1) == "c")
  }

  test("incremental compaction rewrites only the small-file debt; " +
    "compliant files carry forward by reference") {
    import spark.implicits._
    val dir = freshTable()
    // v0: one well-sized file; v1..v3: append dribbles (small files)
    Snapshots.commit(spark, dir,
      (1L to 20000L).map(k => (k, s"v$k")).toDF("k", "s").repartition(1))
    (1 to 3).foreach { i =>
      Snapshots.commit(spark, dir,
        (1L to 50L).map(j => (100000L * i + j, "x")).toDF("k", "s")
          .repartition(1), "append")
    }
    val before = Snapshots.files(spark, dir).toSet
    val bigFile = Snapshots.files(spark, dir, Some(0)).head
    val bigMtime = new java.io.File(s"$dir/$bigFile").lastModified()
    val rows0 = Snapshots.read(spark, dir).count()
    // target sized so v0's file is compliant and the dribbles are dirty
    val bigLen = new java.io.File(s"$dir/$bigFile").length()
    val cv = Snapshots.compactIncremental(spark, dir, targetBytes = bigLen)
    val after = Snapshots.files(spark, dir, Some(cv)).toSet
    assert(after.contains(bigFile), "compliant file must carry by reference")
    assert(new java.io.File(s"$dir/$bigFile").lastModified() == bigMtime
      && new java.io.File(s"$dir/$bigFile").length() == bigLen,
      "compliant file must be byte-untouched")
    assert((before -- after).forall(f =>
        new java.io.File(s"$dir/$f").length() < bigLen / 2),
      "only small files may be rewritten")
    assert(after.size < before.size, "small-file debt must shrink")
    assert(Snapshots.read(spark, dir).count() == rows0, "rows preserved")
    // debt-free table: another run is a no-op version-wise
    assert(Snapshots.compactIncremental(spark, dir, bigLen) == cv ||
      Snapshots.files(spark, dir).count(f =>
        new java.io.File(s"$dir/$f").length() < bigLen / 2) <= 1)
    // prior versions still pinned and readable
    assert(Snapshots.read(spark, dir, Some(0)).count() == 20000L)
  }

  test("schema evolution: added column null-fills old files; dropped " +
      "column prunes; each version reads under its own schema") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // v1 appends rows with an added column
    Snapshots.commit(spark, dir,
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "name", "extra"),
      mode = "append")
    val latest = Snapshots.read(spark, dir)
    assert(latest.columns.toSeq == Seq("id", "name", "extra"))
    val byId = latest.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(30L), 4L -> Some(40L)))
    // time travel: v0 keeps its two-column schema
    assert(Snapshots.read(spark, dir, Some(0)).columns.toSeq == Seq("id", "name"))
    // v2 overwrites WITHOUT the column: declared schema narrows again
    Snapshots.commit(spark, dir, Seq((9L, "z")).toDF("id", "name"))
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("id", "name"))
    // ...while v1 still reads wide
    assert(Snapshots.read(spark, dir, Some(1)).columns.toSeq ==
      Seq("id", "name", "extra"))
  }

  test("MERGE with schema evolution widens the declared schema; without " +
      "the flag a mismatched source is refused") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // no flag: mismatched source fails loudly
    val e = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, dir,
        Seq((2L, "b2", 20L)).toDF("id", "name", "extra"), keyCols = Seq("id"))
    }
    assert(e.getMessage.contains("autoEvolve"))
    // with the flag: upsert lands, schema widens, kept row null-fills
    Snapshots.merge(spark, dir,
      Seq((2L, "b2", 20L), (3L, "c", 30L)).toDF("id", "name", "extra"),
      keyCols = Seq("id"), autoEvolve = true)
    val rows = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b2", Some(20L)), (3L, "c", Some(30L))))
    // and a later narrow source merges too: its missing column null-fills
    Snapshots.merge(spark, dir, Seq((4L, "d")).toDF("id", "name"),
      keyCols = Seq("id"), autoEvolve = true)
    val r4 = Snapshots.read(spark, dir).filter($"id" === 4L).head()
    assert(r4.getString(1) == "d" && r4.isNullAt(2))
  }

  test("schema evolution over pending merge-on-read deltas is refused") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    Snapshots.commitDelta(spark, dir, Seq((1L, "a2")).toDF("id", "name"),
      keyCols = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, dir,
        Seq((2L, "b", 1L)).toDF("id", "name", "extra"), mode = "append")
    }
    assert(e.getMessage.contains("compactDeltas"))
    // fold the log, then the evolution lands
    Snapshots.compactDeltas(spark, dir)
    Snapshots.commit(spark, dir,
      Seq((2L, "b", 1L)).toDF("id", "name", "extra"), mode = "append")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("id", "name", "extra"))
    assert(Snapshots.read(spark, dir).count() == 2)
  }

  test("incremental compaction preserves the declared schema across " +
      "mixed-schema file generations") {
    import spark.implicits._
    val dir = freshTable()
    // v0: many small old-schema files; v1 appends one wide-schema row
    Snapshots.commit(spark, dir,
      (1L to 50L).map(i => (i, s"n$i")).toDF("id", "name").repartition(10))
    Snapshots.commit(spark, dir,
      Seq((99L, "wide", 7L)).toDF("id", "name", "extra"), mode = "append")
    val before = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    Snapshots.compactIncremental(spark, dir, targetBytes = 1L << 20)
    val after = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(after == before, "compaction must not change the merged view")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("id", "name", "extra"))
  }
}
