package graft

import org.apache.spark.sql.functions._

import graft.operators.Maintenance
import graft.sources.StatsManifest

/** Driver-side scan planning from the persisted file-stats manifest:
  * prunes non-intersecting files BEFORE the scan exists, returns
  * exactly what a full scan + filter returns, and a stale manifest can
  * only under-prune — never lose rows.
  */
class StatsManifestSpec extends SparkSpec {

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("range read prunes files on a sorted layout and matches the full scan") {
    val dir = Fixture.dir("graft-manifest")
    val orders = Tables(spark, sfDir, "orders")
    orders.repartition(8).write.mode("overwrite").parquet(dir)
    Maintenance.compact(spark, dir, targetBytes = 8L << 10,
      sortCols = Seq("o_orderkey"))
    assert(dataFiles(dir).size > 1, "need several files to prove pruning")
    StatsManifest.write(spark, dir, Seq("o_orderkey"))

    val keys = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (keys.getLong(0), keys.getLong(0) + (keys.getLong(1) - keys.getLong(0)) / 10)
    val pruned = StatsManifest.rangeRead(spark, dir, "o_orderkey",
      lo.toString, hi.toString)
    val expected = spark.read.parquet(dir)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)

    // fewer files enter the plan than exist on disk
    assert(pruned.inputFiles.length < dataFiles(dir).size,
      s"manifest must drop files: ${pruned.inputFiles.length} of ${dataFiles(dir).size}")
    // and the result is exactly the full-scan answer
    assert(pruned.orderBy("o_orderkey", "o_custkey").collect().toSeq ==
      expected.orderBy("o_orderkey", "o_custkey").collect().toSeq)
  }

  test("two-level manifest plans from partition summaries, opening per-file " +
      "stats for a strict subset of partitions") {
    val dir = Fixture.dir("graft-manifest2l")
    val base = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    // 8 key bands regardless of scale factor
    val kmax = base.agg(max("o_orderkey")).head().getLong(0)
    val band = math.max(1L, kmax / 8)
    val orders = base
      .withColumn("pband", (col("o_orderkey") / band).cast("long"))
    orders.repartition(2).write.mode("overwrite")
      .partitionBy("pband").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("pband="))
    assert(parts > 3, s"need several partitions to prove skipping, got $parts")
    StatsManifest.writePartitioned(spark, dir, Seq("o_orderkey"))

    val (pruned, stats) = StatsManifest.rangeReadTwoLevel(
      spark, dir, "o_orderkey", band.toString, (3 * band).toString)
    // planning touched per-file rows for a STRICT SUBSET of partitions —
    // the driver-memory property the two-level layout exists for
    assert(stats.partsOpened < stats.partsTotal,
      s"per-file stats opened for ${stats.partsOpened} of ${stats.partsTotal}")
    assert(stats.partsOpened > 0 && stats.files.nonEmpty)
    // and fewer files entered the plan than live on disk
    assert(stats.files.size < dataFiles(dir).size)
    // results are exactly the full-scan answer
    val expected = spark.read.parquet(dir)
      .filter(col("o_orderkey") >= band && col("o_orderkey") <= 3 * band)
    assert(pruned.orderBy("o_orderkey", "o_custkey").collect().toSeq ==
      expected.orderBy("o_orderkey", "o_custkey").collect().toSeq)
  }

  test("two-level manifest keeps files appended into a pruned-out partition") {
    // a partition whose RECORDED range is disjoint from the predicate
    // gets new files after the manifest refresh: the file count
    // mismatch forces the per-file stats open, where the unknown files
    // are conservatively kept — stale under-prunes, never loses rows
    val dir = Fixture.dir("graft-manifest2s")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .withColumn("p", lit("p0")).unionByName(
        Seq((100L, "c")).toDF("k", "v").withColumn("p", lit("p1")))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writePartitioned(spark, dir, Seq("k"))
    // p0's recorded range is [1, 2]; now a row lands there that the
    // predicate below WOULD match
    Seq((50L, "late")).toDF("k", "v").withColumn("p", lit("p0"))
      .write.mode("append").partitionBy("p").parquet(dir)

    val (got, stats) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "40", "60")
    assert(got.select("k").collect().map(_.getLong(0)).toSet == Set(50L),
      "a late file in a range-disjoint partition must survive the prune")
    assert(stats.partsOpened == 1,
      s"only the stale partition should open per-file stats: $stats")
  }

  test("refreshStalePartitions re-scans only stale partitions and restores " +
      "the tight prune") {
    val dir = Fixture.dir("graft-manifest2r")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").withColumn("p", lit("p0"))
      .unionByName(Seq((100L, "c")).toDF("k", "v").withColumn("p", lit("p1")))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writePartitioned(spark, dir, Seq("k"))
    // appends: one into an existing partition, one brand-new partition
    Seq((50L, "late")).toDF("k", "v").withColumn("p", lit("p0"))
      .write.mode("append").partitionBy("p").parquet(dir)
    Seq((200L, "new")).toDF("k", "v").withColumn("p", lit("p2"))
      .write.mode("append").partitionBy("p").parquet(dir)

    assert(StatsManifest.refreshStalePartitions(spark, dir) == 2,
      "exactly the appended-into and brand-new partitions refresh")
    // idempotent: a replay sees matching counts and no-ops
    assert(StatsManifest.refreshStalePartitions(spark, dir) == 0)

    // the prune is tight again: the 40..60 band decides p1 and p2 from
    // the summary alone (disjoint, counts match) and opens only p0
    val (got, stats) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "40", "60")
    assert(got.select("k").collect().map(_.getLong(0)).toSet == Set(50L))
    assert(stats.partsOpened == 1, s"refresh must restore summary trust: $stats")
    // and the new partition serves through the summary too
    val (got2, stats2) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "150", "250")
    assert(got2.select("k").collect().map(_.getLong(0)).toSet == Set(200L))
    assert(stats2.partsOpened == 1, s"new partition must be covered: $stats2")
  }

  test("two-level bloom manifest skips whole partitions on point lookups " +
      "and keeps late files") {
    val dir = Fixture.dir("graft-bloom2l")
    import spark.implicits._
    // 4 partitions x 2 files, keys unique and scattered across files
    val df = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn("p", concat(lit("p"), pmod(col("k"), lit(4L))))
    df.repartition(2).write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k"),
      fileBits = 1024, partBits = 4096)

    val (hit, stats) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "42")
    assert(hit.select("k").collect().map(_.getLong(0)).toSeq == Seq(42L))
    // the key lives in ONE partition; unions must rule out (nearly)
    // all others without opening their per-file filters
    assert(stats.partsOpened < stats.partsTotal,
      s"unions failed to skip partitions: $stats")
    assert(stats.files.size < dataFiles(dir).size,
      s"per-file blooms failed to skip files: $stats")

    // a late file in a union-says-no partition: count mismatch forces
    // the per-file open and the unknown file survives the prune
    Seq((10042L, "late")).toDF("k", "v").withColumn("p", lit("p1"))
      .write.mode("append").partitionBy("p").parquet(dir)
    val (late, _) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "10042")
    assert(late.select("k").collect().map(_.getLong(0)).toSeq == Seq(10042L),
      "a late file must survive a union that predates it")
  }

  test("an equal-count file REPLACEMENT can't drop a partition whole — the " +
      "file-set fingerprint forces the per-file open") {
    // delete one file, append another with out-of-band values: the
    // partition's file COUNT still matches the recorded n_files, so a
    // count-only staleness signal would drop the whole partition on a
    // range-disjoint probe and lose the new rows. The recorded
    // fingerprint of the partition's file names must catch it.
    val dir = Fixture.dir("graft-manifest2f")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .withColumn("p", lit("p0")).unionByName(
        Seq((100L, "c")).toDF("k", "v").withColumn("p", lit("p1")))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writePartitioned(spark, dir, Seq("k"))

    // replace p0's single file with a different single file holding a
    // value the recorded [1, 2] range says can't be there
    val p0 = new java.io.File(dir, "p=p0")
    val old = p0.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(old.length == 1, s"test needs exactly one file, got ${old.length}")
    val scratch = Fixture.dir("graft-repl")
    Seq((50L, "swapped")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    val repl = new java.io.File(scratch).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(repl.toPath,
      new java.io.File(p0, "part-replaced.snappy.parquet").toPath)
    assert(old.head.delete())

    val (got, stats) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "40", "60")
    assert(got.select("k").collect().map(_.getLong(0)).toSet == Set(50L),
      "an equal-count replacement file must survive the prune")
    assert(stats.partsOpened == 1,
      s"only the fingerprint-mismatched partition opens: $stats")

    // refresh treats the replacement as stale too, and restores trust
    assert(StatsManifest.refreshStalePartitions(spark, dir) == 1,
      "fingerprint mismatch must mark the partition stale")
    assert(StatsManifest.refreshStalePartitions(spark, dir) == 0)
    val (got2, stats2) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "40", "60")
    assert(got2.select("k").collect().map(_.getLong(0)).toSet == Set(50L))
    assert(stats2.partsOpened == 1, s"summary trust restored: $stats2")
    // and a probe disjoint from EVERY partition decides from summaries
    val (_, stats3) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "900", "999")
    assert(stats3.partsOpened == 0,
      s"refreshed fingerprints must allow drop-whole again: $stats3")
  }

  test("refreshStaleBloomPartitions re-scans only stale partitions and " +
      "restores partition skipping") {
    val dir = Fixture.dir("graft-bloom2r")
    import spark.implicits._
    val df = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn("p", concat(lit("p"), pmod(col("k"), lit(4L))))
    df.coalesce(1).write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k"),
      fileBits = 1024, partBits = 4096)

    // three staleness shapes at once: an append into p1 (count
    // mismatch), an equal-count file REPLACEMENT in p2 (fingerprint
    // mismatch), and a brand-new partition p9 (no recorded line)
    Seq((10042L, "late")).toDF("k", "v").withColumn("p", lit("p1"))
      .write.mode("append").partitionBy("p").parquet(dir)
    val p2 = new java.io.File(dir, "p=p2")
    val old = p2.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(old.length == 1)
    val scratch = Fixture.dir("graft-replbr")
    Seq((77777L, "swapped")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    java.nio.file.Files.copy(
      new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      new java.io.File(p2, "part-replaced.snappy.parquet").toPath)
    assert(old.head.delete())
    Seq((20042L, "new")).toDF("k", "v").withColumn("p", lit("p9"))
      .write.mode("append").partitionBy("p").parquet(dir)

    assert(StatsManifest.refreshStaleBloomPartitions(spark, dir) == 3,
      "exactly the appended-into, replaced, and brand-new partitions refresh")
    // idempotent: a replay sees matching file sets and no-ops
    assert(StatsManifest.refreshStaleBloomPartitions(spark, dir) == 0)

    // every new key serves THROUGH the refreshed unions with partition
    // skipping intact — the summary decides, per-file filters open for
    // a strict subset of the 5 partitions
    for (key <- Seq(10042L, 77777L, 20042L)) {
      val (hit, stats) = StatsManifest.pointReadTwoLevel(
        spark, dir, "k", key.toString)
      assert(hit.select("k").collect().map(_.getLong(0)).toSeq == Seq(key),
        s"refreshed blooms must serve $key")
      assert(stats.partsTotal == 5 && stats.partsOpened < stats.partsTotal,
        s"unions must keep skipping partitions for $key: $stats")
    }
    // untouched partitions still serve their original keys
    val (keep, _) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "43")
    assert(keep.select("k").collect().map(_.getLong(0)).toSeq == Seq(43L),
      "pass-through parts lines must keep serving untouched partitions")
  }

  test("a missing per-file bloom filter file is a conservative keep — " +
      "readers are safe during the refresh swap window") {
    val dir = Fixture.dir("graft-bloom2w")
    import spark.implicits._
    val df = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn("p", concat(lit("p"), pmod(col("k"), lit(4L))))
    df.coalesce(1).write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k"),
      fileBits = 1024, partBits = 4096)
    // refreshStaleBloomPartitions swaps per-file filter files with a
    // delete+rename; a reader landing in that window sees the summary
    // but no per-file file — it must keep the partition's files whole
    val p1Filters = new java.io.File(dir, "_bloom_manifest_files/p=p1")
    assert(p1Filters.exists(), s"expected per-file filters at $p1Filters")
    assert(p1Filters.delete())
    val (hit, stats) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "41")
    assert(hit.select("k").collect().map(_.getLong(0)).toSeq == Seq(41L),
      "rows must survive a missing per-file filter file")
    assert(stats.partsOpened <= stats.partsTotal)
  }

  test("an equal-count replacement can't hide from the two-level bloom " +
      "manifest either") {
    val dir = Fixture.dir("graft-bloom2f")
    import spark.implicits._
    val df = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn("p", concat(lit("p"), pmod(col("k"), lit(4L))))
    df.coalesce(1).write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k"),
      fileBits = 1024, partBits = 4096)

    // swap p1's single file for one holding a key no union ever saw
    val p1 = new java.io.File(dir, "p=p1")
    val old = p1.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(old.length == 1)
    val scratch = Fixture.dir("graft-replb")
    Seq((77777L, "swapped")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    java.nio.file.Files.copy(
      new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      new java.io.File(p1, "part-replaced.snappy.parquet").toPath)
    assert(old.head.delete())

    val (hit, stats) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "77777")
    assert(hit.select("k").collect().map(_.getLong(0)).toSeq == Seq(77777L),
      "a replaced file's keys must survive a union that predates them")
    assert(stats.partsOpened >= 1, s"the swapped partition must open: $stats")
  }

  test("table paths with URI-escapable characters still prune (rel keys " +
      "decode like the reader's)") {
    // input_file_name() is percent-encoded; deriving rel keys from the
    // raw string made a path with a space produce garbage keys and the
    // prune silently kept everything (and a quote broke the spliced
    // SQL literal outright). Both now decode exactly like the reader.
    val dir = Fixture.dir("graft man'fest")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .withColumn("p", lit("p0")).unionByName(
        Seq((100L, "c")).toDF("k", "v").withColumn("p", lit("p1")))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writePartitioned(spark, dir, Seq("k"))
    val (got, stats) = StatsManifest.rangeReadTwoLevel(spark, dir, "k",
      "90", "110")
    assert(got.select("k").collect().map(_.getLong(0)).toSet == Set(100L))
    assert(stats.partsOpened == 1,
      s"decoded rel keys must let the summary decide p0: $stats")

    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k"),
      fileBits = 1024, partBits = 4096)
    val (hit, bstats) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "100")
    assert(hit.select("k").collect().map(_.getLong(0)).toSeq == Seq(100L))
    assert(bstats.partsOpened < bstats.partsTotal,
      s"bloom unions must skip through an escapable path: $bstats")
  }

  test("a stale manifest keeps unknown files — under-prunes, never loses rows") {
    val dir = Fixture.dir("graft-manifest2")
    val nation = Tables(spark, sfDir, "nation")
    nation.filter(col("n_nationkey") < 10).write.mode("overwrite").parquet(dir)
    StatsManifest.write(spark, dir, Seq("n_nationkey"))
    // new data lands AFTER the manifest refresh
    nation.filter(col("n_nationkey") >= 10).write.mode("append").parquet(dir)

    val got = StatsManifest.rangeRead(spark, dir, "n_nationkey", "12", "20")
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet
    val want = nation.filter(col("n_nationkey") >= 12 && col("n_nationkey") <= 20)
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet
    assert(got == want, "rows in unmanifested files must survive the prune")
  }

  test("compaction refreshes a maintained manifest across the swap") {
    val dir = Fixture.dir("graft-manifest4")
    val orders = Tables(spark, sfDir, "orders")
    orders.repartition(8).write.mode("overwrite").parquet(dir)
    StatsManifest.write(spark, dir, Seq("o_orderkey"))
    // the rewrite replaces every file; the manifest must follow it
    Maintenance.compact(spark, dir, targetBytes = 8L << 10,
      sortCols = Seq("o_orderkey"))
    assert(new java.io.File(dir, "_stats_manifest").exists(),
      "compaction must refresh, not destroy, the manifest")
    val keys = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val lo = keys.getLong(0)
    val hit = StatsManifest.candidateFiles(spark, dir, "o_orderkey",
      lo.toString, lo.toString)
    assert(hit.size < dataFiles(dir).size,
      "the refreshed manifest must prune the new sorted layout")
  }

  test("decimal stats compare numerically, not as text") {
    val dir = Fixture.dir("graft-manifest5")
    import spark.implicits._
    // file A holds [9.5, 9.9], file B holds [12.0, 15.0]: under TEXT
    // comparison '9.5' > '12.0', so a [12, 15] range probe would prune
    // file B (the one that actually intersects) and lose its rows
    Seq("9.5", "9.9").toDF("s")
      .select($"s".cast("decimal(10,2)").as("d")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    Seq("12.0", "15.0").toDF("s")
      .select($"s".cast("decimal(10,2)").as("d")).coalesce(1)
      .write.mode("append").parquet(dir)
    StatsManifest.write(spark, dir, Seq("d"))
    val got = StatsManifest.rangeRead(spark, dir, "d", "12", "15")
      .collect().map(_.getDecimal(0).doubleValue).toSet
    assert(got == Set(12.0, 15.0), s"decimal prune lost rows: $got")
  }

  test("un-orderable column types are rejected at write time") {
    val dir = Fixture.dir("graft-manifest6")
    import spark.implicits._
    Seq((1L, true), (2L, false)).toDF("k", "flag")
      .write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] {
      StatsManifest.write(spark, dir, Seq("flag"))
    }
  }

  test("delimiter characters in string stats round-trip without corrupting the manifest") {
    val dir = Fixture.dir("graft-manifest7")
    import spark.implicits._
    // min contains a tab, max contains a newline that LOOKS like a
    // well-formed stats row for a fabricated path — unescaped, that row
    // would enter the map and mis-prune
    Seq("a\tmiddle", "z\nfake.parquet\tv\tstring\tzz\tzz").toDF("v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Seq("mmm", "nnn").toDF("v")
      .coalesce(1).write.mode("append").parquet(dir)
    StatsManifest.write(spark, dir, Seq("v"))
    val got = StatsManifest.rangeRead(spark, dir, "v", "a", "zzz")
      .collect().map(_.getString(0)).toSet
    val want = spark.read.parquet(dir).collect().map(_.getString(0)).toSet
    assert(got == want, "escaped stats must reproduce the full scan")
    // and a probe beyond both files' (decoded) maxima prunes everything:
    // "z\nfake..." < "zz" only under CORRECT decoding — a corrupted
    // manifest line would instead be kept conservatively
    val pruned = StatsManifest.candidateFiles(spark, dir, "v", "zz", "zzz")
    assert(pruned.isEmpty, s"probe past both maxima must prune all files: $pruned")
  }

  test("rangeRead keeps directory-partition columns in the schema") {
    val dir = Fixture.dir("graft-manifest8")
    val orders = Tables(spark, sfDir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
    orders.write.mode("overwrite").partitionBy("yr").parquet(dir)
    StatsManifest.write(spark, dir, Seq("o_orderkey"))
    val keys = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (keys.getLong(0), keys.getLong(0) + 50)
    val pruned = StatsManifest.rangeRead(spark, dir, "o_orderkey",
      lo.toString, hi.toString)
    assert(pruned.columns.contains("yr"),
      "partition column must survive the leaf-file read (basePath)")
    val expected = spark.read.parquet(dir)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    assert(pruned.orderBy("o_orderkey").select("o_orderkey", "yr").collect().toSeq ==
      expected.orderBy("o_orderkey").select("o_orderkey", "yr").collect().toSeq)
  }

  test("appendMissing keeps the prune tight under appends and replays as a no-op") {
    val dir = Fixture.dir("graft-manifest9")
    val nation = Tables(spark, sfDir, "nation")
    nation.filter(col("n_nationkey") < 10).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    StatsManifest.write(spark, dir, Seq("n_nationkey"))
    // new data lands after the refresh (the streaming-append shape)
    nation.filter(col("n_nationkey") >= 10).coalesce(1)
      .write.mode("append").parquet(dir)

    // stale-safe but LOOSE: the unknown file is conservatively kept even
    // for a probe that can't intersect it
    assert(StatsManifest.candidateFiles(spark, dir, "n_nationkey", "0", "5")
      .size == 2, "pre-maintenance: unknown file is kept by default")

    assert(StatsManifest.appendMissing(spark, dir) == 1,
      "exactly the one uncovered file gets stats rows")
    assert(StatsManifest.candidateFiles(spark, dir, "n_nationkey", "0", "5")
      .size == 1, "post-maintenance: the appended file is listed and pruned")
    // rows are still exactly right through the pruned read
    val got = StatsManifest.rangeRead(spark, dir, "n_nationkey", "12", "20")
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet
    val want = nation.filter(col("n_nationkey") >= 12 && col("n_nationkey") <= 20)
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue).toSet
    assert(got == want)

    // crash-replay discipline: re-running the maintenance is a no-op
    val before = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_stats_manifest"))
    assert(StatsManifest.appendMissing(spark, dir) == 0, "replay must cover 0 files")
    val after = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_stats_manifest"))
    assert(before == after, "replay must leave the manifest byte-identical")
  }

  test("manifest composes with z-order: both columns prune") {
    val dir = Fixture.dir("graft-manifest3")
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    events.repartition(8).write.mode("overwrite").parquet(dir)
    Maintenance.zorderCompact(spark, dir, Seq("event_id", "user_id"),
      targetBytes = 2L << 10)
    StatsManifest.write(spark, dir, Seq("event_id", "user_id"))
    val total = dataFiles(dir).size
    assert(total > 2)

    val eMid = events.agg(expr("percentile(event_id, 0.5)")).head().getDouble(0).toLong
    val uMid = events.agg(expr("percentile(user_id, 0.5)")).head().getDouble(0).toLong
    val byEvent = StatsManifest.candidateFiles(spark, dir, "event_id",
      eMid.toString, eMid.toString)
    val byUser = StatsManifest.candidateFiles(spark, dir, "user_id",
      uMid.toString, uMid.toString)
    assert(byEvent.size < total, s"event_id point should prune (${byEvent.size}/$total)")
    assert(byUser.size < total, s"user_id point should prune (${byUser.size}/$total)")
  }

  test("a streaming sink's orphaned files never enter the manifest or rangeRead") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixture.dir("graft-manifest-sink")
    val ckpt = Fixture.dir("graft-manifest-ckpt")
    val mem = MemoryStream[Long]
    val q = mem.toDF().select(col("value").as("k"))
      .writeStream.format("parquet")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try { mem.addData(1L to 20L: _*); q.processAllAvailable() } finally q.stop()

    // fake an aborted micro-batch attempt: a well-formed, NON-hidden
    // data file in the sink dir that the commit log never admitted —
    // exactly what FileStreamSink leaves behind on task failure
    val scratch = Fixture.dir("graft-orphan")
    spark.range(100, 110).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "part-99999-orphan.snappy.parquet"))
    // sanity: the committed read (MetadataLogFileIndex) skips the orphan
    assert(spark.read.parquet(dir).count() == 20L)
    val committed = spark.read.parquet(dir).inputFiles.length

    // the manifest's file universe must be the COMMITTED set, so the
    // orphan is neither "missing" to appendMissing nor served by reads
    assert(StatsManifest.appendMissing(spark, dir, Seq("k")) == committed,
      "only committed files get stats rows")
    assert(StatsManifest.appendMissing(spark, dir) == 0,
      "the on-disk orphan must not look like an uncovered file")
    val got = StatsManifest.rangeRead(spark, dir, "k", "1", "200")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 20L).toSet,
      "rangeRead must equal the committed read — no orphan rows")
  }

  test("bloom manifest prunes point lookups min/max stats can't") {
    import spark.implicits._
    val dir = Fixture.dir("graft-bloom")
    // keys hash-scattered across 8 files: every file's [min, max]
    // spans ~the whole domain, so the stats prune keeps all of them —
    // exactly the layout blooms exist for
    val df = (0L until 4000L).map(k => (k, s"name_$k")).toDF("k", "name")
    df.repartition(8).write.mode("overwrite").parquet(dir)
    val nFiles = dataFiles(dir).size
    assert(nFiles == 8)
    StatsManifest.write(spark, dir, Seq("k"))
    StatsManifest.writeBlooms(spark, dir, Seq("k", "name"), bits = 8192)
    // stats alone: nearly useless on this layout (hash-scattered keys
    // leave every file's range wide)
    val statsOnly = StatsManifest.candidateFiles(spark, dir, "k", "17", "17").size
    assert(statsOnly >= nFiles - 1)
    // present key: exact row back, and blooms prune past the stats
    val hit = StatsManifest.pointRead(spark, dir, "k", "17")
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((17L, "name_17")))
    assert(hit.inputFiles.length < statsOnly, "bloom must prune some files")
    // absent key: zero rows, and typically zero files planned
    assert(StatsManifest.pointRead(spark, dir, "k", "99999").count() == 0)
    // string column blooms work through the same path
    val sHit = StatsManifest.pointRead(spark, dir, "name", "name_2345")
    assert(sHit.collect().map(_.getLong(0)).toSeq == Seq(2345L))
    assert(sHit.inputFiles.length < nFiles)
    // no false negatives across every key (the never-lose-rows side)
    val all = (0L until 4000L).filter { k =>
      StatsManifest.filterByBloom(spark, dir,
        StatsManifest.candidateFiles(spark, dir, "k", k.toString, k.toString),
        "k", k).nonEmpty
    }
    assert(all.size == 4000, "a bloom false negative would lose rows")
    // a file with no bloom row is conservatively kept
    (4000L until 4100L).map(k => (k, s"name_$k")).toDF("k", "name")
      .coalesce(1).write.mode("append").parquet(dir)
    val late = StatsManifest.pointRead(spark, dir, "k", "4050")
    assert(late.collect().map(_.getLong(0)).toSeq == Seq(4050L),
      "files newer than the bloom manifest must stay visible")
  }

  /** The lines of a two-level manifest `name`: its parts summary and
    * each per-file file, all as sets (line order is the writer's).
    */
  private def twoLevelLines(dir: String, name: String) = {
    import scala.jdk.CollectionConverters._
    def lines(f: java.io.File) =
      java.nio.file.Files.readAllLines(f.toPath).asScala.toSet
    val perFile = new java.io.File(dir, name + "_files").listFiles()
      .filterNot(_.getName.startsWith(".")).map(f => f.getName -> lines(f)).toMap
    (lines(new java.io.File(dir, name + "_parts")), perFile)
  }

  test("a refresh of every partition rebuilds exactly what a write built, " +
      "for both layers") {
    import scala.jdk.CollectionConverters._
    val dir = Fixture.dir("graft-manifest2eq")
    import spark.implicits._
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn("p", concat(lit("p"), pmod(col("k"), lit(4L))))
      .repartition(2).write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writePartitioned(spark, dir, Seq("k", "v"))
    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k", "v"),
      fileBits = 1024, partBits = 4096)
    val (_, stats) = StatsManifest.rangeReadTwoLevel(spark, dir, "k", "1", "1")
    assert(stats.partsTotal == 4)

    for ((name, refresh) <- Seq[(String, () => Int)](
        "_stats_manifest" -> (() => StatsManifest.refreshStalePartitions(spark, dir)),
        "_bloom_manifest" -> (() => StatsManifest.refreshStaleBloomPartitions(spark, dir)))) {
      val written = twoLevelLines(dir, name)
      // rewrite the summary in the legacy format, without the file-set
      // fingerprint, so every partition reads as stale (the checksum
      // sidecar would reject the edited bytes)
      val summary = java.nio.file.Paths.get(dir, name + "_parts")
      java.nio.file.Files.write(summary, java.nio.file.Files.readAllLines(summary)
        .asScala.map(_.split('\t').dropRight(1).mkString("\t")).asJava)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, s".${name}_parts.crc"))
      assert(twoLevelLines(dir, name)._1 != written._1)

      assert(refresh() == stats.partsTotal, s"$name: every partition is stale")
      assert(twoLevelLines(dir, name) == written,
        s"$name: a refresh of every partition must rebuild the written lines")
    }
  }

  test("a file directly under the table root keeps both refreshes " +
      "idempotent and stays readable") {
    val dir = Fixture.dir("graft-manifest2root")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .withColumn("p", lit("p0")).unionByName(
        Seq((100L, "c")).toDF("k", "v").withColumn("p", lit("p1")))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    StatsManifest.writePartitioned(spark, dir, Seq("k"))
    StatsManifest.writeBloomsPartitioned(spark, dir, Seq("k"),
      fileBits = 1024, partBits = 4096)
    // one parquet file lands at the root, beside the partition dirs
    val scratch = Fixture.dir("graft-rootfile")
    Seq((50L, "root")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    java.nio.file.Files.copy(
      new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      new java.io.File(dir, "part-root-0000.snappy.parquet").toPath)

    // a root-level file belongs to no partition: no refresh summarizes
    // it, so none ever finds it stale again
    for (_ <- 1 to 2) {
      assert(StatsManifest.refreshStalePartitions(spark, dir) == 0)
      assert(StatsManifest.refreshStaleBloomPartitions(spark, dir) == 0)
    }
    // a table whose files all sit at its root has no partition to key
    // by: both two-level writes reject it
    intercept[IllegalArgumentException] {
      StatsManifest.writePartitioned(spark, scratch, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      StatsManifest.writeBloomsPartitioned(spark, scratch, Seq("k"))
    }
    // it stays unknown, so both prunes keep it
    val (got, _) = StatsManifest.rangeReadTwoLevel(spark, dir, "k", "40", "60")
    assert(got.select("k").collect().map(_.getLong(0)).toSeq == Seq(50L))
    val (hit, _) = StatsManifest.pointReadTwoLevel(spark, dir, "k", "50")
    assert(hit.select("k").collect().map(_.getLong(0)).toSeq == Seq(50L))
  }
}
