package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{Etl, Extra, Pipeline, Q, RefStarQueries, Relational, Round11, Round13, Round15, Round16, Round17, Round18}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the correctness surface: one entry per implemented
  * operator from SURVEY.md §2 (+ the training-data-pipeline extensions),
  * each with a DuckDB oracle in `oracleSql` where SQL-expressible.
  */
object SparkEntry {

  /** Every gated query, from the per-category suites. */
  def allQueries: Seq[Q] =
    Relational.all ++ Pipeline.all ++ Etl.all ++ Extra.all ++
      RefStarQueries.all ++ Round11.all ++ Round13.all ++ Round15.all ++
      Round16.all ++ Round17.all ++ Round18.all ++ queries_extra

  /** Non-relational suites are appended here as they land. */
  private def queries_extra: Seq[Q] = Seq(
    Q("q27_date_dim", etl.DateDim.oracleSql()) { (s, _) =>
      etl.DateDim.build(s)
    },

    // JSON-lines source: declared-schema scan vs DuckDB read_json over
    // the same fixture file (text->typed parsing of longs, doubles,
    // arrays, nested structs, hash-verified cross-engine)
    Q("qj01_jsonl_scan",
      s"""SELECT id, name, score, nested.k AS k, len(tags) AS n_tags
         |FROM read_json('${sources.Jsonl.path}',
         |  format='newline_delimited',
         |  columns={'id': 'BIGINT', 'name': 'VARCHAR', 'score': 'DOUBLE',
         |    'tags': 'VARCHAR[]',
         |    'nested': 'STRUCT(k BIGINT)'})""".stripMargin) { (s, _) =>
      sources.Jsonl.read(s).select(col("id"), col("name"), col("score"),
        col("nested.k").as("k"),
        size(col("tags")).cast("long").as("n_tags"))
    },

    // ORC source/sink: DuckDB can't read ORC, so the gate proves the
    // ROUND TRIP — documents written to ORC by Spark and scanned back
    // must hash-equal the oracle's direct parquet read (any
    // writer/reader type mangling breaks the hash)
    Q("qj02_orc_roundtrip",
      """SELECT doc_id, lang, source, n_chars, length(text) AS text_len
        |FROM documents""".stripMargin) { (s, dir) =>
      sources.Orc.read(s, dir).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"),
        length(col("text")).cast("long").as("text_len"))
    },

    // Manifest-pruned range read, END TO END: lay orders out sorted by
    // key (compact), persist per-file min/max (StatsManifest), then
    // serve a key band through rangeRead — which drops
    // non-intersecting files at the DRIVER, before the scan exists.
    // The builder REQUIRES that fewer files entered the plan than live
    // on disk, so if pruning ever stops working this row goes red, not
    // just slow. The oracle is the plain full-scan predicate over the
    // same source rows: rangeRead's contract is exact equivalence.
    Q("qj03_manifest_range_read",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000""".stripMargin) { (s, dir) =>
      // The layout build (rewrite + compact + manifest) runs once per
      // JVM — later invocations, e.g. bench passes 2..n, time only the
      // pruned read, not the one-time table prep.
      val table = Fixture.once("qj03_table", dir) {
        val t = Fixture.dir("graft_rangeread")
        Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .repartition(8)
          .write.mode("overwrite").parquet(t)
        // size the compaction target off the actual table so the sorted
        // layout always lands in ~6 files — a fixed byte target collapses
        // a tiny SF into ONE file and leaves the prune nothing to drop
        val total = new java.io.File(t).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        operators.Maintenance.compact(s, t,
          targetBytes = math.max(8L << 10, total / 6),
          sortCols = Seq("o_orderkey"))
        sources.StatsManifest.write(s, t, Seq("o_orderkey"))
        t
      }
      val pruned = sources.StatsManifest.rangeRead(
        s, table, "o_orderkey", "1000", "5000")
      val onDisk = new java.io.File(table).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      val planned = pruned.inputFiles.length
      require(planned < onDisk,
        s"manifest prune had no effect: $planned of $onDisk files planned")
      pruned
    },

    // TWO-LEVEL (partition-grouped) manifest range read, END TO END:
    // qj03's gate lifted to the layout a 100 TB table actually has —
    // a directory-partitioned copy of orders (8 key bands), a
    // partition-scale summary consulted FIRST, and per-file stats
    // opened ONLY for partitions the summary could not decide. The
    // builder REQUIRES both levels to have worked: per-file stats
    // touched for a STRICT SUBSET of partitions (the driver-memory
    // property — per-file rows for 10⁶ files never all load), and
    // fewer files in the plan than live on disk. The oracle is qj03's:
    // the plain full-scan predicate — pruning must be invisible in the
    // result.
    Q("qj24_two_level_manifest_read",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000""".stripMargin) { (s, dir) =>
      val table = Fixture.once("qj24_table", dir) {
        val t = Fixture.dir("graft_twolevel")
        val base = Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        // 8 key bands at ANY scale factor, so the 1000..5000 gate band
        // always selects a proper subset of partitions
        val kmax = base.agg(max(col("o_orderkey"))).head().getLong(0)
        val band = math.max(1L, kmax / 8)
        base.withColumn("pband", (col("o_orderkey") / band).cast("long"))
          .repartition(2)
          .write.mode("overwrite").partitionBy("pband").parquet(t)
        sources.StatsManifest.writePartitioned(s, t, Seq("o_orderkey"))
        t
      }
      val (pruned, stats) = sources.StatsManifest.rangeReadTwoLevel(
        s, table, "o_orderkey", "1000", "5000")
      require(stats.partsOpened < stats.partsTotal,
        s"two-level prune read per-file stats for every partition: " +
          s"${stats.partsOpened} of ${stats.partsTotal}")
      val onDisk = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(table))
      }
      require(stats.files.size < onDisk,
        s"two-level prune had no effect: ${stats.files.size} of $onDisk files")
      pruned.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },

    // Bloom-manifest POINT lookup, end to end: the orders copy is
    // hash-scattered (repartition — every file's [min, max] spans the
    // whole key domain, so the stats prune can't help), and the
    // per-file bloom manifest still serves `o_orderkey = min` from a
    // handful of files. The builder REQUIRES fewer files planned than
    // live on disk — if bloom skipping breaks, this row goes red. The
    // oracle is the plain predicate over the source rows.
    Q("qj11_bloom_point_read",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)"""
        .stripMargin) { (s, dir) =>
      val table = Fixture.once("qj11_table", dir) {
        val t = Fixture.dir("graft_bloomread")
        val ord = Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        ord.repartition(16).write.mode("overwrite").parquet(t)
        // ~12 bits/key at 6 hashes: <1% false-positive rate per file at
        // ANY scale factor, because the sizing tracks the row count
        val rows = ord.count()
        val bits = ((rows / 16 * 12) / 64 + 1) * 64
        sources.StatsManifest.writeBlooms(s, t, Seq("o_orderkey"),
          bits = bits.toInt)
        t
      }
      val key = Tables(s, dir, "orders")
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val hit = sources.StatsManifest.pointRead(
        s, table, "o_orderkey", key.toString)
      val onDisk = new java.io.File(table).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      val planned = hit.inputFiles.length
      require(planned < onDisk,
        s"bloom prune had no effect: $planned of $onDisk files planned")
      hit
    },

    // TWO-LEVEL bloom-manifest POINT lookup, END TO END: qj11's gate
    // lifted to the partition-grouped layout — orders partitioned by a
    // column UNCORRELATED with the lookup key (custkey mod 8) and
    // hash-scattered within each partition, so neither directory
    // names nor min/max bands can skip anything; partition-level bloom
    // UNIONS are consulted first and per-file filters open only where
    // the union says "might contain". The builder REQUIRES per-file
    // blooms loaded for a strict subset of partitions AND fewer files
    // planned than on disk. The oracle is qj11's plain key-equality
    // predicate — pruning must be invisible in the result.
    Q("qj25_two_level_bloom_read",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)"""
        .stripMargin) { (s, dir) =>
      val table = Fixture.once("qj25_table", dir) {
        val t = Fixture.dir("graft_twolevelbloom")
        val ord = Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("pgrp", pmod(col("o_custkey"), lit(8L)))
        ord.repartition(2).write.mode("overwrite")
          .partitionBy("pgrp").parquet(t)
        // ~12 bits/key at 6 hashes per layer: per-file filters sized
        // for rows/file, partition unions for rows/partition — a union
        // at file capacity would saturate and never skip
        val rows = ord.count()
        def sized(keys: Long) = (((keys * 12) / 64 + 1) * 64).toInt
        sources.StatsManifest.writeBloomsPartitioned(s, t, Seq("o_orderkey"),
          fileBits = sized(rows / 16), partBits = sized(rows / 8))
        t
      }
      val key = Tables(s, dir, "orders")
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val (hit, stats) = sources.StatsManifest.pointReadTwoLevel(
        s, table, "o_orderkey", key.toString)
      require(stats.partsOpened < stats.partsTotal,
        s"two-level bloom prune opened per-file filters everywhere: " +
          s"${stats.partsOpened} of ${stats.partsTotal}")
      val onDisk = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(table))
      }
      require(stats.files.size < onDisk,
        s"two-level bloom prune had no effect: ${stats.files.size} of $onDisk")
      hit.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },

    // EQUAL-COUNT FILE REPLACEMENT under the two-level manifest: the
    // adversarial shape a count-only staleness signal loses rows on.
    // The highest key band's single data file is swapped for a file of
    // LOW keys (o_orderkey 300..400) after the manifest refresh — same
    // file count, range/bloom-disjoint content. A 200..600 probe finds
    // the top partition's RECORDED range disjoint, and before the
    // file-set fingerprint it would have dropped the partition whole
    // (count matches) and lost the swapped-in rows; now the
    // fingerprint mismatch forces the per-file open, where the unknown
    // file is conservatively kept. The oracle states the post-swap
    // truth logically: the probe range from the source rows, plus the
    // swapped-in copies that also fall in it.
    Q("qj26_replacement_safe_read",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey BETWEEN 200 AND 600
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey BETWEEN 300 AND 400""".stripMargin) {
      (s, dir) =>
      val table = Fixture.once("qj26_table", dir) {
        val t = Fixture.dir("graft_replread")
        val base = Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val kmax = base.agg(max(col("o_orderkey"))).head().getLong(0)
        val band = math.max(1L, kmax / 8)
        // one file per partition, so the swap below is exactly
        // count-preserving (1 file -> 1 file)
        base.withColumn("pband", (col("o_orderkey") / band).cast("long"))
          .repartition(1)
          .write.mode("overwrite").partitionBy("pband").parquet(t)
        sources.StatsManifest.writePartitioned(s, t, Seq("o_orderkey"))
        // swap the TOP band's file for out-of-band low keys
        val top = new java.io.File(t).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("pband="))
          .maxBy(_.getName.stripPrefix("pband=").toLong)
        val olds = top.listFiles().filter(_.getName.endsWith(".parquet"))
        require(olds.length == 1, s"swap needs 1 file, got ${olds.length}")
        val scratch = Fixture.dir("graft_qj26_swap")
        base.filter(col("o_orderkey").between(300, 400)).coalesce(1)
          .write.mode("overwrite").parquet(scratch)
        val repl = new java.io.File(scratch).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(repl.toPath,
          new java.io.File(top, "part-00000-replaced.snappy.parquet").toPath)
        require(olds.head.delete(), "swap could not remove the old file")
        t
      }
      val (pruned, stats) = sources.StatsManifest.rangeReadTwoLevel(
        s, table, "o_orderkey", "200", "600")
      require(stats.partsOpened < stats.partsTotal,
        s"two-level prune opened every partition: " +
          s"${stats.partsOpened} of ${stats.partsTotal}")
      require(stats.files.exists(_.contains("part-00000-replaced")),
        "the fingerprint mismatch must keep the swapped-in file")
      pruned.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },

    // JSONL SINK round trip (the qj02 ORC pattern, text edition): the
    // documents corpus written as gzipped JSON-lines — the de-facto
    // corpus release format — and scanned back with a declared schema
    // must hash-equal the oracle's direct parquet read, putting JSON
    // escaping, unicode and long fidelity on the hook.
    Q("qj09_jsonl_sink",
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents""".stripMargin) { (s, dir) =>
      sources.Jsonl.readDocs(s, dir)
    },

    // Snapshot CHANGE-DATA FEED, end to end: commit v0 (a customer
    // projection) and v1 (band deleted, names in another band
    // updated, shifted keys inserted), then diff the two pinned
    // versions. The oracle derives both versions LOGICALLY from the
    // source parquet and computes the same insert/update/delete set —
    // so the gate proves version pinning, read-back fidelity, AND
    // change classification in one hash compare.
    Q("qj10_snapshot_diff",
      """WITH v0 AS (
        |  SELECT c_custkey, c_name, c_nationkey FROM customer),
        |v1 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 4 THEN c_name || '!' ELSE c_name END
        |      AS c_name,
        |    c_nationkey
        |  FROM customer WHERE c_custkey % 10 != 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey
        |  FROM customer WHERE c_custkey % 10 = 5)
        |SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
        |  CASE WHEN n.c_custkey IS NULL THEN o.c_name ELSE n.c_name END
        |    AS c_name,
        |  CASE WHEN n.c_custkey IS NULL THEN o.c_nationkey
        |    ELSE n.c_nationkey END AS c_nationkey,
        |  CASE WHEN o.c_custkey IS NULL THEN 'insert'
        |    WHEN n.c_custkey IS NULL THEN 'delete'
        |    ELSE 'update' END AS change_type
        |FROM v0 o FULL OUTER JOIN v1 n ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_name != n.c_name OR o.c_nationkey != n.c_nationkey"""
        .stripMargin) { (s, dir) =>
      sources.Snapshots.diff(s, ensureDiffTable(s, dir), 0, 1,
        Seq("c_custkey"))
    },

    // Delta-style MERGE (upsert + delete in one source batch), end to
    // end: the source carries flagged deletes, updated names, and
    // shifted-key inserts; merge() commits the result as a new
    // version, and the gate reads the WHOLE merged table against the
    // oracle deriving the same post-merge state logically from the
    // source parquet.
    Q("qj12_snapshot_merge",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 4 THEN c_name || '!' ELSE c_name END
        |    AS c_name,
        |  c_nationkey
        |FROM customer WHERE c_custkey % 10 != 3
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_nationkey
        |FROM customer WHERE c_custkey % 10 = 5""".stripMargin) { (s, dir) =>
      val table = Fixture.once("qj12_table", dir) {
        val t = Fixture.dir("graft_snapmerge")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        sources.Snapshots.commit(s, t, cust) // v0
        val dels = cust.filter(col("c_custkey") % 10 === 3L)
          .withColumn("__del", lit(true))
        val upds = cust.filter(col("c_custkey") % 10 === 4L)
          .withColumn("c_name", concat(col("c_name"), lit("!")))
          .withColumn("__del", lit(false))
        val ins = cust.filter(col("c_custkey") % 10 === 5L)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
          .withColumn("__del", lit(false))
        val v = sources.Snapshots.merge(s, t,
          dels.unionByName(upds).unionByName(ins),
          Seq("c_custkey"), deleteCol = Some("__del"))
        require(v == 1, s"merge should commit version 1, got $v")
        t
      }
      sources.Snapshots.read(s, table)
    },

    // MERGE-ON-READ twin of qj12, against the IDENTICAL oracle: the
    // same upsert+delete batch lands as a delta commit that writes
    // ONLY change-proportional bytes (the builder REQUIRES v1 to carry
    // every v0 file forward untouched, adding nothing but delta-v
    // files), and the reader resolves the delta log transparently.
    // Two opposite write/read cost profiles — qj12's copy-on-write
    // rewrite vs this delta log — hash-gated to the same post-merge
    // state, which is the lakehouse MoR contract stated as a test.
    Q("qj14_mor_merge",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 4 THEN c_name || '!' ELSE c_name END
        |    AS c_name,
        |  c_nationkey
        |FROM customer WHERE c_custkey % 10 != 3
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_nationkey
        |FROM customer WHERE c_custkey % 10 = 5""".stripMargin) { (s, dir) =>
      val table = Fixture.once("qj14_table", dir) {
        val t = Fixture.dir("graft_snapmor")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        sources.Snapshots.commit(s, t, cust) // v0
        val dels = cust.filter(col("c_custkey") % 10 === 3L)
          .withColumn("__del", lit(true))
        val upds = cust.filter(col("c_custkey") % 10 === 4L)
          .withColumn("c_name", concat(col("c_name"), lit("!")))
          .withColumn("__del", lit(false))
        val ins = cust.filter(col("c_custkey") % 10 === 5L)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
          .withColumn("__del", lit(false))
        val v = sources.Snapshots.commitDelta(s, t,
          dels.unionByName(upds).unionByName(ins),
          Seq("c_custkey"), deleteCol = Some("__del"))
        require(v == 1, s"delta should commit version 1, got $v")
        val f0 = sources.Snapshots.files(s, t, Some(0)).toSet
        val f1 = sources.Snapshots.files(s, t, Some(1)).toSet
        require(f0.subsetOf(f1) && (f1 -- f0).forall(_.startsWith("delta-v")),
          "delta commit must carry the base forward and add only delta files")
        t
      }
      sources.Snapshots.read(s, table)
    },

    // Incremental view maintenance from the CDC feed: patch a v0
    // per-nation rollup with diffWide's retractions (old values of
    // updates/deletes) and additions (new values of inserts/updates)
    // — NEVER re-scanning the table — and gate the patched rollup
    // against the oracle's direct recompute over v1. This is the
    // 100 TB reason the wide diff exists: the delta is proportional
    // to the change set, not the table.
    Q("qj13_incremental_rollup",
      """WITH v1 AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE c_custkey % 10 != 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_nationkey
        |  FROM customer WHERE c_custkey % 10 = 5)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
        |FROM v1 GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
      val table = ensureDiffTable(s, dir)
      val r0 = sources.Snapshots.read(s, table, Some(0))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("c_custkey").as("sum_key"))
      val d = sources.Snapshots.diffWide(s, table, 0, 1, Seq("c_custkey"))
      // retraction for delete/update (old side), addition for
      // insert/update (new side): update-moves-between-groups falls
      // out for free
      val contrib = d.select(explode(array(
        when(col("change_type").isin("delete", "update"),
          struct(col("old_c_nationkey").as("g"), lit(-1L).as("dc"),
            (-col("c_custkey")).as("dk"))),
        when(col("change_type").isin("insert", "update"),
          struct(col("new_c_nationkey").as("g"), lit(1L).as("dc"),
            col("c_custkey").as("dk"))))).as("x"))
        .filter(col("x").isNotNull)
        .select(col("x.g").as("c_nationkey"), col("x.dc"), col("x.dk"))
      val delta = contrib.groupBy("c_nationkey")
        .agg(sum("dc").as("dc"), sum("dk").as("dk"))
      r0.join(delta, Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dc"), lit(0L)))
            .as("n_rows"),
          (coalesce(col("sum_key"), lit(0L)) + coalesce(col("dk"), lit(0L)))
            .as("sum_key"))
        .filter(col("n_rows") > 0)
    },

    // Salted join ≡ plain join, oracle-gated: the manual skew
    // mitigation for a key known hot in ADVANCE (one mega-customer,
    // the null bucket) — the large side salts each row into one of 8
    // sub-keys, the small side explodes 8×, and the hot key's rows
    // spread over 8 shuffle partitions instead of one straggler task.
    // The oracle is the UNSALTED join: salting must never change the
    // result, only the distribution.
    Q("qj04_salted_join",
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${functions.Exact.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val ord = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      operators.SkewJoin.saltedJoin(li, ord, Seq("l_orderkey"), salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          functions.Exact.dsum(col("l_quantity")).as("sum_qty"))
    },

    // Snapshot time travel, end to end: v0 = the full customer
    // projection, v1 = a "delete" (the same rows minus a key band).
    // The gate reads v0 AFTER v1 committed, against the plain full
    // oracle — the pre-delete snapshot must survive the delete
    // bit-for-bit, which is exactly the guarantee a reader pinned to
    // v0 relies on while a writer churns the table.
    Q("qj05_snapshot_time_travel",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer""".stripMargin) { (s, dir) =>
      // a fresh dir per build attempt: a half-built table from a failed
      // earlier attempt would shift the version numbers and wedge the
      // require below forever
      val table = Fixture.once("qj05_table", dir) {
        val t = Fixture.dir("graft_snap")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        sources.Snapshots.commit(s, t, cust) // v0
        sources.Snapshots.commit(s, t, // v1: "delete" a key band
          cust.filter(col("c_custkey") % 10 =!= 3L))
        t
      }
      require(sources.Snapshots.latestVersion(s, table).contains(1))
      sources.Snapshots.read(s, table, version = Some(0))
    },

    // Bucketed co-located join, END TO END: both sides pre-bucketed on
    // the join key (bucketBy + sortBy via saveAsTable), so the
    // recurring fact ⋈ fact join runs with ZERO exchange — bucketing is
    // THE amortization move for repeated 100 TB joins (pay the shuffle
    // once at write, never per query). The builder REQUIRES the plan
    // read bucketed scans and contain no hash-partitioning exchange, so
    // if bucket pass-through ever breaks this row goes red, not just
    // slow. Merge hints pin SMJ: the broadcast plan a small SF would
    // pick is exactly what 100 TB forbids. The oracle is the plain
    // join over the original parquet — bucketed layout must be
    // row-for-row equivalent to the source.
    Q("qj06_bucketed_join",
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin) {
      (s, dir) =>
        val tag = bucketedTable(s, dir)
        val joined = s.table(s"bkt_cust_$tag").hint("merge")
          .join(s.table(s"bkt_ord_$tag").hint("merge"),
            col("c_custkey") === col("o_custkey"))
          .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("SelectedBucketsCount"),
          "join did not read bucketed scans: " + plan.take(1000))
        require(!plan.contains("Exchange hashpartitioning"),
          "bucketed join must not shuffle: " + plan.take(1000))
        // one file per bucket (the pre-write repartition aligns with the
        // bucket hash), so the scans report sortBy's order and the merge
        // join needs no Sort either: zero-exchange AND zero-sort.
        require(!plan.contains("Sort ["),
          "sorted buckets must pass their order through: " + plan.take(1000))
        joined
    },

    // Bucket PRUNING on the same layout: an equality predicate on the
    // bucket key reads ONE of the 8 buckets — the plan's
    // SelectedBucketsCount must say so — which is the point-lookup
    // story at 100 TB (touch 1/N of the files, no index structure to
    // maintain; composes with qj03's min/max manifest, which prunes
    // WITHIN the selected bucket's files by range). The oracle filters
    // the original parquet: pruning must be invisible in the result.
    Q("qj07_bucket_pruning",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey IN (7, 107, 1007, 2007)""".stripMargin) {
      (s, dir) =>
      val tag = bucketedTable(s, dir)
      val pruned = s.table(s"bkt_ord_$tag")
        .filter(col("o_custkey").isin(7L, 107L, 1007L, 2007L))
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val plan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      sel.findFirstMatchIn(plan) match {
        case Some(m) =>
          require(m.group(1).toInt < m.group(2).toInt,
            s"bucket pruning had no effect: ${m.matched}")
        case None =>
          throw new IllegalStateException(
            "scan is not bucket-pruned: " + plan.take(1000))
      }
      pruned
    },

    // Z-order + manifest, END TO END: lay orders out along the Morton
    // curve of (custkey, orderkey), persist per-file min/max for BOTH,
    // and serve a 2-D box through the conjunctive prune — each file is
    // tight on both axes at once, so the box drops files a single-key
    // sort could only drop on one axis (qj03's gate, lifted to the
    // multi-column layout). As there, the builder REQUIRES fewer files
    // in the plan than on disk; the oracle is the plain double-band
    // filter over the source rows.
    Q("qj08_zorder_range_read",
      """SELECT o_orderkey, o_orderday, o_totalprice FROM (
        |  SELECT o_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS o_orderday,
        |    o_totalprice
        |  FROM orders)
        |WHERE o_orderday BETWEEN 9556 AND 9861
        |  AND o_totalprice BETWEEN 20000 AND 80000""".stripMargin) { (s, dir) =>
      // The box is on DATE x PRICE — domains that do NOT grow with the
      // scale factor (keys do), so the same literals select ~1.5% of
      // rows at sf0.001 and at sf1 alike: the gate can never go vacuous
      // at one scale while passing at another. Dates ride as epoch-day
      // integers to keep the manifest's min/max compare numeric.
      val table = Fixture.once("qj08_table", dir) {
        val t = Fixture.dir("graft_zorder")
        Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
              .cast("long").as("o_orderday"),
            col("o_totalprice"))
          .repartition(8)
          .write.mode("overwrite").parquet(t)
        val total = new java.io.File(t).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        operators.Maintenance.zorderCompact(s, t,
          zorderCols = Seq("o_orderday", "o_totalprice"),
          targetBytes = math.max(4L << 10, total / 8))
        sources.StatsManifest.write(s, t, Seq("o_orderday", "o_totalprice"))
        t
      }
      val pruned = sources.StatsManifest.multiRangeRead(s, table,
        Seq(("o_orderday", "9556", "9861"), ("o_totalprice", "20000", "80000")))
      val onDisk = new java.io.File(table).listFiles()
        .count(_.getName.endsWith(".parquet"))
      val planned = pruned.inputFiles.length
      require(planned < onDisk,
        s"z-order prune had no effect: $planned of $onDisk files planned")
      pruned
    }
  )

  /** qj06/qj07's bucketed layout per sfDir: customer and orders written
    * bucketBy(8)+sortBy on the custkey, ONE file per bucket (the
    * repartition below uses the same hash the bucketing does, so each
    * task holds exactly one bucket) — which is what lets the scans
    * report their sort order and merge-join without sorting.
    */
  private def bucketedTable(s: SparkSession, dir: String): String = {
    // Planning-time session confs, set (not scoped) because the driver
    // re-plans the returned frame when it executes it later:
    // - autoBucketedScan's AQE rule reads a bucketed table as plain
    //   files when no join/agg wants the distribution — which also
    //   forfeits bucket PRUNING, exactly what qj07 gates;
    // - bucketed scans only report sortBy's order under the legacy
    //   flag, which is sound precisely when each bucket is one file —
    //   guaranteed by the aligned repartition below. Both only affect
    //   bucketed-table scans, and these are the only bucketed tables.
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    Fixture.once("qj06_tables", dir) {
      // the table-name tag is the fresh dir's unique suffix, so each
      // sf dir's tables get their own catalog names
      val base = Fixture.dir("graft_bkt_")
      val t = new java.io.File(base).getName.stripPrefix("graft_bkt_")
      Tables(s, dir, "customer").select("c_custkey", "c_name")
        .repartition(8, col("c_custkey"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/cust").mode("overwrite")
        .saveAsTable(s"bkt_cust_$t")
      Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(8, col("o_custkey"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/ord").mode("overwrite")
        .saveAsTable(s"bkt_ord_$t")
      t
    }
  }

  /** qj10/qj13's shared two-version snapshot table: v0 = a customer
    * projection, v1 = band deleted + names updated + shifted keys
    * inserted (all three change kinds in one diff).
    */
  private def ensureDiffTable(s: SparkSession, dir: String): String =
    Fixture.once("qj10_table", dir) {
      val t = Fixture.dir("graft_snapdiff")
      val cust = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey")
      sources.Snapshots.commit(s, t, cust) // v0
      val v1 = cust.filter(col("c_custkey") % 10 =!= 3L)
        .withColumn("c_name",
          when(col("c_custkey") % 10 === 4L, concat(col("c_name"), lit("!")))
            .otherwise(col("c_name")))
        .unionByName(cust.filter(col("c_custkey") % 10 === 5L)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      sources.Snapshots.commit(s, t, v1)
      t
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    allQueries.find(_.name == "q14_star_join").get.build(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
