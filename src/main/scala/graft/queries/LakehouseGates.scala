package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixture, Tables, functions, operators, sources}

/** Lakehouse storage gates (`qj`): JSON-lines and ORC sources and
  * sinks, manifest- and bloom-pruned reads, bucketed and z-ordered
  * layouts, snapshot tables (time travel, diffs, merges, schema and
  * partition evolution, branches, restore, write-audit-publish), and
  * the injected optimizer rules. A builder REQUIREs the layout
  * property its gate is about (files pruned, no nested loop, ...),
  * while the oracle is the plain query over the same source rows, so
  * pruning and layout must be invisible in the result.
  */
object LakehouseGates {

  /** Parquet data files anywhere under `f` (partition dirs included). */
  private def parquetFilesUnder(f: java.io.File): Int =
    if (f.isDirectory) f.listFiles().map(parquetFilesUnder).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  /** qj12/qj14's upsert+delete source batch over customer rows `cust`:
    * flagged deletes (key % 10 = 3), renamed updates (= 4) and
    * shifted-key inserts (= 5), all with the `__del` flag column.
    */
  private def mergeBatch(cust: DataFrame): DataFrame = {
    val dels = cust.filter(col("c_custkey") % 10 === 3L)
      .withColumn("__del", lit(true))
    val upds = cust.filter(col("c_custkey") % 10 === 4L)
      .withColumn("c_name", concat(col("c_name"), lit("!")))
      .withColumn("__del", lit(false))
    val ins = cust.filter(col("c_custkey") % 10 === 5L)
      .withColumn("c_custkey", col("c_custkey") + 1000000L)
      .withColumn("__del", lit(false))
    dels.unionByName(upds).unionByName(ins)
  }

  /** [[mergeBatch]]'s post-merge customer state, derived logically. */
  private val mergedCustomerSql =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 10 = 4 THEN c_name || '!' ELSE c_name END
      |    AS c_name,
      |  c_nationkey
      |FROM customer WHERE c_custkey % 10 != 3
      |UNION ALL
      |SELECT c_custkey + 1000000, c_name, c_nationkey
      |FROM customer WHERE c_custkey % 10 = 5""".stripMargin

  val all: Seq[Q] = Seq(

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
      val onDisk = parquetFilesUnder(new java.io.File(table))
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
      val onDisk = parquetFilesUnder(new java.io.File(table))
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
      mergedCustomerSql) { (s, dir) =>
      val table = Fixture.once("qj12_table", dir) {
        val t = Fixture.dir("graft_snapmerge")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        sources.Snapshots.commit(s, t, cust) // v0
        val v = sources.Snapshots.merge(s, t, mergeBatch(cust),
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
      mergedCustomerSql) { (s, dir) =>
      val table = Fixture.once("qj14_table", dir) {
        val t = Fixture.dir("graft_snapmor")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        sources.Snapshots.commit(s, t, cust) // v0
        val v = sources.Snapshots.commitDelta(s, t, mergeBatch(cust),
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
    },

    // ----- runtime bloom-filter semi-join reduction ---------------------
    // Catalyst's InjectRuntimeFilter turns the dim side's selective
    // predicate into a bloom filter evaluated on the FACT side before
    // its shuffle, so the exchange moves only probably-matching rows —
    // at 100 TB this is the difference between shuffling the whole fact
    // and shuffling the ~1/5 that can join. The builder REQUIRES both
    // halves in the optimized plan (bloom_filter_agg on the dim,
    // might_contain on the fact) so the row goes red if injection ever
    // regresses, then materializes under the tuned confs and restores
    // them (the broadcast threshold must stay default for every other
    // gate; at production scan sizes the default thresholds trigger the
    // same plan without tuning). The oracle is the plain join — the
    // bloom filter must be a pure reduction, never wrong rows.
    Q("qj16_runtime_filter",
      """SELECT l_orderkey, l_quantity, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin) { (s, dir) =>
      val conf = s.conf
      val saved = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> conf.getOption(k)).toMap
      try {
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val li = Tables(s, dir, "lineitem")
        val ords = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        val joined = li.join(ords, col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_quantity", "o_totalprice")
        val opt = joined.queryExecution.optimizedPlan.toString
        require(opt.contains("bloom_filter_agg"),
          "runtime bloom filter not injected on the creation side: " + opt.take(1000))
        require(opt.contains("might_contain"),
          "runtime bloom filter not applied on the fact side: " + opt.take(1000))
        // execute while the tuned confs are live; later consumers replan,
        // so hand them the materialized result instead
        joined.localCheckpoint()
      } finally saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _))
      }
    },

    // ----- automatic range-join binning (optimizer rule) ----------------
    // A pure interval join (event time BETWEEN band lo AND hi, no equi
    // keys) is a nested-loop plan in stock Spark — O(n·m) comparisons.
    // plans.RangeBinJoinRewrite, injected via SparkSessionExtensions,
    // rewrites it into the binned equi-join (the automatic form of
    // q43's manual composition): intervals explode into width-W bins,
    // points bin once, hash join on the bin, range re-checked. The
    // builder runs the join in an extensions-enabled session with
    // W = 1 hour, REQUIRES the rewrite fired (bin attribute in the
    // optimized plan, no nested loop in the physical plan), and the
    // DuckDB oracle runs the plain range join — the rewrite must be
    // row-for-row invisible.
    Q("qj17_range_bin_join",
      """WITH m AS (SELECT epoch_us(min(ts)) AS t0 FROM events),
        |b AS (SELECT CAST(i AS BIGINT) AS band,
        |        t0 + i * 3600000000 AS lo,
        |        t0 + (i + 1) * 3600000000 - 1 AS hi
        |      FROM m, range(0, 24) r(i)),
        |e AS (SELECT event_id, epoch_us(ts) AS t FROM events)
        |SELECT band, COUNT(*) AS n
        |FROM e JOIN b ON t >= lo AND t <= hi
        |GROUP BY band""".stripMargin) { (s, dir) =>
      // one extensions-enabled session per JVM; it shares the
      // SparkContext, and other gates never see it
      val s2 = Fixture.once("qj17_session") {
        val es = graft.plans.GraftExtensions.session()
        es.conf.set("spark.graft.rangeJoin.binWidth", "3600000000")
        es
      }
      val ev = Tables(s2, dir, "events")
        .select(col("event_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("t"))
      val t0 = ev.agg(min(col("t"))).head().getLong(0)
      import s2.implicits._
      val bands = (0 until 24).map { i =>
        (i.toLong, t0 + i * 3600000000L, t0 + (i + 1) * 3600000000L - 1)
      }.toDF("band", "lo", "hi")
      val joined = ev.join(bands, col("t") >= col("lo") && col("t") <= col("hi"))
      require(joined.queryExecution.optimizedPlan.toString.contains("__range_bin"),
        "RangeBinJoinRewrite did not fire")
      require(!joined.queryExecution.executedPlan.toString.contains("NestedLoopJoin"),
        "binned range join must not nested-loop")
      joined.groupBy("band").agg(count(lit(1)).as("n"))
    },

    // ----- snapshot schema evolution ------------------------------------
    // v0 commits (c_custkey, c_name); v1 APPENDS rows carrying an added
    // c_nationkey column. The manifest's DECLARED schema governs every
    // read (no footer crawl): the latest read null-fills the old files'
    // missing column, and time travel to v0 — asserted in the builder —
    // still returns v0's two-column schema. The oracle reconstructs the
    // same union with an explicit NULL branch.
    Q("qj15_schema_evolution",
      """SELECT c_custkey, c_name, CAST(NULL AS BIGINT) AS c_nationkey
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin) { (s, dir) =>
      import graft.sources.Snapshots
      val table = Fixture.once("qj15_table", dir) {
        val t = Fixture.dir("graft_evo")
        val cust = Tables(s, dir, "customer")
        Snapshots.commit(s, t,
          cust.filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_name"))
        Snapshots.commit(s, t,
          cust.filter(col("c_custkey") % 2 === 1)
            .select("c_custkey", "c_name", "c_nationkey"),
          mode = "append")
        t
      }
      // time travel reads v0 under v0's schema, not the evolved one
      require(Snapshots.read(s, table, Some(0)).columns.toSeq ==
        Seq("c_custkey", "c_name"),
        "v0 must keep its pre-evolution schema")
      Snapshots.read(s, table)
    },

    // ----- branch/tag refs over the snapshot log ------------------------
    // Iceberg's ref model: versions are one global immutable sequence,
    // refs are named pointers. main and a feature branch fork from the
    // same base; each side's append carries from ITS OWN head, so the
    // branch read sees base + branch rows and the builder asserts main
    // never leaks the branch's commit. The oracle reconstructs the
    // branch view as a plain filter union.
    Q("qj19_branch_refs",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey % 4 IN (0, 2)""".stripMargin) { (s, dir) =>
      import graft.sources.{Refs, Snapshots}
      val table = Fixture.once("qj19_table", dir) {
        val t = Fixture.dir("graft_refs")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_name")
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 4 === 0)) // v0
        Refs.branch(s, t, "main")
        Refs.branch(s, t, "feature")
        Refs.commitTo(s, t, "main",
          cust.filter(col("c_custkey") % 4 === 1), mode = "append")
        Refs.commitTo(s, t, "feature",
          cust.filter(col("c_custkey") % 4 === 2), mode = "append")
        t
      }
      // main is isolated from the branch commit
      require(Refs.read(s, table, "main")
        .filter(col("c_custkey") % 4 === 2).count() == 0,
        "main must not see the feature branch's rows")
      Refs.read(s, table, "feature")
    },

    // ----- MERGE with schema evolution ----------------------------------
    // Delta's MERGE WITH SCHEMA EVOLUTION: the upsert source carries a
    // column the table lacks (acctbal); autoEvolve widens the declared
    // schema in the same commit — untouched rows null-fill, upserted
    // rows land wide. The oracle reconstructs the same two-branch
    // union. Composes qj12's merge with qj15's declared-schema rules.
    Q("qj18_merge_evolution",
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 10 <> 4
        |UNION ALL
        |SELECT c_custkey, c_name || '!' AS c_name, c_acctbal
        |FROM customer WHERE c_custkey % 10 = 4""".stripMargin) { (s, dir) =>
      import graft.sources.Snapshots
      val table = Fixture.once("qj18_table", dir) {
        val t = Fixture.dir("graft_mergeevo")
        val cust = Tables(s, dir, "customer")
        Snapshots.commit(s, t, cust.select("c_custkey", "c_name"))
        Snapshots.merge(s, t,
          cust.filter(col("c_custkey") % 10 === 4)
            .select(col("c_custkey"),
              concat(col("c_name"), lit("!")).as("c_name"), col("c_acctbal")),
          keyCols = Seq("c_custkey"), autoEvolve = true)
        t
      }
      Snapshots.read(s, table)
    },

    // ----- partition-spec evolution + hidden-partition pruning ----------
    // An Iceberg-style evolvable layout end to end: v0 commits the
    // pre-1998 fact half partitioned by year(l_shipdate), v1 APPENDS
    // the rest under a DIFFERENT spec (month since 1970-01) — the
    // `__p_<transform>_<col>=v` path segments are self-describing, so
    // one rangeRead prunes each file under the spec it was written
    // with (builder-required below: the band keeps only 1997 year-dirs
    // and 1998-01..03 month-dirs) and unions both layouts, with the
    // derived columns never leaking into query semantics. The oracle
    // is a plain filter over the same source rows — layout must be
    // invisible to results, which is the whole point.
    Q("qj20_partition_evolution",
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${graft.functions.Exact.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
         |  AND l_shipdate <= TIMESTAMP '1998-03-31 00:00:00'
         |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      import graft.sources.{PartitionSpec, Snapshots}
      val cut = "1998-01-01"
      val table = Fixture.once("qj20_table", dir) {
        val t = Fixture.dir("graft_pspec")
        val li = Tables(s, dir, "lineitem")
        Snapshots.commit(s, t, li.filter(col("l_shipdate") < cut),
          partitionBy = Seq(("year", "l_shipdate")))
        Snapshots.commit(s, t, li.filter(col("l_shipdate") >= cut),
          mode = "append", partitionBy = Seq(("month", "l_shipdate")))
        t
      }
      val (lo, hi) = ("1997-06-01", "1998-03-31")
      val rel = Snapshots.files(s, table)
      val kept = rel.filter(PartitionSpec.mayContain(_, "l_shipdate", lo, hi))
      require(rel.exists(_.contains("__p_year_")) &&
        rel.exists(_.contains("__p_month_")), "both specs must be present")
      require(kept.nonEmpty && kept.size < rel.size,
        s"partition pruning must drop files (kept ${kept.size}/${rel.size})")
      Snapshots.rangeRead(s, table, "l_shipdate", lo, hi)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_quantity")).as("sum_qty"))
    },

    // ----- bucket-transform point read -----------------------------------
    // The high-cardinality-key half of hidden partitioning: orders laid
    // out by bucket16(o_custkey) (CRC32 of the canonical string form —
    // the driver computes the bound's bucket with no cluster
    // round-trip, PartitionSpec.bucketValue), so a point read touches
    // ~1/16 of the files, builder-required below. Hashing destroys
    // order, so ONLY equality bounds prune — a range over the key keeps
    // everything (conservative), also asserted in the spec.
    Q("qj21_bucket_point_read",
      s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${graft.functions.Exact.dsumSql("o_totalprice")} AS sum_total
         |FROM orders WHERE o_custkey = 421
         |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      import graft.sources.{PartitionSpec, Snapshots}
      val table = Fixture.once("qj21_table", dir) {
        val t = Fixture.dir("graft_bucket")
        Snapshots.commit(s, t, Tables(s, dir, "orders"),
          partitionBy = Seq(("bucket16", "o_custkey")))
        t
      }
      val rel = Snapshots.files(s, table)
      val kept = rel.filter(PartitionSpec.mayContain(_, "o_custkey", "421", "421"))
      require(kept.nonEmpty && kept.size * 4 <= rel.size,
        s"bucket pruning must drop most files (kept ${kept.size}/${rel.size})")
      Snapshots.rangeRead(s, table, "o_custkey", "421", "421")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("sum_total"))
    },

    // ----- zero-copy rollback (Delta RESTORE) ---------------------------
    // A bad overwrite lands as v1; restore(0) publishes a NEW head
    // whose manifest re-references v0's files verbatim — zero bytes
    // copied, the bad version stays readable for forensics, and the
    // rollback is itself an auditable commit (builder-required: the
    // restored head's file list IS v0's, and history shows 3 versions
    // with only the head current). The oracle rebuilds the good state
    // from source — a reader of the restored table must be unable to
    // tell the incident ever happened.
    Q("qj22_restore",
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE c_custkey % 3 = 0""".stripMargin) { (s, dir) =>
      import graft.sources.Snapshots
      val table = Fixture.once("qj22_table", dir) {
        val t = Fixture.dir("graft_restore")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 3 === 0)) // good
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 3 === 1)) // bad
        Snapshots.restore(s, t, 0)
        t
      }
      require(Snapshots.files(s, table) == Snapshots.files(s, table, Some(0)),
        "restored head must re-reference v0's files verbatim")
      val hist = Snapshots.history(s, table).collect()
      require(hist.length == 3 && hist.count(_.getBoolean(5)) == 1,
        "history must show 3 auditable versions with one current head")
      Snapshots.read(s, table)
    },

    // ----- write-audit-publish release gating ---------------------------
    // The lakehouse release pattern composed from branch refs +
    // write-time expectations: every batch STAGES as a real commit on
    // the audit branch; only a passing audit fast-forwards main. A
    // good batch publishes; a batch with NULL names aborts — main
    // never moves (builder-required), the staged bad version stays in
    // global history for forensics, and the audit branch resets for
    // the next batch. Audit cost is per-batch, not per-table (carried
    // files were validated when THEY published). The oracle rebuilds
    // main's expected state from source: consumers pinned to main must
    // be unable to observe the rejected batch.
    Q("qj23_wap",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey % 4 IN (0, 2)""".stripMargin) { (s, dir) =>
      import graft.etl.Expectations
      import graft.sources.{Refs, Snapshots, Wap}
      val table = Fixture.once("qj23_table", dir) {
        val t = Fixture.dir("graft_wap")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_name")
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 4 === 0)) // v0
        Refs.branch(s, t, "main")
        Refs.branch(s, t, "audit")
        val rules = Seq(Expectations.notNull("c_name"))
        val good = Wap.writeAuditPublish(s, t,
          cust.filter(col("c_custkey") % 4 === 2), rules)
        require(good.isRight, s"clean batch must publish, got $good")
        val mainBefore = Refs.resolve(s, t, "main")
        val bad = Wap.writeAuditPublish(s, t,
          cust.filter(col("c_custkey") % 4 === 1)
            .withColumn("c_name",
              when(col("c_custkey") % 8 === 1, lit(null)).otherwise(col("c_name"))),
          rules)
        require(bad.isLeft && bad.swap.exists(_ > 0),
          s"dirty batch must abort with violations, got $bad")
        require(Refs.resolve(s, t, "main") == mainBefore,
          "an aborted audit must never move main")
        require(Snapshots.versions(s, t).size >= 3,
          "the staged bad version must remain in history for forensics")
        t
      }
      Refs.read(s, table, "main")
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
}
