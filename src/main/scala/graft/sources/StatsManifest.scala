package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, col, concat, concat_ws,
  count, explode, hex, input_file_name, length, lit, locate, max, min,
  regexp_extract, regexp_replace, when}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

/** Persisted per-file min/max statistics for driver-side scan planning —
  * the manifest half of the lakehouse layout story (Delta/Iceberg keep
  * the same shape in their metadata layers).
  *
  * Parquet footers already carry min/max, but the executor only consults
  * them AFTER the driver has listed every file and scheduled a task per
  * split: at 100 TB that is millions of footer opens for a query that
  * touches one key range. A manifest beside the table lets the DRIVER
  * drop non-intersecting files before the scan exists, which is what
  * makes sorted/z-order compaction (`Maintenance.compact(sortCols)`,
  * `Maintenance.zorderCompact`) pay off at planning time rather than
  * task-skipping time.
  *
  * Format: `_stats_manifest` (underscore prefix — Spark data readers
  * ignore it) holding one line per (data file, column):
  * `relativePath\tcol\ttype\tmin\tmax`. Values are stored raw, with the
  * field and record delimiters percent-escaped ([[enc]]), and compared
  * TYPED at prune time by the recorded type name ([[cmp]]).
  *
  * The manifest is rebuilt in ONE distributed pass (group-by on
  * `input_file_name`), so refreshing it after compaction costs a scan
  * of the rewritten files only if called per-partition; here it is a
  * table-level refresh, bounded by one row per (file, column) at the
  * driver — metadata-scale, like the listing itself.
  */
object StatsManifest {

  private def manifestPath(table: String) = new Path(table, "_stats_manifest")

  private def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Orderable types the manifest supports. Anything else is rejected at
    * write() time — a type cmp() can't order (boolean, binary, array,
    * struct, map) must never enter the manifest, where it would fall
    * back to text comparison and prune files whose true range
    * intersects (silent row loss).
    */
  private def supportedType(typeName: String): Boolean = typeName match {
    case "integer" | "long" | "short" | "byte" => true
    case "double" | "float" => true
    case "string" | "date" | "timestamp" | "timestamp_ntz" => true
    case t if t.startsWith("decimal(") => true
    case _ => false
  }

  /** Percent-encode the manifest's field/record delimiters. A string
    * column whose min/max contains a tab or newline would otherwise
    * corrupt its line — worse, an embedded newline could fabricate a
    * well-formed stats row for an arbitrary path and cause WRONG
    * pruning (row loss) instead of the documented conservative keep.
    */
  private def enc(v: String): String = {
    val sb = new StringBuilder(v.length)
    v.foreach {
      case '%' => sb.append("%25")
      case '\t' => sb.append("%09")
      case '\n' => sb.append("%0A")
      case '\r' => sb.append("%0D")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def dec(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      if (v.charAt(i) == '%' && i + 3 <= v.length) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(v.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** The lines of `p`, or None when it does not exist. */
  private def readLines(fs: FileSystem, p: Path): Option[List[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
      finally in.close()
    }

  /** `rel -> middle fields` of the per-file lines for `column`: the
    * fields between `rel\tcol` and the line's end, `width` of them.
    */
  private def perFileFields(lines: Seq[String], column: String,
                            width: Int): Map[String, Array[String]] =
    lines.map(_.split('\t')).collect {
      case a if a.length == 2 + width && a(1) == column => dec(a(0)) -> a.drop(2)
    }.toMap

  /** Type names of `cols`, rejecting any type `layer` can't prune by. */
  private def typesOf(df: DataFrame, cols: Seq[String],
                      layer: Layer): Map[String, String] = {
    val types = cols.map(c => c -> df.schema(c).dataType.typeName).toMap
    val bad = cols.filterNot(c => layer.accepts(types(c)))
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        layer.rejects + bad.map(c => s"$c:${types(c)}").mkString(", "))
    types
  }

  /** One manifest line per (file, column) of `df`, which must read from
    * under `table` (stats grouped by `input_file_name`).
    */
  private def statsLines(table: String, df: DataFrame, cols: Seq[String]): String = {
    val types = typesOf(df, cols, Stats)
    val aggs = cols.flatMap(Stats.fileAggs)
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per data FILE: driver metadata, like the listing
    val sb = new StringBuilder
    rows.foreach { r =>
      val rel = relOf(table, new java.net.URI(r.getAs[String]("__file")).getPath)
      cols.foreach { c =>
        val lo = r.getAs[Any](s"min_$c")
        val hi = r.getAs[Any](s"max_$c")
        if (lo != null && hi != null)
          sb.append(s"${enc(rel)}\t$c\t${types(c)}\t${enc(lo.toString)}\t${enc(hi.toString)}\n")
      }
    }
    sb.toString
  }

  /** Atomic write-then-rename publish of `table/name` (readers see old
    * or new, whole), staged at `table/.name.tmp`.
    */
  private def publishAt(spark: SparkSession, table: String, name: String,
                        content: String): Unit = {
    val fs = fsOf(spark, table)
    val target = new Path(table, name)
    val tmp = new Path(table, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"manifest publish failed for $target")
  }

  /** Rebuild the manifest for `cols` (numeric, string, or date — any
    * orderable parquet type; values are stored as text and re-typed at
    * prune time from the recorded type name).
    */
  def write(spark: SparkSession, table: String, cols: Seq[String]): Unit =
    publishAt(spark, table, "_stats_manifest",
      statsLines(table, spark.read.parquet(table), cols))

  /** Extend the manifest to files it doesn't cover yet — the streaming
    * companion to [[write]]: a continuous ingest appends files every
    * micro-batch, and without maintenance the (stale-SAFE) prune decays
    * toward keep-everything. Reads ONLY the uncovered files, merges
    * their stats under the existing lines, and republishes atomically.
    * Idempotent by construction — covered files are skipped — so a
    * crash-replay (listener refire, restarted query) is a no-op.
    * Returns the number of newly covered files.
    */
  def appendMissing(spark: SparkSession, table: String,
                    colsIfNew: Seq[String] = Nil): Int = {
    val fs = fsOf(spark, table)
    val cols = columnsOf(spark, table) match {
      case Nil => colsIfNew
      case cs => cs
    }
    if (cols.isEmpty) return 0
    val existing = readLines(fs, manifestPath(table)).getOrElse(Nil)
    val covered = existing.flatMap(_.split('\t') match {
      case Array(rel, _, _, _, _) => Some(dec(rel))
      case _ => None
    }).toSet
    val missing = listDataFiles(spark, fs, table)
      .filterNot(f => covered.contains(relOf(table, f)))
    if (missing.isEmpty) return 0
    val df = spark.read.option("basePath", table).parquet(missing: _*)
    publishAt(spark, table, "_stats_manifest",
      existing.map(_ + "\n").mkString + statsLines(table, df, cols))
    missing.size
  }

  /** Columns the table's manifest currently tracks (empty if none) —
    * lets a rewrite (compaction) refresh the manifest for the same
    * columns without the caller re-stating them.
    */
  def columnsOf(spark: SparkSession, table: String): Seq[String] =
    readLines(fsOf(spark, table), manifestPath(table)).getOrElse(Nil)
      .flatMap(_.split('\t') match {
        case Array(_, c, _, _, _) => Some(c)
        case _ => None
      }).distinct

  private def cmp(typeName: String, a: String, b: String): Int = typeName match {
    case "integer" | "long" | "short" | "byte" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" | "float" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case t if t.startsWith("decimal(") => // '9.5' vs '12.0' compares wrong as text
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => a.compareTo(b) // string / date / timestamp: ISO text orders correctly
  }

  /** Whether stats middle fields (type, min, max) can intersect [lo, hi]. */
  private def overlaps(m: Array[String], lo: String, hi: String): Boolean =
    cmp(m(0), dec(m(2)), lo) >= 0 && cmp(m(0), dec(m(1)), hi) <= 0

  private def relOf(table: String, file: String): String =
    file.stripPrefix(new Path(table).toUri.getPath).stripPrefix("/")

  /** Data files under `table`: skips any path with a hidden SEGMENT —
    * a streaming sink's `_spark_metadata/0` has a plain file name but
    * lives under a metadata directory Spark readers ignore.
    *
    * When `_spark_metadata` EXISTS the raw listing is wrong, not just
    * noisy: a FileStreamSink leaves orphaned files from aborted
    * micro-batch attempts on disk, and readers honoring the commit log
    * skip them. Listing those orphans here would hand them stats rows
    * (via `appendMissing`) and serve them through `rangeRead`,
    * returning duplicate rows a plain `spark.read.parquet(table)` —
    * which plans through `MetadataLogFileIndex` on a sink root —
    * excludes, breaking the documented full-scan equivalence. So for a
    * sink root we enumerate COMMITTED files the same way a reader
    * does: plan a read of the table and take its `inputFiles`.
    */
  private def listDataFiles(spark: SparkSession, fs: FileSystem,
                            table: String): Seq[String] = {
    if (fs.exists(new Path(table, "_spark_metadata"))) {
      spark.read.parquet(table).inputFiles.toSeq
        .map(f => new java.net.URI(f).getPath)
    } else {
      val it = fs.listFiles(new Path(table), true)
      val buf = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        val rel = relOf(table, f.toUri.getPath)
        val hidden = rel.split('/')
          .exists(seg => seg.startsWith("_") || seg.startsWith("."))
        if (!hidden) buf += f.toUri.getPath
      }
      buf.result()
    }
  }

  /** Files of `table` whose [min,max] for `column` intersects [lo,hi] —
    * the driver-side prune. Files with no manifest row for the column
    * (written after the last refresh, or all-NULL) are conservatively
    * KEPT, so a stale manifest can only under-prune, never lose rows.
    */
  def candidateFiles(spark: SparkSession, table: String, column: String,
                     lo: String, hi: String): Seq[String] =
    filterByStats(spark, table, listDataFiles(spark, fsOf(spark, table), table),
      column, lo, hi)

  /** Prune an EXPLICIT file universe (absolute paths under `table`) by
    * the manifest's per-file stats — the composition point for layers
    * that own their file listing, e.g. a snapshot version's pinned
    * set: the caller decides WHICH files exist, the manifest decides
    * which of them can intersect [lo, hi]. Files without a stats row
    * are conservatively kept, as ever.
    */
  def filterByStats(spark: SparkSession, table: String, files: Seq[String],
                    column: String, lo: String, hi: String): Seq[String] = {
    val stats = perFileFields(
      readLines(fsOf(spark, table), manifestPath(table)).getOrElse(Nil),
      column, Stats.width)
    // unknown file: keep (stale manifest is safe)
    files.filter(f => stats.get(relOf(table, f)).forall(overlaps(_, lo, hi)))
  }

  // ----- Two-level (partition-grouped) manifests ------------------------
  //
  // The single-file manifests collect one row per data file on the
  // driver at WRITE time and parse every line at PRUNE time — fine at
  // gate scale (10³ files), but at 100 TB ≈ 10⁶ files that is GBs of
  // driver state for a query touching one key range. The two-level
  // layout bounds driver state by PARTITION count instead:
  //
  //   <name>_parts                     one line per (partition dir,
  //                                    col): part, col, <middle
  //                                    fields>, n_files, file-set
  //                                    fingerprint — partition-scale,
  //                                    read whole at prune time
  //   <name>_files/<enc(part)>         that partition's per-file lines
  //                                    (rel, col, <middle fields>) —
  //                                    opened ONLY for partitions the
  //                                    parts summary could not decide
  //
  // One engine serves two layers ([[Layer]]): min/max stats
  // (`_stats_manifest`, middle fields type, min, max) and Bloom
  // membership (`_bloom_manifest`, middle fields hash count, filter
  // hex). A write rebuilds every partition; a refresh rebuilds only the
  // stale ones and passes the other summary lines through verbatim.
  //
  // A rebuild is ONE distributed pass: per-file aggregates group by
  // input_file_name exactly as statsLines, but the per-file rows are
  // WRITTEN BY SPARK (partitionBy on a partition index) instead of
  // collected — the driver holds only the partition-scale summary and
  // the partition-name index, never a per-file row.
  //
  // Prune side decides per partition: the probe may match → open that
  // partition's per-file lines and prune file by file; no match AND the
  // universe's file set matches the recorded one (count AND
  // fingerprint — count alone misses an equal-count replacement) →
  // drop the whole partition WITHOUT touching per-file rows; no match
  // but set mismatch (files appended/replaced since the manifest) →
  // open and prune per file, keeping unknown files. Unknown
  // partitions and unknown files are always kept — the same
  // stale-manifest-is-safe, never-lose-rows contract as filterByStats.

  /** Per-partition prune outcome: the surviving files, how many
    * partitions the universe spanned, and how many per-file stats
    * files the prune had to open — the number a 100 TB planner pays
    * for (the qj24 gate requires it to be a strict subset).
    */
  final case class TwoLevelPrune(files: Seq[String], partsTotal: Int,
                                 partsOpened: Int)

  private def encCol(c: Column): Column =
    // %-escape first, then the delimiters — mirrors enc()
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      c, "%", "%25"), "\t", "%09"), "\n", "%0A"), "\r", "%0D")

  /** Order-independent fingerprint of a partition's file SET (XOR of
    * xxhash64 over relative paths, seed 42 — the SQL `xxhash64`
    * default, so the distributed agg below and this driver-side
    * recompute agree bit-for-bit). The parts summary records it next
    * to n_files, and the drop-whole-partition decision requires BOTH
    * to match: file count alone misses an equal-count replacement
    * (delete one file, append another with out-of-band values), and
    * it misses a pinned-snapshot universe that happens to have the
    * same cardinality as the live partition — either would drop a
    * partition whose per-file stats were never consulted, losing
    * rows. Names are a set, never a multiset, within one directory,
    * so XOR cancellation can't occur.
    */
  private def fpOf(rels: Iterable[String]): String = {
    var acc = 0L
    rels.foreach { r =>
      acc ^= org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(r),
        org.apache.spark.sql.types.StringType, 42L)
    }
    java.lang.Long.toHexString(acc)
  }

  /** The distributed twin of [[fpOf]] over a `__rel` column. */
  private def fpAgg: Column =
    org.apache.spark.sql.functions.expr("bit_xor(xxhash64(__rel))")

  /** `input_file_name()` is a URI — percent-encoded — while the rel
    * keys everywhere else ([[statsLines]], [[relOf]]) come from
    * DECODED paths. Deriving `__rel` with instr() on the raw string
    * made a table path containing a space/%/non-ASCII produce garbage
    * keys (the prune silently degrades to keep-everything), and a
    * single quote broke the spliced SQL literal outright. Decode via
    * java.net.URI exactly like statsLines; runs on per-FILE grouped
    * rows only — metadata-scale, never the data path (the one place a
    * UDF is the right tool: java.net.URI semantics, N_files rows).
    * A root that doesn't prefix the decoded path yields the full path,
    * which matches no reader key — the file is conservatively kept.
    */
  private val uriPathUdf = org.apache.spark.sql.functions.udf((s: String) =>
    try new java.net.URI(s).getPath catch { case _: Exception => s })

  private def relColOf(rootPath: String): Column = {
    val p = uriPathUdf(col("__file"))
    val pos = locate(rootPath + "/", p)
    when(pos > 0, p.substr(pos + lit(rootPath.length + 1), length(p)))
      .otherwise(p)
  }

  /** A file's partition: the first segment of its table-relative path,
    * or "" for a file directly under the root. The driver (listings)
    * and Spark (per-file rows) must key by this ONE pattern: were they
    * to disagree on a root-level file, a refresh would summarize it
    * under a key the driver never looks up, and find it stale on every
    * call.
    */
  private val PartKey = "^([^/]*)/"
  private val PartKeyRe = PartKey.r
  private def partOf(rel: String): String =
    PartKeyRe.findFirstMatchIn(rel).fold("")(_.group(1))
  private def partCol(rel: Column): Column = regexp_extract(rel, PartKey, 1)

  /** One layer of the two-level manifest: what it aggregates per file
    * and per partition, and how it spells a line's `width` middle
    * fields. Partition aggregates come from the per-file rows
    * (`partAggs`, min/max) or straight from the data (`dataAggs`, Bloom
    * unions, which need their own capacity).
    */
  private sealed abstract class Layer(val name: String, val width: Int) {
    def accepts(typeName: String): Boolean
    def rejects: String
    def fileAggs(c: String): Seq[Column]
    def partAggs(c: String): Seq[Column] = Nil
    def dataAggs(c: String): Seq[Column] = Nil
    /** middle fields of a per-file row for `c`; null writes no line */
    def fileLine(c: String, typeName: String): Column
    /** middle fields of a summary row for `c`; None writes no line */
    def partLine(r: Row, c: String, typeName: String): Option[String]
    /** the layer a refresh rebuilds with, given the recorded summary */
    def sizedFrom(fs: FileSystem, table: String, recorded: Seq[PartLine]): Layer = this
    def parts(table: String) = new Path(table, name + "_parts")
    def files(table: String) = new Path(table, name + "_files")
  }

  private object Stats extends Layer("_stats_manifest", 3) {
    def accepts(typeName: String) = supportedType(typeName)
    def rejects = "StatsManifest: unsupported (un-orderable) column types: "
    def fileAggs(c: String) = Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    override def partAggs(c: String) =
      Seq(min(col(s"min_$c")).as(s"pmin_$c"), max(col(s"max_$c")).as(s"pmax_$c"))
    def fileLine(c: String, typeName: String) = {
      val lo = col(s"min_$c").cast("string")
      val hi = col(s"max_$c").cast("string")
      when(lo.isNotNull && hi.isNotNull,
        concat_ws("\t", lit(c), lit(typeName), encCol(lo), encCol(hi)))
    }
    def partLine(r: Row, c: String, typeName: String) =
      for (lo <- Option(r.getAs[Any](s"pmin_$c")); hi <- Option(r.getAs[Any](s"pmax_$c")))
        yield s"$typeName\t${enc(lo.toString)}\t${enc(hi.toString)}"
  }

  private val BloomHashes = 6

  private def hexOf(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Whether Bloom middle fields (hash count, filter hex) might hold `value`. */
  private def mightContain(m: Array[String], value: Any): Boolean =
    graft.expressions.BloomAgg.mightContain(
      m(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, m(0).toInt, value)

  /** Bloom layer at `fileBits` per file filter, `partBits` per partition
    * union; [[Blooms]] is the capacity-free shape reads and refreshes
    * start from.
    */
  private final case class Bloom(fileBits: Int, partBits: Int)
      extends Layer("_bloom_manifest", 2) {
    def accepts(typeName: String) =
      Set("integer", "long", "short", "byte", "string").contains(typeName)
    def rejects = "bloom manifest supports integral/string columns only: "
    private def agg(c: String, bits: Int) = GraftColumnBridge.column(
      graft.expressions.BloomAgg(
        GraftColumnBridge.expression(col(c)), bits, BloomHashes)
        .toAggregateExpression()).as(s"bloom_$c")
    def fileAggs(c: String) = Seq(agg(c, fileBits))
    override def dataAggs(c: String) = Seq(agg(c, partBits))
    def fileLine(c: String, typeName: String) =
      concat_ws("\t", lit(c), lit(BloomHashes.toString), hex(col(s"bloom_$c")))
    def partLine(r: Row, c: String, typeName: String) =
      Some(s"$BloomHashes\t${hexOf(r.getAs[Array[Byte]](s"bloom_$c"))}")
    /** Both capacities from the existing hex (4 bits per hex char): the
      * union width from the summary, the file width from any per-file
      * line.
      */
    override def sizedFrom(fs: FileSystem, table: String,
                           recorded: Seq[PartLine]): Layer = {
      val partBits = recorded.head.mid(1).length * 4
      val dirs = if (fs.exists(files(table))) fs.listStatus(files(table)).toSeq else Nil
      val fileBits = dirs.iterator
        .flatMap(st => readLines(fs, st.getPath).getOrElse(Nil).headOption)
        .flatMap(_.split('\t') match {
          case Array(_, _, _, hx) => Some(hx.length * 4)
          case _ => None
        }).nextOption().getOrElse(partBits / 16 max 64)
      Bloom(fileBits, partBits)
    }
  }
  private val Blooms = Bloom(0, 0)

  /** One parts-summary line of a layer. Legacy lines, one field short,
    * predate the file-set fingerprint and parse with fp = None: they
    * never drop whole and always read as stale, so the first refresh
    * upgrades them in place.
    */
  private final case class PartLine(part: String, column: String,
                                    mid: Array[String], nf: Long,
                                    fp: Option[String], raw: String)

  private def readParts(fs: FileSystem, table: String,
                        layer: Layer): Seq[PartLine] = {
    val n = 2 + layer.width
    readLines(fs, layer.parts(table)).getOrElse(Nil).flatMap { l =>
      val a = l.split('\t')
      if (a.length != n + 1 && a.length != n + 2) None
      else Some(PartLine(dec(a(0)), a(1), a.slice(2, n), a(n).toLong, a.lift(n + 1), l))
    }
  }

  /** Whether `pfiles` is exactly the file set `s` describes: count AND
    * fingerprint must match (see [[fpOf]]).
    */
  private def covers(s: PartLine, table: String, pfiles: Seq[String]): Boolean =
    pfiles.size == s.nf && s.fp.contains(fpOf(pfiles.map(relOf(table, _))))

  /** Build `layer`'s two-level manifest for the partitions of the files
    * `df` reads: every partition for a write, the stale ones for a
    * refresh, whose `recorded` summary lines for other partitions pass
    * through verbatim. One distributed stats pass (plus, for Blooms,
    * one union pass); driver state is partition-scale only.
    */
  private def rebuild(spark: SparkSession, table: String, layer: Layer,
                      cols: Seq[String], df: DataFrame,
                      recorded: Seq[PartLine]): Unit = {
    val types = typesOf(df, cols, layer)
    val rootPath = new Path(table).toUri.getPath
    val fileAggs = cols.flatMap(layer.fileAggs)
    val perFile = df.groupBy(input_file_name().as("__file"))
      .agg(fileAggs.head, fileAggs.tail: _*)
      .withColumn("__rel", relColOf(rootPath))
      .withColumn("__part", partCol(col("__rel")))
      .localCheckpoint() // two consumers below; stats scan runs once

    // partition-scale summary: file count, file-set fingerprint and the
    // layer's partition aggregates
    val meta = perFile.groupBy("__part")
      .agg(count(lit(1)).as("__nf"), fpAgg.as("__fp") +: cols.flatMap(layer.partAggs): _*)
      .collect() // ONE row per partition dir: bounded driver metadata
    val parts = meta.map(_.getAs[String]("__part")).sorted
    if (parts.exists(p => p == null || p.isEmpty))
      throw new IllegalArgumentException(
        "a two-level manifest needs a directory-partitioned table " +
          "(files directly under the root: use write() or writeBlooms() instead)")
    // Bloom unions from the DATA at partition capacity (identical bit
    // math to OR-ing the file filters, but correctly sized)
    val dataAggs = cols.flatMap(layer.dataAggs)
    val summary = if (dataAggs.isEmpty) meta else df
      .withColumn("__file", input_file_name())
      .withColumn("__part", partCol(relColOf(rootPath)))
      .groupBy("__part")
      .agg(dataAggs.head, dataAggs.tail: _*)
      .collect() // ONE filter per partition dir: bounded driver metadata
    val counts = meta.map(r => r.getAs[String]("__part") ->
      s"${r.getAs[Long]("__nf")}\t${java.lang.Long.toHexString(r.getAs[Long]("__fp"))}").toMap
    val fresh = summary.map { r =>
      val part = r.getAs[String]("__part")
      part -> cols.flatMap(c => layer.partLine(r, c, types(c))
        .map(m => s"${enc(part)}\t$c\t$m\t${counts(part)}\n")).mkString
    }.toMap

    // per-file lines, written BY SPARK under a numeric partition index
    // (numeric so partitionBy never escapes the directory name), then
    // renamed to the partition's own name — rename work is
    // partition-scale, row data never visits the driver
    val pidx = parts.zipWithIndex.toMap
    val idxDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pidx.toSeq.map { case (p, i) => Row(p, i) }, 1),
      StructType(Seq(StructField("__part", StringType), StructField("__pidx", IntegerType))))
    val lines = perFile.join(broadcast(idxDf), Seq("__part"))
      .select(col("__pidx"), explode(array(cols.map(c => concat(
        encCol(col("__rel")), lit("\t"), layer.fileLine(c, types(c)))): _*)).as("line"))
      .filter(col("line").isNotNull)
    writePerPartLines(spark, table, layer, lines, pidx, full = recorded.isEmpty)
    // the parts summary is published LAST: readers treat a missing
    // parts file as "no two-level manifest" and keep everything, and a
    // crash mid-refresh leaves the old (count-mismatched,
    // open-and-keep) summary — never one that claims coverage the
    // files dir doesn't have
    val kept = recorded.filterNot(l => fresh.contains(l.part)).map(_.raw + "\n")
    publishAt(spark, table, layer.name + "_parts",
      kept.mkString + fresh.toSeq.sortBy(_._1).map(_._2).mkString)
  }

  /** Spark-write a (__pidx, line) frame as one text file per partition
    * under `layer.files(table)/<enc(part)>`, so row data never visits
    * the driver; the rename loop is partition-scale. A full write
    * replaces the directory; a refresh swaps its partitions' files one
    * by one (a reader in the swap window finds no per-file file and
    * keeps the partition whole).
    */
  private def writePerPartLines(spark: SparkSession, table: String,
                                layer: Layer, lines: DataFrame,
                                pidx: Map[String, Int], full: Boolean): Unit = {
    val fs = fsOf(spark, table)
    val staging = new Path(table,
      s".${layer.name}_${if (full) "files" else "refresh"}.tmp")
    fs.delete(staging, true)
    lines.repartition(col("__pidx"))
      .write.partitionBy("__pidx").text(staging.toString)
    val target = layer.files(table)
    if (full) fs.delete(target, true)
    fs.mkdirs(target)
    pidx.foreach { case (part, i) =>
      val src = new Path(staging, s"__pidx=$i")
      if (fs.exists(src)) {
        // usually one text part-file per index (repartition by __pidx);
        // concatenate defensively if the writer split it
        val texts = fs.listStatus(src).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val dst = new Path(target, enc(part))
        fs.delete(dst, false)
        if (texts.length == 1) fs.rename(texts.head, dst)
        else {
          val out = fs.create(dst, true)
          try texts.foreach { t =>
            val in = fs.open(t)
            try in.transferTo(out) finally in.close()
          } finally out.close()
        }
      }
    }
    fs.delete(staging, true)
  }

  /** Rebuild the partitions of `shape`'s manifest whose on-disk file
    * SET no longer matches the recorded one, for the recorded columns.
    * Stale = count OR fingerprint mismatch (an equal-count replacement
    * must refresh too, or the drop-whole prune would trust a summary
    * describing files that no longer exist), or a brand-new partition.
    * Files directly under the root are never summarized: they stay
    * unknown, and kept. Returns the number of refreshed partitions.
    */
  private def refresh(spark: SparkSession, table: String, shape: Layer): Int = {
    val fs = fsOf(spark, table)
    val recorded = readParts(fs, table, shape)
    val cols = recorded.map(_.column).distinct
    if (cols.isEmpty) return 0
    val byPart = recorded.groupBy(_.part).view.mapValues(_.head).toMap
    val stale = listDataFiles(spark, fs, table).groupBy(f => partOf(relOf(table, f)))
      .filter { case (p, fl) => p.nonEmpty && !byPart.get(p).exists(covers(_, table, fl)) }
    if (stale.isEmpty) return 0
    rebuild(spark, table, shape.sizedFrom(fs, table, recorded), cols,
      spark.read.option("basePath", table).parquet(stale.values.flatten.toSeq: _*),
      recorded)
    stale.size
  }

  /** Two-level prune of an explicit file universe (absolute paths
    * under `table`) — the decision table of the layout comment above,
    * shared by both layers: `mayMatch` tests a line's middle fields
    * against the probe. partsOpened counts the partitions whose
    * per-file lines the prune had to read.
    */
  private def pruneTwoLevel(spark: SparkSession, table: String, layer: Layer,
                            files: Seq[String], column: String)
                           (mayMatch: Array[String] => Boolean): TwoLevelPrune = {
    val fs = fsOf(spark, table)
    val byPart = files.groupBy(f => partOf(relOf(table, f)))
    val summary = readParts(fs, table, layer)
      .filter(_.column == column).map(l => l.part -> l).toMap
    var opened = 0
    val kept = byPart.toSeq.flatMap { case (part, pfiles) =>
      summary.get(part) match {
        case None => pfiles // unknown partition: keep whole
        case Some(s) if !mayMatch(s.mid) && covers(s, table, pfiles) =>
          Nil // no match, complete coverage: drop whole
        case _ => // may match, or stale: unknown files survive
          readLines(fs, new Path(layer.files(table), enc(part))) match {
            case None => pfiles // no per-file lines (refresh swap): keep
            case Some(lines) =>
              opened += 1
              val perFile = perFileFields(lines, column, layer.width)
              pfiles.filter(f => perFile.get(relOf(table, f)).forall(mayMatch))
          }
      }
    }
    TwoLevelPrune(kept, byPart.size, opened)
  }

  /** Rebuild the two-level manifest for a DIRECTORY-PARTITIONED table
    * (every data file under at least one subdirectory of `table`; the
    * first path segment is the partition). One distributed stats pass;
    * driver state is partition-scale only.
    */
  def writePartitioned(spark: SparkSession, table: String,
                       cols: Seq[String]): Unit =
    rebuild(spark, table, Stats, cols, spark.read.parquet(table), Nil)

  /** Extend the two-level manifest to partitions whose on-disk file
    * set no longer matches the recorded one — the streaming companion
    * to [[writePartitioned]] (the [[appendMissing]] discipline at
    * partition granularity): a continuous ingest appends files every
    * micro-batch, and without maintenance every touched partition
    * decays to open-and-keep-unknowns. Re-scans ONLY the stale
    * partitions' files (one distributed pass over that subset),
    * rewrites only their per-file stats files, and republishes the
    * parts summary last. Untouched partitions' stats files are not
    * read, not rewritten. Idempotent: a replay sees matching file sets
    * and no-ops. Returns the number of refreshed partitions.
    */
  def refreshStalePartitions(spark: SparkSession, table: String): Int =
    refresh(spark, table, Stats)

  /** Two-level manifest-pruned range read — [[rangeRead]] with the
    * partition-grouped prune. Same exactness contract: the prune is a
    * superset filter and the typed predicate re-applies in full.
    */
  def rangeReadTwoLevel(spark: SparkSession, table: String, column: String,
                        lo: String, hi: String): (DataFrame, TwoLevelPrune) = {
    val universe = listDataFiles(spark, fsOf(spark, table), table)
    val prune = pruneTwoLevel(spark, table, Stats, universe, column)(overlaps(_, lo, hi))
    val base = readFiles(spark, table, prune.files)
    val t = base.schema(column).dataType
    (base.filter(col(column) >= lit(lo).cast(t) && col(column) <= lit(hi).cast(t)),
      prune)
  }

  // ----- Bloom membership manifest (point-lookup file skipping) --------

  /** Per-file Bloom filters for `cols` — the point-lookup complement to
    * min/max stats: on a column the layout is NOT sorted by, every
    * file's [min, max] spans nearly the full domain and the range
    * prune keeps everything, but membership of one key is still sparse
    * per file. One distributed pass (the statsLines shape: group by
    * input_file_name, constant-size [[graft.expressions.BloomAgg]]
    * buffer per file), `bits/8` bytes of driver metadata per
    * (file, column). False positives keep a file; false negatives
    * can't happen — same never-lose-rows contract as the stats prune.
    */
  def writeBlooms(spark: SparkSession, table: String, cols: Seq[String],
                  bits: Int = 8192): Unit = {
    val layer = Bloom(bits, bits)
    val df = spark.read.parquet(table)
    typesOf(df, cols, layer) // rejects un-hashable columns
    val aggs = cols.flatMap(layer.fileAggs)
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one fixed-size filter per (file, column): driver metadata
    val sb = new StringBuilder
    rows.foreach { r =>
      val rel = relOf(table, new java.net.URI(r.getAs[String]("__file")).getPath)
      cols.foreach { c =>
        sb.append(s"${enc(rel)}\t$c\t$BloomHashes\t${hexOf(r.getAs[Array[Byte]](s"bloom_$c"))}\n")
      }
    }
    publishAt(spark, table, "_bloom_manifest", sb.toString)
  }

  /** Files that might contain `value` in `column` per the bloom
    * manifest; files without a filter row are conservatively kept.
    */
  def filterByBloom(spark: SparkSession, table: String, files: Seq[String],
                    column: String, value: Any): Seq[String] = {
    val blooms = perFileFields(
      readLines(fsOf(spark, table), new Path(table, "_bloom_manifest")).getOrElse(Nil),
      column, Blooms.width)
    files.filter(f => blooms.get(relOf(table, f)).forall(mightContain(_, value)))
  }

  // ----- Two-level (partition-grouped) bloom manifest -------------------
  //
  // The two-level layout applied to point lookups: writeBlooms collects
  // one fixed-size filter per (file, column) on the driver — ~1 KB each
  // is GBs at 10⁶ files — and filterByBloom parses them all per probe.
  // Here the driver keeps only a PARTITION-level bloom union (the OR of
  // the partition's file filters, computed directly as one BloomAgg
  // over the partition's rows — same bit math) plus file counts and
  // fingerprints; per-file filters live in one Spark-written text file
  // per partition, opened only when the partition union says "might
  // contain". Unions need their own capacity: a partition holds many
  // files' keys, so `partBits` should be ~12 bits per PARTITION row
  // where `fileBits` is per-file sized.

  /** Rebuild the two-level bloom manifest for a directory-partitioned
    * table. Two distributed passes (per-file filters, per-partition
    * unions); the driver holds partition-scale state only.
    */
  def writeBloomsPartitioned(spark: SparkSession, table: String,
                             cols: Seq[String], fileBits: Int = 8192,
                             partBits: Int = 131072): Unit =
    rebuild(spark, table, Bloom(fileBits, partBits), cols,
      spark.read.parquet(table), Nil)

  /** Extend the two-level bloom manifest to partitions whose on-disk
    * file SET no longer matches the recorded one — the streaming
    * companion to [[writeBloomsPartitioned]], exactly
    * [[refreshStalePartitions]]' discipline on the bloom layout:
    * re-scans ONLY the stale partitions' files (per-file filters at
    * the layer's recorded file capacity, partition unions from the
    * data at the recorded union capacity — both inferred from the
    * existing manifest's hex widths), rewrites only their per-file
    * filter files, republishes the parts summary last. Idempotent: a
    * replay sees matching sets and no-ops. Returns the number of
    * refreshed partitions.
    */
  def refreshStaleBloomPartitions(spark: SparkSession, table: String): Int =
    refresh(spark, table, Blooms)

  /** `value` as the probe [[graft.expressions.BloomAgg]] hashes for a
    * column of type `t`.
    */
  private def probeOf(t: DataType, value: String): Any = t.typeName match {
    case "integer" | "long" | "short" | "byte" => value.toLong
    case _ => value
  }

  /** Two-level bloom-pruned point lookup — [[pointRead]]'s layout-aware
    * sibling: `column = value` planned from partition bloom unions,
    * then per-file filters for surviving partitions, then the exact
    * typed predicate. Works on columns the partition layout is
    * UNCORRELATED with (the min/max bands span everything; membership
    * per partition is still sparse).
    */
  def pointReadTwoLevel(spark: SparkSession, table: String, column: String,
                        value: String): (DataFrame, TwoLevelPrune) = {
    val universe = listDataFiles(spark, fsOf(spark, table), table)
    val t = spark.read.parquet(table).schema(column).dataType
    val probe = probeOf(t, value)
    val prune = pruneTwoLevel(spark, table, Blooms, universe, column)(mightContain(_, probe))
    (readFiles(spark, table, prune.files).filter(col(column) === lit(value).cast(t)), prune)
  }

  /** Bloom + stats pruned point lookup: `column = value` served by
    * driver-side file skipping, then the exact typed predicate. On a
    * column the files are sorted by, the stats band does the skipping;
    * on any other integral/string column the blooms do — together they
    * cover both layout axes of the "fetch one key out of 100 TB" read.
    */
  def pointRead(spark: SparkSession, table: String, column: String,
                value: String): DataFrame = {
    val universe = listDataFiles(spark, fsOf(spark, table), table)
    val byStats = filterByStats(spark, table, universe, column, value, value)
    val t = spark.read.parquet(table).schema(column).dataType
    val files = filterByBloom(spark, table, byStats, column, probeOf(t, value))
    readFiles(spark, table, files).filter(col(column) === lit(value).cast(t))
  }

  /** Manifest-pruned range read: scans ONLY intersecting files, then
    * applies the exact predicate typed to the column (the manifest is a
    * superset filter — results are identical to a full scan + filter by
    * construction; the prune spec asserts both).
    */
  def rangeRead(spark: SparkSession, table: String, column: String,
                lo: String, hi: String): DataFrame =
    multiRangeRead(spark, table, Seq((column, lo, hi)))

  /** Conjunctive multi-column range read: a file survives only if its
    * [min, max] intersects EVERY predicate's band — the read shape a
    * z-ordered layout exists to serve (each Morton-curve file is tight
    * on all clustered columns at once, so a 2-D box skips most files
    * where a single-key sort skips on one axis only). Same exactness
    * contract as [[rangeRead]]: the prune is a superset filter and the
    * typed predicates re-apply in full.
    */
  def multiRangeRead(spark: SparkSession, table: String,
                     preds: Seq[(String, String, String)]): DataFrame = {
    require(preds.nonEmpty)
    // ONE listing, narrowed per predicate over the SAME universe — two
    // independent listings intersected would silently drop a file a
    // concurrent writer commits between them (it appears only in the
    // later listing), violating the never-lose-rows contract that
    // unknown-to-the-manifest files are conservatively kept.
    val universe = listDataFiles(spark, fsOf(spark, table), table)
    val files = preds.foldLeft(universe) { case (fl, (c, lo, hi)) =>
      filterByStats(spark, table, fl, c, lo, hi)
    }
    preds.foldLeft(readFiles(spark, table, files)) { case (df, (c, lo, hi)) =>
      val t = df.schema(c).dataType
      df.filter(col(c) >= lit(lo).cast(t) && col(c) <= lit(hi).cast(t))
    }
  }

  /** The kept `files` as one frame. basePath keeps directory-partition
    * columns in the schema when the scan is built from explicit leaf
    * files — without it a partitioned table's pruned read would drop
    * (or fail to resolve) those columns and break the documented
    * full-scan+filter equivalence. The everything-pruned case builds a
    * schema-only empty frame: a limit(0) over the table would still
    * PLAN every file, and a caller's planned-vs-on-disk prune assert
    * would invert exactly when pruning worked best.
    */
  private def readFiles(spark: SparkSession, table: String,
                        files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), spark.read.parquet(table).schema)
    else spark.read.option("basePath", table).parquet(files: _*)
}
