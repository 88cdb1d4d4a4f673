package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.expressions.{DotProduct, PolyHash}

/** Shared text/vector primitives for the training-data-pipeline
  * operators, each with its DuckDB-SQL mirror so the oracle computes the
  * IDENTICAL value (single source of truth for the constants).
  *
  * Tokenization spec (both engines): words = split on single space,
  * drop empties. Shingles = distinct word n-grams joined by one space;
  * a doc with fewer than n words contributes its whole word sequence as
  * one shingle.
  */
object Text {
  val Mod: Long = PolyHash.Mod
  val Mult: Long = PolyHash.Mult
  val Seed: Long = PolyHash.Seed

  /** Minhash permutation constants: perm_i(h) = (a_i*h + b_i) mod Mod,
    * with a_i/b_i drawn from a splitmix64-style bit mixer of i.
    *
    * The constants MUST be structureless in i — two earlier families
    * failed at sf1 in the same way: (a) a_i = 37 + 2i (tiny consecutive
    * multipliers) and (b) a_i = C·(i+1) mod p with b_i likewise linear,
    * which collapses every image to (i+1)·(C·h + D) + const mod p —
    * affine IN THE PERM INDEX — so a single shingle whose (C·h + D)
    * mod p lands small wins the per-perm minimum for HALF the perm
    * indices at once. Either way one unlucky hash sinks a whole
    * near-dup family's banding recall (observed: a Jaccard-0.92 pair
    * agreeing on 24/48 signatures, sharing 0 bands). The mixer's
    * avalanche makes each a_i/b_i an independent-looking draw from the
    * field, restoring E[agreement] = Jaccard per perm with independent
    * per-perm deviations (validated: win rates uniform over 4800
    * perms). a_i*h stays < 2^63: both factors are < Mod ≈ 2^30.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  val MaxPerms = 64
  val PermAs: IndexedSeq[Long] = (0 until MaxPerms).map(i =>
    java.lang.Long.remainderUnsigned(mix64(2L * i), Mod - 1) + 1)
  val PermBs: IndexedSeq[Long] = (0 until MaxPerms).map(i =>
    java.lang.Long.remainderUnsigned(mix64(2L * i + 1), Mod))
  /** DuckDB text for a_i / b_i: literal lookup tables (1-based index). */
  def permSqlA(i: String): String =
    s"(list_value(${PermAs.mkString(",")}))[CAST($i AS INTEGER) + 1]"
  def permSqlB(i: String): String =
    s"(list_value(${PermBs.mkString(",")}))[CAST($i AS INTEGER) + 1]"

  /** Simhash bit-source constants: simhash bit j votes on bit
    * (j mod `SimChunkWidth`) of the PERMUTED word hash
    * `(SimA_t*h + SimB_t) mod Mod` with t = j div `SimChunkWidth`.
    *
    * Raw polyhash values live below Mod ≈ 2^30, so a 60-bit simhash fed
    * bits of h directly has its top 30+ bits structurally constant —
    * round 9's degenerate-bucket guard caught the whole corpus sharing
    * one banding bucket because two of four bands carried zero entropy.
    * Permuted 20-bit chunks (bits 0..19 of each image are uniform:
    * Mod/2^20 ≈ 954 full cycles) fill all 60 bits with real entropy.
    * The constants come from the same mixer stream discipline as the
    * minhash perms (disjoint seeds: 2·(256+t)), and the affine images
    * stay overflow-free in BOTH engines: a*h < 2^60.
    */
  val SimChunkWidth = 20
  val SimAs: IndexedSeq[Long] = (0 until 4).map(t =>
    java.lang.Long.remainderUnsigned(mix64(2L * (256 + t)), Mod - 1) + 1)
  val SimBs: IndexedSeq[Long] = (0 until 4).map(t =>
    java.lang.Long.remainderUnsigned(mix64(2L * (256 + t) + 1), Mod))

  /** Johnson–Lindenstrauss Rademacher projection constants: 8 sign
    * vectors of ±1 over the 64-dim embedding space, drawn from the same
    * mixer stream discipline as the minhash perms (seed base 4096 —
    * disjoint from the perm inputs 2i < 256 and the simhash inputs
    * 512..519). Literal tables on both engines (the permSqlA pattern),
    * so the projection is bit-identical: each dot product folds the
    * SAME ±1·double addends in the SAME index order.
    */
  val JlDims = 8
  val JlSigns: IndexedSeq[Seq[Double]] = (0 until JlDims).map { j =>
    (0 until 64).map { i =>
      if (((mix64(4096L + j * 64L + i) >>> 32) & 1L) == 0L) 1.0 else -1.0
    }
  }
  /** DuckDB text of projection vector j as a literal list. */
  def jlSignsSql(j: Int): String =
    s"list_value(${JlSigns(j).map(v => if (v > 0) "1.0" else "-1.0").mkString(",")})"

  /** DuckDB text of the ±1 vote of word hash `h` on simhash bit `j` —
    * the same affine image, shift and vote as Dedup.simhash's per-chunk
    * columns.
    */
  def simVoteSql(h: String, j: String): String = {
    val aArr = s"list_value(${SimAs.mkString(",")})"
    val bArr = s"list_value(${SimBs.mkString(",")})"
    val t = s"CAST($j // $SimChunkWidth AS INTEGER) + 1"
    s"((((($aArr)[$t] * $h + ($bArr)[$t]) % $Mod) >> ($j % $SimChunkWidth)) & 1) * 2 - 1"
  }

  /** Rolling polynomial hash (custom codegen'd Catalyst expression). */
  def polyhash(c: Column): Column =
    GraftColumnBridge.column(PolyHash(GraftColumnBridge.expression(c)))

  /** DuckDB mirror of polyhash: fold over code points. */
  def polyhashSql(expr: String): String =
    s"list_reduce(list_prepend(CAST($Seed AS BIGINT), " +
      s"list_transform(string_split($expr, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(a, b) -> (a * $Mult + b) % $Mod)"

  /** Dot product over ArrayType(DoubleType) (custom codegen'd expr). */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Jaro-Winkler similarity (custom codegen'd expr; DuckDB-pinned
    * semantics — see graft.expressions.JaroWinklerSim).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.JaroWinklerSim(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Jaro-Winkler compared per Unicode CODEPOINT — the linguistically-
    * meaningful mode (deliberately NOT DuckDB-oracle-matching; see
    * graft.expressions.JaroWinklerSimCp).
    */
  def jaroWinklerCp(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.JaroWinklerSimCp(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** SpaceSaving heavy-hitter summary (TypedImperativeAggregate). */
  def spaceSavingTopK(c: Column, capacity: Int, k: Int): Column =
    GraftColumnBridge.column(
      graft.expressions.SpaceSavingTopK(GraftColumnBridge.expression(c), capacity, k)
        .toAggregateExpression())

  /** Exact per-group top-k (value desc, id asc) as a mergeable bounded
    * buffer (TypedImperativeAggregate) — map-side pruning instead of a
    * whole-group window sort.
    */
  def groupTopK(value: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      graft.expressions.GroupTopK(
        GraftColumnBridge.expression(value), GraftColumnBridge.expression(id), k)
        .toAggregateExpression())

  /** Count-Min frequency sketch over a pre-hashed long column
    * (TypedImperativeAggregate; estimate via CountMinAgg.estimateExpr).
    */
  def countMin(c: Column, width: Int, depth: Int): Column =
    GraftColumnBridge.column(
      graft.expressions.CountMinAgg(GraftColumnBridge.expression(c), width, depth)
        .toAggregateExpression())

  /** Exact sparse bitmap over a Long key column (TypedImperativeAggregate;
    * canonical blob — see [[graft.expressions.BitmapAgg]]).
    */
  def bitmapAgg(c: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.BitmapAgg(GraftColumnBridge.expression(c))
        .toAggregateExpression())

  /** OR-union of stored bitmap blobs — rollup re-aggregation. */
  def bitmapOr(c: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.BitmapOrAgg(GraftColumnBridge.expression(c))
        .toAggregateExpression())

  /** Exact cardinality of a bitmap blob. */
  def bitmapCount(c: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.BitmapCount(GraftColumnBridge.expression(c)))

  /** Intersection of two bitmap blobs. */
  def bitmapAnd(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.BitmapAnd(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Non-empty words of a text column. */
  def wordsExpr(textCol: String): String =
    s"filter(split($textCol, ' '), w -> w != '')"
  def wordsSql(textCol: String): String =
    s"list_filter(string_split($textCol, ' '), w -> w != '')"

  /** ALL word n-grams of a words-array column (with multiplicity —
    * repetition analysis needs the duplicates; `shinglesExpr` is the
    * distinct set). Documents shorter than `n` words yield their whole
    * text as one gram.
    *
    * Deliberately built as a zip_with-of-slices chain rather than
    * `transform(sequence(...), i -> element_at(ws, i...))`: after
    * CollapseProject inlines the words expression, element_at inside a
    * lambda re-evaluates the whole split/filter once PER ELEMENT
    * (O(words^2) per row — measured 10x slowdown at sf0.1), while
    * slices and zip_with evaluate their inputs once per row.
    */
  def ngramsExpr(ws: String, n: Int = 3): String = {
    val zipped = (2 to n).foldLeft(ws) { (acc, j) =>
      s"zip_with($acc, slice($ws, $j, size($ws)), (a, b) -> concat(a, ' ', b))"
    }
    s"""CASE WHEN size($ws) >= $n
       |  THEN filter($zipped, x -> x IS NOT NULL)
       |  ELSE array(array_join($ws, ' ')) END""".stripMargin
  }
  def ngramsSql(ws: String, n: Int = 3): String = {
    val joined = (0 until n).map(j => s"$ws[i + $j]").mkString(" || ' ' || ")
    s"""CASE WHEN len($ws) >= $n
       |  THEN list_transform(range(1, len($ws) - ${n - 2}), i -> $joined)
       |  ELSE [array_to_string($ws, ' ')] END""".stripMargin
  }

  def shinglesExpr(ws: String, n: Int = 3): String =
    s"array_distinct(${ngramsExpr(ws, n)})"
  def shinglesSql(ws: String, n: Int = 3): String =
    s"list_distinct(${ngramsSql(ws, n)})"

  /** Stopword lists for the n-gram language-ID heuristic. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu", "von"),
    "es" -> Seq("el", "los", "y", "de", "un", "una", "es", "que"),
    "fr" -> Seq("le", "la", "les", "et", "de", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  def stopwordCountExpr(ws: String, lang: String): String = {
    val list = Stopwords.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"size(filter($ws, w -> w IN ($list)))"
  }
  def stopwordCountSql(ws: String, lang: String): String = {
    val list = Stopwords.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter($ws, w -> w IN ($list)))"
  }
}
