package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

class CurationSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sfDir, "documents")

  test("hash sampling is deterministic and monotone in the keep fraction") {
    val s1 = Curation.hashSample(docs, "doc_id", 2500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Curation.hashSample(docs, "doc_id", 2500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same keepBp must select the same rows")
    val bigger = Curation.hashSample(docs, "doc_id", 5000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(bigger), "larger quota must keep a superset")
    val n = docs.count().toDouble
    assert(s1.size > n * 0.10 && s1.size < n * 0.40,
      s"~25% expected, got ${s1.size}/$n")
  }

  test("weighted sampling keeps rows in proportion to their own weight") {
    import org.apache.spark.sql.functions.{least, lit, col => c}
    val weighted = Curation.weightedHashSample(docs, "doc_id",
      least(lit(10000L), c("doc_id") % 2 * 10000))
    // weight is 0 for even ids, 10000 (certain) for odd ids
    assert(weighted.filter(c("doc_id") % 2 === 0).count() == 0)
    assert(weighted.count() == docs.filter(c("doc_id") % 2 === 1).count())
    // deterministic: same weight expression selects the same rows
    val w1 = Curation.weightedHashSample(docs, "doc_id", lit(3000L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val w2 = Curation.weightedHashSample(docs, "doc_id", lit(3000L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(w1 == w2)
  }

  test("stratified sampling applies per-stratum quotas") {
    val kept = Curation.stratifiedHashSample(docs, "doc_id", "lang",
      Map("en" -> 10000), defaultBp = 0)
    // en keeps everything, every other stratum keeps nothing
    assert(kept.filter(col("lang") =!= "en").count() == 0)
    assert(kept.count() == docs.filter(col("lang") === "en").count())
  }

  test("packByBudget assigns shards by running token budget per stratum") {
    import spark.implicits._
    val rows = Seq(
      (1L, "x", 100L), (2L, "x", 300L), (3L, "x", 200L), (4L, "x", 500L),
      (5L, "x", 10L), (10L, "y", 600L), (11L, "y", 1L))
      .toDF("doc_id", "src", "tokens")
    val got = Curation.packByBudget(rows, "doc_id", "tokens", "src", 512L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // x cum-before: 0,100,400,600,1100 -> shards 0,0,0,1,2
    // y cum-before: 0,600 -> shards 0,1 (oversized doc owns its shard)
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L,
      10L -> 0L, 11L -> 1L))
  }

  test("chunked prefix sum equals the single-window formulation at any " +
    "chunk size") {
    import org.apache.spark.sql.expressions.Window
    val tokens = docs
      .withColumn("tokens",
        size(expr(graft.functions.Text.wordsExpr("text"))).cast("long"))
    // naive per-stratum running sum, the semantic reference
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = tokens.select(col("doc_id"),
      (coalesce(sum(col("tokens")).over(w), lit(0L)) / 512L).cast("long")
        .as("shard_naive"))
    // chunk size 16 forces many chunks per stratum (docs ids are dense)
    val chunked = Curation.packByBudget(tokens, "doc_id", "tokens", "source",
      budget = 512L, chunkSize = 16L)
    val joined = chunked.join(naive, "doc_id")
    assert(joined.filter(col("shard") =!= col("shard_naive")).count() == 0)
    assert(joined.count() == docs.count())
  }

  test("chunkDocs windows cover every token with the stated overlap") {
    import spark.implicits._
    val words = (0 until 100).map(i => s"w$i")
    val input = Seq((1L, words.mkString(" ")), (2L, "short doc"), (3L, ""))
      .toDF("doc_id", "text")
    val chunks = Curation.chunkDocs(input, "doc_id", "text",
      chunkTokens = 64, overlap = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // doc 1: 100 words, stride 48 -> starts 0/48/96 with lens 64/52/4
    val doc1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 64L), (1L, 48L, 52L), (2L, 96L, 4L)))
    assert(doc1(0)._5 == words.slice(0, 64).mkString(" "))
    assert(doc1(1)._5 == words.slice(48, 100).mkString(" "))
    assert(doc1(2)._5 == words.slice(96, 100).mkString(" "))
    // a short doc is one whole-doc chunk; an empty doc emits nothing
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L, "short doc")))
    assert(!chunks.exists(_._1 == 3L))
  }

  test("zero-overlap chunks reconstruct every document exactly") {
    import spark.implicits._
    val chunks = Curation.chunkDocs(docs, "doc_id", "text",
      chunkTokens = 32, overlap = 0)
    // stitching chunk texts back in order must equal the whitespace-
    // normalized document for every doc in the corpus
    val stitched = chunks
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct(col("chunk_idx"), col("chunk_text")))).getField("chunk_text"))
        .as("rebuilt"))
    val original = docs.select(col("doc_id"),
      concat_ws(" ", expr(graft.functions.Text.wordsExpr("text"))).as("norm"))
    val diff = stitched.join(original, "doc_id")
      .filter(col("rebuilt") =!= col("norm")).count()
    assert(diff == 0, "chunking must lose or reorder no tokens")
  }

  test("stratumCap keeps at most cap docs per stratum, independent of " +
    "partitioning") {
    val docs = Tables(spark, sfDir, "documents")
    val capped = Curation.stratumCap(docs, "doc_id", "source", "text", cap = 5)
    val perStratum = capped.groupBy("source").count().collect()
    assert(perStratum.forall(_.getLong(1) <= 5L))
    // deterministic selection at any physical layout
    val again = Curation.stratumCap(docs.repartition(7), "doc_id", "source",
      "text", cap = 5)
    assert(capped.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      again.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("contamination counts shingle overlap against the eval set exactly") {
    import spark.implicits._
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta" +
      " iota kappa")).toDF("doc_id", "text")
    val train = Seq(
      // identical to the eval doc: every shingle contaminated
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // fully disjoint vocabulary: zero overlap
      (2L, "one two three four five six seven eight nine ten"),
      // shares a full 8-gram window
      (3L, "alpha beta gamma delta epsilon zeta eta theta unrelated tail"))
      .toDF("doc_id", "text")
    val got = Curation.contamination(train, evalSet, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._1 == got(1L)._2 && got(1L)._2 == 3L) // 10 words -> 3 8-grams
    assert(got(2L) == ((3L, 0L)))
    assert(got(3L) == ((3L, 1L)))
  }

  test("mixing weights: alpha=1 keeps natural proportions, alpha=0.5 " +
    "compresses the skew, weights normalize, allocs fit the budget") {
    import spark.implicits._
    val skewed = (0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small"))
    val df = skewed.toDF("doc_id", "source")
    def bySource(halvings: Int): Map[String, (Long, Double, Long)] =
      Curation.mixingWeights(df, "source", budget = 10000L, halvings = halvings)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
        .toMap
    val natural = bySource(0)
    assert(math.abs(natural("big")._2 - 0.9) < 1e-9)
    val tempered = bySource(1)
    // sqrt temper: 900/100 docs -> 30/10 weight units -> 0.75/0.25
    assert(math.abs(tempered("big")._2 - 0.75) < 1e-6)
    assert(math.abs(tempered.values.map(_._2).sum - 1.0) < 1e-9)
    assert(tempered.values.map(_._3).sum <= 10000L)
    // partition-count independence: the decimal-quantized sum makes the
    // weights a pure function of the counts
    val repart = Curation.mixingWeights(df.repartition(7), "source",
      budget = 10000L, halvings = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(repart == tempered.map { case (k, v) => k -> v._2 })
  }

  test("hash split: exhaustive, stable under repartitioning, near-target") {
    val docs = Tables(spark, sfDir, "documents")
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
      Curation.hashSplit(df, "doc_id", valBp = 1000, testBp = 1000)
        .select("doc_id", "bucket", "split")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val a = splits(docs)
    assert(a.size.toLong == docs.count(), "every doc gets exactly one split")
    assert(splits(docs.repartition(13)) == a, "assignment is partition-independent")
    val byLabel = a.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    // 80/10/10 bp targets on a hash: expect rough proportionality, not
    // exactness (the corpus is only 50 docs per bp at sf0.001)
    assert(byLabel("train") > byLabel("val") && byLabel("train") > byLabel("test"))
    a.foreach { case (_, (b, s)) =>
      val want = if (b < 8000) "train" else if (b < 9000) "val" else "test"
      assert(s == want, s"bucket $b labeled $s")
    }
  }

  test("exact sample: exactly k rows, partition-independent, nested prefixes") {
    def ids(df: org.apache.spark.sql.DataFrame, k: Int): Set[Long] =
      Curation.exactHashSample(df, "doc_id", k)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs, 50)
    assert(a.size == 50, "exactly k, not k-in-expectation")
    assert(ids(docs.repartition(13), 50) == a, "selection is layout-independent")
    assert(a.subsetOf(ids(docs, 100)),
      "rank-based selection nests: sample(k) is a prefix of sample(2k)")
  }

  test("bloom-prefiltered contamination equals the exact join formulation") {
    val docs = Tables(spark, sfDir, "documents")
    val evalSet = Curation.hashSample(docs, "doc_id", 500)
    val train = docs.join(evalSet.select(col("doc_id").as("__eid")),
      col("doc_id") === col("__eid"), "left_anti")
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = asMap(Curation.contamination(train, evalSet, "doc_id", "text"))
    val bloom = asMap(Curation.bloomContamination(train, evalSet, "doc_id", "text"))
    assert(bloom == exact, "bloom prefilter must not change the answer")
    // and under an aggressive false-positive rate the verify join still
    // discards every false positive
    val loose = asMap(Curation.bloomContamination(train, evalSet, "doc_id",
      "text", fpp = 0.5))
    assert(loose == exact, "false positives must die in the verify join")
  }

  test("deterministic shuffle is a stable permutation; seeds decorrelate") {
    def order(df: org.apache.spark.sql.DataFrame, seed: Long): Seq[Long] =
      Curation.deterministicShuffle(df.select("doc_id"), "doc_id", seed)
        .orderBy("pos").collect().map(_.getLong(0)).toSeq
    val n = docs.count()
    val o1 = order(docs, 42L)
    assert(o1.length == n && o1.toSet.size == n.toInt,
      "positions must be a permutation of the id set")
    // pos really is 0..n-1 dense
    val pos = Curation.deterministicShuffle(docs.select("doc_id"), "doc_id", 42L)
      .selectExpr("min(pos)", "max(pos)", "count(distinct pos)").head()
    assert(pos.getLong(0) == 0L && pos.getLong(1) == n - 1 &&
      pos.getLong(2) == n)
    // replay and repartition change nothing; a new seed changes the order
    assert(order(docs, 42L) == o1, "same seed must replay identically")
    assert(order(docs.repartition(7), 42L) == o1,
      "order must be partitioning-independent")
    val o2 = order(docs, 43L)
    assert(o2 != o1, "a fresh seed must yield a fresh order")
    assert(o2.toSet == o1.toSet)
  }

  test("shard export round-trips the seeded order, balanced and sorted") {
    val path = Fixture.dir("graft_shard_export") + "/shards"
    val shuffled = Curation.deterministicShuffle(
      docs.select("doc_id", "source"), "doc_id", seed = 7L)
    val back = Curation.exportShards(shuffled, path, shards = 8)
    val n = docs.count()
    // the shard column partitions the directory layout, not the payload
    assert(back.columns.toSet == Set("doc_id", "source", "pos", "shard"))
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    // contiguous position ranges of ceil(n/8) rows: every shard but the
    // last is full, nothing exceeds the target size
    val per = (n + 7) / 8
    val sizes = back.groupBy("shard").count()
      .orderBy("shard").collect().map(_.getLong(1))
    assert(dirs.length == sizes.length, "one directory per used shard")
    assert(sizes.sum == n && sizes.max <= per &&
      sizes.init.forall(_ == per),
      s"ceil-split shards expected, got ${sizes.toSeq}")
    // reading shards in shard order, each file already sorted, yields
    // the exact global order — the property a trainer relies on
    val inOrder = back.orderBy("shard", "pos").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val want = shuffled.orderBy("pos").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(inOrder == want, "shard-major read must equal the global order")
    // per-shard files are physically sorted by pos (no read-time sort):
    // check one shard's raw file directly
    val f0 = spark.read.parquet(dirs.head.getAbsolutePath)
      .select("pos").collect().map(_.getLong(0)).toSeq
    assert(f0 == f0.sorted, "shard file must be written pos-sorted")
    // an empty corpus exports cleanly (a partition-only write has no
    // data files to re-read a schema from — the short-circuit path)
    val none = Curation.exportShards(shuffled.limit(0), path + "_empty", 8)
    assert(none.count() == 0 && none.columns.contains("shard"))
  }

  test("lm score matches a hand computation on a tiny corpus") {
    import spark.implicits._
    // corpus bigrams: (a b): 2 [doc1 x2], (b a): 1, (b c): 1
    // left counts: a->2, b->2
    val df = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.lmScore(df, "doc_id", "text", scale = 100L)
      .orderBy("doc_id").collect()
    // doc1: terms ab=2*100/2=100 (x2), ba=1*100/2=50 → (100+50+100)/3
    assert(got(0).getLong(1) == 3L &&
      got(0).getDouble(2) == (100.0 + 50.0 + 100.0) / 3.0)
    // doc2: bc = 1*100/2 = 50
    assert(got(1).getLong(1) == 1L && got(1).getDouble(2) == 50.0)
  }

  test("importance weights rank in-domain vocabulary above out-of-domain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // target docs speak "alpha beta"; the raw corpus mostly "gamma delta";
    // doc 10 is pure in-domain vocab, doc 11 mixed, doc 12 pure out
    val docs = Seq(
      (1L, true,  "alpha beta alpha beta"),
      (2L, true,  "alpha beta beta"),
      (10L, false, "alpha beta alpha"),
      (11L, false, "alpha gamma delta delta"),
      (12L, false, "gamma delta gamma delta")).toDF("id", "tgt", "text")
    val w = graft.operators.Curation
      .importanceWeights(docs, "id", "text", isTarget = col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(10L) > w(11L) && w(11L) > w(12L),
      s"in-domain must outrank mixed must outrank out-of-domain: $w")
    assert(w(12L) == 0L, "pure out-of-domain vocabulary scores exactly 0")
    // length-invariant: the mean-ratio of a doc repeated twice is itself
    val rep = Seq((20L, false, "alpha beta"), (21L, false, "alpha beta alpha beta"))
      .toDF("id", "tgt", "text")
    val w2 = graft.operators.Curation
      .importanceWeights(docs.unionByName(rep), "id", "text",
        isTarget = col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w2(20L) == w2(21L), "mean ratio must be length-invariant")
  }

  test("leakage-safe split never puts near-dup cluster members on " +
    "different sides (qc13 semantics)") {
    val q = SparkEntry.allQueries.find(_.name == "qc13_leakage_safe_split").get
    val rows = q.build(spark, "/root/testdata/sf0.001")
      .select("doc_id", "grp", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    // one split per group — the leakage property the gate exists for
    rows.groupBy(_._2).foreach { case (grp, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"group $grp straddles splits: ${members.mkString(", ")}")
    }
    // and some group is a real multi-doc cluster, or the property is vacuous
    assert(rows.groupBy(_._2).exists(_._2.length > 1),
      "fixture corpus must contain at least one near-dup cluster")
  }

  test("labelMajority: tie-break by label, agreement pairs, unanimity") {
    import spark.implicits._
    val votes = Seq(
      (1L, "en"), (1L, "en"), (1L, "en"),             // unanimous
      (2L, "en"), (2L, "de"), (2L, "en"),             // 2-1 majority
      (3L, "fr"), (3L, "de"), (3L, "fr"), (3L, "de"), // 2-2 TIE -> 'de'
      (4L, "zh")                                      // single vote
    ).toDF("id", "label")
    val got = graft.operators.Curation.labelMajority(votes, "id", "label")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(1L) == (("en", 3L, 3L, 3L, 1L)))
    assert(got(2L) == (("en", 2L, 3L, 1L, 0L)))
    // tie: equal counts -> lexicographically smallest label wins;
    // agree pairs = C(2,2 votes each) = 1 + 1
    assert(got(3L) == (("de", 2L, 4L, 2L, 0L)))
    assert(got(4L) == (("zh", 1L, 1L, 0L, 1L)))
  }

  test("keepBestPerCluster: bucket rank dominates, integer tiebreak, " +
      "final ties to lowest id") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), // bucket decides
      (4L, 40L), (5L, 40L),            // bucket tie -> n_distinct_words
      (6L, 60L), (7L, 60L)             // full tie -> lowest id
    ).toDF("doc_id", "cluster")
    val quality = Seq(
      (1L, "low", 90L), (2L, "high", 5L), (3L, "medium", 80L),
      (4L, "medium", 30L), (5L, "medium", 31L),
      (6L, "high", 12L), (7L, "high", 12L)
    ).toDF("doc_id", "quality_bucket", "n_distinct_words")
    val got = Curation.keepBestPerCluster(clusters, quality, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L) == ((2L, 3L)),
      "a 'high' member must beat any tiebreaker value below it")
    assert(got(40L) == ((5L, 2L)), "equal buckets fall to n_distinct_words")
    assert(got(60L) == ((6L, 2L)), "full ties keep the lowest id")
  }

  test("temperatureSample: integer largest-remainder targets, exact " +
      "deterministic per-source selection") {
    import spark.implicits._
    // counts 100 / 16 / 4 -> isqrt weights 10 / 4 / 2, W = 16.
    // budget 11: raw 110/16=6.875, 44/16=2.75, 22/16=1.375 ->
    // bases 6/2/1 (=9), remainders 14/12/6 -> two bonuses to a and b.
    val rows = (1L to 100L).map(i => (i, "a")) ++
      (101L to 116L).map(i => (i, "b")) ++
      (117L to 120L).map(i => (i, "c"))
    val df = rows.toDF("doc_id", "src")
    val got = Curation.temperatureSample(df, "doc_id", "src",
      budget = 11L, halvings = 1)
    val bySrc = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 7L, "b" -> 3L, "c" -> 1L),
      s"largest-remainder apportionment broke: $bySrc")
    assert(got.count() == 11L)
    // deterministic under partitioning AND monotone in nothing but the
    // hash order: same rows every time
    val again = Curation.temperatureSample(df.repartition(7), "doc_id",
      "src", budget = 11L, halvings = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got.select("doc_id").collect().map(_.getLong(0)).toSet,
      "selection must be a pure function of ids, not partitioning")
    // a target above a source's size takes the whole source, no error
    val tiny = Curation.temperatureSample(df, "doc_id", "src",
      budget = 500L, halvings = 1)
    assert(tiny.filter(col("src") === "c").count() == 4L)
    // alpha = 1 (halvings = 0) degrades to proportional allocation
    val prop = Curation.temperatureSample(df, "doc_id", "src",
      budget = 30L, halvings = 0)
    val p = prop.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 120 rows, weights 100/16/4 -> 25/4/1
    assert(p == Map("a" -> 25L, "b" -> 4L, "c" -> 1L), s"alpha=1: $p")
  }

  test("corpusDiff classifies added/removed/changed/unchanged and accounts " +
      "tokens on both sides") {
    import spark.implicits._
    val v0 = Seq(
      (1L, "a", "one two"),     // unchanged
      (2L, "a", "three"),       // changed (one token -> three)
      (3L, "b", "gone now")     // removed
    ).toDF("doc_id", "source", "text")
    val v1 = Seq(
      (1L, "a", "one two"),
      (2L, "a", "three four five"),
      (4L, "b", "brand new doc") // added
    ).toDF("doc_id", "source", "text")
    val got = Curation.corpusDiff(v0, v1, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(("a", "unchanged")) == ((1L, 2L, 2L)))
    assert(got(("a", "changed")) == ((1L, 1L, 3L)))
    assert(got(("b", "removed")) == ((1L, 2L, 0L)),
      "a removed doc's v1 tokens must count as 0, not null-poison the sum")
    assert(got(("b", "added")) == ((1L, 0L, 3L)))
    assert(got.size == 4)
    // an empty v0 is a pure 'added' report, not a crash
    val boot = Curation.corpusDiff(v0.limit(0), v1, "doc_id", "text", "source")
      .collect().map(r => r.getString(1)).distinct.toSeq
    assert(boot == Seq("added"))
  }

  test("percentileCalibrate normalizes within each stratum; singletons get 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 30L), (2L, "a", 10L), (3L, "a", 20L),   // ranks 1,3,2
      (4L, "b", 5L)                                      // singleton
    ).toDF("doc_id", "source", "score")
    val got = Curation.percentileCalibrate(df, "doc_id", "source", "score")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((1L, 0.0)))
    assert(got(3L) == ((2L, 0.5)))
    assert(got(2L) == ((3L, 1.0)))
    assert(got(4L) == ((1L, 0.0)), "single-row stratum calibrates to best")
    // ties break by id: equal scores get distinct deterministic ranks
    val tied = Curation.percentileCalibrate(
        Seq((7L, "c", 1L), (5L, "c", 1L)).toDF("doc_id", "source", "score"),
        "doc_id", "source", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(tied == Map(5L -> 1L, 7L -> 2L))
  }

  test("interleaveByWeight reads sources proportionally at every prefix") {
    import spark.implicits._
    // source a weight 3, source b weight 1: 30 + 10 docs
    val df = ((1L to 30L).map(i => (i, "a")) ++ (31L to 40L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val w = when(col("source") === "a", 3L).otherwise(1L)
    val rows = Curation.interleaveByWeight(df, "doc_id", "source", w)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._5)
    // pos values: a at (k-0.5)/3, b at (k-0.5) — exact doubles
    assert(rows.head == ((1L, "a", 1L, 3L, 0.5 / 3.0)))
    // every prefix of the pos-ordered stream holds a:b near 3:1 —
    // after any b at position p, a has consumed floor/ceil of 3p
    rows.zipWithIndex.filter(_._1._2 == "b").foreach { case (b, i) =>
      val aSeen = rows.take(i + 1).count(_._2 == "a")
      assert(math.abs(aSeen - 3L * b._3) <= 2,
        s"after b#${b._3}, a consumed $aSeen (want ~${3 * b._3})")
    }
    // determinism: a repartitioned input yields identical rows
    val again = Curation.interleaveByWeight(df.repartition(7), "doc_id",
        "source", w)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._5)
    assert(again.toSeq == rows.toSeq)
  }

  test("interleaveByWeight rejects fractional, zero and NULL weights") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a")).toDF("doc_id", "source")
    def run(w: org.apache.spark.sql.Column): Unit =
      Curation.interleaveByWeight(df, "doc_id", "source", w).collect()
    // fractional: the old code cast 2.7 to 2 without a sound
    val frac = intercept[Exception] { run(lit(2.7)) }
    assert(frac.getMessage.contains("positive integer"),
      s"fractional weight must raise, got: ${frac.getMessage}")
    // zero: the old code emitted NULL positions
    val zero = intercept[Exception] { run(lit(0L)) }
    assert(zero.getMessage.contains("positive integer"))
    val neg = intercept[Exception] { run(lit(-3L)) }
    assert(neg.getMessage.contains("positive integer"))
    val nul = intercept[Exception] { run(lit(null).cast("long")) }
    assert(nul.getMessage.contains("positive integer"))
    // an integer-VALUED double is fine (3.0 counts as integer)
    run(lit(3.0))
  }

  test("packStats accounts every packed token and flags boundary spill") {
    import spark.implicits._
    // one stratum, budget 10: docs of 4+4 fill shard 0 to 8; the
    // 6-token doc starts at cb=8 → shard 0 spills to 14; next doc
    // starts at cb=14 → shard 1 holds 7 (under-filled, no spill)
    val docs = Seq(
      (1L, "s", 4L), (2L, "s", 4L), (3L, "s", 6L), (4L, "s", 7L)
    ).toDF("doc_id", "source", "tokens")
    val packed = Curation.packByBudget(docs, "doc_id", "tokens", "source",
      budget = 10L)
    val got = Curation.packStats(packed, "tokens", "source", budget = 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got(("s", 0L)) == ((3L, 14L, 1.4, 1L)))
    assert(got(("s", 1L)) == ((1L, 7L, 0.7, 0L)))
    // invariant on the gate corpus: stats lose no documents or tokens
    val corpus = Tables(spark, sfDir, "documents")
      .withColumn("tokens", size(expr(
        graft.functions.Text.wordsExpr("text"))).cast("long"))
    val p = Curation.packByBudget(corpus, "doc_id", "tokens", "source", 512L)
    val st = Curation.packStats(p, "tokens", "source", 512L)
      .agg(sum("n_docs"), sum("tokens_used")).head()
    assert(st.getLong(0) == corpus.count())
    assert(st.getLong(1) == corpus.agg(sum("tokens")).head().getLong(0))
  }

  test("kAnonymize publishes each row at the least-generalized level satisfying k") {
    import spark.implicits._
    val rows =
      Seq.fill(5)(("A", "1", "pay")) ++
      Seq.fill(2)(("A", "2", "pay")) ++ Seq.fill(2)(("A", "3", "pay")) ++
      Seq(("B", "9", "pay"), ("C", "9", "pay"))
    val df = rows.toDF("city", "age", "payload").repartition(3)
    val out = Curation.kAnonymize(df, Seq("city", "age"), k = 3)
    assert(out.count() == rows.size.toLong, "no row may be lost or duplicated")
    assert(out.columns.toSet == Set("city", "age", "payload", "anon_level"))
    val g = out.groupBy("city", "age", "anon_level").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    // (A,1) big enough at level 0; the OTHER A rows (4, not 9 - the
    // published 5 must not shield the residual) pass at level 1; the
    // B/C singletons only at the terminal all-star level
    assert(g == Map(("A", "1", 0) -> 5L, ("A", "*", 1) -> 4L,
      ("*", "*", 2) -> 2L), s"unexpected ladder: $g")
    // the k property itself, on the real table: every published
    // non-terminal group has >= k members
    val cust = Tables(spark, sfDir, "customer")
    val anon = Curation.kAnonymize(
      cust.select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat")),
      Seq("seg", "nat"), k = 7)
    val viol = anon.groupBy("seg", "nat", "anon_level").count()
      .filter(col("anon_level") < 2 && col("count") < 7).count()
    assert(viol == 0, "published non-terminal group under k")
    assert(anon.count() == cust.count())
  }

  test("kAnonymizeHierarchical steps through typed coarsenings and " +
      "degenerates to kAnonymize when hierarchies are empty") {
    import spark.implicits._
    // ages 10..13 singly too small at k=3, but the decade bucket '1x'
    // collects them — the hierarchy publishes a COARSER-but-real value
    // where plain suppression could only emit '*'
    val rows =
      Seq.fill(3)(("A", "10", "p")) ++
      Seq(("A", "11", "p"), ("A", "12", "p"), ("A", "13", "p")) ++
      Seq(("B", "55", "p"), ("C", "77", "p"))
    val df = rows.toDF("city", "age", "payload").repartition(3)
    val decade: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => concat(c.substr(1, 1), lit("x"))
    val out = Curation.kAnonymizeHierarchical(df,
      Seq("city" -> Seq.empty, "age" -> Seq(decade)), k = 3)
    assert(out.count() == rows.size.toLong)
    val g = out.groupBy("city", "age", "anon_level").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    // ladder: L0 (city, age), L1 (city, decade), L2 (city, *), L3 (*, *)
    assert(g == Map(("A", "10", 0) -> 3L, ("A", "1x", 1) -> 3L,
      ("*", "*", 3) -> 2L), s"unexpected hierarchy ladder: $g")

    // empty hierarchies == kAnonymize, row for row (levels renumber:
    // the 2-col plain ladder's levels 0/1/2 are the hierarchical
    // ladder's 0/1/2 when both hierarchies are empty)
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat"))
    val plain = Curation.kAnonymize(cust, Seq("seg", "nat"), k = 7)
      .groupBy("seg", "nat", "anon_level").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val hier = Curation.kAnonymizeHierarchical(cust,
      Seq("seg" -> Seq.empty, "nat" -> Seq.empty), k = 7)
      .groupBy("seg", "nat", "anon_level").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(hier == plain,
      "empty hierarchies must reproduce the plain suppression ladder")
  }

  test("dp noisy counts: noise is a pure function of group identity") {
    import spark.implicits._
    val rows = (0 until 200).map(i => (s"g${i % 10}", i.toLong))
    val df = rows.toDF("grp", "x")
    def release(d: org.apache.spark.sql.DataFrame) =
      Curation.dpNoisyCounts(d, Seq("grp"),
        noiseKey = ascii(col("grp")) * 100 + substring(col("grp"), 2, 4).cast("long"),
        saltSecret = 41L, eps = 0.5, threshold = Long.MinValue)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = release(df)
    val b = release(df.repartition(7))
    assert(a == b, "release must be deterministic under repartition")
    // sensitivity: add one row to one group -> that group's noisy
    // count moves by EXACTLY 1 (noise keys off group identity, not data)
    val c = release(df.union(Seq(("g3", 999L)).toDF("grp", "x")))
    assert(c("g3") == a("g3") + 1)
    assert((c - "g3") == (a - "g3"))
  }

  test("dp noisy counts: rounded noise follows the Laplace law") {
    import spark.implicits._
    // 20k singleton groups with eps = 1 (b = 1): noise = round(lap).
    // P(noise = 0) = 1 - e^-0.5 ~ 0.3935; P(|noise| >= 3) = e^-2.5
    // ~ 0.0821; the mechanism is symmetric so the mean is ~0.
    val df = (0 until 20000).map(i => (i.toLong, i)).toDF("grp", "x")
    val out = Curation.dpNoisyCounts(df, Seq("grp"), col("grp"),
      saltSecret = 41L, eps = 1.0, threshold = Long.MinValue)
      .select((col("noisy_count") - 1L).as("noise"))
      .collect().map(_.getLong(0))
    val n = out.length.toDouble
    assert(n == 20000.0)
    val p0 = out.count(_ == 0L) / n
    val pTail = out.count(v => math.abs(v) >= 3L) / n
    val mean = out.sum / n
    assert(p0 > 0.37 && p0 < 0.42, s"P(noise=0) = $p0")
    assert(pTail > 0.065 && pTail < 0.10, s"P(|noise|>=3) = $pTail")
    assert(math.abs(mean) < 0.05, s"mean = $mean")
  }

  test("dp release over pre-aggregated counts equals the row-count path") {
    import spark.implicits._
    // the serve shape (qq07): same mechanism over maintained counts
    // must be bit-identical to counting the raw rows
    val df = (0 until 500).map(i => (s"g${i % 20}", i)).toDF("grp", "x")
    val key = substring(col("grp"), 2, 4).cast("long")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaRows = toMap(Curation.dpNoisyCounts(
      df, Seq("grp"), key, saltSecret = 41L, eps = 0.5,
      threshold = Long.MinValue).collect())
    val pre = df.groupBy("grp").agg(count(lit(1)).as("c"))
    val viaState = toMap(Curation.dpNoisyRelease(
      pre, Seq("grp"), col("c"), key, saltSecret = 41L, eps = 0.5,
      threshold = Long.MinValue).collect())
    assert(viaRows == viaState)
  }

  test("dp noisy counts: suppression and budget accounting") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (s"s${i % 40}", i)).toDF("grp", "x")
    val out = Curation.dpNoisyCounts(df, Seq("grp"),
      substring(col("grp"), 2, 4).cast("long"), saltSecret = 41L,
      eps = 0.5, threshold = 25L)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(1) >= 25L), "suppression threshold violated")
    assert(out.forall(_.getLong(2) == 500000L), "eps_micro accounting wrong")
  }

  test("dp noise: salt changes the noise table; negative keys stay noised") {
    import spark.implicits._
    val df = (0 until 400).map(i => (s"g${i % 8}", i)).toDF("grp", "x")
    val key = substring(col("grp"), 2, 4).cast("long")
    def release(salt: Long, k: org.apache.spark.sql.Column) =
      Curation.dpNoisyCounts(df, Seq("grp"), k, saltSecret = salt,
        eps = 0.05, threshold = Long.MinValue)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a different secret salt is a different noise table (r16 advisor:
    // with a fixed public formula the noise was recoverable)
    val a = release(41L, key)
    val b = release(42L, key)
    assert(a != b, "salt must change the noise table")
    // negative keys: the old % chain drove ln() to NaN and Spark's
    // non-ANSI cast published EXACT counts with zero noise. pmod keeps
    // the chain defined — at eps=0.05 (b=20) noise is essentially
    // never all-zero across 8 groups.
    val neg = release(41L, key - 1000000L)
    val exact = df.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(neg.exists { case (g, v) => v != exact(g) },
      "negative keys silently published unnoised counts")
    // and a negative SALT is equally defined
    val negSalt = release(-7L, key)
    assert(negSalt.exists { case (g, v) => v != exact(g) })
  }

  test("dp budget accountant: sequential composition over the ledger") {
    import spark.implicits._
    val df = (0 until 600).map(i => (s"g${i % 6}", i)).toDF("grp", "x")
    val domainAll = df.select("grp").distinct()
    val domainHalf = df.filter(substring(col("grp"), 2, 4).cast("int") < 3)
      .select("grp").distinct()
    val relA = Curation.DpLedgerEntry("rel_a_v1", "laplace_count", 41L,
      500000L, domainAll)
    val relB = Curation.DpLedgerEntry("rel_b_v1", "laplace_count", 99L,
      250000L, domainHalf)
    // replay of rel_a: identical parameters -> spends nothing more
    val spent = Curation.dpBudgetByGroup(Seq(relA, relB, relA), Seq("grp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(spent.size == 6)
    (0 until 6).foreach { i =>
      val (eps, n) = spent(s"g$i")
      if (i < 3) assert(eps == 750000L && n == 2L, s"g$i: $eps/$n")
      else assert(eps == 500000L && n == 1L, s"g$i: $eps/$n")
    }
    // reusing a release id with different parameters is NOT a replay —
    // it is fresh noise masquerading as one, and must fail loudly
    val conflicting = Curation.DpLedgerEntry("rel_a_v1", "laplace_count",
      77L, 500000L, domainAll)
    val e = intercept[IllegalArgumentException] {
      Curation.dpBudgetByGroup(Seq(relA, conflicting), Seq("grp"))
    }
    assert(e.getMessage.contains("rel_a_v1"))
  }

  test("dp budget enforcement: cap refusals, replay admission, " +
      "conflict rejection, untouched-group admission") {
    import spark.implicits._
    val df = (0 until 600).map(i => (s"g${i % 6}", i)).toDF("grp", "x")
    val domainAll = df.select("grp").distinct()
    val domainHalf = df.filter(substring(col("grp"), 2, 4).cast("int") < 3)
      .select("grp").distinct()
    val relA = Curation.DpLedgerEntry("rel_a_v1", "laplace_count", 41L,
      500000L, domainAll)
    val relB = Curation.DpLedgerEntry("rel_b_v1", "laplace_count", 99L,
      250000L, domainHalf)
    // proposed: another 0.25 over every group, cap 0.9 — the half that
    // already carries 0.75 would reach 1.0 and is refused
    val relC = Curation.DpLedgerEntry("rel_c_v1", "laplace_count", 7L,
      250000L, domainAll)
    val adm = Curation.enforceBudget(Seq(relA, relB), relC, Seq("grp"),
        capMicro = 900000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(adm.size == 6)
    (0 until 6).foreach { i =>
      val (prior, ok) = adm(s"g$i")
      if (i < 3) assert(prior == 750000L && ok == 0L, s"g$i: $prior/$ok")
      else assert(prior == 500000L && ok == 1L, s"g$i: $prior/$ok")
    }
    // a VERBATIM replay is never refused — even under a cap its own ε
    // exceeds: deterministic noise releases nothing fresh
    val replay = Curation.enforceBudget(Seq(relA, relB), relA, Seq("grp"),
      capMicro = 100000L)
    assert(replay.filter(col("admitted") =!= 1L).count() == 0,
      "a replay must always admit")
    val rp = replay.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rp("g0") == 750000L && rp("g5") == 500000L,
      "a replay reports the standing spend as its prior")
    // reusing an id with drifted parameters is NOT a replay
    val conflicting = Curation.DpLedgerEntry("rel_a_v1", "laplace_count",
      77L, 500000L, domainAll)
    val e = intercept[IllegalArgumentException] {
      Curation.enforceBudget(Seq(relA, relB), conflicting, Seq("grp"),
        capMicro = 900000L).collect()
    }
    assert(e.getMessage.contains("rel_a_v1"))
    // a group no prior release touched admits with prior 0
    val relNew = Curation.DpLedgerEntry("rel_d_v1", "laplace_count", 7L,
      250000L, Seq("g9").toDF("grp"))
    val fresh = Curation.enforceBudget(Seq(relA), relNew, Seq("grp"),
      capMicro = 900000L).collect()
    assert(fresh.length == 1 && fresh(0).getLong(1) == 0L &&
      fresh(0).getLong(2) == 1L)
  }

  test("ledgered release: the emitted entry charges every pre-threshold " +
      "group — release path and accountant agree on spend") {
    import spark.implicits._
    val df = (0 until 6).flatMap(i => Seq.fill((i + 1) * 5)(s"g$i"))
      .map(Tuple1(_)).toDF("grp")
    val pre = df.groupBy("grp").agg(count(lit(1)).as("n"))
    // threshold far above any reachable noisy count (|noise| <= ~43 at
    // eps 0.5 under the bounded LCG uniform): NOTHING publishes — yet
    // the ε was spent for every group the mechanism computed, which is
    // exactly what the emitted entry must record
    val (released, entry) = Curation.dpNoisyReleaseLedgered(pre,
      Seq("grp"), col("n"), ascii(substring(col("grp"), 2, 1)),
      saltSecret = 12345L, eps = 0.5, threshold = 1000L,
      releaseId = "rel_led_v1")
    assert(released.count() == 0, "threshold must suppress everything")
    val spent = Curation.dpBudgetByGroup(Seq(entry), Seq("grp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(spent.size == 6, "suppression shields nothing: all 6 charged")
    spent.values.foreach { case (eps, n) =>
      assert(eps == 500000L && n == 1L)
    }
    // and when groups DO publish, the released eps_micro agrees with
    // the entry the accountant sees — the two surfaces cannot diverge
    val (rel2, entry2) = Curation.dpNoisyReleaseLedgered(pre,
      Seq("grp"), col("n"), ascii(substring(col("grp"), 2, 1)),
      saltSecret = 12345L, eps = 0.5, threshold = -1000L,
      releaseId = "rel_led_v2")
    val relRows = rel2.collect()
    assert(relRows.length == 6)
    relRows.foreach(r => assert(r.getAs[Long]("eps_micro") == entry2.epsMicro))
    assert(entry2.domain.count() == 6)
  }
}
