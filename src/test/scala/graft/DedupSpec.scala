package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sfDir, "documents")

  test("exact dedup keeps one id per distinct text and counts copies") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == out.select("text").distinct().count())
    assert(out.agg(sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("minhash-LSH finds exactly the pairs exact jaccard finds (threshold .5)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 32, bands = 8, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("dupSpans finds maximal cross-doc duplicated token spans only") {
    import spark.implicits._
    // doc 1 & 2 share a 12-token run (u0..u11 / shared0..11 overlap);
    // doc 3 repeats its own 8-gram twice but shares nothing cross-doc
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val d1 = s"a0 a1 a2 $shared z0 z1"
    val d2 = s"b0 $shared y0 y1 y2"
    val rep = (0 until 8).map(i => s"r$i").mkString(" ")
    val d3 = s"$rep c0 $rep"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Dedup.dupSpans(df, "doc_id", "text", l = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: shared run covers token positions [3, 15); windows with
    // start 3..7 are duplicated (each fully inside the shared run), so
    // the merged span is [3, 7+8) = [3, 15) — exactly the shared text
    // doc 2: same run at [1, 13)
    // doc 3: within-doc repetition only -> no cross-doc span
    assert(out == Set((1L, 3L, 15L), (2L, 1L, 13L)))
  }

  test("dupSpans merges adjacent-but-not-overlapping duplicated windows") {
    import spark.implicits._
    // two length-8 shared runs placed back to back in doc 1 (positions
    // [0,8) and [8,16)) but coming from DIFFERENT partner docs — the
    // islands merge because window starts 0 and 8 satisfy gap <= l
    val runA = (0 until 8).map(i => s"p$i").mkString(" ")
    val runB = (0 until 8).map(i => s"q$i").mkString(" ")
    val df = Seq(
      (1L, s"$runA $runB"),
      (2L, s"x0 x1 $runA"),
      (3L, s"$runB x2 x3")).toDF("doc_id", "text")
    val out = Dedup.dupSpans(df, "doc_id", "text", l = 8, minDocs = 2)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 16L)))
  }

  test("stripDupSpans cuts exactly the duplicated spans and keeps the rest") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val d1 = s"a0 a1 a2 $shared z0 z1"
    val d2 = s"b0 $shared y0 y1 y2"
    val short = "just a few words" // < l tokens: untouched pass-through
    val df = Seq((1L, d1), (2L, d2), (3L, shared), (4L, short))
      .toDF("doc_id", "text")
    // doc 3 IS one shared span (all 12 tokens duplicated vs 1 and 2)
    val out = Dedup.stripDupSpans(df, "doc_id", "text", l = 8, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("a0 a1 a2 z0 z1", 5L, 12L)))
    assert(out(2L) == (("b0 y0 y1 y2", 4L, 12L)))
    assert(out(3L) == (("", 0L, 12L)))
    assert(out(4L) == ((short, 4L, 0L)))
  }

  test("a mass-duplicated document trips the degenerate-bucket guard; " +
    "exact-dedup-first composes past it") {
    import spark.implicits._
    // the classic corpus pathology: one boilerplate page copied 10k
    // times — every copy lands in the SAME (band, key) bucket and the
    // candidate self-join would emit ~5e7 pairs from that bucket alone
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val copies = (1L to 10000L).map(i => (i, boiler)).toDF("doc_id", "text")
    // the guard lives INSIDE the plan (assert_true on the bucket-count
    // join), so it surfaces as a Spark execution failure whose cause
    // chain carries the message
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val err = intercept[Exception] {
      Dedup.minhashLshPairs(copies, "doc_id", "text", k = 32, bands = 8)
    }
    assert(messages(err).contains("degenerate bucket"))
    val err2 = intercept[Exception] {
      Dedup.simhashNearDupPairs(copies, "doc_id", "text")
    }
    assert(messages(err2).contains("degenerate bucket"))

    // the documented remedy: collapse exact copies first (qp01's shape);
    // one representative per distinct text sails through the guard
    val deduped = Dedup.exact(copies, "doc_id", "text")
      .select(col("keep_id").as("doc_id"), col("text"))
    assert(Dedup.minhashLshPairs(deduped, "doc_id", "text",
      k = 32, bands = 8).count() == 0L)
  }

  test("connected components label transitively: a path graph collapses " +
    "to its minimum node") {
    import spark.implicits._
    // path 1-2-3-4 (needs 3 propagation rounds), pair 10-11, crossing 20-22/21-22
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 22L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a 1000-node path converges in O(log d) rounds under the round cap") {
    import spark.implicits._
    // worst-case diameter for min-label propagation: plain propagation
    // needs 999 rounds; pointer jumping must land well under maxRounds
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
      maxRounds = 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1000 && got.forall(_._2 == 1L),
      "every path node must label to the minimum node 1")
  }

  test("the round cap fails loudly instead of emitting truncated clusters") {
    import spark.implicits._
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxRounds = 2)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("reliable-checkpoint components equal the localCheckpoint variant") {
    import spark.implicits._
    val prior = Option(spark.sparkContext.getCheckpointDir.orNull)
    val ckDir = Fixture.dir("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 22L),
        (21L, 22L)).toDF("doc_a", "doc_b")
      val reliable = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        reliable = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // the reliable rounds actually hit the durable checkpoint dir
      assert(new java.io.File(ckDir).listFiles().nonEmpty,
        "checkpoint dir must contain persisted rounds")
    } finally prior.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("reliable rounds clean superseded snapshots; dir is bounded at convergence") {
    import spark.implicits._
    val prior = Option(spark.sparkContext.getCheckpointDir.orNull)
    val ckDir = Fixture.dir("graft-cc-gc")
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      // a 100-node path needs many doubling rounds — enough to prove
      // snapshots are deleted as they are superseded, not accumulated
      val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        reliable = true)
      // setCheckpointDir nests a session UUID dir under ckDir
      val ccRoots = new java.io.File(ckDir).listFiles()
        .flatMap(f => if (f.isDirectory) f.listFiles() else Array.empty[java.io.File])
        .filter(_.getName.startsWith("graft-cc-"))
      assert(ccRoots.length == 1)
      val snaps = ccRoots.head.listFiles().map(_.getName).sorted
      assert(snaps.length == 1,
        s"after convergence only the final labels snapshot may remain, got ${snaps.toSeq}")
      assert(snaps.head.stripPrefix("snap-").toInt >= 5,
        "the path graph must have taken several persisted rounds")
      // the returned plan still reads the surviving snapshot
      assert(labels.collect().forall(_.getLong(1) == 1L),
        "a single path component labels every node with the minimum id")
    } finally prior.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("near-dup clusters close the LSH pairs under transitivity") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 32, bands = 8,
      threshold = 0.5).select("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text", k = 32,
      bands = 8, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every paired doc is labeled, labels are component members, and both
    // ends of every pair agree on their cluster
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
      assert(clusters(clusters(a)) == clusters(a), "labels are canonical ids")
    }
    assert(clusters.nonEmpty)
  }

  test("simhash of near-dup pairs has small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val joined = pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "ha"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "hb"), "doc_b")
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
    val avgDup = joined.agg(avg("hamming")).head().getDouble(0)
    // random 60-bit hashes differ in ~30 bits; near-dups should be far below
    assert(avgDup < 15.0, s"near-dup avg hamming was $avgDup")
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val emb = Tables(spark, sfDir, "embeddings")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4)
    assert(pairs.filter(col("vec_a") >= col("vec_b")).count() == 0)
  }

  test("incremental near-dup equals the full pair set restricted to the batch") {
    val docs = Tables(spark, sfDir, "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairSet(Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", k = 48, bands = 24, threshold = 0.5))
    val full = pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 48, bands = 24, threshold = 0.5))
    val expected = full.filterNot { case (a, b) => a % 2 == 0 && b % 2 == 0 }
    assert(inc == expected,
      "bipartite probe must find exactly the full formulation's batch-touching pairs")
  }

  test("containment flags a quoted subset that symmetric Jaccard misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta"
    val big = ("one two three four five six seven eight nine ten " +
      small + " eleven twelve thirteen fourteen fifteen sixteen")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.length == 1 && cont.head._1 == 1L && cont.head._2 == 2L,
      "only (small ⊂ big) qualifies, in that orientation")
    assert(cont.head._3 == 1.0, "every shingle of the quote is contained")
    // the symmetric score on the same pair is far below any dedup bar
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.0).collect().head.getDouble(2)
    assert(jac < 0.25, s"symmetric jaccard $jac must miss the subset")
  }

  test("re-ingested ids are dropped: overlap adds nothing, replay is a no-op") {
    val docs = Tables(spark, sfDir, "documents")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clean = pairSet(Dedup.incrementalNearDupPairs(
      existing, batch, "doc_id", "text", k = 48, bands = 24, threshold = 0.5))
    // a batch that re-delivers part of the standing corpus must yield
    // the same pairs — no J=1 self-pairs, no duplicated verify rows
    val overlapped = pairSet(Dedup.incrementalNearDupPairs(existing,
      batch.unionByName(existing.filter(col("doc_id") % 4 === 0)),
      "doc_id", "text", k = 48, bands = 24, threshold = 0.5))
    assert(overlapped == clean, "re-delivered existing docs must be inert")
    // full replay: every incoming id is already known → empty pair set
    assert(Dedup.incrementalNearDupPairs(existing, existing,
      "doc_id", "text", k = 48, bands = 24, threshold = 0.5).count() == 0L)
  }

  test("semantic near-dup pairs are an exact subset, stable across partitionings") {
    val emb = Tables(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = pairSet(Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.4))
    val exact = pairSet(Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4))
    // within-cluster pairs pass the same exact cosine filter, so every
    // semantic pair is a true near-dup pair; cross-cluster pairs are
    // the documented price of linearity
    assert(sem.subsetOf(exact), "semantic pairs must all be exact near-dups")
    // the qp03 oracle replays the clustering, so the pair set must be a
    // pure function of the corpus at any physical layout
    val repart = pairSet(Dedup.semanticNearDupPairs(
      emb.repartition(7, col("vec_id")), "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.4))
    assert(repart == sem)
  }

  test("a degenerate cluster trips the in-plan guard") {
    val emb = Tables(spark, sfDir, "embeddings")
    val e = intercept[Exception] {
      Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
        k = 4, iters = 1, threshold = 0.4, maxCluster = 3).count()
    }
    assert(Option(e.getMessage).exists(_.contains("semanticNearDupPairs")) ||
      Option(e.getCause).exists(c =>
        Option(c.getMessage).exists(_.contains("semanticNearDupPairs"))))
  }

  test("firstOccurrenceNovelty credits each shingle to its smallest doc id") {
    import spark.implicits._
    // doc 1: 2 shingles, both first here           → novelty 1.0
    // doc 2: verbatim copy of doc 1                → novelty 0.0
    // doc 3: shares "b c d" with 1, adds "c d e"   → 1 of 2 novel
    // doc 4: short text (one whole-text shingle), unique → 1.0
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "b c d e"), (4L, "xy zz")
    ).toDF("doc_id", "text")
    val got = Dedup.firstOccurrenceNovelty(df, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 0L, 0.0)))
    assert(got(3L) == ((2L, 1L, 0.5)))
    assert(got(4L) == ((1L, 1L, 1.0)))
    // corpus invariant: every distinct shingle is credited exactly once
    val total = Dedup.firstOccurrenceNovelty(docs, "doc_id", "text", n = 3)
      .agg(sum("n_novel")).head().getLong(0)
    val distinctShingles = docs
      .select(explode(expr(graft.functions.Text.shinglesExpr(
        graft.functions.Text.wordsExpr("text")))).as("sh"))
      .select("sh").distinct().count()
    assert(total == distinctShingles,
      s"sum(n_novel)=$total must equal |distinct shingles|=$distinctShingles")
  }

  test("sourceOverlap counts distinct shared shingles per source pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "X"), (2L, "a b c", "X"),   // X: {abc, bcd}
      (3L, "b c d e", "Y"),                        // Y: {bcd, cde}
      (4L, "z z z", "Z")                           // Z: {zzz} - no overlap
    ).toDF("doc_id", "text", "source").repartition(3)
    val got = Dedup.sourceOverlap(docs, "text", "source").collect()
    assert(got.length == 1, s"only (X,Y) overlaps, got ${got.toSeq}")
    val r = got.head
    assert(r.getAs[String]("src_a") == "X" && r.getAs[String]("src_b") == "Y")
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("inter") == 1L) // the shared 'b c d'
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-15)
    // within-source duplication must not inflate the count: doc2
    // repeats X's 'a b c' and the distinct collapse absorbs it
  }
}
