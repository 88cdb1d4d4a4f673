package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.Text

/** Deduplication operators for training-data pipelines.
  *
  * Four families, in increasing scale-friendliness:
  *  - exact: hash group-by on the full content — one shuffle.
  *  - ngramJaccardPairs: EXACT all-pairs n-gram Jaccard via an inverted
  *    shingle index (shuffle on shingle). Cost grows with
  *    sum(docs-per-shingle^2); correct but only for corpora/samples
  *    where shingles are selective.
  *  - minhash + LSH banding: the 100 TB path — signatures are a linear
  *    scan, banding turns near-dup search into an equi-join on band
  *    keys, candidates are verified with exact Jaccard.
  *  - simhash: 1 64-bit value per doc; hamming-near duplicates found by
  *    band-rotation equi-joins.
  *
  * For SPARSE-VECTOR (tf-idf / bag-of-words) near-dup at scale, the
  * default recommendation is PREFIX FILTERING — suppress hot-term
  * fan-out by indexing only each vector's lowest-df prefix terms — as
  * implemented twice in this codebase and proved exact both times:
  * [[ngramJaccardPairsPrefix]] here (qd09) and
  * [[graft.operators.TextAnalysis.sparseCosinePairsPrefix]] (qs16);
  * both share their unfiltered twin's oracle verbatim, so the filter
  * is pure candidate pruning, never an approximation.
  */
object Dedup {

  /** Exact dedup: group identical content, keep the lowest id. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(contentCol)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  private def withShingles(df: DataFrame, idCol: String, textCol: String, n: Int) =
    df.withColumn("__ws", expr(Text.wordsExpr(textCol)))
      .withColumn("__sh", expr(Text.shinglesExpr("__ws", n)))
      .select(col(idCol), col("__sh"))

  /** Cross-source contamination matrix: for every pair of sources that
    * share at least one word n-gram, the exact shingle-set overlap and
    * Jaccard — the report a curation team reads to find mirror sites,
    * syndicated feeds, and scraped-twice domains BEFORE doc-level
    * dedup (a source pair with high Jaccard is one crawl duplicated,
    * not two corpora).
    *
    * Scale shape: the shingle explode collapses to DISTINCT
    * (source, shingle) first, so however many documents repeat a
    * shingle within a source it appears ONCE per source — the
    * inverted-index self-join then fans out at most |sources| rows
    * per shingle (pairs per shingle ≤ sources², a constant), never
    * doc-pair-quadratic. Everything else is partial-agg group-bys and
    * source-keyed equi-joins on a |sources|²-bounded frame. Pairs
    * with ZERO shared shingles are absent (their Jaccard is 0;
    * emitting them would need a non-equi pair join for no signal).
    */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
                    n: Int = 3): DataFrame = {
    // NOT spread (measured): the serial shingle build here feeds a
    // DISTINCT that collapses to |sources| × shingles — the bench read
    // the spread variant 0.4 s SLOWER (2.2 → 2.7 s min-of-3) because
    // the added exchange outweighs the two ~1 s serial stages it
    // parallelizes; the Spread scaladoc records the boundary
    val sh = df.withColumn("__ws", expr(Text.wordsExpr(textCol)))
      .withColumn("__sh", expr(Text.shinglesExpr("__ws", n)))
      .select(col(sourceCol).as("__src"), explode(col("__sh")).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("__src")).agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__src").as("src_a"), col("n_sh").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("__src").as("src_b"), col("n_sh").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("inter"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** Exact pairwise n-gram Jaccard >= threshold via inverted index —
    * the count rides a partial-agg group-by (map-side combine), so it
    * is the fastest exact formulation whenever shingles are selective
    * enough that sum(docs-per-shingle)^2 stays bounded. When it is
    * NOT (Zipfian web corpora), `ngramJaccardPairsPrefix` is the
    * PPJoin-style alternative with provably identical output.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // spread-if-narrow so the shingle build and BOTH posting-list
    // explodes run at session parallelism on a one-split corpus
    // (StageProf: the serial stages were the bulk of the gate)
    val sh = withShingles(
      Spread.ifNarrow(df.select(col(idCol), col(textCol)), col(idCol)),
      idCol, textCol, n).cache()
    val sizes = sh.select(col(idCol), size(col("__sh")).as("n"))
    val e = sh.select(col(idCol).as("doc"), explode(col("__sh")).as("s"))
    val inter = e.as("a")
      .join(e.as("b"), col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val jac = inter
      .join(sizes.withColumnRenamed(idCol, "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed(idCol, "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
    val result = jac.filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint() // materialize, then release the shingle cache
    sh.unpersist()
    result
  }

  /** Exact pairwise CONTAINMENT — asymmetric Jaccard,
    * C(a,b) = |A∩B| / |A|: how much of doc a's shingle set lives
    * inside doc b's. Symmetric Jaccard misses the classic corpus
    * pathology this catches: a document QUOTED inside a much larger
    * one, or boilerplate-wrapped rewraps — |A∩B|/|A∪B| is tiny when
    * |B| >> |A| even though a is entirely contained. Emits the ordered
    * pair (contained, container) with its containment; same
    * inverted-index shape as [[ngramJaccardPairs]] (candidates only
    * where sets actually intersect), one extra symmetric emit.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // spread-if-narrow: same serial-stage pathology and fix as
    // ngramJaccardPairs above
    val sh = withShingles(
      Spread.ifNarrow(df.select(col(idCol), col(textCol)), col(idCol)),
      idCol, textCol, n).cache()
    val sizes = sh.select(col(idCol), size(col("__sh")).as("n"))
    val e = sh.select(col(idCol).as("doc"), explode(col("__sh")).as("s"))
    val inter = e.as("a")
      .join(e.as("b"), col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("x"), col("b.doc").as("y"))
      .agg(count(lit(1)).as("i"))
    // each unordered intersection yields two ordered candidates
    val ordered = inter.select(col("x").as("doc_in"), col("y").as("doc_out"), col("i"))
      .union(inter.select(col("y").as("doc_in"), col("x").as("doc_out"), col("i")))
    val scored = ordered
      .join(sizes.withColumnRenamed(idCol, "doc_in").withColumnRenamed("n", "n_in"),
        "doc_in")
      .withColumn("containment", col("i") * lit(1.0) / col("n_in"))
    val result = scored.filter(col("containment") >= threshold)
      .select("doc_in", "doc_out", "containment")
      .localCheckpoint()
    sh.unpersist()
    result
  }

  /** SPAN-level exact substring dedup (the "dedup training data at the
    * substring level" operator): every maximal token range of a doc
    * that is covered by length-`l` token windows also occurring in at
    * least `minDocs` DISTINCT documents. Catches what doc-level dedup
    * structurally can't — shared boilerplate headers, quoted passages,
    * licence blocks — without requiring whole-doc similarity.
    *
    * Shape: all l-token windows with their start position (one
    * zip_with-of-slices pass per row, the ngramsExpr discipline), a
    * window-content group-by keeping grams seen in >= minDocs docs
    * (partial-agg; the one corpus-wide shuffle, keyed on the gram),
    * a semi-join back to positions, then per-doc gaps-and-islands
    * (lag + running sum over a doc-partitioned window — never global)
    * merging overlapping-or-adjacent windows into maximal spans
    * `[span_start, span_end)`. Two interval unions are contiguous iff
    * the next start is <= the previous start + l, which with
    * equal-length sorted windows is exactly the lag test.
    *
    * Cross-doc semantics: a window repeated only WITHIN one doc does
    * not flag (count distinct docs, not occurrences) — within-doc
    * repetition is TextAnalysis.repetition's job. Exactness groups on
    * the raw gram text; at 100 TB the same plan runs keyed on a
    * 128-bit content hash (collision-negligible) so the shuffle
    * carries 16 bytes per window instead of the gram.
    */
  def dupSpans(
      df: DataFrame, idCol: String, textCol: String,
      l: Int = 8, minDocs: Int = 2): DataFrame = {
    // the n-gram explode below is the pipeline's compute-dense chain
    // and is derived TWICE (gram-df aggregate + the semi-join probe) —
    // on a one-split corpus both ran as single tasks (StageProf: the
    // two longest stages of qd13/qp06); no-op on a many-split input
    val g = Spread.ifNarrow(df.select(col(idCol), col(textCol)), col(idCol))
      .withColumn("__ws", expr(Text.wordsExpr(textCol)))
      .filter(size(col("__ws")) >= l)
      .select(col(idCol),
        posexplode(expr(Text.ngramsExpr("__ws", l))).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast(LongType).as("pos"), col("gram"))
    val dup = g.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val hits = g.join(dup, Seq("gram"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= l, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + l).as("span_end"),
        (max(col("pos")) + l - min(col("pos"))).as("span_tokens"))
    spans.select(col(idCol), col("span_start"), col("span_end"),
      col("span_tokens"))
  }

  /** Corpus cleaner composed on [[dupSpans]]: every token covered by a
    * cross-doc duplicated span is CUT and the remaining tokens are
    * reassembled in order — the "remove duplicated substrings from the
    * training set" transform (vs dropping whole documents, which
    * over-deletes: 24 of sf0.01's 500 docs are pure boilerplate and
    * vanish, while 23 more keep their unique remainder).
    *
    * Shape: spans expand to covered (doc, pos) rows (sequence+explode
    * — spans are disjoint per doc by construction, so no dedup
    * needed), one equi anti-join cuts them from the token stream, and
    * per-doc reassembly sorts the collected (pos, token) structs — a
    * doc-local aggregation, never a global sort. Every input doc
    * appears exactly once (fully-cut docs with clean_text = '').
    */
  def stripDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      l: Int = 8, minDocs: Int = 2): DataFrame = {
    val covered = dupSpans(df, idCol, textCol, l, minDocs)
      .select(col(idCol),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
    val words = df.select(col(idCol),
      expr(Text.wordsExpr(textCol)).as("__ws"))
    val toks = words
      .select(col(idCol), posexplode(col("__ws")).as(Seq("pos", "wrd")))
      .select(col(idCol), col("pos").cast(LongType).as("pos"), col("wrd"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("wrd")))),
          x => x.getField("wrd")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    words.select(col(idCol), size(col("__ws")).cast(LongType).as("__n"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Exact pairwise n-gram Jaccard, PPJoin-style prefix filtering.
    *
    * Same output as `ngramJaccardPairs` (gate-proved: qd09 shares
    * qd02's oracle) — the difference is candidate generation: only each
    * doc's PREFIX is indexed. Under any one global total order of
    * shingles (here: (polyhash, shingle) — hash order spreads hot
    * shingles), a pair with Jaccard >= t must overlap in o >=
    * ceil(t*|x|) shingles of EACH side x, so if the first
    * |x| - ceil(t*|x|) + 1 sorted shingles of x held none of the
    * overlap, all o common shingles would have to fit in the remaining
    * ceil(t*|x|) - 1 slots — contradiction. Sharing a prefix token on
    * both sides is therefore NECESSARY for every qualifying pair (the
    * prefix-filter lemma); candidates then get the full array verify.
    *
    * The canonical order is PPJoin's: ascending global document
    * frequency, ties by shingle. The lemma holds for ANY one agreed
    * total order, but frequency order makes each prefix hold the doc's
    * RAREST shingles — prefix posting lists are the corpus's shortest,
    * so the candidate matched set collapses (measured here: hash order
    * left every prefix token hot and the matched set dominated the
    * join; df order cut qd09 several-fold at sf0.1). At 100 TB the df
    * map is one extra count aggregate over the shingle set; since any
    * total order preserves exactness, a SAMPLED or stale df (ties by
    * shingle keep it total) works as long as both sides use the same
    * one — the frequency pass can be amortized across runs.
    *
    * On top of the prefix cut, the candidate join applies PPJoin's two
    * other exactness-preserving lemmas, both cheap row-local
    * arithmetic on (length, position) carried with each prefix token:
    *  - LENGTH filter: J(A,B) <= min/max of the sizes, so
    *    min(|A|,|B|) >= t*max(|A|,|B|) is necessary.
    *  - POSITION filter: a common prefix token at 0-based positions
    *    (pa, pb) bounds the achievable overlap by
    *    min(|A|-pa, |B|-pb), which must reach the required overlap
    *    alpha = ceil(t/(1+t)*(|A|+|B|)) (J >= t iff i >= alpha).
    *    Comparisons subtract 1e-6 before ceil/scale so floating-point
    *    jitter can only KEEP a borderline candidate, never drop one.
    *
    * Which formulation wins is a property of the CORPUS, measured here
    * so the trade is explicit. Under the earlier hash order the
    * inverted-index count won at sf0.1 (every prefix token hot, 9 s vs
    * 2.6 s) and prefix+position only edged ahead at sf1 (~20 s vs
    * ~31 s). Under ascending-df order the prefix formulation is
    * competitive at sf0.1 (3.9 s vs 2.6 s steady-state) and wins ~2.5×
    * at sf1 (14.8 s vs 36.8 s), growing with duplicate density —
    * on Zipfian web corpora the df-ordered prefix cut is the standard
    * order-of-magnitude lever. Keeping both, gated against one oracle,
    * is the honest engineering position.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // spread the docs BEFORE the shingle explode (the sparseTopK
    // discipline, explicit count so AQE's byte-based coalescing cannot
    // fold a small corpus back to one task): the explode and the df
    // aggregate below it are the widest rows of the whole pipeline
    val ex = withShingles(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism,
          col(idCol)), idCol, textCol, n)
      .select(col(idCol), explode(col("__sh")).as("s"))
    val freq = ex.groupBy("s").agg(count(lit(1)).cast(IntegerType).as("df"))
    // ascending-df canonical order; collect order is partition-dependent
    // but array_sort on (df, s) makes the result a pure function of the
    // shingle SET, so the prefix — and the gate hash — are deterministic
    val sh = ex.join(freq, "s")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("__hs"))
      .select(col(idCol),
        transform(col("__hs"), x => x.getField("s")).as("__sh"))
      .cache()
    val plen = (size(col("__sh"))
      - ceil(lit(threshold) * size(col("__sh"))) + 1).cast(IntegerType)
    // per-row precomputes keep the O(matched-rows) join condition to
    // integer compares + one double add: ctl = ceil(t*len) for the
    // length filter, w = t/(1+t)*len and rem = len - pos for the
    // position test — no per-pair multiplies or int→double casts
    val e = sh.select(col(idCol).as("doc"), size(col("__sh")).as("len"),
      posexplode(slice(col("__sh"), lit(1), plen)).as(Seq("pos", "s")))
      .withColumn("ctl",
        ceil(lit(threshold) * col("len") - lit(1e-6)).cast(IntegerType))
      .withColumn("w", lit(threshold / (1 + threshold)) * col("len"))
      .withColumn("rem", (col("len") - col("pos")).cast(DoubleType))
    val cand = e.as("a")
      .join(e.as("b"), col("a.s") === col("b.s") && col("a.doc") < col("b.doc") &&
        // length filter: min(|A|,|B|) >= ceil(t*max) — epsilon folded
        // into the per-row ceil so FP jitter only ever KEEPS a candidate
        col("a.len") >= col("b.ctl") && col("b.len") >= col("a.ctl") &&
        // position filter: the remaining suffixes must still reach the
        // required overlap alpha = t/(1+t)*(la+lb) = a.w + b.w
        least(col("a.rem"), col("b.rem")) + lit(1e-6) >= col("a.w") + col("b.w"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      // explicit pair-keyed repartition: candidate pairs are byte-small
      // but compute-dense downstream (full shingle-array intersection
      // per pair), so AQE's byte-based coalescing would serialize the
      // verify; distinct reuses this partitioning (no extra exchange)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    val jac = cand
      .join(sh.select(col(idCol).as("doc_a"), col("__sh").as("sa")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("__sh").as("sb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("i") * lit(1.0) / (size(col("sa")) + size(col("sb")) - col("i")))
    val result = jac.filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint() // materialize, then release the shingle cache
    sh.unpersist()
    result
  }

  /** Minhash signature as one array<long> column per doc: (id, sigs).
    *
    * One pass: each shingle row evaluates all k permutations as k
    * separate MIN aggregates inside a single codegen'd partial-agg
    * group-by — no perm-explosion, so the shuffle carries one k-wide
    * partial per (doc, map-partition) instead of k× the shingle rows.
    */
  def minhashSignatureArray(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, n: Int = 3): DataFrame = {
    // NOT spread here: this entry is shared by qd05's self-join LSH
    // (where the caller spreads — see minhashLshPairs) and qd10's
    // incremental path, where an interleaved A/B read the spread as a
    // 0.78x regression (the existing-side exchange outweighs the small
    // batch's parallel win; r19)
    val hashed = withShingles(df, idCol, textCol, n)
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .withColumn("__h", Text.polyhash(col("__s")))
    require(k <= Text.MaxPerms, s"at most ${Text.MaxPerms} minhash perms")
    val mins = (0 until k).map { j =>
      min((lit(Text.PermAs(j)) * col("__h") + lit(Text.PermBs(j))) % Text.Mod)
        .as(s"__m$j")
    }
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(j => col(s"__m$j")): _*).as("sigs"))
  }

  /** Incremental near-dup: the pairs a NEW batch introduces against an
    * EXISTING corpus (and within itself) — the 100 TB ingest shape,
    * where re-pairing the whole corpus per batch is O(corpus) but
    * probing the standing band index with the batch is O(batch): the
    * existing side's band keys are a persisted artifact (signatures
    * are content hashes — append-only under ingest), the incoming side
    * recomputes only its own, and the candidate joins touch only
    * buckets the batch collides with. Pair semantics: every J >= t
    * pair with at least one incoming member, `doc_a < doc_b`
    * normalized. Candidates are the SAME (band, key) collisions the
    * self-join formulation would produce, filtered to pairs touching
    * the batch — so `minhashLshPairs`' measured recall transfers
    * verbatim, and the same exact verify + degenerate-bucket guard
    * apply (the guard watches the EXISTING side, where a hot bucket
    * would make every future batch quadratic).
    *
    * Re-ingest semantics: an incoming id already present in `existing`
    * is DROPPED before pairing (one anti-join equi-shuffle). Without
    * this the doc would meet its own band keys on the existing side —
    * a bogus self-pair at J=1 — and the verify joins would pick up two
    * shingle rows per id, duplicating every candidate it touches. The
    * pair set is therefore exactly "what do the genuinely-new docs
    * introduce", and replaying a batch is a no-op.
    */
  def incrementalNearDupPairs(
      existing: DataFrame, incomingRaw: DataFrame, idCol: String,
      textCol: String, k: Int = 32, bands: Int = 8, n: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val incoming = incomingRaw.join(
      existing.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
    val r = k / bands
    def bandKeys(df: DataFrame): DataFrame =
      minhashSignatureArray(df, idCol, textCol, k, n)
        .withColumn("band", explode(sequence(lit(0L), lit((bands - 1).toLong))))
        .withColumn("bkey",
          concat_ws(",", slice(col("sigs"), (col("band") * r + 1).cast(IntegerType), lit(r))))
        .select(col(idCol), col("band"), col("bkey"))
    val eb = boundedBuckets(bandKeys(existing), Seq("band", "bkey"), maxBucket,
      "incrementalNearDupPairs(existing)")
    val ib = bandKeys(incoming)
    val cross = ib.as("a").join(eb.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_b"))
    val within = ib.as("a").join(ib.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    val cand = cross.union(within).distinct()
    val sh = withShingles(existing.unionByName(incoming), idCol, textCol, n)
      .cache()
    val pairs = cand
      .join(sh.withColumnRenamed(idCol, "doc_a").withColumnRenamed("__sh", "sa"), "doc_a")
      .join(sh.withColumnRenamed(idCol, "doc_b").withColumnRenamed("__sh", "sb"), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("i") * lit(1.0) / (size(col("sa")) + size(col("sb")) - col("i")))
    val result = pairs.filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint()
    sh.unpersist()
    result
  }

  /** Minhash signatures in long format: (id, perm_id, sig). Same values
    * as the array form (perm_j(h) = (a_j*h + b_j) mod M with the
    * mixer-derived a_j/b_j of graft.functions.Text.PermAs/PermBs),
    * exploded for the gate/oracle.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, n: Int = 3): DataFrame =
    minhashSignatureArray(df, idCol, textCol, k, n)
      .select(col(idCol), posexplode(col("sigs")).as(Seq("perm_id", "sig")))
      .withColumn("perm_id", col("perm_id").cast(LongType))
      .select(col(idCol), col("perm_id"), col("sig"))

  /** Near-duplicate pairs via minhash-LSH banding, verified exactly.
    *
    * k perms split into `bands` bands of k/bands rows; docs sharing any
    * band key become candidates; candidates get exact Jaccard and the
    * threshold filter. At 100 TB every step is an equi-shuffle — no
    * pairwise blowup outside genuinely-similar buckets.
    */
  /** Loud guard against the classic 100 TB corpus pathology: a
    * mass-duplicated document (boilerplate page copied 10^6 times) puts
    * every copy in ONE (band, key) bucket, and the candidate self-join
    * goes quadratic INSIDE it — m copies emit m^2/2 pairs before any
    * verify can filter. Banding's cost model assumes buckets hold
    * genuinely-similar small groups; when a bucket blows past
    * `maxBucket` the right move is exact dedup FIRST (qd01 → LSH, the
    * qp01/nearDupClusters composition), which collapses identical
    * copies to one representative per bucket. Failing loudly (the
    * connectedComponents maxRounds precedent) beats silently attempting
    * the quadratic join on a cluster.
    */
  /** In-plan variant of the guard: joins the buckets against their own
    * per-key counts and asserts the bound INSIDE the plan, so the check
    * adds no separate job — the bucket-key exchange is shared with the
    * candidate self-join — and an oversized bucket throws on its first
    * probe row, before the self-join can emit its quadratic output.
    * Returns the guarded bucket rows (columns unchanged).
    */
  private def boundedBuckets(buckets: DataFrame, keyCols: Seq[String],
                             maxBucket: Int, op: String): DataFrame = {
    val counts = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val msg =
      s"$op: degenerate bucket exceeds maxBucket=$maxBucket — the corpus " +
        "has a mass-duplicated document; run exact dedup first " +
        "(Dedup.exact, the qp01 composition) or raise maxBucket if the " +
        "quadratic candidate join is intended"
    buckets.join(counts, keyCols)
      .withColumn("__guard", assert_true(col("__n") <= maxBucket, lit(msg)))
      .filter(col("__guard").isNull) // NULL on success; keeps the assert alive
      .drop("__n", "__guard")
  }

  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // spread the one-split scan ahead of the shingle explode + k-perm
    // partial-min chain and the verify cache build (r19; StageProf
    // showed both as serial ~300 ms single-task stages; interleaved
    // A/B min-of-3: 1.23x). The id-keyed repartition is REUSED by the
    // signature groupBy — no added exchange. qd10's incremental path
    // deliberately does NOT get this (measured 0.78x there).
    val spreadDf = Spread.ifNarrowOrKeep(
      df.select(col(idCol), col(textCol)), col(idCol))
    // band keys sliced straight out of the signature array — the only
    // shuffle before the candidate join is the signature group-by itself
    // (the signature exchange is REUSED by the guard's counts and both
    // self-join sides: one computation, one shuffle, no cache pinned)
    val bandKeys = minhashSignatureArray(spreadDf, idCol, textCol, k, n)
      .withColumn("band", explode(sequence(lit(0L), lit((bands - 1).toLong))))
      .withColumn("bkey",
        concat_ws(",", slice(col("sigs"), (col("band") * r + 1).cast(IntegerType), lit(r))))
      .select(col(idCol), col("band"), col("bkey"))
    val guarded = boundedBuckets(bandKeys, Seq("band", "bkey"), maxBucket,
      "minhashLshPairs")
    val cand = guarded.as("a")
      .join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    // exact verify candidates (shingles cached: reused by sigs + verify;
    // built over the spread input so the cache fills in parallel)
    val sh = withShingles(spreadDf, idCol, textCol, n).cache()
    val pairs = cand
      .join(sh.withColumnRenamed(idCol, "doc_a").withColumnRenamed("__sh", "sa"), "doc_a")
      .join(sh.withColumnRenamed(idCol, "doc_b").withColumnRenamed("__sh", "sb"), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("i") * lit(1.0) / (size(col("sa")) + size(col("sb")) - col("i")))
    val result = pairs.filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint() // materialize, then release the shingle cache
    sh.unpersist()
    result
  }

  /** Simhash (word-frequency weighted, `bits` low bits, default 60 to
    * stay in a positive BIGINT): explode word hashes x bit positions,
    * majority vote per bit, reassemble. Bit j votes on a PERMUTED hash
    * chunk (the `__h<t>` affine images below; Text.simVoteSql is the
    * oracles' twin) rather than bit j of the raw polyhash:
    * polyhash values sit below 2^30, so raw bits 30+ are structurally
    * constant and banding over them degenerates (see
    * simhashNearDupPairs).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    val chunkW = Text.SimChunkWidth
    val chunks = (bits + chunkW - 1) / chunkW
    require(chunks <= Text.SimAs.size,
      s"bits=$bits exceeds the provisioned simhash chunk constants")
    // one affine image per chunk, computed ONCE per word occurrence;
    // then the per-bit votes are 60 map-side-combined sums in a single
    // doc-keyed shuffle — no bits-fold row explosion, no second shuffle
    val withH = df.withColumn("__ws", expr(Text.wordsExpr(textCol)))
      .select(col(idCol), explode(col("__ws")).as("__w"))
      .withColumn("__h", Text.polyhash(col("__w")))
    val withChunks = (0 until chunks).foldLeft(withH) { (d, t) =>
      d.withColumn(s"__h$t",
        expr(s"(${Text.SimAs(t)}L * __h + ${Text.SimBs(t)}L) % ${Text.Mod}L"))
    }
    val votes = (0 until bits).map { j =>
      sum(expr(s"CAST(shiftright(__h${j / chunkW}, ${j % chunkW}) & 1 AS BIGINT) * 2 - 1")
      ).as(s"__s$j")
    }
    withChunks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"__s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-duplicate pairs by simhash Hamming distance — the classic
    * web-scale near-dup detector: partition the `bits` bit POSITIONS
    * into `bands` disjoint groups; by pigeonhole, any pair within
    * `maxHamming` (< bands) differing bits agrees EXACTLY on at least
    * one group, so candidates come from equi-joins on (band, group-key)
    * — never all-pairs — and the exact popcount verify runs only on
    * candidates. Recall is 1 by construction (pigeonhole is a theorem,
    * not a probability), unlike minhash banding's probabilistic curve —
    * and it holds for ANY partition of the positions, which this
    * implementation exploits:
    *
    * Simhash bits are corpus-biased — each bit is the majority vote of
    * word-hash bits over a shared vocabulary, so homogeneous corpora
    * agree on many bits (and bits above the word-hash's effective width
    * are structurally constant). CONTIGUOUS slices then hand whole
    * bands of near-constant bits to the join and the entire corpus
    * lands in one bucket (the round-9 guard caught exactly this: a
    * 5000-doc corpus, one 15-bit band all-zero, a silent near-all-pairs
    * join). Instead, measure per-bit balance with one 60-column agg
    * over the cached signatures and DEAL positions round-robin in
    * balance order, so every band receives its share of the corpus's
    * actual bit entropy. The measurement is an exact integer aggregate
    * — deterministic under any partitioning — and the deal is
    * tie-broken by position, so the layout is a pure function of the
    * corpus.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bits: Int = 60,
                          bands: Int = 4, maxBucket: Int = 4096): DataFrame = {
    require(bands > maxHamming, "pigeonhole needs bands > maxHamming")
    // cached so both join sides read the SAME computed signatures
    // instead of re-hashing the corpus twice; released after the result
    // materializes (localCheckpoint), mirroring minhashLshPairs — no
    // per-invocation executor-storage pinned for the app lifetime
    val sh = simhash(df, idCol, textCol, bits).cache()
    val stats = sh.select(
      (0 until bits).map(j =>
        sum(expr(s"CAST(shiftright(simhash, $j) & 1 AS BIGINT)")).as(s"b$j")) :+
        count(lit(1)).as("n"): _*).head()
    val n = stats.getLong(bits)
    def onesAt(j: Int) = if (stats.isNullAt(j)) 0L else stats.getLong(j)
    val byBalance = (0 until bits).sortBy(j => (math.abs(2 * onesAt(j) - n), j))
    val groups = Array.fill(bands)(Seq.newBuilder[Int])
    byBalance.zipWithIndex.foreach { case (b, i) => groups(i % bands) += b }
    val keyExprs = groups.toSeq.map { g =>
      g.result().zipWithIndex.map { case (b, i) =>
        expr(s"shiftleft(shiftright(simhash, $b) & 1, $i)")
      }.reduce(_ + _)
    }
    def banded(p: String) = sh
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .select(col(idCol).as(s"${p}_id"), col("simhash").as(s"${p}_sh"),
        col("band"),
        element_at(array(keyExprs: _*), col("band") + 1).as("key"))
    val guarded = boundedBuckets(banded("a"), Seq("band", "key"), maxBucket,
      "simhashNearDupPairs")
    val result = guarded.join(banded("b"), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        expr("CAST(bit_count(a_sh ^ b_sh) AS BIGINT)").as("hamming"))
      .distinct() // a close pair can agree on several bands
      .filter(col("hamming") <= maxHamming)
      .localCheckpoint()
    sh.unpersist()
    result
  }

  /** Connected components over an undirected pair graph (the output
    * shape of minhashLshPairs / ngramJaccardPairs / embedding pairs):
    * every node is labeled with the MINIMUM id of its component — the
    * canonical representative a dedup pass keeps (drop everything whose
    * cluster label isn't its own id, transitively: A~B and B~C dedup to
    * A even when A~C was never a candidate pair).
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * every node takes the min of its own label, its neighbors' labels,
    * and its label's label (one extra equi-join that follows the label
    * forest one hop through the round's already-improved labels — label
    * depth roughly DOUBLES per round, so a diameter-d graph converges
    * in O(log d) rounds, not d: a 1000-node path needs ~12 rounds,
    * spec-tested, where plain propagation needs 999). One equi-shuffle
    * join + one partial-agg group-by per round, plus the hop join from
    * round 3 on (small dense clusters converge before paying it; long
    * chains still get the doubling). No driver-side graph
    * structure — the driver sees only a scalar convergence count per
    * round; labels are checkpointed between rounds so the plan doesn't
    * grow with iterations. Nodes in no qualifying pair are not emitted
    * (they are their own cluster).
    *
    * `maxRounds` is a loud backstop, not a tuning knob: with doubling,
    * 64 rounds covers any physically possible diameter, so hitting the
    * cap means the input is pathological (e.g. label churn from a
    * non-deterministic pair source) and silent truncation would emit
    * WRONG clusters — it throws instead.
    *
    * Durability: by default rounds are localCheckpoint'ed — blocks live
    * on executors and die with them, fine for short loops on a healthy
    * cluster. Pass `reliable = true` (with
    * `sparkContext.setCheckpointDir` pointing at durable storage) to
    * snapshot each round's labels as parquet under a loop-owned
    * subdirectory of the checkpoint dir instead: an executor loss
    * mid-loop recomputes from the last round's files rather than from
    * the raw pair graph. The loop deletes each superseded round as soon
    * as the next one is durable (runtime `conf.set` of Spark's
    * `cleanCheckpoints` flag would be ignored — ContextCleaner captures
    * it at startup — so cleanup is explicit), so the checkpoint dir
    * holds O(1) snapshots at any moment and exactly one — the final
    * labels, which the returned DataFrame reads — after convergence
    * (spec-asserted). The algorithm is unchanged.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          reliable: Boolean = false,
                          maxRounds: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    val snapRoot: Option[org.apache.hadoop.fs.Path] =
      if (!reliable) None
      else {
        val base = spark.sparkContext.getCheckpointDir.getOrElse(
          throw new IllegalStateException(
            "reliable=true requires sparkContext.setCheckpointDir"))
        Some(new org.apache.hadoop.fs.Path(
          base, s"graft-cc-${java.util.UUID.randomUUID()}"))
      }
    lazy val snapFs = snapRoot.get
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var snapIdx = 0
    var lastLabelSnap: Option[org.apache.hadoop.fs.Path] = None
    // labels=true marks snapshots eligible for supersede-cleanup; the
    // edges snapshot must survive the whole loop (read every round)
    def ckpt(df: DataFrame, labels: Boolean = false): DataFrame =
      snapRoot match {
        case None => df.localCheckpoint()
        case Some(root) =>
          val p = new org.apache.hadoop.fs.Path(root, s"snap-$snapIdx")
          snapIdx += 1
          df.write.mode("overwrite").parquet(p.toString)
          if (labels) {
            lastLabelSnap.foreach(snapFs.delete(_, true))
            lastLabelSnap = Some(p)
          }
          spark.read.parquet(p.toString)
      }
    val edges = ckpt(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = ckpt(edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")), labels = true)
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds — " +
            "pathological input (non-deterministic pairs?); refusing to " +
            "emit possibly-wrong clusters")
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "__n"), col("dst") === col("__n"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val prop = labels
        .join(neighborMin, col("node") === col("src"), "left")
        .select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl1"))
      // pointer jumping: follow the label one hop through the ROUND'S
      // improved labels (every label is a node id of the same
      // component, so taking the min stays in-component). Engaged only
      // after round 2: near-dup clusters are small and dense, so most
      // runs converge in the plain rounds and never pay the hop join;
      // a pathological long chain still gets O(log d) doubling.
      val next = ckpt(
        if (round <= 2)
          prop.select(col("node"), col("lbl"), col("lbl1").as("lbl2"))
        else {
          val hop = prop.select(col("node").as("__jn"), col("lbl1").as("__jl"))
          prop.join(hop, prop("lbl1") === col("__jn"), "left")
            .select(col("node"), col("lbl"),
              least(col("lbl1"), coalesce(col("__jl"), col("lbl1"))).as("lbl2"))
        },
        labels = true)
      converged = next.filter(col("lbl2") < col("lbl")).isEmpty
      labels = next.select(col("node"), col("lbl2").as("lbl"))
    }
    // converged: only the final labels snapshot is still needed (the
    // returned plan reads it); the edges snapshot is done serving rounds
    snapRoot.foreach(root =>
      snapFs.delete(new org.apache.hadoop.fs.Path(root, "snap-0"), true))
    labels.select(col("node").as(aCol), col("lbl").as("cluster"))
  }

  /** Near-duplicate clusters: minhash-LSH pairs (exact-verified) closed
    * under transitivity. Output: (doc_id, cluster) for every doc in at
    * least one qualifying pair, cluster = min doc id of the component.
    */
  def nearDupClusters(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    connectedComponents(
      minhashLshPairs(df, idCol, textCol, k, bands, n, threshold)
        .select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
      .withColumnRenamed("doc_a", idCol)

  /** Near-duplicate pairs by embedding cosine >= threshold — EXACT, via
    * a block-partitioned triangle self-join.
    *
    * Why not LSH here: sublinear candidate generation needs a similarity
    * gap between qualifying and random pairs. On this corpus the
    * qualifying pairs ARE the random tail (measured at sf0.01/sf0.1:
    * min qualifying sim 0.4000, median 0.42, max 0.60 against a random-
    * pair sd of ~1/sqrt(dim)=0.125 — the 0.4 threshold sits ~3.2 sigma
    * into the bulk). Any banding scheme with recall ~1 at that angle
    * does strictly more work than evaluating every pair once. So the
    * exact O(n^2) compute is inherent; what scale-out needs is even
    * distribution and no per-pair driver/broadcast structure:
    *
    * Each vector gets a hash block in [0, blocks); side A replicates to
    * key (blk, j) for j in blk..blocks-1, side B to (i, blk) for i in
    * 0..blk — every unordered block pair meets on exactly one composite
    * key, so the join is a plain equi shuffle with blocks*(blocks+1)/2
    * evenly-sized tasks and O(n*blocks/2) shuffle volume. No
    * BroadcastNestedLoopJoin, no cartesian, no skew. Set blocks ~
    * sqrt(2 * parallelism) on a cluster.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 8): DataFrame = {
    val v = df.select(
      col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Text.dot(col("v"), col("v"))))
      .withColumn("blk", pmod(hash(col("vid")), lit(blocks)))
    val a = v.withColumn("j", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("vid").as("vid_a"), col("v").as("va"), col("nrm").as("na"),
        col("blk").as("i"), col("j"))
    val b = v.withColumn("i", explode(sequence(lit(0), col("blk"))))
      .select(col("vid").as("vid_b"), col("v").as("vb"), col("nrm").as("nb"),
        col("i"), col("blk").as("j"))
    a.join(b, Seq("i", "j"))
      // same-block pairs appear once with both orders possible; distinct
      // blocks meet once. Keep each unordered pair exactly once.
      .filter((col("i") =!= col("j")) || (col("vid_a") < col("vid_b")))
      .withColumn("sim",
        Text.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(
        least(col("vid_a"), col("vid_b")).as("vec_a"),
        greatest(col("vid_a"), col("vid_b")).as("vec_b"))
  }

  /** SemDeDup-style semantic near-dup pairs: a k-means coarse
    * clustering partitions the corpus, and exact cosine runs only
    * WITHIN clusters — O(sum of cluster-size²) instead of O(n²), the
    * standard embedding-dedup recipe for web-scale corpora (cluster
    * first, compare within cells). Pairs split across clusters are the
    * price of linearity; `embeddingNearDupPairs` stays the exact
    * baseline.
    *
    * The clustering IS `Pq.train(m = 1)` — one subspace makes the
    * per-slice Lloyd exactly full-vector k-means — so it inherits
    * Pq's determinism (first-k-by-id init, decimal-exact means,
    * lowest-code ties): assignments are a pure function of the corpus,
    * which is what lets qp03's oracle replay the whole clustering in
    * SQL and hash-compare the pair set exactly.
    *
    * Scale shape: training is `iters` linear scans (codebook is k
    * vectors, broadcast); the within-cluster join shuffles once by
    * cluster id. A mass-duplicated embedding makes one cluster
    * degenerate — the same pathology as a hot LSH bucket — so the
    * self-join rides the same in-plan `boundedBuckets` guard.
    */
  def semanticNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, threshold: Double = 0.4,
      maxCluster: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    val model = Pq.train(spark, df, idCol, vecCol, m = 1, k = k, iters = iters)
    val codes = Pq.encode(spark, df, model, idCol, vecCol)
      .select(col("vid"), col("ci"))
    val t = Pq.unit(df, idCol, vecCol).join(codes, "vid")
    val guarded = boundedBuckets(t, Seq("ci"), maxCluster,
      "semanticNearDupPairs")
    guarded.as("a")
      .join(t.as("b"),
        col("a.ci") === col("b.ci") && col("a.vid") < col("b.vid"))
      // unit vectors: cosine = dot
      .withColumn("sim", Text.dot(col("a.v"), col("b.v")))
      .filter(col("sim") >= threshold)
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * n-gram shingles whose FIRST corpus occurrence (smallest id) is
    * this document. The corpus-growth metric of a curation pipeline —
    * near-1 documents bring new content; near-0 documents restate what
    * earlier documents already said (dedup's soft sibling: qd02 asks
    * "is this a copy of THAT doc", this asks "how much of this doc is
    * new at all").
    *
    * Output: (id, n_shingles, n_novel, novelty), novelty = n_novel /
    * n_shingles (0.0 for documents with no shingles — defensive; the
    * shingler emits >= 1 gram per document).
    *
    * Scale shape: NO pairwise anything — two linear aggregates.
    * n_novel per document is read off the shingle->min(id) table alone
    * (the min's owner gets the credit), so hot shingles ride map-side
    * partial aggregation (min/count are monoids) rather than an
    * exploded join; shuffles are one by shingle, one by id. Division
    * of two integers is a single correctly-rounded IEEE op —
    * bit-exact cross-engine.
    */
  def firstOccurrenceNovelty(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3): DataFrame = {
    val e = withShingles(df, idCol, textCol, n)
      .select(col(idCol), explode(col("__sh")).as("sh"))
    val nsh = e.groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val novel = e.groupBy("sh").agg(min(col(idCol)).as("__fid"))
      .groupBy("__fid").agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("__fid", idCol)
    noveltyOf(df.select(col(idCol)), nsh, novel, idCol)
  }

  /** The shared per-document novelty projection: join the
    * (id, n_shingles) and (id, n_novel) sides onto the document set
    * and derive the rate. One definition serves BOTH the batch
    * operator above and the streaming serve path
    * (graft.streaming.NoveltyIngest) — "bit-identical" is maintained
    * by shared code, not duplicated text.
    */
  private[graft] def noveltyOf(docs: DataFrame, nsh: DataFrame,
                               novel: DataFrame, idCol: String): DataFrame =
    docs
      .join(nsh, Seq(idCol), "left")
      .join(novel, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("novelty"))
}
