package graft.queries

import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.functions.Text
import graft.operators.{Curation, Dedup, EntityResolution, TextAnalysis}

import Shared._

/** Deduplication and entity-resolution gates (`qd`, `qe`): exact,
  * n-gram, minhash/simhash and span-level dedup, near-dup clusters and
  * decontamination, plus golden records and Jaro-Winkler entity
  * matching. Every query has a strict DuckDB oracle — including the
  * hash-based ones, because the rolling-hash primitive is
  * engine-portable (see graft.functions.Text / expressions.PolyHash).
  */
object DedupGates {

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

    // ----- streaming exact-dedup state (merge-at-serve monoid) -----------
    // SAME oracle text as qd01, deliberately: the gate proves the
    // per-batch append-only state (streaming.DedupIngest) merges back
    // to the corpus-scan dedup bit for bit after a multi-batch build —
    // (min, sum) per content key is a monoid, so disjoint batch
    // partials lose nothing. Parity batching guarantees cross-batch
    // duplicate pairs actually occur.
    Q("qd16_stream_dedup",
      "SELECT text, min(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text") {
      (s, dir) =>
        val path = Fixture.once("qd16_state", dir) {
          val out = Fixture.dir("graft_qd16_dedup")
          val docs = Tables(s, dir, "documents").select("doc_id", "text")
          graft.streaming.DedupIngest.applyBatch(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", out, 0L)
          graft.streaming.DedupIngest.applyBatch(
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", out, 1L)
          out
        }
        graft.streaming.DedupIngest.serve(s, path, "text")
    },

    // ----- golden-record survivorship merge -------------------------------
    // q68 finds the duplicate pairs and qd06 resolves them into
    // entities; this is the step a master-data pipeline runs NEXT:
    // collapse each entity's record history into one published record
    // under most-recent-non-null-wins, each field surviving
    // independently (the fixture nulls the modal status/priority
    // values, so a customer's golden status and golden priority
    // regularly come from DIFFERENT orders). The oracle replays the
    // survivorship with per-field ROW_NUMBER windows; the engine side
    // is ONE partial-agg groupBy (max-of-struct per field — no
    // windows, no joins), which is the shape that survives 100 TB.
    Q("qe01_golden_record",
      """WITH src AS (SELECT o_custkey,
        |    o_orderdate AS r, o_orderkey AS t,
        |    NULLIF(o_orderstatus, 'O') AS status,
        |    NULLIF(o_orderpriority, '1-URGENT') AS priority,
        |    o_totalprice AS price
        |  FROM orders),
        |base AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_records,
        |           MAX(r) AS last_seen FROM src GROUP BY 1),
        |p1 AS (SELECT o_custkey, status FROM (
        |         SELECT o_custkey, status, ROW_NUMBER() OVER (
        |           PARTITION BY o_custkey ORDER BY r DESC, t DESC) AS rn
        |         FROM src WHERE status IS NOT NULL) WHERE rn = 1),
        |p2 AS (SELECT o_custkey, priority FROM (
        |         SELECT o_custkey, priority, ROW_NUMBER() OVER (
        |           PARTITION BY o_custkey ORDER BY r DESC, t DESC) AS rn
        |         FROM src WHERE priority IS NOT NULL) WHERE rn = 1),
        |p3 AS (SELECT o_custkey, price FROM (
        |         SELECT o_custkey, price, ROW_NUMBER() OVER (
        |           PARTITION BY o_custkey ORDER BY r DESC, t DESC) AS rn
        |         FROM src WHERE price IS NOT NULL) WHERE rn = 1)
        |SELECT b.o_custkey, p1.status, p2.priority, p3.price,
        |  b.n_records, b.last_seen
        |FROM base b
        |LEFT JOIN p1 USING (o_custkey)
        |LEFT JOIN p2 USING (o_custkey)
        |LEFT JOIN p3 USING (o_custkey)""".stripMargin) { (s, dir) =>
      val src = Tables(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderdate").as("r"), col("o_orderkey").as("t"),
        expr("nullif(o_orderstatus, 'O')").as("status"),
        expr("nullif(o_orderpriority, '1-URGENT')").as("priority"),
        col("o_totalprice").as("price"))
      EntityResolution.goldenRecord(src, "o_custkey", "r", "t",
        Seq("status", "priority", "price"))
    },

    // ----- cross-source contamination matrix -----------------------------
    // Exact shingle-set overlap between SOURCES (mirror/syndication
    // detection) — the distinct-per-source collapse bounds the
    // inverted-index fan-out at sources² per shingle, so the matrix
    // stays linear in corpus size however duplicated the documents
    // are. Jaccard is one IEEE division of exact BIGINTs — bitwise
    // cross-engine.
    Q("qd18_source_overlap", {
      val wSrc = s"SELECT source, ${Text.wordsSql("text")} AS ws FROM documents"
      s"""WITH w AS ($wSrc),
         |e AS (SELECT DISTINCT source AS src,
         |        unnest(${Text.shinglesSql("ws")}) AS sh FROM w),
         |sz AS (SELECT src, COUNT(*) AS n FROM e GROUP BY 1),
         |i AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS inter
         |      FROM e a JOIN e b ON a.sh = b.sh AND a.src < b.src
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, x.n AS n_a, y.n AS n_b, inter,
         |  CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE)
         |    AS jaccard
         |FROM i JOIN sz x ON src_a = x.src
         |       JOIN sz y ON src_b = y.src""".stripMargin
    }) { (s, dir) =>
      Dedup.sourceOverlap(Tables(s, dir, "documents"), "text", "source")
    },

    // ----- blocked Jaro-Winkler entity matching --------------------------
    // q68's FastSS pairs cover edit distance <= 1; this is the
    // name-field scorer for everything past it — Jaro-Winkler over
    // (brand, size)-blocked part-name pairs, scored by the codegen'd
    // native expression (Spark has no Jaro family built in; a UDF
    // here would pay a serialization boundary per candidate pair).
    // The oracle IS DuckDB's jaro_winkler_similarity — semantics
    // pinned implementation-to-implementation (boost threshold 0.7,
    // prefix cap 4, empty -> 0, window floor 0) — and scores publish
    // as integer micro-units; the observed minimum distance from a
    // rounding boundary across all 160 K sf0.1 candidate pairs is
    // 2.6e-3 (JW values are small-denominator rationals).
    Q("qe02_jw_blocked_match",
      """WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
        |    * 1000000 + 0.5) AS BIGINT) AS jw_micro
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
        |    * 1000000 + 0.5) AS BIGINT) >= 900000""".stripMargin) { (s, dir) =>
      EntityResolution.blockedJaroWinklerPairs(
        Tables(s, dir, "part").withColumnRenamed("p_partkey", "id"),
        idCol = "id", strCol = "p_name",
        blockCols = Seq("p_brand", "p_size"), minMicro = 900000L)
    },

    // ----- entity merge pipeline: score -> cluster -> survive ------------
    // The three entity-resolution pieces composed under ONE oracle
    // (the qp discipline): qe02's blocked Jaro-Winkler pairs feed
    // qd06's connected components (min-label propagation + pointer
    // jumping), and each entity's member records collapse through
    // qe01's per-field survivorship (recency = the part key here, so
    // the golden fields come from the max-key member — which the
    // oracle replays via a last_seen self-join). The DuckDB side walks
    // the SAME closure with a RECURSIVE CTE over the pair graph, so
    // any drift in scoring, clustering, or survivorship breaks the
    // hash. Clusters are block-bounded (brand x size), so the
    // transitive closure is small by construction at every sf.
    Q("qe03_entity_merge",
      """WITH RECURSIVE
        |pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |       FROM part a JOIN part b
        |         ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |        AND a.p_partkey < b.p_partkey
        |       WHERE CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
        |         * 1000000 + 0.5) AS BIGINT) >= 900000),
        |e AS (SELECT id_a AS s, id_b AS d FROM pr
        |      UNION SELECT id_b, id_a FROM pr),
        |n AS (SELECT DISTINCT s AS node FROM e),
        |reach(node, l) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.d, r.l FROM reach r JOIN e ON e.s = r.node),
        |comp AS (SELECT node, min(l) AS entity FROM reach GROUP BY node),
        |win AS (SELECT c.entity, max(p.p_partkey) AS last_seen,
        |          count(*) AS n_records
        |        FROM comp c JOIN part p ON p.p_partkey = c.node
        |        GROUP BY c.entity)
        |SELECT w.entity, p.p_name, p.p_retailprice, w.n_records,
        |  w.last_seen
        |FROM win w JOIN part p ON p.p_partkey = w.last_seen""".stripMargin
    ) { (s, dir) =>
      val part = Tables(s, dir, "part")
      val pairs = EntityResolution.blockedJaroWinklerPairs(
        part.withColumnRenamed("p_partkey", "id"),
        idCol = "id", strCol = "p_name",
        blockCols = Seq("p_brand", "p_size"), minMicro = 900000L)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val recs = cc.join(part, cc("id_a") === part("p_partkey"))
        .select(col("cluster").as("entity"),
          col("p_partkey").as("__r"), col("p_partkey").as("__t"),
          col("p_name"), col("p_retailprice"))
      EntityResolution.goldenRecord(recs, "entity", "__r", "__t",
        Seq("p_name", "p_retailprice"))
    },

    // ----- animated GIF frame decode (LZW) --------------------------------
    // The second REAL compressed bitstream through the pure-JVM codec
    // seam (qm14 crossed Motion-JPEG): GIF is LZW-compressed,
    // palette-indexed, genuinely multi-frame in ONE stream — the
    // decoder must walk the whole sequence, not read a cover frame.
    // Dims come from each DECODED frame; the sidecar was recorded by
    // the SAME decode routine over the exact bytes written, so a
    // reader that dithers differently, drops frames, or trusts the
    // logical-screen descriptor cannot reproduce it. The remaining
    // codec seam is now only the genuinely-no-pure-JVM-decoder
    // family (H.264 etc.), documented behind the decode stub.
    // ----- NON-ASCII blocked Jaro-Winkler matching ------------------------
    // qe02 proves the scorer on ASCII names; this runs the SAME
    // blocked-match shape over accented (multi-byte UTF-8) names —
    // vowels translated to á/é/í/ó/ü on BOTH engines — and hash-gates
    // against DuckDB's jaro_winkler_similarity directly. This is the
    // end-to-end lock for the round-17 kernel change: DuckDB compares
    // UTF-8 BYTES (measured), and so does the kernel now — the old
    // UTF-16-char kernel diverged on EVERY one of these 160 K pairs'
    // inputs. Min rounding-boundary distance across all candidate
    // pairs: 5.5e-3 (measured at sf0.1 and sf1 — part doesn't scale
    // past sf0.1 by testdata design).
    Q("qe04_jw_unicode_match",
      """WITH p AS (SELECT p_partkey,
        |             translate(p_name, 'aeiou', 'áéíóü') AS nm,
        |             p_brand, p_size FROM part)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(floor(jaro_winkler_similarity(a.nm, b.nm)
        |    * 1000000 + 0.5) AS BIGINT) AS jw_micro
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE CAST(floor(jaro_winkler_similarity(a.nm, b.nm)
        |    * 1000000 + 0.5) AS BIGINT) >= 900000""".stripMargin) { (s, dir) =>
      graft.operators.EntityResolution.blockedJaroWinklerPairs(
        Tables(s, dir, "part")
          .withColumnRenamed("p_partkey", "id")
          .withColumn("nm", translate(col("p_name"), "aeiou", "áéíóü")),
        idCol = "id", strCol = "nm",
        blockCols = Seq("p_brand", "p_size"), minMicro = 900000L)
    }
  )
}
