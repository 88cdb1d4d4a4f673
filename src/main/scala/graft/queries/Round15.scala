package graft.queries

import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.functions.Text
import graft.operators.{Curation, Dedup, EntityResolution, UnigramLm}

/** Round-15 gate additions: privacy (k-anonymity) and the trained
  * unigram-LM tokenizer. Same discipline as every other suite — each
  * gate is a DuckDB-oracle hash compare at sf0.01, with the learned /
  * non-SQL-expressible parts locked by invariant flags the oracle
  * knows must all be 1 (the qt18 pattern) plus ScalaTest specs.
  */
object Round15 {

  /** qt30's trained-and-persisted unigram vocabulary per sf dir —
    * trained ONCE per JVM (the serve gate's operator is the SERVE, so
    * bench passes 2..n time the stream encode, not the one-time train).
    */
  private def ugVocabPath(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    Fixture.once("qt30_vocab", dir) {
      val out = Fixture.dir("graft_qt30_vocab")
      val vocab = graft.operators.UnigramLm.train(Tables(s, dir, "documents"),
        "text")
      graft.operators.Models.saveVocab(s, vocab, s"$out/vocab")
      s"$out/vocab"
    }

  def all: Seq[Q] = Seq(

    // ----- k-anonymity suppression ladder (privacy release gate) --------
    // Quasi-identifiers (market segment, nation) generalize right-to-
    // left until every published group has >= k members; the terminal
    // all-'*' level is unconditional. The oracle replays the ladder
    // with window counts over the same residuals, so ANY semantic
    // drift — counting over the full table instead of the residual,
    // off-by-one on the k threshold, wrong generalization order —
    // breaks the hash, and the builder additionally REQUIRES the
    // published groups to satisfy k (the property the gate exists
    // for), so a regression goes red even if oracle and engine drift
    // together.
    Q("qq03_k_anonymity",
      """WITH b AS (SELECT c_mktsegment AS seg,
        |             CAST(c_nationkey AS VARCHAR) AS nat FROM customer),
        |l0 AS (SELECT seg, nat, COUNT(*) OVER (PARTITION BY seg, nat) AS c0
        |       FROM b),
        |k0 AS (SELECT seg, nat, 0 AS lvl FROM l0 WHERE c0 >= 20),
        |r0 AS (SELECT seg FROM l0 WHERE c0 < 20),
        |l1 AS (SELECT seg, COUNT(*) OVER (PARTITION BY seg) AS c1 FROM r0),
        |k1 AS (SELECT seg, '*' AS nat, 1 AS lvl FROM l1 WHERE c1 >= 20),
        |r1 AS (SELECT seg FROM l1 WHERE c1 < 20),
        |k2 AS (SELECT '*' AS seg, '*' AS nat, 2 AS lvl FROM r1),
        |u AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |      UNION ALL SELECT * FROM k2)
        |SELECT seg, nat, CAST(lvl AS BIGINT) AS anon_level,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM u GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val k = 20
      val anon = Curation.kAnonymize(
        Tables(s, dir, "customer")
          .select(col("c_mktsegment").as("seg"),
            col("c_nationkey").as("nat")),
        Seq("seg", "nat"), k = k)
      val out = anon
        .groupBy(col("seg"), col("nat"),
          col("anon_level").cast("long").as("anon_level"))
        .agg(count(lit(1)).as("n"))
      require(out.filter(col("anon_level") < 2 && col("n") < k).isEmpty,
        s"k-anonymity violated: a published non-terminal group has < $k rows")
      out
    },

    // ----- l-diversity audit over the k-anonymity ladder -----------------
    // k alone doesn't stop attribute disclosure: a published group
    // whose members all share the SENSITIVE value (here: negative
    // account balance) reveals it for everyone in the group even
    // without re-identification. The report = per published group,
    // size AND distinct sensitive values — the reviewer reads
    // l_distinct = 1 rows as disclosure risks. Also proves
    // kAnonymize carries non-quasi payload columns through the
    // ladder untouched.
    Q("qq04_l_diversity",
      """WITH b AS (SELECT c_mktsegment AS seg,
        |             CAST(c_nationkey AS VARCHAR) AS nat,
        |             CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END
        |               AS sens
        |           FROM customer),
        |l0 AS (SELECT seg, nat, sens,
        |         COUNT(*) OVER (PARTITION BY seg, nat) AS c0 FROM b),
        |k0 AS (SELECT seg, nat, sens, 0 AS lvl FROM l0 WHERE c0 >= 20),
        |r0 AS (SELECT seg, sens FROM l0 WHERE c0 < 20),
        |l1 AS (SELECT seg, sens,
        |         COUNT(*) OVER (PARTITION BY seg) AS c1 FROM r0),
        |k1 AS (SELECT seg, '*' AS nat, sens, 1 AS lvl FROM l1
        |       WHERE c1 >= 20),
        |r1 AS (SELECT seg, sens FROM l1 WHERE c1 < 20),
        |k2 AS (SELECT '*' AS seg, '*' AS nat, sens, 2 AS lvl FROM r1),
        |u AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |      UNION ALL SELECT * FROM k2)
        |SELECT seg, nat, CAST(lvl AS BIGINT) AS anon_level,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct
        |FROM u GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "customer").select(
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat"),
        when(col("c_acctbal") < 0, "neg").otherwise("pos").as("sens"))
      Curation.kAnonymize(base, Seq("seg", "nat"), k = 20)
        .groupBy(col("seg"), col("nat"),
          col("anon_level").cast("long").as("anon_level"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("sens")).as("l_distinct"))
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

    // ----- unigram-LM tokenizer encode round-trip ------------------------
    // The trained-model twin of qt18: the learned piece table is
    // data-dependent (Viterbi EM — not expressible as a static
    // oracle), so the gate checks the invariants every correct
    // unigram encoder satisfies per document: concatenating the
    // emitted pieces reproduces the concatenated words exactly
    // (lossless segmentation — the coverage floor's contract), and
    // the piece count sits in [n_words, n_chars] (>= 1 piece per
    // word, pieces never shorter than a character). Model quality and
    // determinism are locked by UnigramLmSpec (partitioning-invariant
    // piece table, EM convergence to multi-char pieces, coverage).
    Q("qt29_unigram_encode",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val vocab = UnigramLm.train(docs, "text")
      val enc = UnigramLm.encode(docs, "doc_id", "text", vocab)
      docs.select(col("doc_id"), expr(Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("pieces"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_pieces"), lit(0L)) >=
            size(col("__ws")).cast("long") &&
            coalesce(col("n_pieces"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    },

    // ----- sketch-algebra set intersection ---------------------------------
    // q54 proved the persisted-sketch UNION answers any date range
    // without a rescan; this is the other half of the algebra: the
    // OVERLAP of two audiences from the same per-segment sketches via
    // inclusion-exclusion (est A + est B − est A∪B, the union being a
    // register-wise sketch merge — no raw data touched). At 100 TB
    // the per-segment sketches are KBs and any pairwise overlap
    // matrix costs |segments|² merges, not a corpus self-join. The
    // verdict bands the estimate against 10% of the exact UNION size
    // (inclusion-exclusion error scales with the union, not the
    // intersection); the exact arm rides the same gate row, so the
    // oracle pins both the true intersection and the verdict.
    Q("qa12_sketch_intersect",
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |        COUNT(*) AS inter
        |      FROM d x JOIN d y ON x.user_id = y.user_id
        |        AND x.event_type < y.event_type
        |      GROUP BY 1, 2),
        |t AS (SELECT DISTINCT event_type FROM d)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(COALESCE(i.inter, 0) AS BIGINT) AS exact_intersect,
        |  TRUE AS within_band
        |FROM t a JOIN t b ON a.event_type < b.event_type
        |LEFT JOIN i ON i.type_a = a.event_type
        |  AND i.type_b = b.event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events").createOrReplaceTempView("graft_qa12_events")
      s.sql(
        """WITH d AS (SELECT DISTINCT event_type, user_id
          |           FROM graft_qa12_events),
          |sk AS (SELECT event_type, hll_sketch_agg(user_id) AS sk,
          |         COUNT(*) AS n FROM d GROUP BY 1),
          |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |        hll_sketch_estimate(a.sk) + hll_sketch_estimate(b.sk)
          |          - hll_sketch_estimate(hll_union(a.sk, b.sk)) AS est,
          |        a.n AS na, b.n AS nb
          |      FROM sk a JOIN sk b ON a.event_type < b.event_type),
          |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
          |        COUNT(*) AS inter
          |      FROM d x JOIN d y ON x.user_id = y.user_id
          |        AND x.event_type < y.event_type
          |      GROUP BY 1, 2)
          |SELECT p.type_a, p.type_b,
          |  CAST(COALESCE(i.inter, 0) AS BIGINT) AS exact_intersect,
          |  (abs(p.est - COALESCE(i.inter, 0)) <=
          |    0.10 * (p.na + p.nb - COALESCE(i.inter, 0))) AS within_band
          |FROM p LEFT JOIN i ON p.type_a = i.type_a
          |  AND p.type_b = i.type_b""".stripMargin)
    },

    // ----- tokenizer release composition ----------------------------------
    // The end-to-end "ship a tokenized training corpus" pipeline:
    // quality-filter (qt02's heuristic — kept ⇔ >= 20 words, the
    // bucket rule's exact low-boundary), pack survivors into
    // per-source 512-token shards (qc02's running-sum discipline),
    // and encode every kept document with the PERSISTED unigram
    // vocabulary (qt30's registry artifact). The per-shard rollup is
    // exact where SQL can follow (doc counts, token sums, the
    // filter+pack replay) and invariant-flagged where the model is
    // learned (piece totals bounded by [words, chars] — any encoder
    // or join regression zeroes the flag and breaks the hash).
    Q("qp12_tokenizer_release", {
      val wSrc = s"SELECT doc_id, ${Text.wordsSql("text")} AS ws FROM documents"
      s"""WITH w AS ($wSrc),
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens
         |      FROM w WHERE len(ws) >= 20),
         |j AS (SELECT d.doc_id, d.source, t.tokens
         |      FROM documents d JOIN t USING (doc_id)),
         |c AS (SELECT doc_id, source, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS cb
         |  FROM j),
         |p AS (SELECT doc_id, source, tokens,
         |        CAST(cb // 512 AS BIGINT) AS shard FROM c)
         |SELECT source, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tokens) AS BIGINT) AS ws_tokens,
         |  CAST(1 AS BIGINT) AS pieces_ok
         |FROM p GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val kept = docs
        .join(graft.operators.TextAnalysis
          .qualityScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_bucket")), Seq("doc_id"))
        .filter(col("quality_bucket") =!= "low")
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
      val packed = Curation.packByBudget(kept, "doc_id", "tokens", "source",
        budget = 512L)
      val vocab = graft.operators.Models.loadVocab(s, ugVocabPath(s, dir))
      val enc = UnigramLm.encode(kept, "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_pieces"))
      val chars = docs.select(col("doc_id"),
        aggregate(transform(expr(Text.wordsExpr("text")), w => length(w)),
          lit(0L), (a, x) => a + x).as("chars"))
      packed.join(enc, Seq("doc_id"))
        .join(chars, Seq("doc_id"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("ws_tokens"),
          (sum(col("n_pieces")) >= sum(col("tokens")) &&
            sum(col("n_pieces")) <= sum(col("chars")))
            .cast("long").as("pieces_ok"))
    },

    // ----- streaming tokenizer serving -----------------------------------
    // The deploy shape of qt29 (the qt28 discipline applied to the
    // tokenizer): the SAME persisted vocabulary encodes the corpus
    // arriving as two micro-batches (streaming.EncodeIngest, per-batch
    // overwrite idempotency), and the served pieces satisfy the
    // IDENTICAL per-document invariants — oracle text shared with
    // qt29 verbatim. Stream-vs-batch bit-identity of the pieces
    // themselves is EncodeIngestSpec's lock.
    Q("qt30_stream_encoded",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val vp = ugVocabPath(s, dir)
      // one pieces dir per sf dir: applyBatch overwrites its own
      // batch=N subdirs, so re-invocations re-encode in place instead
      // of leaving a fresh directory per bench/verify pass
      val out = Fixture.once("qt30_pieces", dir) {
        Fixture.dir("graft_qt30_pieces")
      }
      val docs = Tables(s, dir, "documents")
      graft.streaming.EncodeIngest.applyBatch(s,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", vp, out, 0L)
      graft.streaming.EncodeIngest.applyBatch(s,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", vp, out, 1L)
      val enc = graft.streaming.EncodeIngest.serve(s, out)
        .select("doc_id", "pieces", "n_pieces")
      docs.select(col("doc_id"), expr(Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("pieces"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_pieces"), lit(0L)) >=
            size(col("__ws")).cast("long") &&
            coalesce(col("n_pieces"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    })
}
