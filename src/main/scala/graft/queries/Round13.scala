package graft.queries

import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.functions.{Exact, Text}
import graft.operators.{Bpe, Curation, Dedup, Retrieval, Similarity, TextAnalysis}

/** Round-13 additions: the retrieval side of the training-data pipeline
  * (lexical BM25, hybrid BM25 ⊕ vector RRF fusion) plus the BPE encode
  * round-trip that closes the tokenizer story (train qt16 → encode →
  * detokenize-identity). Exactness notes live on graft.operators.Retrieval.
  */
object Round13 {

  private val wCte =
    s"SELECT doc_id, text, ${Text.wordsSql("text")} AS ws FROM documents"

  /** Shared oracle prelude: documents → (did, dl, ws), corpus scalars,
    * exploded (did, dl, word), per-(doc, word) tf.
    */
  private val bm25Prelude =
    s"""w AS ($wCte),
       |d AS (SELECT doc_id AS did, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |             CAST(SUM(dl) AS BIGINT) AS tot_dl FROM d),
       |wd AS (SELECT did, dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT did, dl, word, COUNT(*) AS tf FROM wd GROUP BY 1, 2, 3)""".stripMargin

  /** The per-(doc, term) BM25 contribution — textually mirrors
    * Retrieval.bm25Term op-for-op (all exact IEEE ops, see the operator
    * scaladoc for why the idf keeps the ratio instead of its log).
    */
  private val bm25ScoreSql =
    """((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      | * (CAST(tf AS DOUBLE) * 2.2)
      | / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
      |      / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""".stripMargin

  private val Bm25Terms = Seq("vector", "stream", "window", "spark")

  private val bm25OracleSql =
    s"""WITH $bm25Prelude,
       |tfq AS (SELECT * FROM tf
       |        WHERE word IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})),
       |tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df FROM tfq),
       |sc AS (SELECT did, $bm25ScoreSql AS score FROM tfd, s),
       |agg AS (SELECT did, ${Exact.dsumSql("score")} AS bm25
       |        FROM sc GROUP BY did)
       |SELECT did AS doc_id, bm25, rnk FROM (
       |  SELECT did, bm25,
       |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, did) AS rnk FROM agg)
       |WHERE rnk <= 10""".stripMargin

  // ----- shared retrieval arms, memoized per sf dir --------------------
  // qs17/qs19/qs20 read the SAME lexical BM25 arm, qs19/qs20 the same
  // exact-cosine truth, and qs17/qs23 the same exact semantic arm —
  // r13 rebuilt each from scratch per gate (~11 s of the suite spent
  // recomputing identical frames). Each is built once per (JVM, sf
  // dir) into a temp parquet, read back by every consumer. Every column
  // is an integer id/rank, so the parquet round trip is bit-exact and
  // the gate hashes are unchanged.
  //
  // The query sets are the `% 100` FIXTURE slices of the corpus tables
  // — constructed HERE, at the gate, and passed to the operators as
  // explicit bounded frames (the operators' bounded-query contract;
  // the oracle SQL mirrors the same fixture so hashes reproduce).

  /** The gates' fixed lexical query set: documents with id ≡ 0 (mod
    * 100). A fixture choice, not operator behavior — the operators take
    * the query frame as a parameter.
    */
  private def queryDocsOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "documents").filter(col("doc_id") % 100 === 0)

  /** The gates' fixed semantic query set: vectors with id ≡ 0 (mod 100). */
  private def queryVecsOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "embeddings").filter(col("vec_id") % 100 === 0)

  private def memoParquet(
      tag: String, s: org.apache.spark.sql.SparkSession, dir: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val path = Fixture.once(tag, dir) {
      val out = Fixture.dir(s"graft_$tag")
      build.write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(path)
  }

  /** Lexical BM25 arm, kArm = 20: (qid, did, rl). */
  private def lexArm20(s: org.apache.spark.sql.SparkSession, dir: String) =
    memoParquet("lexarm", s, dir) {
      Retrieval.bm25PerQueryTopK(Tables(s, dir, "documents"),
        "doc_id", "text", queryDocsOf(s, dir), kArm = 20)
    }

  /** Exact-cosine semantic arm, kArm = 20: (sqid, sdid, rs). */
  private def semArm20(s: org.apache.spark.sql.SparkSession, dir: String) =
    memoParquet("semarm", s, dir) {
      Similarity.cosineTopK(Tables(s, dir, "embeddings"),
          queryVecsOf(s, dir), "vec_id", "embedding", k = 20)
        .select(col("query_id").as("sqid"), col("neighbor_id").as("sdid"),
          col("rnk").as("rs"))
    }

  /** Exact-cosine relevance truth, k = 10: (query_id, neighbor_id, rnk). */
  private def truth10(s: org.apache.spark.sql.SparkSession, dir: String) =
    memoParquet("truth", s, dir) {
      Similarity.cosineTopK(Tables(s, dir, "embeddings"),
        queryVecsOf(s, dir), "vec_id", "embedding", k = 10)
    }

  /** The novelty CTE chain (assumes `w`) — shared by qt22/qt24's
    * oracle AND qp09's composition, so the novelty definition lives in
    * ONE place on the oracle side too.
    */
  private val noveltyCtes =
    s"""sh AS (SELECT doc_id, ${Text.shinglesSql("ws")} AS s FROM w),
       |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
       |nsh AS (SELECT doc_id, COUNT(*) AS n_shingles FROM e GROUP BY doc_id),
       |nvl AS (SELECT fid AS doc_id, COUNT(*) AS n_novel FROM
       |         (SELECT min(doc_id) AS fid FROM e GROUP BY sh)
       |        GROUP BY fid)""".stripMargin

  private val noveltyRateSql =
    """CASE WHEN COALESCE(n_shingles, 0) = 0 THEN 0.0
      |     ELSE CAST(COALESCE(n_novel, 0) AS DOUBLE)
      |          / CAST(n_shingles AS DOUBLE) END""".stripMargin

  /** qt22's oracle body — shared verbatim by qt24 (the incrementally-
    * maintained serve path must be bit-identical to the corpus scan).
    */
  private val noveltyOracleSql =
    s"""WITH w AS ($wCte),
       |$noveltyCtes
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
       |  $noveltyRateSql AS novelty
       |FROM documents d
       |LEFT JOIN nsh USING (doc_id) LEFT JOIN nvl USING (doc_id)""".stripMargin

  /** Lexical per-query arm (Retrieval.bm25PerQueryTopK): qw..lt CTEs,
    * `lt` = (qid, did, rl), rl <= kArm. Assumes `bm25Prelude` + `d`.
    */
  private def lexArmSql(kArm: Int) =
    s"""qw AS (SELECT DISTINCT qid, word FROM
       |        (SELECT did AS qid, unnest(ws) AS word FROM d
       |         WHERE did % 100 = 0)),
       |qv AS (SELECT DISTINCT word FROM qw),
       |tfq AS (SELECT tf.* FROM tf JOIN qv USING (word)),
       |tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df FROM tfq),
       |sc AS (SELECT qid, did, $bm25ScoreSql AS score
       |       FROM tfd JOIN qw USING (word), s WHERE did <> qid),
       |lex AS (SELECT qid, did, ${Exact.dsumSql("score")} AS lex
       |        FROM sc GROUP BY qid, did),
       |lexr AS (SELECT qid, did, ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY lex DESC, did) AS rl FROM lex),
       |lt AS (SELECT qid, did, rl FROM lexr WHERE rl <= $kArm)""".stripMargin

  /** Semantic per-query arm (exact cosine): e..st CTEs, `st` =
    * (sqid, sdid, rs), rs <= kArm.
    */
  private def semArmSql(kArm: Int) =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |q AS (SELECT vec_id AS sqid, v AS qv, nrm AS qnrm FROM n
       |      WHERE vec_id % 100 = 0),
       |p AS (SELECT sqid, vec_id AS sdid,
       |        list_dot_product(qv, v) / (qnrm * nrm) AS sim
       |      FROM q, n WHERE vec_id <> sqid),
       |sr AS (SELECT sqid, sdid, ROW_NUMBER() OVER (PARTITION BY sqid
       |         ORDER BY sim DESC, sdid) AS rs FROM p),
       |st AS (SELECT sqid, sdid, rs FROM sr WHERE rs <= $kArm)""".stripMargin

  /** qs21's oracle: the greedy MMR recurrence UNROLLED to `k` CTE
    * layers (the Pipeline centroid-iteration discipline) — each layer
    * is the argmax of `0.5·rel − 0.5·max_sim_to_picked` over the not-
    * yet-picked candidates, so the oracle replays the exact greedy
    * walk rather than spot-checking invariants. λ is the literal 0.5
    * in BOTH engines (exactly representable).
    */
  private def mmrOracleSql(kCand: Int, k: Int): String = {
    val base =
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
         |      WHERE vec_id % 100 = 0),
         |c0 AS (SELECT qid, vec_id AS did,
         |         list_dot_product(qv, v) / (qnrm * nrm) AS rel
         |       FROM q, n WHERE vec_id <> qid),
         |c1 AS (SELECT qid, did, rel, ROW_NUMBER() OVER (PARTITION BY qid
         |         ORDER BY rel DESC, did) AS rs FROM c0),
         |cand AS (SELECT qid, did, rel FROM c1 WHERE rs <= $kCand),
         |cv AS (SELECT cand.*, n.v, n.nrm FROM cand JOIN n ON n.vec_id = cand.did),
         |cs AS (SELECT a.qid, a.did AS da, b.did AS db,
         |         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
         |       FROM cv a JOIN cv b ON a.qid = b.qid AND a.did <> b.did),
         |sel1 AS (SELECT qid, did, rel, 0.0 AS pen,
         |           0.5 * rel - 0.5 * 0.0 AS score, CAST(1 AS BIGINT) AS rnk
         |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |                 ORDER BY rel DESC, did) AS rn FROM cand)
         |         WHERE rn = 1),
         |selu1 AS (SELECT qid, did FROM sel1)""".stripMargin
    val steps = (2 to k).map { t =>
      s"""rem$t AS (SELECT c.* FROM cand c WHERE NOT EXISTS
         |  (SELECT 1 FROM selu${t - 1} s WHERE s.qid = c.qid AND s.did = c.did)),
         |pen$t AS (SELECT cs.qid, cs.da AS did, MAX(cs.sim) AS pen
         |          FROM cs JOIN selu${t - 1} s ON cs.qid = s.qid AND cs.db = s.did
         |          GROUP BY cs.qid, cs.da),
         |sc$t AS (SELECT r.qid, r.did, r.rel, p.pen,
         |           0.5 * r.rel - 0.5 * p.pen AS score
         |         FROM rem$t r JOIN pen$t p ON r.qid = p.qid AND r.did = p.did),
         |sel$t AS (SELECT qid, did, rel, pen, score, CAST($t AS BIGINT) AS rnk
         |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |                  ORDER BY score DESC, did) AS rn FROM sc$t)
         |          WHERE rn = 1),
         |selu$t AS (SELECT qid, did FROM selu${t - 1}
         |           UNION ALL SELECT qid, did FROM sel$t)""".stripMargin
    }
    val unions = (1 to k)
      .map(t => s"SELECT qid AS query_id, did AS doc_id, rnk, rel, pen, score FROM sel$t")
      .mkString("\nUNION ALL\n")
    s"WITH ${(base +: steps).mkString(",\n")}\n$unions"
  }

  /** qt31's oracle: the full RM3 replay — first-pass arm (lexArmSql at
    * kArm = fbDocs), expansion term mining (total tf over the feedback
    * docs, query terms anti-joined away, top-fbTerms by (tf desc,
    * word)), then the weighted rescore with weights as ROW
    * MULTIPLICITY (qw unions in twice — matching the operator, so the
    * score stays a pure decimal sum in both engines).
    */
  private def rm3OracleSql(fbDocs: Int, fbTerms: Int, k: Int) =
    s"""WITH $bm25Prelude,
       |${lexArmSql(fbDocs)},
       |ftf AS (SELECT fb.qid, tf.word, SUM(tf.tf) AS ftf
       |        FROM (SELECT qid, did FROM lt) fb
       |        JOIN tf USING (did)
       |        LEFT JOIN qw q2 ON q2.qid = fb.qid AND q2.word = tf.word
       |        WHERE q2.word IS NULL
       |        GROUP BY fb.qid, tf.word),
       |expq AS (SELECT qid, word FROM (
       |          SELECT qid, word, ROW_NUMBER() OVER (PARTITION BY qid
       |            ORDER BY ftf DESC, word) AS re FROM ftf)
       |         WHERE re <= $fbTerms),
       |terms AS (SELECT qid, word FROM qw UNION ALL
       |          SELECT qid, word FROM qw UNION ALL
       |          SELECT qid, word FROM expq),
       |tv AS (SELECT DISTINCT word FROM terms),
       |tf2 AS (SELECT tf.* FROM tf JOIN tv USING (word)),
       |tfd2 AS (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df FROM tf2),
       |sc2 AS (SELECT t.qid, tfd2.did, $bm25ScoreSql AS score
       |        FROM tfd2 JOIN terms t USING (word), s
       |        WHERE tfd2.did <> t.qid),
       |rm AS (SELECT qid, did, ${Exact.dsumSql("score")} AS rm3
       |       FROM sc2 GROUP BY qid, did),
       |rmr AS (SELECT qid, did, rm3, ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY rm3 DESC, did) AS rr FROM rm)
       |SELECT qid, did, rm3, CAST(rr AS BIGINT) AS rr
       |FROM rmr WHERE rr <= $k""".stripMargin

  /** qs19's per-query metrics: system = lexical arm top-20, truth =
    * exact cosine top-10. Factored so qs20's rollup wraps it verbatim.
    */
  private val evalPerQuerySql =
    s"""WITH $bm25Prelude,
       |${lexArmSql(20)},
       |${semArmSql(10)},
       |j AS (SELECT st.sqid AS query_id, st.sdid AS doc_id, lt.rl
       |      FROM st LEFT JOIN lt ON lt.qid = st.sqid AND lt.did = st.sdid),
       |m AS (SELECT query_id,
       |        CAST(COUNT(*) AS BIGINT) AS n_truth,
       |        CAST(COUNT(rl) AS BIGINT) AS hits,
       |        CAST(COUNT(rl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall,
       |        CASE WHEN MIN(rl) IS NULL THEN 0.0
       |             ELSE 1.0 / CAST(MIN(rl) AS DOUBLE) END AS rr
       |      FROM j GROUP BY query_id)
       |SELECT query_id, n_truth, hits, recall, rr FROM m""".stripMargin

  val all: Seq[Q] = Seq(

    // ----- BM25 lexical retrieval (log-free idf, exact) ------------------
    Q("qt20_bm25", bm25OracleSql) { (s, dir) =>
      Retrieval.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 10)
    },

    // ----- BM25 served from the incrementally-maintained index -----------
    // SAME oracle text as qt20, deliberately: the gate proves the
    // index path (postings dirs + merged vocab/stats,
    // streaming.IndexIngest) reproduces the corpus-scan path bit for
    // bit after a multi-batch build — the serving side of the
    // streaming ingest, under the strict hash gate rather than
    // spec-only equality.
    Q("qt21_bm25_indexed", bm25OracleSql) { (s, dir) =>
      // built once (two disjoint doc_id-parity batches), served many
      // times
      val path = Fixture.once("qt21_index", dir) {
        val out = Fixture.dir("graft_qt21_idx")
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        graft.streaming.IndexIngest.applyBatch(
          s, docs.filter(col("doc_id") % 2 === 0), out, 0L)
        graft.streaming.IndexIngest.applyBatch(
          s, docs.filter(col("doc_id") % 2 === 1), out, 1L)
        out
      }
      graft.streaming.IndexIngest.bm25(s, path, Bm25Terms, k = 10)
    },

    // ----- RM3 pseudo-relevance-feedback expansion ------------------------
    // The classic fix for vocabulary mismatch: queries whose literal
    // terms miss relevant documents recover them through terms mined
    // from the first-pass top-5. The oracle replays ALL of it — arm,
    // mining, anti-join, weighted rescore — so the gate is an exact
    // hash compare, not an invariant check; weights ride as row
    // multiplicity to keep the score a pure decimal sum cross-engine.
    Q("qt31_rm3_expansion", rm3OracleSql(fbDocs = 5, fbTerms = 3, k = 10)) {
      (s, dir) =>
        // first pass = the memoized shared arm (qs17/qs19/qs20's),
        // truncated to fbDocs by the rank-prefix property — the gate
        // times the expansion + rescore, not a third rebuild of the
        // identical arm (the r13 memoization discipline)
        Retrieval.rm3ExpandedTopK(Tables(s, dir, "documents"),
          "doc_id", "text", queryDocsOf(s, dir),
          fbDocs = 5, fbTerms = 3, k = 10,
          firstPass = Some(lexArm20(s, dir)))
    },

    // ----- hybrid retrieval: BM25 arm + cosine arm, RRF fusion -----------
    Q("qs17_hybrid_rrf",
      s"""WITH $bm25Prelude,
         |${lexArmSql(20)},
         |${semArmSql(20)},
         |f AS (SELECT COALESCE(lt.qid, st.sqid) AS query_id,
         |        COALESCE(lt.did, st.sdid) AS doc_id,
         |        COALESCE(lt.rl, CAST(0 AS BIGINT)) AS rnk_lex,
         |        COALESCE(st.rs, CAST(0 AS BIGINT)) AS rnk_sem,
         |        (CASE WHEN lt.rl IS NULL THEN 0.0
         |              ELSE 1.0 / CAST(60 + lt.rl AS DOUBLE) END
         |         + CASE WHEN st.rs IS NULL THEN 0.0
         |               ELSE 1.0 / CAST(60 + st.rs AS DOUBLE) END) AS rrf
         |      FROM lt FULL OUTER JOIN st
         |        ON lt.qid = st.sqid AND lt.did = st.sdid)
         |SELECT query_id, doc_id, rnk_lex, rnk_sem, rrf, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rnk FROM f)
         |WHERE rnk <= 10""".stripMargin) { (s, dir) =>
      // rrfFuse over the memoized arms ≡ hybridRrfTopK over the same
      // query fixtures (RetrievalSpec locks the equivalence); the gate
      // reads the shared arms so qs17/qs19/qs20 stop triple-building
      // identical frames.
      Retrieval.rrfFuse(lexArm20(s, dir), semArm20(s, dir), k = 10, rrfK = 60)
    },

    // ----- hybrid retrieval with the ANN (IVF) semantic arm --------------
    // Proves rrfFuse's documented arm pluggability AT THE GATE level:
    // the semantic arm is Ivf.search (qs06's deterministic coarse
    // quantizer, cells=8, nprobe=4) instead of the exact cosine, fused
    // with the UNCHANGED lexical arm. The verdict row is per-semantic-
    // query overlap between the ANN-armed fused top-10 and the
    // exact-armed fused top-10 (qs05/qs06's recall_ok discipline: both
    // paths are deterministic, so `hits >= floor` is a reproducible
    // integer the oracle can state as all-ones; measured min hits@10 =
    // 8 at sf0.001, 7 at sf0.01, 6 at sf0.1, 7 at sf1
    // (tools.HybridTune at commit d5f8002) — fusion shares the whole
    // lexical arm, so fused overlap sits above the raw qs06 floor; gate
    // floor 4 keeps the qs05-style safety margin under the measured
    // minima).
    Q("qs23_hybrid_ann_recall",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one bounded query frame for the ANN arm and the scoring key set
      // (the Pipeline qs05 materialization discipline)
      val qv = queryVecsOf(s, dir).localCheckpoint()
      val model = graft.operators.Ivf.train(s, emb, "vec_id", "embedding",
        k = 8)
      val annSem = graft.operators.Ivf.search(emb, qv,
          model, "vec_id", "embedding", k = 20, nprobe = 4)
        .select(col("query_id").as("sqid"), col("neighbor_id").as("sdid"),
          col("rnk").as("rs"))
      val annFused = Retrieval.rrfFuse(lexArm20(s, dir), annSem,
        k = 10, rrfK = 60)
      val exactFused = Retrieval.rrfFuse(lexArm20(s, dir), semArm20(s, dir),
        k = 10, rrfK = 60)
      // score only the semantic-query set: lexical-only queries fuse
      // identically in both paths by construction (the lex arm is
      // shared), so they carry no signal about the swapped arm
      val semQids = qv.select(col("vec_id").as("query_id"))
      Similarity.recallHits(
          exactFused.join(semQids, Seq("query_id"))
            .select(col("query_id"), col("doc_id").as("neighbor_id")),
          annFused.select(col("query_id"), col("doc_id").as("neighbor_id")))
        .select(col("query_id"),
          (col("hits") >= 4).cast("long").as("recall_ok"))
    },

    // ----- retrieval evaluation: recall@k + reciprocal rank --------------
    // The retriever-selection step: score the lexical BM25 arm (top-20)
    // against the exact-cosine semantic top-10 as the relevance truth.
    // Per-query counts are integers; recall/rr are single IEEE
    // divisions — bit-exact cross-engine. Truth queries with zero
    // lexical hits still emit a row (rr = 0.0), so a system arm that
    // silently drops a query breaks the hash.
    Q("qs19_retrieval_eval", evalPerQuerySql) { (s, dir) =>
      Retrieval.evalRanking(lexArm20(s, dir), "qid", "did", "rl",
        truth10(s, dir), "query_id", "neighbor_id")
    },

    // ----- retrieval evaluation rollup: MRR + macro recall ---------------
    // The corpus-level scoreboard over qs19's per-query rows; means ride
    // the decimal exact-sum so aggregation order can't perturb them.
    Q("qs20_eval_rollup",
      s"""WITH base AS ($evalPerQuerySql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  ${Exact.davgSql("rr")} AS mrr,
         |  ${Exact.davgSql("recall")} AS macro_recall
         |FROM base""".stripMargin) { (s, dir) =>
      Retrieval.evalRanking(lexArm20(s, dir), "qid", "did", "rl",
          truth10(s, dir), "query_id", "neighbor_id")
        .agg(
          count(lit(1)).as("n_queries"),
          (Exact.dsum(col("rr")) / count(lit(1))).as("mrr"),
          (Exact.dsum(col("recall")) / count(lit(1))).as("macro_recall"))
    },

    // ----- BPE encode round-trip (train qt16 → encode → detokenize) ------
    // The learned merge table is data-dependent (not expressible as a
    // static oracle), so the gate checks the INVARIANTS every correct
    // encoder satisfies, per document: concatenating the emitted tokens
    // reproduces the concatenated words exactly (lossless segmentation),
    // and the token count sits in [n_words, n_chars] (every word is >= 1
    // token, merges only shrink). Zero-word documents encode to the
    // empty token sequence. Same oracle discipline as the ANN recall_ok
    // gates: the oracle knows every flag must be 1, so ANY encoder
    // regression — dropped word, reordered token, phantom merge — breaks
    // the hash. Merge-priority correctness itself is locked by BpeSpec
    // (batched == sequential, pair-for-pair).
    Q("qt18_bpe_encode",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val merges = Bpe.trainBatched(docs, "text", numMerges = 16)
      val enc = Bpe.encode(docs, "doc_id", "text", merges)
      docs.select(col("doc_id"), expr(Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("tokens"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_tokens"), lit(0L)) >= size(col("__ws")).cast("long") &&
            coalesce(col("n_tokens"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    },

    // ----- hard-negative mining (contrastive-training sampling) ----------
    // Retrieval/embedding training needs negatives that are CLOSE but
    // not positives: the rank band just past the positive set (here
    // 11..30 behind the top-10). Pure composition over the exact
    // cosine ranking, so the same qs01 exactness argument applies; at
    // scale the band rides whichever ANN arm replaces the exact
    // baseline (rank-band selection is arm-agnostic).
    Q("qs18_hard_negatives",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT qid, vec_id AS nid, list_dot_product(qv, v) / (qnrm * nrm) AS sim
        |  FROM q, n WHERE vec_id <> qid),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |      FROM p)
        |SELECT query_id, neighbor_id, rnk FROM r
        |WHERE rnk BETWEEN 11 AND 30""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", k = 30)
        .filter(col("rnk") >= 11)
    },

    // ----- leakage-safe train/val/test split -----------------------------
    // A hash split keyed on doc_id puts near-duplicate documents on
    // BOTH sides of a train/eval boundary — textbook contamination.
    // Keyed on the near-dup CLUSTER label (qd06's connected
    // components; singletons key on themselves) every member of a
    // cluster lands in the same split by construction. Composes
    // banding → exact verify → components → hash split under one
    // oracle; the split stays a pure function of the corpus (no
    // rand()), so re-runs and repartitioning cannot move a document.
    Q("qc13_leakage_safe_split", {
      val wCteL = s"SELECT doc_id, text, ${Text.wordsSql("text")} AS ws FROM documents"
      s"""WITH RECURSIVE w AS ($wCteL),
         |sh AS (SELECT doc_id, ${Text.shinglesSql("ws")} AS s FROM w),
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
         |g AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, grp, bucket,
         |  CASE WHEN bucket < 9800 THEN 'train'
         |       WHEN bucket < 9900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, grp,
         |  ${Text.polyhashSql("CAST(grp AS VARCHAR)")} % 10000 AS bucket
         |  FROM g)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val clusters = Pipeline.clustersOf(s, dir)
      val grouped = docs.select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("grp"))
      Curation.hashSplit(grouped, "grp", valBp = 100, testBp = 100)
        .select("doc_id", "grp", "bucket", "split")
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

    // ----- n-gram novelty (first-occurrence attribution) -----------------
    // Corpus-growth metric: what fraction of each document's distinct
    // 3-gram shingles first appear (smallest doc_id) in THAT document.
    // No pairwise work — the min's owner gets the credit straight off
    // the shingle -> min(doc_id) table (see
    // Dedup.firstOccurrenceNovelty for the two-linear-aggregate shape).
    Q("qt22_novelty", noveltyOracleSql) { (s, dir) =>
      Dedup.firstOccurrenceNovelty(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3)
    },

    // ----- novelty served from the incrementally-maintained state ---------
    // SAME oracle text as qt22, deliberately: the gate proves the
    // per-batch append-only shingle minima (streaming.NoveltyIngest)
    // merge back to the corpus-scan novelty bit for bit after a
    // multi-batch build — min is a monoid, so a later batch carrying
    // an earlier doc id correctly steals first-occurrence credit.
    Q("qt24_novelty_indexed", noveltyOracleSql) { (s, dir) =>
      val path = Fixture.once("qt24_state", dir) {
        val out = Fixture.dir("graft_qt24_nov")
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        graft.streaming.NoveltyIngest.applyBatch(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", out, 0L)
        graft.streaming.NoveltyIngest.applyBatch(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", out, 1L)
        out
      }
      graft.streaming.NoveltyIngest.serve(s, path, "doc_id")
    },

    // ----- packing-efficiency report over qc02's shards -------------------
    // Per (source, shard): docs, tokens, fill ratio vs the 512-token
    // budget, spill flag (the boundary document crosses by design —
    // documents are never split). The audit a packing step owes its
    // trainer: silent under-fill is wasted step time, systematic
    // overflow means the budget is mis-sized.
    Q("qc14_pack_stats",
      s"""WITH w AS ($wCte),
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens FROM w),
         |j AS (SELECT d.doc_id, d.source, t.tokens
         |      FROM documents d JOIN t USING (doc_id)),
         |c AS (SELECT doc_id, source, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM j),
         |packed AS (SELECT doc_id, source, tokens,
         |  CAST(cb // 512 AS BIGINT) AS shard FROM c)
         |SELECT source, shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tokens) AS BIGINT) AS tokens_used,
         |  CAST(SUM(tokens) AS DOUBLE) / CAST(512 AS DOUBLE) AS utilization,
         |  CAST(CASE WHEN SUM(tokens) > 512 THEN 1 ELSE 0 END AS BIGINT)
         |    AS over_budget
         |FROM packed GROUP BY source, shard""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .withColumn("tokens", size(expr(Text.wordsExpr("text"))).cast("long"))
      val packed = Curation.packByBudget(docs, "doc_id", "tokens", "source",
        budget = 512L)
      Curation.packStats(packed, "tokens", "source", budget = 512L)
    },

    // ----- MMR diversified re-ranking -------------------------------------
    // Relevance alone returns near-copies; MMR's greedy walk trades
    // relevance against redundancy pick by pick. The oracle UNROLLS
    // the same greedy recurrence to 5 CTE layers (see mmrOracleSql),
    // so the full walk — picks, penalties, scores — hash-matches, not
    // just the final set.
    Q("qs21_mmr_rerank", mmrOracleSql(kCand = 20, k = 5)) { (s, dir) =>
      Similarity.mmrRerank(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", queryVecsOf(s, dir), kCand = 20, k = 5, lambda = 0.5)
    },

    // ----- vocabulary coverage curve --------------------------------------
    // Tokenizer-design metric: corpus-token share covered by the top-N
    // words. N values bracket the gate corpus's vocabulary so the
    // partial slopes AND the full-coverage clamp both occur. The top-N
    // cut is TakeOrderedAndProject; only the ≤ max(N) survivors see a
    // window (rankTopK discipline).
    Q("qt23_vocab_coverage",
      s"""WITH w AS ($wCte),
         |t AS (SELECT unnest(ws) AS word FROM w),
         |c AS (SELECT word, COUNT(*) AS cnt FROM t GROUP BY word),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
         |      FROM c),
         |ns AS (SELECT unnest([4, 8, 16, 64]) AS n),
         |cov AS (SELECT n, CAST(SUM(cnt) AS BIGINT) AS covered
         |        FROM ns JOIN r ON rnk <= n GROUP BY n)
         |SELECT CAST(n AS BIGINT) AS n, covered, total,
         |  CAST(covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         |FROM cov, tot""".stripMargin) { (s, dir) =>
      TextAnalysis.vocabCoverage(Tables(s, dir, "documents"), "text",
        ns = Seq(4, 8, 16, 64))
    },

    // ----- deterministic weighted source interleave -----------------------
    // The execution step of a mixing plan: source s with weight w
    // surfaces its k-th doc at pos (k - 0.5) / w, so a pos-ordered
    // consumer draws proportionally at every prefix. Weights derive
    // from the portable hash of the source name (1..4) on BOTH
    // engines — every weight class occurs. rank/weight are integers,
    // pos is one exact IEEE subtract + divide.
    Q("qc15_mixture_interleave",
      s"""WITH r AS (SELECT doc_id, source,
         |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
         |    FROM documents),
         |wt AS (SELECT doc_id, source, rnk,
         |        1 + ${Text.polyhashSql("source")} % 4 AS w FROM r)
         |SELECT doc_id, source,
         |  CAST(rnk AS BIGINT) AS rank_in_source,
         |  CAST(w AS BIGINT) AS weight,
         |  (CAST(rnk AS DOUBLE) - 0.5) / CAST(w AS DOUBLE) AS pos
         |FROM wt""".stripMargin) { (s, dir) =>
      Curation.interleaveByWeight(Tables(s, dir, "documents"),
        "doc_id", "source",
        weight = lit(1L) + pmod(Text.polyhash(col("source")), lit(4L)))
    },

    // ----- embedding health profile ---------------------------------------
    // The pre-ANN monitoring report: per dimension, count/mean/min/max/
    // zero-count — a collapsed, dead, or runaway dimension shows up
    // here before it silently wrecks recall. Mean rides the decimal
    // exact-sum; everything else is exact by nature.
    Q("qs22_embedding_profile",
      s"""WITH e AS (SELECT vec_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |x AS (SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x
         |      FROM e)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${Exact.davgSql("x")} AS mean,
         |  MIN(x) AS vmin, MAX(x) AS vmax,
         |  CAST(SUM(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |FROM x GROUP BY dim""".stripMargin) { (s, dir) =>
      Similarity.embeddingProfile(Tables(s, dir, "embeddings"),
        "vec_id", "embedding")
    },

    // ----- curriculum composition: quality x novelty -> interleave --------
    // The end-to-end "make me a training curriculum" pipeline: qt02's
    // quality bucket gates admission (no 'low'), qt22's novelty floor
    // drops restatements (>= 0.5), and the survivors interleave with
    // high-quality documents upweighted 4:1 — a pos-ordered consumer
    // reads a quality-skewed, novelty-screened curriculum. One oracle
    // composes all three stages; every number is an exact integer,
    // ratio, or the interleave's subtract-and-divide.
    Q("qp09_curriculum",
      s"""WITH w AS ($wCte),
         |qm AS (SELECT doc_id,
         |        CAST(len(ws) AS BIGINT) AS n_words,
         |        CAST(len(list_distinct(ws)) AS BIGINT) * 1.0
         |          / CAST(len(ws) AS BIGINT) AS distinct_ratio
         |       FROM w),
         |b AS (SELECT doc_id,
         |        CASE WHEN n_words >= 40 AND distinct_ratio >= 0.35 THEN 'high'
         |             WHEN n_words >= 20 THEN 'medium'
         |             ELSE 'low' END AS quality_bucket
         |      FROM qm),
         |$noveltyCtes,
         |nov AS (SELECT d.doc_id, $noveltyRateSql AS novelty
         |        FROM documents d
         |        LEFT JOIN nsh USING (doc_id) LEFT JOIN nvl USING (doc_id)),
         |kept AS (SELECT b.doc_id, quality_bucket, novelty
         |         FROM b JOIN nov USING (doc_id)
         |         WHERE quality_bucket <> 'low' AND novelty >= 0.5),
         |r AS (SELECT doc_id, quality_bucket, novelty,
         |        ROW_NUMBER() OVER (PARTITION BY quality_bucket
         |          ORDER BY doc_id) AS rnk
         |      FROM kept)
         |SELECT doc_id, quality_bucket, novelty,
         |  CAST(rnk AS BIGINT) AS rank_in_source,
         |  CAST(CASE WHEN quality_bucket = 'high' THEN 4 ELSE 1 END
         |    AS BIGINT) AS weight,
         |  (CAST(rnk AS DOUBLE) - 0.5)
         |    / CAST(CASE WHEN quality_bucket = 'high' THEN 4 ELSE 1 END
         |        AS DOUBLE) AS pos
         |FROM r""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val qual = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_bucket"))
      val nov = Dedup.firstOccurrenceNovelty(docs, "doc_id", "text", n = 3)
        .select(col("doc_id"), col("novelty"))
      val kept = qual.join(nov, Seq("doc_id"))
        .filter(col("quality_bucket") =!= "low" && col("novelty") >= 0.5)
      Curation.interleaveByWeight(kept, "doc_id", "quality_bucket",
          weight = when(col("quality_bucket") === "high", 4L).otherwise(1L))
        .join(nov, Seq("doc_id"))
        .select(col("doc_id"), col("quality_bucket"), col("novelty"),
          col("rank_in_source"), col("weight"), col("pos"))
    },

    // ----- per-source percentile score calibration -------------------------
    // Raw quality scores aren't comparable across sources; each doc
    // gets its percentile WITHIN its source (0 = best), so a calib
    // threshold selects the top X% of EVERY source instead of letting
    // one source's scale dominate the mix.
    Q("qc16_score_calibration",
      s"""WITH w AS ($wCte),
         |m AS (SELECT w.doc_id, d.source,
         |        CAST(len(list_distinct(ws)) AS BIGINT) AS score
         |      FROM w JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, source, score,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY score DESC, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY source) AS cnt
         |      FROM m)
         |SELECT doc_id, source, score, CAST(rn AS BIGINT) AS rn,
         |  CASE WHEN cnt = 1 THEN 0.0
         |       ELSE CAST(rn - 1 AS DOUBLE) / CAST(cnt - 1 AS DOUBLE)
         |  END AS calib
         |FROM r""".stripMargin) { (s, dir) =>
      val scored = Tables(s, dir, "documents")
        .withColumn("score",
          size(array_distinct(expr(Text.wordsExpr("text")))).cast("long"))
      Curation.percentileCalibrate(scored, "doc_id", "source", "score")
    },

    // ----- tokenizer fertility by (label, predicted) language --------------
    // Subword tokens per word, grouped by the corpus's language label
    // AND qt01's prediction — tokenizer fertility and language-ID
    // confusion in one report (an English-centric tokenizer's
    // over-segmentation of other languages shows up per label even
    // when the predictor collapses to one class). Composes qt01's
    // language ID with qt03's token counts under one oracle; fertility
    // is one division of exact integer sums.
    Q("qt25_fertility", {
      val langs = Text.Stopwords.map(_._1)
      val scoreCols = langs
        .map(l => s"  ${Text.stopwordCountSql("ws", l)} AS score_$l")
        .mkString(",\n")
      val caseChain = langs.map { l =>
        val cond = langs.filter(_ != l)
          .map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString("\n    ")
      s"""WITH w AS ($wCte),
         |s AS (SELECT doc_id, ws,\n$scoreCols\nFROM w),
         |l AS (SELECT s.doc_id, ws, d.lang,
         |        CASE $caseChain ELSE '${langs.last}' END AS predicted_lang
         |      FROM s JOIN documents d USING (doc_id)),
         |t AS (SELECT lang, predicted_lang,
         |        CAST(len(ws) AS BIGINT) AS wt,
         |        CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4))
         |          AS BIGINT) AS bt
         |      FROM l)
         |SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(wt) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(bt) AS BIGINT) AS bpe_tokens,
         |  CASE WHEN SUM(wt) = 0 THEN 0.0
         |       ELSE CAST(SUM(bt) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE)
         |  END AS fertility
         |FROM t GROUP BY lang, predicted_lang""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables(s, dir, "documents"),
        "doc_id", "text", groupCols = Seq("lang"))
    },

    // ----- per-source dataset card -----------------------------------------
    // The report a curation pipeline publishes per source: volume,
    // token mass, exact duplicate rate, mean novelty, mean lexical
    // diversity — four of this round's operators rolled up under ONE
    // oracle. Means ride the decimal exact-sum; dup_rate is one exact
    // division of counts.
    Q("qc17_source_card",
      s"""WITH w AS ($wCte),
         |$noveltyCtes,
         |nov AS (SELECT d.doc_id, $noveltyRateSql AS novelty
         |        FROM documents d
         |        LEFT JOIN nsh USING (doc_id) LEFT JOIN nvl USING (doc_id)),
         |m AS (SELECT w.doc_id, d.source, d.text,
         |        CAST(len(ws) AS BIGINT) AS tokens,
         |        CAST(len(list_distinct(ws)) AS BIGINT) * 1.0
         |          / CAST(len(ws) AS BIGINT) AS distinct_ratio
         |      FROM w JOIN documents d USING (doc_id))
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tokens) AS BIGINT) AS tokens,
         |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
         |  1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
         |  ${Exact.davgSql("novelty")} AS mean_novelty,
         |  ${Exact.davgSql("distinct_ratio")} AS mean_distinct_ratio
         |FROM m JOIN nov USING (doc_id)
         |GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val nov = Dedup.firstOccurrenceNovelty(docs, "doc_id", "text", n = 3)
        .select(col("doc_id"), col("novelty"))
      docs
        .withColumn("__ws", expr(Text.wordsExpr("text")))
        .select(col("doc_id"), col("source"), col("text"),
          size(col("__ws")).cast("long").as("tokens"),
          (size(array_distinct(col("__ws"))).cast("long") * lit(1.0) /
            size(col("__ws")).cast("long")).as("distinct_ratio"))
        .join(nov, Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("tokens"),
          countDistinct(col("text")).as("n_unique_texts"),
          (lit(1.0) - countDistinct(col("text")).cast("double") /
            count(lit(1)).cast("double")).as("dup_rate"),
          (Exact.dsum(col("novelty")) / count(lit(1))).as("mean_novelty"),
          (Exact.dsum(col("distinct_ratio")) / count(lit(1)))
            .as("mean_distinct_ratio"))
    },

    // ----- annotation aggregation (majority vote + agreement) -----------
    // The label-consolidation step of an RLHF / classifier pipeline.
    // The corpus carries no annotations, so BOTH engines derive the
    // same deterministic 3-annotator vote set (qt11's
    // decorate-then-verify discipline): each annotator votes the true
    // lang except a portable-hash-selected 20% that flip to 'en' —
    // every aggregation path (clean majority, noisy 2-1, unanimity)
    // actually occurs. Gate proves majority/tie discipline, vote
    // counts, and pairwise-agreement numerators match exactly.
    Q("qq02_label_majority", {
      val vote = Text.polyhashSql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(ann AS VARCHAR)")
      s"""WITH a AS (SELECT doc_id, lang, unnest([1, 2, 3]) AS ann
         |           FROM documents),
         |v AS (SELECT doc_id,
         |        CASE WHEN $vote % 10 < 2 THEN 'en' ELSE lang END AS label
         |      FROM a),
         |c AS (SELECT doc_id, label, COUNT(*) AS n FROM v GROUP BY 1, 2),
         |w AS (SELECT doc_id, label, n,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |          ORDER BY n DESC, label) AS rn,
         |        SUM(n) OVER (PARTITION BY doc_id) AS n_votes,
         |        SUM(n * (n - 1)) OVER (PARTITION BY doc_id) // 2
         |          AS agree_pairs
         |      FROM c)
         |SELECT doc_id, label AS majority_label,
         |  CAST(n AS BIGINT) AS n_majority,
         |  CAST(n_votes AS BIGINT) AS n_votes,
         |  CAST(agree_pairs AS BIGINT) AS agree_pairs,
         |  CAST(CASE WHEN n = n_votes THEN 1 ELSE 0 END AS BIGINT)
         |    AS unanimous
         |FROM w WHERE rn = 1""".stripMargin
    }) { (s, dir) =>
      val votes = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(array(lit(1), lit(2), lit(3))).as("ann"))
        .withColumn("label",
          when(pmod(Text.polyhash(concat(col("doc_id").cast("string"),
              lit(":"), col("ann").cast("string"))), lit(10L)) < 2, lit("en"))
            .otherwise(col("lang")))
      Curation.labelMajority(votes, "doc_id", "label")
    }
  )
}
