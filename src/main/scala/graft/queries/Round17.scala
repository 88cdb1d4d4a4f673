package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.operators.{Curation, Ivf, MediaFixtures, Multimodal, Similarity}

/** Round-17 gate additions, closing the r16 verdict asks: an ε-budget
  * accountant over DP release ledgers (qq08), the generalization
  * lattice exercised on THREE quasi-columns with two non-trivial
  * hierarchies (qq09), and IVF retrain-and-swap under readers (qs29).
  * Same discipline as every suite: DuckDB-oracle hash compares,
  * REQUIREs where the property is non-SQL-expressible, ScalaTest twins
  * for the structural laws.
  */
object Round17 {

  def all: Seq[Q] = Seq(

    // ----- ε-budget accountant across DP releases -------------------------
    // qq06/qq07 emit eps_micro per release; this composes SPEND across
    // a release ledger (r16 verdict #5): release A covers every
    // (segment, nation) group at ε=0.5, release B re-releases the
    // nat<13 half at ε=0.25 under a different salt, and release A is
    // then REPLAYED verbatim. Sequential composition sums ε over
    // DISTINCT releases per group — the replay adds nothing (same
    // salt + key formula ⇒ bit-identical output ⇒ no fresh
    // information), which the oracle replays directly from the ledger
    // definition. Reusing a release id with different parameters fails
    // loudly (CurationSpec locks that; it is fresh noise masquerading
    // as a replay). ε is spent on every group the mechanism COMPUTED a
    // noisy value for — threshold suppression is post-processing and
    // shields nothing.
    Q("qq08_dp_budget_accountant",
      """WITH g AS (SELECT DISTINCT c_mktsegment AS seg,
        |             CAST(c_nationkey AS BIGINT) AS nat FROM customer)
        |SELECT seg, nat,
        |  CAST(CASE WHEN nat < 13 THEN 750000 ELSE 500000 END AS BIGINT)
        |    AS eps_spent_micro,
        |  CAST(CASE WHEN nat < 13 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_releases
        |FROM g""".stripMargin) { (s, dir) =>
      val groups = Tables(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
      val relA = Curation.DpLedgerEntry("qq06_seg_nat_v1", "laplace_count",
        saltSecret = 98765431L, epsMicro = 500000L, domain = groups)
      val relB = Curation.DpLedgerEntry("qq08_seg_natlt13_v1",
        "laplace_count", saltSecret = 5551212L, epsMicro = 250000L,
        domain = groups.filter(col("nat") < 13))
      // the third entry is relA REPLAYED — identical id + parameters
      Curation.dpBudgetByGroup(Seq(relA, relB, relA), Seq("seg", "nat"))
    },

    // ----- k-anonymity lattice on THREE quasi-columns ---------------------
    // qq05's rightmost-first lattice walk exercised on a genuinely
    // different path (r16 verdict #7): three quasi-identifiers with
    // TWO non-trivial hierarchies — balance (100-wide value → 1000-wide
    // K-bucket → sign → '*') walks its three coarser rungs FIRST, then
    // nation (value → 5-wide bucket → '*'), then segment
    // (value → '*'); 7 global levels, each
    // re-generalizing from the ORIGINAL value over the shrinking
    // residual. The oracle replays all 7 levels; the builder REQUIREs
    // every published non-terminal group ≥ k. An advance-order bug
    // (advancing the wrong column, resetting a finished column) moves
    // rows across levels and breaks the hash.
    Q("qq09_k_anon_lattice3",
      """WITH b AS (SELECT c_mktsegment AS seg,
        |             CAST(c_nationkey AS VARCHAR) AS nat,
        |             CAST(c_nationkey AS BIGINT) AS natv,
        |             CAST(CAST(floor(c_acctbal / 100) * 100 AS BIGINT)
        |               AS VARCHAR) AS bal,
        |             CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS balv,
        |             CAST(c_custkey % 10 AS VARCHAR) AS sens
        |           FROM customer),
        |l0 AS (SELECT *, COUNT(*) OVER (PARTITION BY seg, nat, bal) AS c0
        |       FROM b),
        |k0 AS (SELECT seg, nat, bal, sens, 0 AS lvl FROM l0 WHERE c0 >= 20),
        |r0 AS (SELECT seg, nat, natv, balv, sens FROM l0 WHERE c0 < 20),
        |g1 AS (SELECT seg, nat, natv, balv, sens,
        |         'K' || CAST(CAST(floor(balv / 1000.0) AS BIGINT)
        |           AS VARCHAR) AS bal FROM r0),
        |l1 AS (SELECT *, COUNT(*) OVER (PARTITION BY seg, nat, bal) AS c1
        |       FROM g1),
        |k1 AS (SELECT seg, nat, bal, sens, 1 AS lvl FROM l1 WHERE c1 >= 20),
        |r1 AS (SELECT seg, nat, natv, balv, sens FROM l1 WHERE c1 < 20),
        |g2 AS (SELECT seg, nat, natv, sens,
        |         CASE WHEN balv < 0 THEN 'neg' ELSE 'nonneg' END AS bal
        |       FROM r1),
        |l2 AS (SELECT *, COUNT(*) OVER (PARTITION BY seg, nat, bal) AS c2
        |       FROM g2),
        |k2 AS (SELECT seg, nat, bal, sens, 2 AS lvl FROM l2 WHERE c2 >= 20),
        |r2 AS (SELECT seg, nat, natv, sens FROM l2 WHERE c2 < 20),
        |l3 AS (SELECT *, COUNT(*) OVER (PARTITION BY seg, nat) AS c3
        |       FROM r2),
        |k3 AS (SELECT seg, nat, '*' AS bal, sens, 3 AS lvl FROM l3
        |       WHERE c3 >= 20),
        |r3 AS (SELECT seg, natv, sens FROM l3 WHERE c3 < 20),
        |g4 AS (SELECT seg, sens,
        |         'N' || CAST(natv // 5 AS VARCHAR) AS nat FROM r3),
        |l4 AS (SELECT *, COUNT(*) OVER (PARTITION BY seg, nat) AS c4
        |       FROM g4),
        |k4 AS (SELECT seg, nat, '*' AS bal, sens, 4 AS lvl FROM l4
        |       WHERE c4 >= 20),
        |r4 AS (SELECT seg, sens FROM l4 WHERE c4 < 20),
        |l5 AS (SELECT *, COUNT(*) OVER (PARTITION BY seg) AS c5 FROM r4),
        |k5 AS (SELECT seg, '*' AS nat, '*' AS bal, sens, 5 AS lvl FROM l5
        |       WHERE c5 >= 20),
        |r5 AS (SELECT sens FROM l5 WHERE c5 < 20),
        |k6 AS (SELECT '*' AS seg, '*' AS nat, '*' AS bal, sens, 6 AS lvl
        |       FROM r5),
        |u AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |      UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3
        |      UNION ALL SELECT * FROM k4 UNION ALL SELECT * FROM k5
        |      UNION ALL SELECT * FROM k6)
        |SELECT seg, nat, bal, CAST(lvl AS BIGINT) AS anon_level,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct
        |FROM u GROUP BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      val k = 20
      val base = Tables(s, dir, "customer").select(
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat"),
        (floor(col("c_acctbal") / 100) * 100).cast("long").as("bal"),
        (col("c_custkey") % 10).cast("string").as("sens"))
      val natBucket: Column => Column = c =>
        concat(lit("N"), floor(c.cast("long") / lit(5)).cast("long")
          .cast("string"))
      val balK: Column => Column = c =>
        concat(lit("K"), floor(c.cast("double") / lit(1000.0)).cast("long")
          .cast("string"))
      val balSign: Column => Column = c =>
        when(c < 0, "neg").otherwise("nonneg")
      val anon = Curation.kAnonymizeHierarchical(base,
        Seq("seg" -> Seq.empty, "nat" -> Seq(natBucket),
          "bal" -> Seq(balK, balSign)), k = k)
      val out = anon
        .groupBy(col("seg"), col("nat"), col("bal"),
          col("anon_level").cast("long").as("anon_level"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("sens")).as("l_distinct"))
      require(out.filter(col("anon_level") < 6 && col("n") < k).isEmpty,
        s"k-anonymity violated: a published non-terminal group has < $k rows")
      out
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
    },

    Q("qm15_gif_frames",
      s"""SELECT media_id, frame_id, width, height, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.gifFramesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'frame_id': 'BIGINT',
         |    'width': 'BIGINT', 'height': 'BIGINT', 'sum_r': 'BIGINT',
         |    'sum_g': 'BIGINT', 'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.gifFrameFeatures(s, MediaFixtures.ensureGif())
    })
}
