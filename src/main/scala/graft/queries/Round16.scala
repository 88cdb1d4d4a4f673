package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.operators.{Curation, Dedup, EntityResolution, Ivf, MediaFixtures, Multimodal, Similarity}

/** Round-16 gate additions: generalization-hierarchy k-anonymity
  * (qq05), deletes in the streaming ANN index (qs28), compressed
  * Motion-JPEG video frame decode (qm14), differentially-private
  * histogram release (qq06), and blocked Jaro-Winkler entity matching
  * (qe02). Same discipline as every other suite — DuckDB-oracle hash
  * compares, invariant flags where the property is
  * non-SQL-expressible, ScalaTest twins for the structural laws.
  */
object Round16 {

  def all: Seq[Q] = Seq(

    // ----- k-anonymity with a generalization HIERARCHY -------------------
    // qq03's suppression ladder upgraded to typed coarsening: the
    // nation quasi-identifier steps value -> 5-wide bucket -> '*'
    // instead of jumping straight to full suppression, so published
    // rows keep a coarser-but-real location where k allows. The
    // oracle replays the 4-level ladder with window counts over the
    // same residuals (always re-generalizing from the ORIGINAL value,
    // as the engine does), and the l-diversity audit rides the same
    // rows — l_distinct = 1 groups are the attribute-disclosure
    // risks a reviewer reads. The builder additionally REQUIRES every
    // published non-terminal group to satisfy k.
    Q("qq05_k_anon_hierarchy",
      """WITH b AS (SELECT c_mktsegment AS seg,
        |             CAST(c_nationkey AS VARCHAR) AS nat,
        |             CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END
        |               AS sens
        |           FROM customer),
        |l0 AS (SELECT seg, nat, sens,
        |         COUNT(*) OVER (PARTITION BY seg, nat) AS c0 FROM b),
        |k0 AS (SELECT seg, nat, sens, 0 AS lvl FROM l0 WHERE c0 >= 20),
        |r0 AS (SELECT seg, nat, sens FROM l0 WHERE c0 < 20),
        |g1 AS (SELECT seg,
        |         'N' || CAST(CAST(nat AS BIGINT) // 5 AS VARCHAR) AS nat,
        |         sens FROM r0),
        |l1 AS (SELECT seg, nat, sens,
        |         COUNT(*) OVER (PARTITION BY seg, nat) AS c1 FROM g1),
        |k1 AS (SELECT seg, nat, sens, 1 AS lvl FROM l1 WHERE c1 >= 20),
        |r1 AS (SELECT seg, sens FROM l1 WHERE c1 < 20),
        |l2 AS (SELECT seg, sens,
        |         COUNT(*) OVER (PARTITION BY seg) AS c2 FROM r1),
        |k2 AS (SELECT seg, '*' AS nat, sens, 2 AS lvl FROM l2
        |       WHERE c2 >= 20),
        |r2 AS (SELECT seg, sens FROM l2 WHERE c2 < 20),
        |k3 AS (SELECT '*' AS seg, '*' AS nat, sens, 3 AS lvl FROM r2),
        |u AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |      UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3)
        |SELECT seg, nat, CAST(lvl AS BIGINT) AS anon_level,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct
        |FROM u GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val k = 20
      val base = Tables(s, dir, "customer").select(
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat"),
        when(col("c_acctbal") < 0, "neg").otherwise("pos").as("sens"))
      // nation -> 5-wide bucket (nations 0..24 -> N0..N4); exact for
      // non-negative keys in both engines (floor-div of small ints)
      val natBucket: Column => Column = c =>
        concat(lit("N"), floor(c.cast("long") / lit(5)).cast("long")
          .cast("string"))
      val anon = Curation.kAnonymizeHierarchical(base,
        Seq("seg" -> Seq.empty, "nat" -> Seq(natBucket)), k = k)
      val out = anon
        .groupBy(col("seg"), col("nat"),
          col("anon_level").cast("long").as("anon_level"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("sens")).as("l_distinct"))
      require(out.filter(col("anon_level") < 3 && col("n") < k).isEmpty,
        s"k-anonymity violated: a published non-terminal group has < $k rows")
      out
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

    // ----- compressed video frame decode (Motion-JPEG) -------------------
    // qm08's container->sample->pixel path crossing a real COMPRESSED
    // bitstream: every sample of the `jpeg` (QuickTime Photo-JPEG)
    // track is a complete baseline JPEG, decoded pure-JVM by
    // javax.imageio. JPEG is lossy, so the generation-time sidecar
    // records the sums of the DECODED round-trip of the exact bytes
    // written — a decoder that trusts container metadata, subsamples,
    // or channel-swaps cannot reproduce them.
    Q("qm14_mjpeg_frames",
      s"""SELECT media_id, frame_id, width, height, sum_r, sum_g, sum_b
         |FROM read_csv('${MediaFixtures.mjpegFramesCsv}', header=true,
         |  columns={'media_id': 'BIGINT', 'frame_id': 'BIGINT',
         |    'width': 'BIGINT', 'height': 'BIGINT', 'sum_r': 'BIGINT',
         |    'sum_g': 'BIGINT', 'sum_b': 'BIGINT'})""".stripMargin) { (s, _) =>
      Multimodal.videoFrameFeatures(s, MediaFixtures.ensureMjpeg())
    },

    // ----- differentially-private histogram release ----------------------
    // The third privacy rung after qq03/qq05: per-(segment, nation)
    // customer counts published under salted-seed Laplace(1/eps) noise
    // with small-group suppression. The noise key mixes a SALT with
    // the group identity (nation*256 + first-char code); privacy
    // requires the salt secret (Curation.dpNoisyRelease scaladoc) —
    // THIS GATE PUBLISHES ITS SALT deliberately, because it tests the
    // mechanism (the oracle must replay the exact chain: LCG uniform
    // -> inverse-CDF Laplace -> integer rounding); it is not a private
    // release. ln() is the one libm call and differs by <=1 ulp
    // between engines on ~0.5% of inputs (measured); integer rounding
    // absorbs it — under salt 98765431 the 125 group keys' rounded
    // values sit >=6.6e-3 from every floor boundary (measured round
    // 17, all four sf scales), 13 orders of magnitude beyond a ulp.
    Q("qq06_dp_histogram",
      """WITH g AS (SELECT c_mktsegment AS seg,
        |             CAST(c_nationkey AS BIGINT) AS nat,
        |             COUNT(*) AS cnt
        |           FROM customer GROUP BY 1, 2),
        |n AS (SELECT seg, nat, cnt,
        |        (1103515245 * (((nat * 256 + ascii(seg) + 98765431)
        |             % 2147483648)
        |           * 2654435761 % 2147483648) + 12345) % 2147483648 AS v
        |      FROM g),
        |l AS (SELECT seg, nat, cnt,
        |        -sign((v + 0.5) / 2147483648.0 - 0.5)
        |          * ln(1.0 - 2.0 * abs((v + 0.5) / 2147483648.0 - 0.5))
        |          AS lap
        |      FROM n),
        |r AS (SELECT seg, nat,
        |        cnt + CAST(floor(lap * 2.0 + 0.5) AS BIGINT) AS noisy_count
        |      FROM l)
        |SELECT seg, nat, noisy_count, CAST(500000 AS BIGINT) AS eps_micro
        |FROM r WHERE noisy_count >= 10""".stripMargin) { (s, dir) =>
      Curation.dpNoisyCounts(
        Tables(s, dir, "customer")
          .select(col("c_mktsegment").as("seg"),
            col("c_nationkey").cast("long").as("nat")),
        dims = Seq("seg", "nat"),
        noiseKey = col("nat") * 256 + ascii(col("seg")),
        saltSecret = 98765431L, // published: mechanism test, not a release
        eps = 0.5, threshold = 10L)
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

    // ----- incremental-count BPE training --------------------------------
    // The trainer whose per-pass cost is O(affected words + pair
    // table) instead of a full vocabulary re-aggregation
    // (Bpe.trainIncremental: delta-patched standing counts + a
    // merge-on-read base/overlay vocabulary, compacted here every 5
    // merges so the gate exercises BOTH overlay reads and the fold-in).
    // The builder REQUIRES the learned sequence equal the sequential
    // trainer's, pair for pair (the strongest possible check — the
    // gate fails loudly on any counts-maintenance drift), then gates
    // qt18's encoder invariants over the incremental merges.
    Q("qt32_bpe_incremental",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val merges = graft.operators.Bpe.trainIncremental(
        docs, "text", numMerges = 12, compactEvery = 5)
      // the sequential reference is the CHECK arm, not the operator
      // under test, so bench passes 2..n re-time only the incremental
      // trainer + encode against a cached reference
      val seqRef = Fixture.once("qt32_reference", dir) {
        graft.operators.Bpe.train(Tables(s, dir, "documents"), "text", 12)
      }
      require(merges == seqRef,
        "incremental trainer diverged from the sequential merge sequence")
      val enc = graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
      docs.select(col("doc_id"),
          expr(graft.functions.Text.wordsExpr("text")).as("__ws"))
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

    // ----- DP release served from the streaming rollup --------------------
    // qq06's mechanism composed with RollupIngest's exactly-once exact
    // aggregate — the deploy shape of a privacy release: the exact
    // (day, event_type) counts are MAINTAINED by the stream (three
    // ingested batches here, replay-safe by the rollup's transactional
    // batch column), and the release applies the seeded mechanism to
    // the standing state. Because the noise is a pure function of the
    // group identity (epoch-day * 256 + type's first char code),
    // releasing from the rollup is bit-identical to releasing from the
    // raw rows — which is exactly what the oracle replays, so any
    // drift in ingest (lost batch, double-applied replay) or in the
    // mechanism breaks the hash. Salt published for the same reason as
    // qq06: this gates the mechanism, not a private release. Under
    // salt 98765431 the 150 group keys sit >= 6.5e-3 from every
    // rounding boundary (measured round 17; same keys at every sf —
    // days and types don't scale).
    Q("qq07_dp_stream_release",
      """WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |             event_type AS et, COUNT(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |k AS (SELECT d, et, cnt,
        |        CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)
        |          * 256 + ascii(et) AS key FROM g),
        |n AS (SELECT d, et, cnt,
        |        (1103515245 * (((key + 98765431) % 2147483648)
        |           * 2654435761 % 2147483648) + 12345) % 2147483648 AS v
        |      FROM k),
        |l AS (SELECT d, et, cnt,
        |        -sign((v + 0.5) / 2147483648.0 - 0.5)
        |          * ln(1.0 - 2.0 * abs((v + 0.5) / 2147483648.0 - 0.5))
        |          AS lap
        |      FROM n),
        |r AS (SELECT d, et,
        |        cnt + CAST(floor(lap * 2.0 + 0.5) AS BIGINT) AS noisy_count
        |      FROM l)
        |SELECT d, et, noisy_count, CAST(500000 AS BIGINT) AS eps_micro
        |FROM r WHERE noisy_count >= 20""".stripMargin) { (s, dir) =>
      // the gate's operator is the RELEASE over the standing state, so
      // bench passes 2..n time the release, not the one-time ingest
      val path = Fixture.once("qq07_rollup", dir) {
        val ev = Tables(s, dir, "events")
        // the rollup table path must not pre-exist (lastBatch reads it
        // when present), so the table lives one level below the temp dir
        val out = Fixture.dir("graft_qq07_rollup") + "/rollup"
        (0 until 3).foreach { b =>
          graft.streaming.RollupIngest.applyBatch(s,
            ev.filter(col("event_id") % 3 === b), out, b.toLong)
        }
        // replay of an already-applied batch must no-op (the rollup's
        // transactional guard) or the release double-counts
        graft.streaming.RollupIngest.applyBatch(s,
          ev.filter(col("event_id") % 3 === 1), out, 1L)
        out
      }
      val state = graft.streaming.RollupIngest.read(s, path)
        .select(to_date(col("d")).as("d"), col("event_type").as("et"),
          col("n"))
      // the LEDGERED release path (r17 verdict #7): publishing from the
      // rollup emits the accountant entry at publish time, so the
      // ledger cannot be bypassed by routing a release through stream
      // state — CurationSpec composes this entry with dpBudgetByGroup
      // and locks that both surfaces agree on the spend (every
      // pre-threshold (d, et) group charged the full ε, suppressed
      // groups included). The gate's published output is unchanged.
      val (released, _) = Curation.dpNoisyReleaseLedgered(
        state, Seq("d", "et"), col("n"),
        datediff(col("d"), to_date(lit("1970-01-01"))).cast("long") * 256 +
          ascii(col("et")),
        saltSecret = 98765431L, // published: mechanism test, not a release
        eps = 0.5, threshold = 20L, releaseId = "qq07_day_type_v1")
      released
    })
}
