package graft.queries

import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.operators.{Curation, Ivf, Similarity}
import graft.streaming.IvfIngest

/** Round-18 gate additions, closing the r17 verdict asks: ε-budget
  * ENFORCEMENT over the DP release ledger (qq10 — the accountant can
  * now refuse a release, not just report it) and drift-TRIGGERED ANN
  * index maintenance (qs30 — the policy over qs29's retrain-swap
  * mechanism). Same discipline as every suite: DuckDB-oracle hash
  * compares, REQUIREs where the property is non-SQL-expressible,
  * ScalaTest twins for the structural laws.
  */
object Round18 {

  def all: Seq[Q] = Seq(

    // ----- ε-budget ENFORCEMENT on a DP release ----------------------------
    // qq08's accountant reports spend; this gate REFUSES with it (r17
    // verdict #4): relA spent ε=0.5 on every (segment, nation) group,
    // relB another ε=0.25 on the nat<13 half, and the proposed relC
    // (ε=0.25, all groups) runs against a 0.9 cap — the nat<13 groups
    // would reach 1.0 and are withheld (admitted=0, noisy_count NULL:
    // refusal is suppression, exactly like threshold rows), the rest
    // publish under the seeded mechanism. The oracle replays the
    // admission arithmetic AND the mechanism for the admitted half.
    // CurationSpec locks the two non-SQL laws: a verbatim replay is
    // NEVER refused (deterministic noise releases nothing fresh), and
    // id reuse with drifted parameters fails loudly. Salt published:
    // mechanism test, not a release. Under salt 7654321 the 125 group
    // keys sit >= 9.1e-3 from every rounding boundary at eps=0.25
    // (measured round 18 at sf0.001/0.01/0.1/1 — the group domain
    // doesn't scale past 125 keys).
    Q("qq10_dp_budget_enforce",
      """WITH g AS (SELECT c_mktsegment AS seg,
        |             CAST(c_nationkey AS BIGINT) AS nat,
        |             COUNT(*) AS cnt
        |           FROM customer GROUP BY 1, 2),
        |a AS (SELECT seg, nat, cnt,
        |        CAST(CASE WHEN nat < 13 THEN 750000 ELSE 500000 END
        |          AS BIGINT) AS prior_spent_micro,
        |        CAST(CASE WHEN nat < 13 THEN 0 ELSE 1 END AS BIGINT)
        |          AS admitted
        |      FROM g),
        |n AS (SELECT seg, nat, cnt, prior_spent_micro, admitted,
        |        (1103515245 * (((nat * 256 + ascii(seg) + 7654321)
        |             % 2147483648)
        |           * 2654435761 % 2147483648) + 12345) % 2147483648 AS v
        |      FROM a),
        |l AS (SELECT seg, nat, cnt, prior_spent_micro, admitted,
        |        -sign((v + 0.5) / 2147483648.0 - 0.5)
        |          * ln(1.0 - 2.0 * abs((v + 0.5) / 2147483648.0 - 0.5))
        |          AS lap
        |      FROM n),
        |r AS (SELECT seg, nat, prior_spent_micro, admitted,
        |        CASE WHEN admitted = 1
        |          THEN cnt + CAST(floor(lap * 4.0 + 0.5) AS BIGINT)
        |        END AS noisy0
        |      FROM l)
        |SELECT seg, nat, prior_spent_micro, admitted,
        |  CASE WHEN noisy0 >= 10 THEN noisy0 END AS noisy_count
        |FROM r""".stripMargin) { (s, dir) =>
      val cust = Tables(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
      val groups = cust.distinct()
      val relA = Curation.DpLedgerEntry("qq06_seg_nat_v1", "laplace_count",
        saltSecret = 98765431L, epsMicro = 500000L, domain = groups)
      val relB = Curation.DpLedgerEntry("qq08_seg_natlt13_v1",
        "laplace_count", saltSecret = 5551212L, epsMicro = 250000L,
        domain = groups.filter(col("nat") < 13))
      val relC = Curation.DpLedgerEntry("qq10_seg_nat_v2", "laplace_count",
        saltSecret = 7654321L, epsMicro = 250000L, domain = groups)
      val adm = Curation.enforceBudget(Seq(relA, relB), relC,
        Seq("seg", "nat"), capMicro = 900000L)
      // the release path publishes ONLY the admitted groups — a refused
      // group never reaches the mechanism
      val admitted = adm.filter(col("admitted") === 1L).select("seg", "nat")
      val pub = Curation.dpNoisyCounts(
        cust.join(admitted, Seq("seg", "nat")), dims = Seq("seg", "nat"),
        noiseKey = col("nat") * 256 + ascii(col("seg")),
        saltSecret = 7654321L, // published: mechanism test, not a release
        eps = 0.25, threshold = 10L)
      adm.join(pub.select(col("seg"), col("nat"), col("noisy_count")),
          Seq("seg", "nat"), "left")
        .select(col("seg"), col("nat"), col("prior_spent_micro"),
          col("admitted"), col("noisy_count"))
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
    })
}
