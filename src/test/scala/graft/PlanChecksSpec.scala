package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Physical-plan assertions: the properties that make these queries
  * scale to a 1000-executor / 100 TB cluster, checked on every build so
  * a regression in plan shape fails CI — not just a slow benchmark.
  */
class PlanChecksSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.allQueries.find(_.name == name).get.build(spark, sfDir)

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  // QueryStageExec nodes are leaves child-wise; their materialized
  // subtree hangs off `.plan` — without descending into it, AQE-final
  // plans look like a single ResultQueryStage and every node-presence
  // assertion is vacuous.
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }
    (p +: kids.flatMap(collectAll)) ++ p.subqueries.flatMap(collectAll)
  }

  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("filter pushdown reaches the parquet scan (q03)") {
    val s = planString(q("q03_filter_range"))
    assert(s.contains("PushedFilters:") &&
      s.contains("GreaterThanOrEqual(l_quantity,30.0)"), s.take(2000))
  }

  test("column pruning: projection-only query reads only needed columns (q01)") {
    val s = planString(q("q01_projection"))
    assert(s.contains("ReadSchema"), s.take(500))
    assert(!s.contains("l_extendedprice"),
      "scan should not read unprojected columns")
  }

  test("q14: only bounded dims carry static broadcast hints") {
    // nation (fixed 25 rows at any SF) is the only hinted side; customer
    // scales with data volume so its join strategy is left to AQE.
    val df = q("q14_star_join")
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.size == 1, s"expected exactly 1 broadcast hint, got ${hinted.size}")
    assert(hinted.head.toString.contains("nation"),
      "the single static hint must be on the bounded nation dim")
    // and the physical plan still broadcasts it
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
  }

  test("theta-or-null rewrite: keyed branch hash-joins; only the bounded " +
    "wildcard cross branch may nested-loop, and only condition-free (q16)") {
    val nodes = collectAll(executed(q("q16_theta_or_null")))
    // the naive plan is ONE BNLJ evaluating `key = key OR key IS NULL`
    // over both full inputs — that must never exist. The rewrite's
    // wildcard branch is an explicit cross product of the (bounded,
    // broadcast) NULL-key slice, which Spark executes as a
    // condition-FREE BNLJ: that is the semantics, not the hazard.
    val conditionedBnlj = nodes.collect {
      case b: BroadcastNestedLoopJoinExec if b.condition.nonEmpty => b
    }
    assert(conditionedBnlj.isEmpty,
      "the OR-IS-NULL condition must never reach a nested-loop join")
    assert(nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.HashJoin] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the keyed branch must execute as a hash or sort-merge join")
  }

  test("embedding near-dup runs as a blocked equi-join, not BNLJ (qs02)") {
    val nodes = collectAll(executed(q("qs02_embedding_neardup")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "blocked all-pairs must not produce a BNLJ")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "blocked all-pairs must not produce a cartesian product")
  }

  test("blocked Jaro-Winkler matching joins on the block key, never " +
    "all-pairs (qe02)") {
    val nodes = collectAll(executed(q("qe02_jw_blocked_match")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "blocked fuzzy matching must hash-join on the block key, not BNLJ")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "blocked fuzzy matching must not produce a cartesian product")
    // the scorer itself must stay inside whole-stage codegen — the
    // reason it is a native expression and not a UDF (AQE's final-plan
    // toString renders codegen spans as "*(n)", so check the node type)
    assert(nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec] &&
        n.toString.contains("jarowinklersim")),
      "Jaro-Winkler scoring fell out of whole-stage codegen")
  }

  test("scale-path dedup fusion never falls back to all-pairs (qp13)") {
    // qp13 is the shippable twin of the baseline-arm qp04: BOTH its
    // arms must stay candidate-bounded — the prefix-filtered Jaccard
    // joins on the shared prefix token, the SemDeDup arm on the
    // cluster id. A BNLJ or cartesian anywhere means an arm silently
    // degenerated to the quadratic shape the gate exists to replace.
    val nodes = collectAll(executed(q("qp13_dedup_fusion_scale")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a dedup-fusion arm fell back to BNLJ")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "a dedup-fusion arm produced a cartesian product")
  }

  test("semantic near-dup and IVF-PQ search stay equi-join shaped: no " +
    "BNLJ, no cartesian, codebooks broadcast (qp03/qs10 ANN paths)") {
    // the qs10 GATE also runs the exact-topk twin, whose small-query
    // cross join is the documented baseline — assert on the ANN
    // operators' own plans, which must never fall back to all-pairs
    import graft.operators.{Dedup, IvfPq}
    val emb = Tables(spark, sfDir, "embeddings")
    val sem = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
      k = 4, iters = 1, threshold = 0.4)
    val model = IvfPq.train(spark, emb, "vec_id", "embedding",
      cells = 4, m = 8, k = 8, iters = 1)
    val ann = IvfPq.search(spark, emb,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0),
      model, "vec_id", "embedding", k = 5, nprobe = 2, shortlist = 32)
    for ((name, df) <- Seq("semanticNearDupPairs" -> sem, "IvfPq.search" -> ann)) {
      val nodes = collectAll(executed(df))
      assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$name: clustered ANN must not produce a BNLJ")
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$name: clustered ANN must not produce a cartesian product")
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name: the codebook/centroid side must broadcast")
    }
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (q23)") {
    val s = planString(q("q23_topk"))
    assert(s.contains("TakeOrderedAndProject"), s.take(2000))
  }

  test("argmin is a partial aggregate, never a window sort (q65)") {
    val s = planString(q("q65_argmin"))
    assert(!s.contains("Window"), "struct-min must not plan a window")
    assert(s.contains("partial_min") || s.contains("HashAggregate"), s.take(2000))
    val shuffles = collectAll(executed(q("q65_argmin")))
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles")
  }

  test("aggregations are partial (map-side combine) before the shuffle (q05)") {
    val s = planString(q("q05_groupby_agg"))
    assert(s.contains("partial_sum") || s.contains("HashAggregate"), s.take(2000))
    // partial agg means at most one shuffle for the groupBy
    val shuffles = collectAll(executed(q("q05_groupby_agg")))
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles")
  }

  test("qv03's 4-clause OR-IS-NULL spine joins the fact as equi-branches, " +
    "not BNLJ/cartesian") {
    val nodes = collectAll(executed(q("qv03_target_vs_actual")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "null-pattern branch rewrite must not produce a BNLJ")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "null-pattern branch rewrite must not produce a cartesian product")
  }

  test("analytical views read the materialized star, with column pruning " +
    "through to the parquet scan (qv01)") {
    val s = planString(q("qv01_sales_performance"))
    assert(s.contains("Scan parquet"),
      "views must read the persisted warehouse tables, not rebuild the star")
    // no CSV rebuild anywhere in the plan
    assert(!s.contains("Scan csv"), "no staging CSV reads inside a view query")
    // qv01 never touches SalesDetailID — pruning must keep it out of the
    // fact scan (and the plan entirely)
    assert(!s.contains("SalesDetailID"),
      "fact scan should not read unprojected fact columns")
  }

  test("qv03's spine broadcasts are each built once; the other branches " +
    "read them back as ReusedExchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    // the static plan: AQE applies the same reuse when it creates the
    // stages, but its final plan drops the branches it found empty,
    // and with them their reused stages, so what it shows depends on
    // which stages finished first
    val nodes = withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      collectAll(q("qv03_target_vs_actual").queryExecution.executedPlan)
    }
    def tables(p: SparkPlan): String =
      p.collect { case f: FileSourceScanExec => f.tableIdentifier.map(_.table) }
        .flatten.mkString("+")
    val built = nodes.collect { case b: BroadcastExchangeExec => b }
    val reused = nodes.collect { case r: ReusedExchangeExec => r.child }
      .collect { case b: BroadcastExchangeExec => b }
    val rebuilt = built.groupBy(_.canonicalized).values.filter(_.size > 1)
      .map(bs => tables(bs.head))
    assert(rebuilt.isEmpty,
      s"broadcasts built more than once: ${rebuilt.mkString(", ")}")
    val spine = Set("fact_productsalestarget", "fact_srcsalestarget",
      "dim_product", "dim_store", "dim_location", "dim_reseller", "dim_channel")
    val readBack = reused.map(tables).toSet
    assert(spine.subsetOf(readBack),
      s"spine broadcasts not read back as ReusedExchange: " +
        s"${(spine -- readBack).mkString(", ")}; reused: ${readBack.mkString(", ")}")
    assert(reused.forall(r => built.exists(_.canonicalized == r.canonicalized)),
      "every ReusedExchange must read back a broadcast this plan built")
  }

  test("whole-stage codegen covers the custom expressions (qt04 polyhash)") {
    // "*(n)" prefixes in the plan string mark whole-stage-codegen stages;
    // the polyhash projection must sit inside one
    val s = planString(q("qt04_fingerprint"))
    assert(s.linesIterator.exists(l => l.contains("*(") && l.contains("polyhash")),
      s.take(2000))
  }

  test("chunking is a narrow generate: no shuffle in the plan (qc03)") {
    val nodes = collectAll(executed(q("qc03_chunk_docs")))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "chunkDocs must stay per-partition — an Exchange here would " +
        "shuffle the whole corpus for a per-row operation")
  }

  test("year-filtered views prune the date-partitioned fact at the " +
    "listing level (qv06)") {
    // fact_salesactual is written partitionBy(SaleYear); the view's
    // YEAR IN (2013,2014) restriction must surface as PartitionFilters
    // on the fact scan — at 100× this skips every other year's files
    // before reading a byte, instead of scanning the full history.
    val s = planString(q("qv06_store58_dayofweek"))
    val factScan = s.linesIterator.find(l =>
      l.contains("PartitionFilters: [") && l.contains("SaleYear"))
    assert(factScan.isDefined,
      s"expected a fact scan with SaleYear PartitionFilters in:\n${s.take(3000)}")
    assert(factScan.get.contains("dynamicpruning") ||
      factScan.get.matches(".*SaleYear.*(IN|isin|2013).*"),
      s"PartitionFilters must carry the year restriction: ${factScan.get}")
  }

  test("OOV rate: vocabulary is a distributed top-k and membership is a " +
    "broadcast join (qt09)") {
    val s = planString(q("qt09_oov_rate"))
    assert(s.contains("TakeOrderedAndProject"),
      "top-V vocabulary must be a distributed top-k, not a global sort")
    assert(s.contains("BroadcastHashJoin"),
      "vocab membership must broadcast the bounded vocabulary")
  }

  test("fact-to-versioned-dim as-of join stays an equi join (qr16)") {
    val nodes = collectAll(executed(q("qr16_fact_asof_dim")))
    val conditionedBnlj = nodes.collect {
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(conditionedBnlj.isEmpty,
      "the interval predicate must ride the StoreID equi join as a " +
        "post-join filter, never a nested loop over facts")
  }

  test("decontamination joins on the shingle, never all-pairs (qd07)") {
    val nodes = collectAll(executed(q("qd07_decontaminate")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes.exists(_.toString.startsWith("CartesianProduct")),
      "contamination must be an equi-join on the shingle")
  }

  test("bloom decontamination: row-local prefilter, broadcast verify (qd11)") {
    val nodes = collectAll(executed(q("qd11_bloom_decontaminate")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes.exists(_.toString.startsWith("CartesianProduct")),
      "bloom contamination must stay equi-join shaped")
    // the verify join's eval side must be BROADCAST: after the bloom
    // prefilter the probe side is tiny, and a shuffle there would give
    // back the win the bloom bought
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the false-positive verify join must be a broadcast hash join")
  }

  test("runtime bloom-filter pruning injects on a selective shuffle join") {
    // At 100 TB a shuffle join whose build side is selectively filtered
    // should semi-join-reduce the probe side BEFORE the shuffle — Spark
    // plants a BloomFilterMightContain runtime filter on the probe scan.
    // Local tables sit under the size thresholds that gate the rewrite,
    // so the test lowers them; the assertion is that the optimizer DOES
    // inject the filter once sizes qualify — the lever a cluster relies
    // on — not that it fires for toy data by default.
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val lineitem = Tables(spark, sfDir, "lineitem")
      val orders = Tables(spark, sfDir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = lineitem.join(orders,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val s = planString(joined)
      assert(s.contains("bloom") || s.contains("BloomFilter"),
        s"expected a runtime bloom filter on the probe side:\n${s.take(2000)}")
    }
  }

  test("span dedup: gram-keyed equi-joins and DOC-partitioned windows, " +
    "never a global window (qd13)") {
    val nodes = collectAll(executed(q("qd13_dup_spans")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes.exists(_.toString.startsWith("CartesianProduct")),
      "duplicated-window candidates must come from gram equi-semi-joins")
    val windows = nodes.filter(_.toString.startsWith("Window "))
    assert(windows.nonEmpty &&
      windows.forall(_.toString.contains("doc_id")),
      "the islands merge must run inside doc_id partitions")
  }

  test("fuzzy entity resolution joins on deletion keys, never all-pairs " +
    "(q68)") {
    val nodes = collectAll(executed(q("q68_fuzzy_pairs")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes.exists(_.toString.startsWith("CartesianProduct")),
      "FastSS candidates must come from an equi-join on the deletion key")
  }

  test("visual/audio near-dup pairs are banded equi-joins (qm11, qm13)") {
    Seq("qm11_image_neardup", "qm13_audio_neardup").foreach { name =>
      val nodes = collectAll(executed(q(name)))
      assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
        !nodes.exists(_.toString.startsWith("CartesianProduct")),
        s"$name must stay (band, key) equi-join shaped")
    }
  }

  test("Count-Min sketch rides an objectHashAgg with partial merge (qa04)") {
    val nodes = collectAll(executed(q("qa04_cms_bound")))
    assert(nodes.exists(n =>
      n.toString.contains("ObjectHashAggregate") &&
        n.toString.contains("countminagg")),
      "the sketch must aggregate through ObjectHashAggregate partials")
  }

  test("bitmap rollup: partial ObjectHashAggregate, and the day-grain " +
    "re-aggregation joins blobs, never raw rows (qa05, qa07)") {
    val rollup = collectAll(executed(q("qa05_bitmap_distinct_rollup")))
    assert(rollup.exists(n =>
      n.toString.contains("ObjectHashAggregate") &&
        n.toString.toLowerCase.contains("bitmapagg")),
      "per-day bitmaps must build through ObjectHashAggregate partials")
    // the windowed-distinct range join probes per-day BLOB rows (one
    // row per day) — the raw events relation must appear exactly once
    // in the plan, scanned only to build the day grain
    val win = planString(q("qa07_windowed_distinct"))
    val scans = "events\\.parquet".r.findAllIn(win).length
    assert(scans <= 1, s"qa07 must scan raw events once, saw $scans scans")
  }

  test("HOF battery is a pure scan-side projection: zero shuffles (qf01)") {
    val nodes = collectAll(executed(q("qf01_array_hof")))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "qf01 is row-local — any exchange is a regression")
  }

  test("weighted median aggregates to the value grain BEFORE its window " +
    "(qa10) — the window input is |values|, not |rows|") {
    val plan = planString(q("qa10_weighted_median"))
    val winIdx = plan.indexOf("Window ")
    val aggBelow = plan.indexOf("HashAggregate", winIdx)
    assert(winIdx >= 0 && aggBelow > winIdx,
      "expected a HashAggregate under the Window (plan prints top-down):\n" +
        plan.take(3000))
    // and the collapse aggregation itself is partial (map-side combine)
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      plan.take(2000))
  }

  test("map battery builds word counts through partial aggregates, " +
    "never a lambda re-scan (qf02)") {
    val plan = planString(q("qf02_map_funcs"))
    assert(plan.contains("partial_count"),
      "per-(doc, word) counts must map-side combine:\n" + plan.take(2000))
    assert(plan.contains("partial_collect_list"),
      "per-doc map entries must build through a partial ObjectHashAggregate:\n" +
        plan.take(2000))
  }

  test("scalar batteries are pure scan-side projections: zero shuffles " +
    "(qf07, qf08)") {
    for (name <- Seq("qf07_array_funcs", "qf08_bitwise_conditional")) {
      val nodes = collectAll(executed(q(name)))
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"$name is row-local — any exchange is a regression")
    }
  }

  test("PageRank iterations join on graph keys: the only loop-free plans " +
    "are broadcast 1-row scalars (qg01)") {
    val nodes = collectAll(executed(q("qg01_pagerank")))
    // N / dangling-mass scalars ride condition-free broadcast joins;
    // a CONDITIONAL nested-loop or cartesian would mean the rank-edge
    // join degenerated off its equi keys
    assert(!nodes.exists {
      case b: BroadcastNestedLoopJoinExec => b.condition.nonEmpty
      case _ => false
    }, "conditional BNLJ in the PageRank loop")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "cartesian product in the PageRank loop")
    // contrib/degree sums must map-side combine — rows stay put until
    // one keyed exchange per iteration
    assert(planStringOf(nodes).contains("partial_sum"),
      "edge contributions must partial-aggregate")
  }

  test("triangle counting is all-equi-join (qg02) — the degree-ordered " +
    "wedge join never nested-loops") {
    val nodes = collectAll(executed(q("qg02_triangles")))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "BNLJ in triangle counting")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "cartesian in triangle counting")
    assert(planStringOf(nodes).contains("partial_count"),
      "degree/triangle counts must map-side combine")
  }

  private def planStringOf(nodes: Seq[SparkPlan]): String =
    nodes.map(_.toString).mkString("\n")

  // Gates whose plans legitimately contain a single-partition window —
  // each one's window input is bounded below by an Aggregate (a handful
  // of groups by construction: shard offsets, bucket ids, dim codes) or
  // a literal frame, which the structural check below enforces. A NEW
  // empty-partition window anywhere else fails this spec: add the gate
  // here ONLY after proving its window input is bounded.
  private val SinglePartitionWindowSites: Set[String] = Set(
    // cumulative sum over the 20-bucket histogram aggregate
    "qa08_quantile_rollup",
    // 64-row shard-offset cum-sum over the per-shard count aggregate
    // (Curation.deterministicShuffle's two-phase ranks)
    "qc09_corpus_shuffle",
    // largest-remainder rank over ONE ROW PER SOURCE (the per-source
    // count aggregate below it — Curation.temperatureSample's
    // apportionment frame, source-count-bounded)
    "qc18_temperature_sample",
    // rank over the global top-k ALREADY taken by TakeOrderedAndProject
    // (Retrieval.rankTopK sorts+limits to k=10 rows before ranking;
    // qt21 is the index-served twin through the same ranking)
    "qt20_bm25",
    "qt21_bm25_indexed",
    // rank over the top-max(N)=64 vocabulary rows already taken by
    // TakeOrderedAndProject (TextAnalysis.vocabCoverage, rankTopK
    // discipline; the word-count aggregate sits below)
    "qt23_vocab_coverage",
    // composes Curation.temperatureSample, so it inherits qc18's
    // bounded window verbatim: largest-remainder ranking over the
    // per-source AGGREGATE rows (|sources|, not |docs|; the group-by
    // sits below the window)
    "qp11_release_candidate")

  test("single-partition windows sit only above provably bounded frames, " +
    "and only at the enumerated sites") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // pre-AQE physical plans: structure only, nothing executed — this
    // walks EVERY gate, so the bench log's WindowExec warning flood is
    // provably benign instead of by-inspection (SURVEY §7.3 pattern)
    def boundedBelow(child: SparkPlan): Boolean =
      collectAll(child).exists {
        case _: BaseAggregateExec => true
        case _: org.apache.spark.sql.execution.LocalTableScanExec => true
        case _: org.apache.spark.sql.execution.RDDScanExec => true
        case r: org.apache.spark.sql.execution.RangeExec =>
          r.range.numElements.isValidLong
        case _ => false
      }
    val sites = scala.collection.mutable.SortedSet.empty[String]
    val unbounded = scala.collection.mutable.ArrayBuffer.empty[String]
    for (gate <- SparkEntry.allQueries) {
      val plan = gate.build(spark, sfDir).queryExecution.executedPlan
      val wins: Seq[(String, SparkPlan)] = collectAll(plan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => ("window", w.child)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          ("windowGroupLimit", w.child)
      }
      if (wins.nonEmpty) {
        sites += gate.name
        wins.filterNot { case (_, c) => boundedBelow(c) }
          .foreach { case (kind, _) => unbounded += s"${gate.name} ($kind)" }
      }
    }
    assert(unbounded.isEmpty,
      s"single-partition windows over UNBOUNDED input: ${unbounded.mkString(", ")}")
    assert(sites.toSet == SinglePartitionWindowSites,
      s"single-partition window sites changed.\n  now:     ${sites.mkString(", ")}\n" +
        s"  allowed: ${SinglePartitionWindowSites.toSeq.sorted.mkString(", ")}\n" +
        "New sites need a proven bound; removed sites should leave the allowlist.")
  }

  test("round-15 gates stay scale-shaped: no BNLJ or cartesian anywhere; " +
      "the k-anonymity ladder and golden record aggregate without windows") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (name <- Seq("qq03_k_anonymity", "qq04_l_diversity",
        "qd18_source_overlap", "qe01_golden_record", "qt29_unigram_encode",
        "qt31_rm3_expansion", "qp12_tokenizer_release")) {
      val all = collectAll(executed(q(name)))
      // the unigram log-prob normalizer is a condition-free 1-row
      // scalar broadcast (the qg01 N/dangling-mass pattern) — a
      // CONDITIONAL nested-loop would mean a join fell off its keys
      assert(!all.exists {
        case b: BroadcastNestedLoopJoinExec => b.condition.nonEmpty
        case _ => false
      }, s"$name compiled to a conditional broadcast nested-loop join")
      assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name compiled to a cartesian product")
    }
    // both are pure aggregate ladders: a WindowExec would mean a
    // per-partition sort crept into what must stay a partial agg
    for (name <- Seq("qq03_k_anonymity", "qe01_golden_record")) {
      val all = collectAll(executed(q(name)))
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name must aggregate, never window-sort")
    }
  }
}
