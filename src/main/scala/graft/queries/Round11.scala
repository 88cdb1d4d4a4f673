package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Fixture, Tables}
import graft.functions.Text

/** Round-11 session additions: higher-order array-function surface,
  * join/set-op completeness (FULL OUTER, INTERSECT ALL / EXCEPT ALL),
  * and per-domain quality selection for corpus curation.
  *
  * Reference grounding: the reference's transformation views express
  * per-row derived measures and dataset algebra in Snowflake SQL
  * (rahil/create_views.py analytical views; UNION branches in
  * vw_multistore_analysis); Spark's lambda higher-order functions and
  * Dataset set-operators are the Spark-native equivalents, gated here
  * against DuckDB's list lambdas / bag set-ops.
  */
object Round11 {

  private def wCte =
    s"SELECT doc_id, source, ${Text.wordsSql("text")} AS ws FROM documents"

  val all: Seq[Q] = Seq(

    // ----- higher-order array functions (codegen'd lambdas) -------------
    // transform / filter / aggregate / zip_with / exists / forall in ONE
    // row-local pass over the tokenized doc. All six are Catalyst
    // HigherOrderFunctions (whole-stage codegen, no UDF); the DuckDB
    // oracle re-expresses each with list lambdas. zip_with carries the
    // position-weighted sum (1-based index times word length) — the
    // Spark side zips against sequence(), the oracle indexes with
    // range(); empty docs are CASE-guarded on both engines because
    // sequence(1,0) descends in Spark and list_sum([]) is NULL in
    // DuckDB.
    Q("qf01_array_hof",
      s"""WITH w AS ($wCte)
         |SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(ws, w -> length(w) >= 6)) AS BIGINT) AS n_long,
         |  CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_len,
         |  CAST(CASE WHEN len(ws) = 0 THEN 0 ELSE coalesce(list_sum(
         |    list_transform(range(1, len(ws) + 1), i -> length(ws[i]) * i)), 0)
         |  END AS BIGINT) AS pos_weighted_len,
         |  len(list_filter(ws, w -> length(w) >= 8)) > 0 AS has_long_word,
         |  len(list_filter(ws, w -> length(w) > 7)) = 0 AS all_short
         |FROM w""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("ws", expr(Text.wordsExpr("text")))
        .select(
          col("doc_id"),
          size(col("ws")).cast(LongType).as("n_words"),
          size(expr("filter(ws, w -> length(w) >= 6)")).cast(LongType).as("n_long"),
          expr("aggregate(transform(ws, w -> CAST(length(w) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("sum_len"),
          expr("""CASE WHEN size(ws) = 0 THEN CAST(0 AS BIGINT) ELSE
                 |  aggregate(zip_with(ws, sequence(1, size(ws)),
                 |    (w, i) -> CAST(length(w) AS BIGINT) * i),
                 |    CAST(0 AS BIGINT), (a, x) -> a + x) END""".stripMargin)
            .as("pos_weighted_len"),
          expr("exists(ws, w -> length(w) >= 8)").as("has_long_word"),
          expr("forall(ws, w -> length(w) <= 7)").as("all_short"))
    },

    // ----- map-typed column functions -----------------------------------
    // Builds a per-document word→count map the SCALE way (explode →
    // partial-agg count → map_from_entries over collect_list — never a
    // per-element lambda re-scan of the words array), then exercises
    // Spark's map surface on it: size / element_at / map_filter /
    // map_values / transform_values. Outputs are plain integer columns
    // so the gate hashes engine-portably; DuckDB derives the same
    // values from list algebra.
    Q("qf02_map_funcs",
      s"""WITH w AS ($wCte)
         |SELECT doc_id,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_keys,
         |  CAST(len(list_filter(ws, x -> x = 'the')) AS BIGINT) AS the_count,
         |  CAST(len(list_filter(list_distinct(ws),
         |    w -> len(list_filter(ws, x -> x = w)) = 1)) AS BIGINT) AS n_singletons,
         |  CAST(len(ws) AS BIGINT) AS sum_counts,
         |  CAST(2 * len(list_filter(ws, x -> x = 'the')) AS BIGINT) AS doubled_the,
         |  CAST(len(list_filter(list_distinct(ws), w -> length(w) >= 6)) AS BIGINT)
         |    AS n_long_keys
         |FROM w""".stripMargin) { (s, dir) =>
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(expr(Text.wordsExpr("text"))).as("w"))
      val maps = words.groupBy("doc_id", "w").count()
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("w"), col("count")))).as("m"))
      // explode drops zero-word documents entirely, but the oracle emits
      // an all-zero row for every document — left-join the maps back onto
      // the full document frame and coalesce to the empty map so an
      // empty/punctuation-only doc survives with n_keys = 0
      val withEmpty = Tables(s, dir, "documents").select(col("doc_id"))
        .join(maps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("m"), expr("map()").cast("map<string,bigint>")).as("m"))
      withEmpty.select(
        col("doc_id"),
        size(col("m")).cast(LongType).as("n_keys"),
        coalesce(element_at(col("m"), "the"), lit(0L)).as("the_count"),
        size(expr("map_filter(m, (k, v) -> v = 1)")).cast(LongType).as("n_singletons"),
        expr("aggregate(map_values(m), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("sum_counts"),
        coalesce(element_at(expr("transform_values(m, (k, v) -> v * 2)"), "the"),
          lit(0L)).as("doubled_the"),
        size(expr("map_filter(m, (k, v) -> length(k) >= 6)")).cast(LongType)
          .as("n_long_keys"))
    },

    // ----- exact grouped percentiles ------------------------------------
    // ANSI inverse-distribution functions: percentile_disc (the exact
    // order statistic — smallest value whose cume_dist reaches p) and
    // percentile_cont's interpolated median, grouped by returnflag,
    // against DuckDB's quantile_disc/quantile_cont. Quantities are
    // integral doubles so the one interpolated value is exactly
    // representable (a midpoint of integers) — no ulp drift. Spark
    // computes these with a single partial-aggregable pass, no window.
    Q("q78_percentiles",
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS q25,
        |  quantile_disc(l_quantity, 0.5) AS q50,
        |  quantile_disc(l_quantity, 0.75) AS q75,
        |  quantile_cont(l_quantity, 0.5) AS c50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val view = s"li_pct_${ProcessHandle.current().pid()}"
      Tables(s, dir, "lineitem").createOrReplaceTempView(view)
      s.sql(
        s"""SELECT l_returnflag,
           |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
           |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS q50,
           |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS q75,
           |  percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS c50
           |FROM $view GROUP BY l_returnflag""".stripMargin)
    },

    // ----- scalar string-function battery -------------------------------
    // The everyday ETL string surface in one gate — case, set-trim,
    // padding, substring/split_part/left/right, replace/translate,
    // position, reverse, repeat, concat_ws, and levenshtein — each
    // hash-compared against DuckDB's implementation (ASCII inputs, so
    // collation/locale can't blur the comparison).
    Q("qf04_string_funcs",
      """SELECT c_custkey,
        |  lower(c_name) AS low,
        |  trim(c_name, 'Cur') AS trimmed,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS lp,
        |  rpad(c_mktsegment, 12, '.') AS rp,
        |  substring(c_name, 10, 5) AS sub,
        |  split_part(c_name, '#', 2) AS part2,
        |  left(c_name, 4) AS l4, right(c_name, 3) AS r3,
        |  replace(c_name, 'Customer', 'Cust') AS repl,
        |  translate(c_name, '0123456789', 'abcdefghij') AS tr,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
        |  reverse(c_mktsegment) AS rev,
        |  repeat('ab', CAST(c_custkey % 3 AS INTEGER)) AS reps,
        |  concat_ws('-', c_mktsegment, c_name) AS joined,
        |  CAST(levenshtein(c_mktsegment, 'MACHINERY') AS BIGINT) AS lev
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").select(
        col("c_custkey"),
        lower(col("c_name")).as("low"),
        expr("trim(BOTH 'Cur' FROM c_name)").as("trimmed"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("lp"),
        rpad(col("c_mktsegment"), 12, ".").as("rp"),
        substring(col("c_name"), 10, 5).as("sub"),
        expr("split_part(c_name, '#', 2)").as("part2"),
        expr("left(c_name, 4)").as("l4"), expr("right(c_name, 3)").as("r3"),
        expr("replace(c_name, 'Customer', 'Cust')").as("repl"),
        translate(col("c_name"), "0123456789", "abcdefghij").as("tr"),
        instr(col("c_name"), "#").cast(LongType).as("hash_pos"),
        reverse(col("c_mktsegment")).as("rev"),
        expr("repeat('ab', CAST(c_custkey % 3 AS INT))").as("reps"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined"),
        levenshtein(col("c_mktsegment"), lit("MACHINERY")).cast(LongType).as("lev"))
    },

    // ----- scalar math-function battery (exact-IEEE only) ---------------
    // abs/ceil/floor/sign/greatest/least/mod/power-of-two/sqrt are all
    // exactly-rounded IEEE-754 operations, so both engines produce
    // bit-identical doubles; transcendentals (exp/ln/log) and ROUND's
    // tie policy are NOT cross-libm stable and are deliberately
    // excluded — the same discipline that keeps float aggregates on
    // the DECIMAL hop.
    Q("qf06_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS adisc,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS pceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS pfloor,
        |  CAST(sign(l_quantity - 25) AS BIGINT) AS sgn,
        |  greatest(l_quantity, l_discount * 100) AS gmax,
        |  least(l_quantity, l_discount * 100) AS lmin,
        |  l_orderkey % 7 AS m7,
        |  power(2.0, l_linenumber) AS p2,
        |  sqrt(l_quantity) AS sq
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("adisc"),
        ceil(col("l_extendedprice")).cast(LongType).as("pceil"),
        floor(col("l_extendedprice")).cast(LongType).as("pfloor"),
        signum(col("l_quantity") - 25).cast(LongType).as("sgn"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gmax"),
        least(col("l_quantity"), col("l_discount") * 100).as("lmin"),
        (col("l_orderkey") % 7).as("m7"),
        pow(lit(2.0), col("l_linenumber")).as("p2"),
        sqrt(col("l_quantity")).as("sq"))
    },

    // ----- scalar date/time-function battery ----------------------------
    // Calendar arithmetic both engines must agree on byte-for-byte:
    // part extraction, month truncation, last_day, month addition with
    // end-of-month clamping, day offsets and differences, day-of-week
    // (Spark is 1=Sunday, DuckDB 0=Sunday — normalized in the oracle),
    // ISO week, and strftime-style formatting.
    Q("qf05_datetime_funcs",
      """WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
        |SELECT o_orderkey,
        |  CAST(year(od) AS BIGINT) AS yr,
        |  CAST(quarter(od) AS BIGINT) AS qt,
        |  CAST(month(od) AS BIGINT) AS mo,
        |  CAST(day(od) AS BIGINT) AS dy,
        |  CAST(dayofyear(od) AS BIGINT) AS doy,
        |  CAST(dayofweek(od) + 1 AS BIGINT) AS dow,
        |  CAST(weekofyear(od) AS BIGINT) AS wk,
        |  CAST(date_trunc('month', od) AS DATE) AS mstart,
        |  last_day(od) AS mend,
        |  CAST(od + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  od + 10 AS plus10d,
        |  CAST(date_diff('day', od, DATE '1996-01-01') AS BIGINT) AS to_96,
        |  strftime(od, '%Y-%m') AS ym
        |FROM d""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
        .select(
          col("o_orderkey"),
          year(col("od")).cast(LongType).as("yr"),
          quarter(col("od")).cast(LongType).as("qt"),
          month(col("od")).cast(LongType).as("mo"),
          dayofmonth(col("od")).cast(LongType).as("dy"),
          dayofyear(col("od")).cast(LongType).as("doy"),
          dayofweek(col("od")).cast(LongType).as("dow"),
          weekofyear(col("od")).cast(LongType).as("wk"),
          date_trunc("month", col("od")).cast("date").as("mstart"),
          last_day(col("od")).as("mend"),
          add_months(col("od"), 2).as("plus2m"),
          date_add(col("od"), 10).as("plus10d"),
          datediff(lit("1996-01-01").cast("date"), col("od"))
            .cast(LongType).as("to_96"),
          date_format(col("od"), "yyyy-MM").as("ym"))
    },

    // ----- null-preserving lateral explode ------------------------------
    // explode_outer keeps the parent row (with NULL) when the array is
    // empty — the LATERAL VIEW OUTER semantics a flattening pipeline
    // needs so empty-feature documents don't silently vanish. The
    // 8-char word filter leaves a mix of matching and empty arrays, so
    // both branches are exercised; DuckDB emulates the outer explode
    // with a CASE-to-[NULL] before unnest.
    Q("qf03_explode_outer",
      s"""WITH w AS ($wCte),
         |x AS (SELECT doc_id, list_filter(ws, w -> length(w) >= 8) AS xs FROM w)
         |SELECT doc_id,
         |  unnest(CASE WHEN len(xs) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE xs END)
         |    AS word
         |FROM x""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode_outer(expr("filter(" + Text.wordsExpr("text") +
            ", w -> length(w) >= 8)")).as("word"))
    },

    // ----- FULL OUTER join ----------------------------------------------
    // Both sides are filtered to OVERLAPPING but distinct key subsets so
    // unmatched rows genuinely exist on BOTH sides (customers without
    // order rollups AND order rollups without a surviving customer) —
    // a plain left/right join would hash-pass without exercising the
    // full-outer null-fill. Aggregate-then-join keeps the outer join on
    // pre-shrunk inputs (the scale shape: never outer-join the raw fact).
    Q("q75_full_outer",
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0),
        |o AS (SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |      FROM orders WHERE o_custkey % 3 <> 1 GROUP BY o_custkey)
        |SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
        |  c_name, n_orders, max_price
        |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey""".stripMargin) { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_name"))
      val o = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 3 =!= 1)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"), col("max_price"))
    },

    // ----- bag set-ops: INTERSECT ALL / EXCEPT ALL ----------------------
    // q40/q41 gate the DISTINCT variants; these are the multiset
    // semantics (min-of-multiplicities / multiplicity subtraction) —
    // different operators in both engines, and the duplicate-heavy
    // nationkey columns make the bag/set difference observable.
    Q("q76_intersect_all",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT s_nationkey FROM supplier""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersectAll(
          Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    },
    Q("q77_except_all",
      """SELECT s_nationkey AS nationkey FROM supplier
        |EXCEPT ALL
        |SELECT c_nationkey FROM customer WHERE c_custkey % 50 = 0""".stripMargin) { (s, dir) =>
      Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        .exceptAll(Tables(s, dir, "customer")
          .filter(col("c_custkey") % 50 === 0)
          .select(col("c_nationkey").as("nationkey")))
    },

    // ----- exact multi-grain distinct counts in ONE pass ----------------
    // GROUPING SETS × the exact bitmap aggregate: distinct users per
    // event type, per day, AND overall in a single grouping-sets pass —
    // the custom TypedImperativeAggregate composes with Catalyst's
    // Expand exactly like a built-in, and each grain's count is EXACT
    // (q54's HLL rollup carries 2% error; qa05 showed the per-day
    // grain; this is the multi-grain report in one scan). COUNT
    // (DISTINCT) over grouping sets would expand+shuffle per grain;
    // the bitmap partials merge mid-shuffle instead.
    Q("qa11_bitmap_grouping_sets",
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq,
        |  COUNT(*) AS n_rows
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
        ev.groupingSets(
            Seq(Seq(col("event_type")), Seq(col("day")), Seq.empty),
            col("event_type"), col("day"))
          .agg(Text.bitmapCount(Text.bitmapAgg(col("user_id"))).as("uniq"),
            count(lit(1)).as("n_rows"))
    },

    // ----- exact weighted median ----------------------------------------
    // Weighted order statistic (the token-weighted quantile a corpus
    // budgeter needs): smallest value whose cumulative weight reaches
    // half the group total, decided by cross-multiplication
    // (2·cumw >= totw) so no engine divides. Scale shape: weights
    // collapse to one row per (group, value) FIRST (partial-agg
    // shuffle), and the window then runs over the value-distinct
    // table — cardinality |values|, not |rows|.
    Q("qa10_weighted_median",
      """WITH g AS (SELECT l_returnflag, l_quantity,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS w
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |c AS (SELECT l_returnflag, l_quantity, w,
        |  CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    AS BIGINT) AS cumw,
        |  CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
        |FROM g)
        |SELECT l_returnflag, MIN(l_quantity) AS wmedian,
        |  MIN(totw) AS tot_weight
        |FROM c WHERE 2 * cumw >= totw GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(sum(col("l_linenumber").cast(LongType)).as("w"))
      val byFlag = Window.partitionBy("l_returnflag")
      val c = g
        .withColumn("cumw", sum(col("w")).over(
          byFlag.orderBy("l_quantity")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("totw", sum(col("w")).over(byFlag))
      c.filter(col("cumw") * 2 >= col("totw"))
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("wmedian"),
          min(col("totw")).as("tot_weight"))
    },

    // ----- median absolute deviation (robust spread) --------------------
    // MAD = median(|x − median(x)|) per group — the robust outlier
    // scale estimate (q69's z-score flags assume a mean/stddev; MAD is
    // what a contaminated 100 TB corpus actually needs). Two grouped
    // median passes; the 3-row per-group median table broadcasts back
    // onto the fact. Quantities are integral doubles, so medians land
    // on 0.5 steps and deviation medians on 0.25 steps — all exactly
    // representable, no ulp drift against DuckDB's quantile_cont.
    Q("q79_mad",
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l.l_returnflag, abs(l.l_quantity - m.med) AS dev
        |  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag)
        |SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val view = s"li_mad_${ProcessHandle.current().pid()}"
      Tables(s, dir, "lineitem").createOrReplaceTempView(view)
      s.sql(
        s"""WITH m AS (SELECT l_returnflag,
           |    percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med
           |  FROM $view GROUP BY l_returnflag)
           |SELECT l.l_returnflag,
           |  percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(l.l_quantity - m.med)) AS mad,
           |  COUNT(*) AS n
           |FROM $view l JOIN m ON l.l_returnflag = m.l_returnflag
           |GROUP BY l.l_returnflag""".stripMargin)
    },

    // ----- per-group top-k WITHOUT a window sort ------------------------
    // The ROW_NUMBER-window idiom (the oracle) shuffles every order row
    // to its priority's partition and sorts whole groups; the
    // GroupTopK TypedImperativeAggregate keeps ≤ k pairs per group per
    // partition, so the exchange moves ≤ k·|groups| rows no matter the
    // input size — at 100 TB that's the difference between a full-fact
    // sort and a kilobyte shuffle. Same rows, proven by hashing against
    // the window formulation; partial-agg plan shape CI-locked in
    // PlanChecksSpec, partition invariance in GroupTopKSpec.
    Q("qa09_group_topk",
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |FROM orders)
        |SELECT o_orderpriority, rk, o_orderkey, o_totalprice
        |FROM r WHERE rk <= 5""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(Text.groupTopK(col("o_totalprice"), col("o_orderkey"), 5).as("topk"))
        .select(col("o_orderpriority"), posexplode(col("topk")).as(Seq("pos", "e")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast(LongType).as("rk"),
          col("e.id").as("o_orderkey"),
          col("e.value").as("o_totalprice"))
    },

    // ----- runtime bloom-filter semi-join reduction ---------------------
    // Catalyst's InjectRuntimeFilter turns the dim side's selective
    // predicate into a bloom filter evaluated on the FACT side before
    // its shuffle, so the exchange moves only probably-matching rows —
    // at 100 TB this is the difference between shuffling the whole fact
    // and shuffling the ~1/5 that can join. The builder REQUIRES both
    // halves in the optimized plan (bloom_filter_agg on the dim,
    // might_contain on the fact) so the row goes red if injection ever
    // regresses, then materializes under the tuned confs and restores
    // them (the broadcast threshold must stay default for every other
    // gate; at production scan sizes the default thresholds trigger the
    // same plan without tuning). The oracle is the plain join — the
    // bloom filter must be a pure reduction, never wrong rows.
    Q("qj16_runtime_filter",
      """SELECT l_orderkey, l_quantity, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin) { (s, dir) =>
      val conf = s.conf
      val saved = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> conf.getOption(k)).toMap
      try {
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val li = Tables(s, dir, "lineitem")
        val ords = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        val joined = li.join(ords, col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_quantity", "o_totalprice")
        val opt = joined.queryExecution.optimizedPlan.toString
        require(opt.contains("bloom_filter_agg"),
          "runtime bloom filter not injected on the creation side: " + opt.take(1000))
        require(opt.contains("might_contain"),
          "runtime bloom filter not applied on the fact side: " + opt.take(1000))
        // execute while the tuned confs are live; later consumers replan,
        // so hand them the materialized result instead
        joined.localCheckpoint()
      } finally saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _))
      }
    },

    // ----- automatic range-join binning (optimizer rule) ----------------
    // A pure interval join (event time BETWEEN band lo AND hi, no equi
    // keys) is a nested-loop plan in stock Spark — O(n·m) comparisons.
    // plans.RangeBinJoinRewrite, injected via SparkSessionExtensions,
    // rewrites it into the binned equi-join (the automatic form of
    // q43's manual composition): intervals explode into width-W bins,
    // points bin once, hash join on the bin, range re-checked. The
    // builder runs the join in an extensions-enabled session with
    // W = 1 hour, REQUIRES the rewrite fired (bin attribute in the
    // optimized plan, no nested loop in the physical plan), and the
    // DuckDB oracle runs the plain range join — the rewrite must be
    // row-for-row invisible.
    Q("qj17_range_bin_join",
      """WITH m AS (SELECT epoch_us(min(ts)) AS t0 FROM events),
        |b AS (SELECT CAST(i AS BIGINT) AS band,
        |        t0 + i * 3600000000 AS lo,
        |        t0 + (i + 1) * 3600000000 - 1 AS hi
        |      FROM m, range(0, 24) r(i)),
        |e AS (SELECT event_id, epoch_us(ts) AS t FROM events)
        |SELECT band, COUNT(*) AS n
        |FROM e JOIN b ON t >= lo AND t <= hi
        |GROUP BY band""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.SparkSession
      // one extensions-enabled session per JVM; it shares the
      // SparkContext, and the active/default session is restored at
      // once so other gates never see it
      val s2 = Fixture.once("qj17_session") {
        val prev = SparkSession.getActiveSession
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val es = SparkSession.builder()
          .withExtensions(graft.plans.GraftExtensions.apply)
          .getOrCreate()
        prev.foreach(SparkSession.setActiveSession)
        prev.foreach(SparkSession.setDefaultSession)
        es.conf.set("spark.graft.rangeJoin.binWidth", "3600000000")
        es
      }
      val ev = Tables(s2, dir, "events")
        .select(col("event_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("t"))
      val t0 = ev.agg(min(col("t"))).head().getLong(0)
      import s2.implicits._
      val bands = (0 until 24).map { i =>
        (i.toLong, t0 + i * 3600000000L, t0 + (i + 1) * 3600000000L - 1)
      }.toDF("band", "lo", "hi")
      val joined = ev.join(bands, col("t") >= col("lo") && col("t") <= col("hi"))
      require(joined.queryExecution.optimizedPlan.toString.contains("__range_bin"),
        "RangeBinJoinRewrite did not fire")
      require(!joined.queryExecution.executedPlan.toString.contains("NestedLoopJoin"),
        "binned range join must not nested-loop")
      joined.groupBy("band").agg(count(lit(1)).as("n"))
    },

    // ----- snapshot schema evolution ------------------------------------
    // v0 commits (c_custkey, c_name); v1 APPENDS rows carrying an added
    // c_nationkey column. The manifest's DECLARED schema governs every
    // read (no footer crawl): the latest read null-fills the old files'
    // missing column, and time travel to v0 — asserted in the builder —
    // still returns v0's two-column schema. The oracle reconstructs the
    // same union with an explicit NULL branch.
    Q("qj15_schema_evolution",
      """SELECT c_custkey, c_name, CAST(NULL AS BIGINT) AS c_nationkey
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin) { (s, dir) =>
      import graft.sources.Snapshots
      val table = Fixture.once("qj15_table", dir) {
        val t = Fixture.dir("graft_evo")
        val cust = Tables(s, dir, "customer")
        Snapshots.commit(s, t,
          cust.filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_name"))
        Snapshots.commit(s, t,
          cust.filter(col("c_custkey") % 2 === 1)
            .select("c_custkey", "c_name", "c_nationkey"),
          mode = "append")
        t
      }
      // time travel reads v0 under v0's schema, not the evolved one
      require(Snapshots.read(s, table, Some(0)).columns.toSeq ==
        Seq("c_custkey", "c_name"),
        "v0 must keep its pre-evolution schema")
      Snapshots.read(s, table)
    },

    // ----- branch/tag refs over the snapshot log ------------------------
    // Iceberg's ref model: versions are one global immutable sequence,
    // refs are named pointers. main and a feature branch fork from the
    // same base; each side's append carries from ITS OWN head, so the
    // branch read sees base + branch rows and the builder asserts main
    // never leaks the branch's commit. The oracle reconstructs the
    // branch view as a plain filter union.
    Q("qj19_branch_refs",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey % 4 IN (0, 2)""".stripMargin) { (s, dir) =>
      import graft.sources.{Refs, Snapshots}
      val table = Fixture.once("qj19_table", dir) {
        val t = Fixture.dir("graft_refs")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_name")
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 4 === 0)) // v0
        Refs.branch(s, t, "main")
        Refs.branch(s, t, "feature")
        Refs.commitTo(s, t, "main",
          cust.filter(col("c_custkey") % 4 === 1), mode = "append")
        Refs.commitTo(s, t, "feature",
          cust.filter(col("c_custkey") % 4 === 2), mode = "append")
        t
      }
      // main is isolated from the branch commit
      require(Refs.read(s, table, "main")
        .filter(col("c_custkey") % 4 === 2).count() == 0,
        "main must not see the feature branch's rows")
      Refs.read(s, table, "feature")
    },

    // ----- MERGE with schema evolution ----------------------------------
    // Delta's MERGE WITH SCHEMA EVOLUTION: the upsert source carries a
    // column the table lacks (acctbal); autoEvolve widens the declared
    // schema in the same commit — untouched rows null-fill, upserted
    // rows land wide. The oracle reconstructs the same two-branch
    // union. Composes qj12's merge with qj15's declared-schema rules.
    Q("qj18_merge_evolution",
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 10 <> 4
        |UNION ALL
        |SELECT c_custkey, c_name || '!' AS c_name, c_acctbal
        |FROM customer WHERE c_custkey % 10 = 4""".stripMargin) { (s, dir) =>
      import graft.sources.Snapshots
      val table = Fixture.once("qj18_table", dir) {
        val t = Fixture.dir("graft_mergeevo")
        val cust = Tables(s, dir, "customer")
        Snapshots.commit(s, t, cust.select("c_custkey", "c_name"))
        Snapshots.merge(s, t,
          cust.filter(col("c_custkey") % 10 === 4)
            .select(col("c_custkey"),
              concat(col("c_name"), lit("!")).as("c_name"), col("c_acctbal")),
          keyCols = Seq("c_custkey"), autoEvolve = true)
        t
      }
      Snapshots.read(s, table)
    },

    // ----- write-time expectations audit --------------------------------
    // Declarative data-quality rules evaluated in one pass with a
    // quarantine split (etl.Expectations — the Delta-expectations
    // shape). The gate audits four rules over lineitem: two range rules
    // with real violations, one that must report ZERO (the empty-path
    // proof), and a referential rule against a deliberately shrunk part
    // dim (simulating late-arriving dim rows) that quarantines ~1/7 of
    // the fact via a broadcast-join flag — the fact never shuffles.
    Q("qq01_expectations_audit",
      """SELECT 'l_discount_range' AS rule,
        |  COUNT(*) FILTER (WHERE NOT coalesce(l_discount IS NOT NULL
        |    AND l_discount >= 0 AND l_discount <= 0.05, FALSE)) AS n_viol,
        |  COUNT(*) - COUNT(*) FILTER (WHERE NOT coalesce(l_discount IS NOT NULL
        |    AND l_discount >= 0 AND l_discount <= 0.05, FALSE)) AS n_pass
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity_range',
        |  COUNT(*) FILTER (WHERE NOT coalesce(l_quantity IS NOT NULL
        |    AND l_quantity >= 1 AND l_quantity <= 45, FALSE)),
        |  COUNT(*) - COUNT(*) FILTER (WHERE NOT coalesce(l_quantity IS NOT NULL
        |    AND l_quantity >= 1 AND l_quantity <= 45, FALSE))
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_tax_nonneg',
        |  COUNT(*) FILTER (WHERE NOT coalesce(l_tax >= 0, FALSE)),
        |  COUNT(*) - COUNT(*) FILTER (WHERE NOT coalesce(l_tax >= 0, FALSE))
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey_fk',
        |  COUNT(*) FILTER (WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part WHERE p_partkey % 7 <> 3)),
        |  COUNT(*) - COUNT(*) FILTER (WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part WHERE p_partkey % 7 <> 3))
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import graft.etl.Expectations
      val li = Tables(s, dir, "lineitem")
      val shrunkPart = Tables(s, dir, "part").filter(col("p_partkey") % 7 =!= 3)
      Expectations.audit(li,
        Seq(
          Expectations.inRange("l_discount", 0, 0.05),
          Expectations.inRange("l_quantity", 1, 45),
          Expectations.Rule("l_tax_nonneg", col("l_tax") >= 0)),
        Seq(Expectations.fkExists("l_partkey", shrunkPart, "p_partkey")))
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

    // ----- validated corpus release (expectations × dedup × split) ------
    // The quality gate composed into the release chain: declarative
    // expectations drop out-of-range/off-language docs (quarantine
    // semantics proven by qq01 — here the clean side flows on), exact
    // dedup keeps each text's min doc id, and the engine-portable hash
    // split assigns train/val/test. ONE oracle replays the whole chain,
    // so a change in any stage (rule predicates, dedup tie-break,
    // split thresholds) breaks the composition gate, not just a unit.
    Q("qp08_validated_corpus", {
      val ph = Text.polyhashSql("CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT doc_id, lang, n_chars, text FROM documents
         |  WHERE n_chars IS NOT NULL AND n_chars >= 100 AND n_chars <= 500
         |    AND lang IN ('en', 'de', 'fr')),
         |k AS (SELECT MIN(doc_id) AS doc_id FROM c GROUP BY text),
         |j AS (SELECT c.doc_id, c.lang, c.n_chars FROM c
         |      JOIN k ON c.doc_id = k.doc_id)
         |SELECT doc_id, lang, n_chars, bucket,
         |  CASE WHEN bucket < 9000 THEN 'train'
         |       WHEN bucket < 9500 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang, n_chars, $ph % 10000 AS bucket FROM j)""".stripMargin
    }) { (s, dir) =>
      import graft.etl.Expectations
      import graft.operators.Curation
      val docs = Tables(s, dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
      val (clean, _) = Expectations.validate(docs, Seq(
        Expectations.inRange("n_chars", 100, 500),
        Expectations.inSet("lang", Seq("en", "de", "fr"))))
      val keep = clean.groupBy("text").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val deduped = clean.join(keep, Seq("doc_id"))
        .select("doc_id", "lang", "n_chars")
      Curation.hashSplit(deduped, "doc_id", valBp = 500, testBp = 500)
        .select("doc_id", "lang", "n_chars", "bucket", "split")
    },

    // ----- per-domain quality selection (curation) ----------------------
    // Keep each source's top quarter of documents by vocabulary
    // richness — the "select best-of per domain" curation step that
    // follows scoring (qt02) and precedes mixing (qc06). Exact top-25%
    // via row_number against the partition count with the ceil done as
    // cross-multiplication (rn*4 <= cnt+3), so neither engine divides.
    // Scale: one shuffle on source; within-source ordering is the
    // documented cost — for few huge domains the threshold-first
    // refinement (per-source score quantile, then a filter) avoids the
    // full sort, noted here and benched via the window path.
    Q("qc12_quality_select",
      s"""WITH w AS ($wCte),
         |m AS (SELECT doc_id, source,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words FROM w),
         |r AS (SELECT doc_id, source, n_distinct_words,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY n_distinct_words DESC, doc_id) AS rn,
         |  COUNT(*) OVER (PARTITION BY source) AS cnt
         |FROM m)
         |SELECT doc_id, source, n_distinct_words, rn
         |FROM r WHERE rn * 4 <= cnt + 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables(s, dir, "documents")
        .withColumn("ws", expr(Text.wordsExpr("text")))
        .select(col("doc_id"), col("source"),
          size(array_distinct(col("ws"))).cast(LongType).as("n_distinct_words"))
      val bySource = Window.partitionBy(col("source"))
      val ranked = m
        .withColumn("rn",
          row_number().over(bySource.orderBy(col("n_distinct_words").desc, col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(bySource))
      ranked.filter(col("rn") * 4 <= col("cnt") + 3)
        .select(col("doc_id"), col("source"), col("n_distinct_words"),
          col("rn").cast(LongType).as("rn"))
    },

    // ----- partition-spec evolution + hidden-partition pruning ----------
    // An Iceberg-style evolvable layout end to end: v0 commits the
    // pre-1998 fact half partitioned by year(l_shipdate), v1 APPENDS
    // the rest under a DIFFERENT spec (month since 1970-01) — the
    // `__p_<transform>_<col>=v` path segments are self-describing, so
    // one rangeRead prunes each file under the spec it was written
    // with (builder-required below: the band keeps only 1997 year-dirs
    // and 1998-01..03 month-dirs) and unions both layouts, with the
    // derived columns never leaking into query semantics. The oracle
    // is a plain filter over the same source rows — layout must be
    // invisible to results, which is the whole point.
    Q("qj20_partition_evolution",
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${graft.functions.Exact.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
         |  AND l_shipdate <= TIMESTAMP '1998-03-31 00:00:00'
         |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      import graft.sources.{PartitionSpec, Snapshots}
      val cut = "1998-01-01"
      val table = Fixture.once("qj20_table", dir) {
        val t = Fixture.dir("graft_pspec")
        val li = Tables(s, dir, "lineitem")
        Snapshots.commit(s, t, li.filter(col("l_shipdate") < cut),
          partitionBy = Seq(("year", "l_shipdate")))
        Snapshots.commit(s, t, li.filter(col("l_shipdate") >= cut),
          mode = "append", partitionBy = Seq(("month", "l_shipdate")))
        t
      }
      val (lo, hi) = ("1997-06-01", "1998-03-31")
      val rel = Snapshots.files(s, table)
      val kept = rel.filter(PartitionSpec.mayContain(_, "l_shipdate", lo, hi))
      require(rel.exists(_.contains("__p_year_")) &&
        rel.exists(_.contains("__p_month_")), "both specs must be present")
      require(kept.nonEmpty && kept.size < rel.size,
        s"partition pruning must drop files (kept ${kept.size}/${rel.size})")
      Snapshots.rangeRead(s, table, "l_shipdate", lo, hi)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_quantity")).as("sum_qty"))
    },

    // ----- bucket-transform point read -----------------------------------
    // The high-cardinality-key half of hidden partitioning: orders laid
    // out by bucket16(o_custkey) (CRC32 of the canonical string form —
    // the driver computes the bound's bucket with no cluster
    // round-trip, PartitionSpec.bucketValue), so a point read touches
    // ~1/16 of the files, builder-required below. Hashing destroys
    // order, so ONLY equality bounds prune — a range over the key keeps
    // everything (conservative), also asserted in the spec.
    Q("qj21_bucket_point_read",
      s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${graft.functions.Exact.dsumSql("o_totalprice")} AS sum_total
         |FROM orders WHERE o_custkey = 421
         |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      import graft.sources.{PartitionSpec, Snapshots}
      val table = Fixture.once("qj21_table", dir) {
        val t = Fixture.dir("graft_bucket")
        Snapshots.commit(s, t, Tables(s, dir, "orders"),
          partitionBy = Seq(("bucket16", "o_custkey")))
        t
      }
      val rel = Snapshots.files(s, table)
      val kept = rel.filter(PartitionSpec.mayContain(_, "o_custkey", "421", "421"))
      require(kept.nonEmpty && kept.size * 4 <= rel.size,
        s"bucket pruning must drop most files (kept ${kept.size}/${rel.size})")
      Snapshots.rangeRead(s, table, "o_custkey", "421", "421")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("sum_total"))
    },

    // ----- zero-copy rollback (Delta RESTORE) ---------------------------
    // A bad overwrite lands as v1; restore(0) publishes a NEW head
    // whose manifest re-references v0's files verbatim — zero bytes
    // copied, the bad version stays readable for forensics, and the
    // rollback is itself an auditable commit (builder-required: the
    // restored head's file list IS v0's, and history shows 3 versions
    // with only the head current). The oracle rebuilds the good state
    // from source — a reader of the restored table must be unable to
    // tell the incident ever happened.
    Q("qj22_restore",
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE c_custkey % 3 = 0""".stripMargin) { (s, dir) =>
      import graft.sources.Snapshots
      val table = Fixture.once("qj22_table", dir) {
        val t = Fixture.dir("graft_restore")
        val cust = Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 3 === 0)) // good
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 3 === 1)) // bad
        Snapshots.restore(s, t, 0)
        t
      }
      require(Snapshots.files(s, table) == Snapshots.files(s, table, Some(0)),
        "restored head must re-reference v0's files verbatim")
      val hist = Snapshots.history(s, table).collect()
      require(hist.length == 3 && hist.count(_.getBoolean(5)) == 1,
        "history must show 3 auditable versions with one current head")
      Snapshots.read(s, table)
    },

    // ----- degree assortativity (exact integer moments) -----------------
    // Whether high-degree pages link to high-degree pages — the
    // structural health metric for a link graph (web spam farms skew
    // it). Pearson assortativity over directed-symmetrized edge
    // endpoint degrees, carried as the EXACT integer moments
    // (m, s_xy, s_x, s_x2) plus the cross-multiplied numerator and
    // denominator factor — consumers compare via cross-multiplication
    // and never divide or sqrt (the q73 slope-pair discipline). One
    // row out; two key-partitioned joins and a partial-agg pass.
    Q("qg05_assortativity",
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
        |  FROM events),
        |seq AS (
        |  SELECT page AS src,
        |    LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM ev),
        |ud AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM seq WHERE dst IS NOT NULL AND src <> dst),
        |deg AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT a AS v FROM ud UNION ALL SELECT b AS v FROM ud)
        |  GROUP BY v),
        |sym AS (
        |  SELECT da.d AS x, db.d AS y
        |  FROM ud JOIN deg da ON ud.a = da.v JOIN deg db ON ud.b = db.v
        |  UNION ALL
        |  SELECT db.d AS x, da.d AS y
        |  FROM ud JOIN deg da ON ud.a = da.v JOIN deg db ON ud.b = db.v),
        |mo AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(x * y) AS BIGINT) AS s_xy,
        |    CAST(SUM(x) AS BIGINT) AS s_x,
        |    CAST(SUM(x * x) AS BIGINT) AS s_x2
        |  FROM sym)
        |SELECT m, s_xy, s_x, s_x2,
        |  m * s_xy - s_x * s_x AS r_num,
        |  m * s_x2 - s_x * s_x AS r_den
        |FROM mo""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // ud feeds the degree count (twice) and the orientation join —
      // materialized once so the moment aggregation reads an in-memory
      // edge list instead of re-running the events window per branch
      val ud = ev
        .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull && col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
        .localCheckpoint()
      val deg = ud.select(col("a").as("v")).unionAll(ud.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val withD = ud
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      val sym = withD.select(col("da").as("x"), col("db").as("y"))
        .unionAll(withD.select(col("db").as("x"), col("da").as("y")))
      sym.agg(
          count(lit(1)).as("m"),
          sum(col("x") * col("y")).as("s_xy"),
          sum(col("x")).as("s_x"),
          sum(col("x") * col("x")).as("s_x2"))
        .select(col("m"), col("s_xy"), col("s_x"), col("s_x2"),
          (col("m") * col("s_xy") - col("s_x") * col("s_x")).as("r_num"),
          (col("m") * col("s_x2") - col("s_x") * col("s_x")).as("r_den"))
    },

    // ----- sentence segmentation stats ----------------------------------
    // The sentence-level half of the text battery (qt02 is word/char
    // level): terminator-split sentences with blank fragments dropped
    // on BOTH engines (DuckDB keeps the trailing empty after 'a.b.',
    // Spark's limit=-1 split does too — the filter makes the fragment
    // lists identical), then per-doc counts, exact char sums, longest
    // sentence, and the lead sentence's length. Row-local, one
    // codegen'd projection; the mean sentence length rides as the
    // integer pair (sum_sent_chars, n_sentences), never divided.
    Q("qt19_sentences",
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |                x -> length(trim(x)) > 0) AS sents
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_sum(list_transform(sents,
        |    x -> length(trim(x)))), 0) AS BIGINT) AS sum_sent_chars,
        |  CAST(COALESCE(list_max(list_transform(sents,
        |    x -> length(trim(x)))), 0) AS BIGINT) AS max_sent_chars,
        |  CAST(CASE WHEN len(sents) > 0 THEN length(trim(sents[1]))
        |    ELSE 0 END AS BIGINT) AS lead_sent_chars
        |FROM s""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("sents",
          expr("filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)"))
        .select(
          col("doc_id"),
          size(col("sents")).cast(LongType).as("n_sentences"),
          expr("""coalesce(aggregate(transform(sents,
                 |  x -> CAST(length(trim(x)) AS BIGINT)),
                 |  CAST(0 AS BIGINT), (a, x) -> a + x), 0L)""".stripMargin)
            .as("sum_sent_chars"),
          expr("coalesce(array_max(transform(sents, x -> CAST(length(trim(x)) AS BIGINT))), 0L)")
            .as("max_sent_chars"),
          expr("""CASE WHEN size(sents) > 0
                 |  THEN CAST(length(trim(element_at(sents, 1))) AS BIGINT)
                 |  ELSE 0L END""".stripMargin).as("lead_sent_chars"))
    },

    // ----- time-constrained funnel (conversion windows) -----------------
    // q55's funnel with the constraint real conversion analysis needs:
    // each stage must land WITHIN an interval of the previous one
    // (click ≤ 1 day after first view, purchase ≤ 3 days after that
    // click). Same narrowing-equi-join shape as q55 — user-keyed joins
    // + min-aggregates, no global window, no per-user collect — with
    // the window bound as a residual range predicate on the co-
    // partitioned join, which is the scale-correct place for it.
    Q("q80_windowed_funnel",
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 1 DAY
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 3 DAY
        |      GROUP BY e.user_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS viewed,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS clicked_1d,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS purchased_3d""".stripMargin) {
      (s, dir) =>
        val ev = Tables(s, dir, "events")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 1 DAY"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id")
          .filter(col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 3 DAY"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        v.agg(count(lit(1)).as("viewed"))
          .crossJoin(c.agg(count(lit(1)).as("clicked_1d")))
          .crossJoin(p.agg(count(lit(1)).as("purchased_3d")))
    },

    // ----- write-audit-publish release gating ---------------------------
    // The lakehouse release pattern composed from branch refs +
    // write-time expectations: every batch STAGES as a real commit on
    // the audit branch; only a passing audit fast-forwards main. A
    // good batch publishes; a batch with NULL names aborts — main
    // never moves (builder-required), the staged bad version stays in
    // global history for forensics, and the audit branch resets for
    // the next batch. Audit cost is per-batch, not per-table (carried
    // files were validated when THEY published). The oracle rebuilds
    // main's expected state from source: consumers pinned to main must
    // be unable to observe the rejected batch.
    Q("qj23_wap",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey % 4 IN (0, 2)""".stripMargin) { (s, dir) =>
      import graft.etl.Expectations
      import graft.sources.{Refs, Snapshots, Wap}
      val table = Fixture.once("qj23_table", dir) {
        val t = Fixture.dir("graft_wap")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_name")
        Snapshots.commit(s, t, cust.filter(col("c_custkey") % 4 === 0)) // v0
        Refs.branch(s, t, "main")
        Refs.branch(s, t, "audit")
        val rules = Seq(Expectations.notNull("c_name"))
        val good = Wap.writeAuditPublish(s, t,
          cust.filter(col("c_custkey") % 4 === 2), rules)
        require(good.isRight, s"clean batch must publish, got $good")
        val mainBefore = Refs.resolve(s, t, "main")
        val bad = Wap.writeAuditPublish(s, t,
          cust.filter(col("c_custkey") % 4 === 1)
            .withColumn("c_name",
              when(col("c_custkey") % 8 === 1, lit(null)).otherwise(col("c_name"))),
          rules)
        require(bad.isLeft && bad.swap.exists(_ > 0),
          s"dirty batch must abort with violations, got $bad")
        require(Refs.resolve(s, t, "main") == mainBefore,
          "an aborted audit must never move main")
        require(Snapshots.versions(s, t).size >= 3,
          "the staged bad version must remain in history for forensics")
        t
      }
      Refs.read(s, table, "main")
    },

    // ----- array-function battery (set algebra + slicing) ---------------
    // The non-lambda half of the array surface qf01 left open: sort,
    // distinct, intersect/union/except, overlap, slice, flatten,
    // position, contains, min/max, reverse — each computed row-locally
    // (no shuffle; one codegen'd projection) and serialized to a
    // space-joined string so the gate compares scalars. Ordering
    // discipline: DuckDB's list_distinct/list_intersect reorder, so
    // every set-valued result is explicitly sorted on BOTH sides;
    // DuckDB's array_to_string([]) is NULL where Spark's array_join is
    // '' — the oracle coalesces.
    Q("qf07_array_funcs",
      s"""WITH w AS ($wCte),
         |m AS (SELECT doc_id, ws, ws[1:6] AS a, ws[4:12] AS b FROM w)
         |SELECT doc_id,
         |  COALESCE(array_to_string(list_sort(a), ' '), '') AS sorted_a,
         |  COALESCE(array_to_string(list_sort(list_distinct(a)), ' '), '') AS distinct_a,
         |  COALESCE(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ' '), '') AS inter_ab,
         |  COALESCE(array_to_string(list_sort(list_distinct(a || b)), ' '), '') AS union_ab,
         |  COALESCE(array_to_string(list_sort(list_distinct(
         |    list_filter(a, x -> NOT list_contains(b, x)))), ' '), '') AS except_ab,
         |  len(list_intersect(a, b)) > 0 AS overlap_ab,
         |  COALESCE(array_to_string(flatten([a, b]), ' '), '') AS flat_ab,
         |  COALESCE(array_to_string(list_reverse(a), ' '), '') AS rev_a,
         |  CAST(list_position(ws, 'the') AS BIGINT) AS pos_the,
         |  list_contains(ws, 'the') AS has_the,
         |  CAST(len(a) AS BIGINT) AS len_a,
         |  list_min(a) AS min_a,
         |  list_max(a) AS max_a
         |FROM m""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("ws", expr(Text.wordsExpr("text")))
        .withColumn("a", expr("slice(ws, 1, 6)"))
        .withColumn("b", expr("slice(ws, 4, 9)"))
        .select(
          col("doc_id"),
          array_join(array_sort(col("a")), " ").as("sorted_a"),
          array_join(array_sort(array_distinct(col("a"))), " ").as("distinct_a"),
          array_join(array_sort(array_intersect(col("a"), col("b"))), " ").as("inter_ab"),
          array_join(array_sort(array_union(col("a"), col("b"))), " ").as("union_ab"),
          array_join(array_sort(array_except(col("a"), col("b"))), " ").as("except_ab"),
          arrays_overlap(col("a"), col("b")).as("overlap_ab"),
          array_join(flatten(array(col("a"), col("b"))), " ").as("flat_ab"),
          array_join(reverse(col("a")), " ").as("rev_a"),
          array_position(col("ws"), "the").as("pos_the"),
          array_contains(col("ws"), "the").as("has_the"),
          size(col("a")).cast(LongType).as("len_a"),
          array_min(col("a")).as("min_a"),
          array_max(col("a")).as("max_a"))
    },

    // ----- bitwise + null-conditional battery ---------------------------
    // The remaining scalar surface qf04–qf06 left open: bitwise
    // AND/OR/XOR/shifts/popcount (hash bucketing, bitmap flags, feature
    // packing all live on these) and the null-conditional forms
    // (ifnull/nullif composition, inline if, greatest/least across
    // expressions — both engines skip NULLs). All row-local, one
    // codegen'd projection, hash-compared against DuckDB bit for bit.
    Q("qf08_bitwise_conditional",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey & l_partkey AS BIGINT) AS band,
        |  CAST(l_orderkey | l_linenumber AS BIGINT) AS bor,
        |  CAST(xor(l_orderkey, l_suppkey) AS BIGINT) AS bxor,
        |  CAST(l_linenumber << 3 AS BIGINT) AS shl,
        |  CAST(l_orderkey >> 2 AS BIGINT) AS shr,
        |  CAST(bit_count(l_orderkey) AS BIGINT) AS bcnt,
        |  ifnull(nullif(l_returnflag, 'N'), 'none') AS cond_flag,
        |  if(l_quantity > 25, 'hi', 'lo') AS qband,
        |  CAST(greatest(l_orderkey % 97, l_partkey % 97, l_suppkey % 97) AS BIGINT) AS g3,
        |  CAST(least(l_orderkey % 97, l_partkey % 97, l_suppkey % 97) AS BIGINT) AS l3
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_orderkey").bitwiseAND(col("l_partkey")).cast(LongType).as("band"),
        col("l_orderkey").bitwiseOR(col("l_linenumber")).cast(LongType).as("bor"),
        col("l_orderkey").bitwiseXOR(col("l_suppkey")).cast(LongType).as("bxor"),
        shiftleft(col("l_linenumber"), 3).cast(LongType).as("shl"),
        shiftright(col("l_orderkey"), 2).cast(LongType).as("shr"),
        bit_count(col("l_orderkey")).cast(LongType).as("bcnt"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("cond_flag"),
        when(col("l_quantity") > 25, "hi").otherwise("lo").as("qband"),
        greatest(col("l_orderkey") % 97, col("l_partkey") % 97,
          col("l_suppkey") % 97).cast(LongType).as("g3"),
        least(col("l_orderkey") % 97, col("l_partkey") % 97,
          col("l_suppkey") % 97).cast(LongType).as("l3"))
    },

    // ----- exact fixed-point PageRank over the navigation graph ---------
    // The corpus-curation quality prior: PageRank over the page
    // transition graph (consecutive events per user = one weighted
    // edge, the q72 grain). Ranks are scaled BIGINTs and every step is
    // integer multiply / truncating divide (operators.Graph scaladoc),
    // so the 3-iteration result is bit-identical across engines,
    // partitionings, and reruns — the oracle unrolls the identical
    // integer recurrence as CTEs. Scale: per iteration one src-keyed
    // equi-join + one dst-keyed partial-agg shuffle; N and dangling
    // mass ride as broadcast 1-row scalars; no driver state.
    Q("qg01_pagerank", pagerankOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // materialized once: the declarative recurrence references the
      // edge/node frames ~3^iters times, and un-checkpointed every
      // reference re-runs the events scan + JSON parse + session
      // window (bit-identical results — only the plan shape changes)
      val edges = ev
        .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val nodes = ev.select(col("page").as("id")).distinct().localCheckpoint()
      graft.operators.Graph.pagerankFp(nodes, edges, iters = 3)
        .select(col("id").as("page"), col("r").as("rank_fp"))
    },

    // ----- exact triangle / degree counts (clustering signal) -----------
    // Per-page triangle count + degree over the undirected navigation
    // graph — the clustering-coefficient corpus-quality signal, kept as
    // the integer pair (n_tri, deg) so nothing divides (q73
    // discipline). The Spark side orients edges by (degree, id) so
    // wedge fan-out is bounded by higher-degree-neighbor counts (hub
    // safe — Graph.triangleCounts scaladoc); the oracle closes
    // id-ordered triples — a different enumeration order of the SAME
    // triangle set, so the per-vertex counts hash-match exactly.
    Q("qg02_triangles",
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
         |  FROM events),
         |seq AS (
         |  SELECT page AS src,
         |    LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM ev),
         |nodes AS (SELECT DISTINCT page FROM ev),
         |ud AS (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM seq WHERE dst IS NOT NULL AND src <> dst),
         |deg AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS v FROM ud UNION ALL SELECT b AS v FROM ud)
         |  GROUP BY v),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ud e1
         |  JOIN ud e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN ud e3 ON e3.a = e1.b AND e3.b = e2.b),
         |tcnt AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY v)
         |SELECT n.page, COALESCE(d.deg, 0) AS deg,
         |  COALESCE(t.n_tri, 0) AS n_tri
         |FROM nodes n
         |LEFT JOIN deg d ON n.page = d.v
         |LEFT JOIN tcnt t ON n.page = t.v""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev
        .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      val nodes = ev.select(col("page").as("id")).distinct()
      graft.operators.Graph.triangleCounts(nodes, edges)
        .select(col("id").as("page"), col("deg"), col("n_tri"))
    },

    // ----- DEEP fixed-point PageRank (materialized rounds) ---------------
    // qg01 gates the recurrence at the shallow declarative depth; this
    // gates the MATERIALIZED driver at 12 rounds — past the ~3^iters
    // analysis wall the declarative form hits (COVERAGE.md batch 10;
    // 12 bounds the bench cost, which is pure per-round job overhead
    // at this node count and would be data-dominated on a real graph) —
    // against a DuckDB RECURSIVE CTE computing the identical integer
    // recurrence (the working table is the previous round's rank
    // vector; the dangling/round scalar rides an always-one-row
    // aggregate, because a GROUP BY over zero dangling rows would
    // silently kill the recursion). Same bit-exactness argument as
    // qg01, now composed with constant plan depth.
    Q("qg04_pagerank_deep", pagerankDeepOracle(12)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev
        .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val nodes = ev.select(col("page").as("id")).distinct()
      graft.operators.Graph.pagerankFpMaterialized(nodes, edges, iters = 12)
        .select(col("id").as("page"), col("r").as("rank_fp"))
    },

    // ----- personalized (topic-sensitive) PageRank ----------------------
    // Proximity-to-seed-set ranking: teleport and dangling mass flow
    // only to the seed pages (≡ 0 mod 7 — a stand-in for a trusted
    // domain list), so ranks measure weighted-path closeness to the
    // seeds — the domain-biased quality prior for corpus curation.
    // Same exact-integer recurrence and oracle discipline as qg01,
    // plus one broadcast seed-membership join.
    Q("qg06_personalized_pagerank", personalizedOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev
        .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val nodes = ev.select(col("page").as("id")).distinct()
      val seeds = nodes.filter(col("id") % 7 === 0)
      graft.operators.Graph.personalizedPagerankFp(nodes, edges, seeds, iters = 3)
        .select(col("id").as("page"), col("r").as("rank_fp"))
    },

    // ----- deterministic label-propagation communities -------------------
    // The clustering third of the graph trio (rank qg01, cohesion
    // qg02): 3 rounds of MONOTONE weighted label propagation — adopt
    // the heaviest neighbor label (ties toward the smaller) only when
    // smaller than the current one. Labels are non-increasing, so the
    // process converges where textbook synchronous LPA oscillates, and
    // with integer weights plus a total tie order the communities are
    // bit-reproducible across engines, partitionings, and reruns —
    // what makes them usable in a diffable corpus release. The oracle
    // unrolls the identical rounds.
    Q("qg03_label_prop", labelPropOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val transitions = ev
        .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
      val nodes = ev.select(col("page").as("id")).distinct()
      graft.operators.Graph.labelPropagation(nodes, transitions, iters = 3)
        .select(col("id").as("page"), col("lab").as("community"))
    }
  )

  /** DuckDB oracle for qg06: the qg01 recurrence with teleport and
    * dangling mass restricted to the seed set (pages ≡ 0 mod 7).
    */
  private def personalizedOracle: String = {
    val S = "1000000000000"
    def iter(i: Int): String = {
      val p = i - 1
      s"""d$p AS (
         |  SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang
         |  FROM r$p LEFT JOIN outw ON r$p.page = outw.src
         |  WHERE outw.src IS NULL),
         |c$i AS (
         |  SELECT e.dst AS page,
         |    CAST(SUM((r.r * e.w * 85) // (o.ow * 100)) AS BIGINT) AS s
         |  FROM edges e
         |  JOIN r$p r ON e.src = r.page
         |  JOIN outw o ON e.src = o.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT nd.page,
         |    CAST(CASE WHEN nd.page % 7 = 0 THEN
         |        ($S * 15) // (bb.b * 100) + (d$p.dang * 85) // (bb.b * 100)
         |      ELSE 0 END
         |      + COALESCE(c$i.s, 0) AS BIGINT) AS r
         |  FROM nodes nd CROSS JOIN bb CROSS JOIN d$p
         |  LEFT JOIN c$i ON nd.page = c$i.page)""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
       |  FROM events),
       |seq AS (
       |  SELECT page AS src,
       |    LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev),
       |edges AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT page FROM ev),
       |bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM nodes WHERE page % 7 = 0),
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
       |r0 AS (SELECT nd.page,
       |         CAST(CASE WHEN nd.page % 7 = 0 THEN $S // bb.b ELSE 0 END AS BIGINT) AS r
       |       FROM nodes nd CROSS JOIN bb),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT page, r AS rank_fp FROM r3""".stripMargin
  }

  /** DuckDB oracle for qg04: the qg01 integer recurrence driven to
    * `rounds` by a RECURSIVE CTE instead of unrolled CTEs. The
    * recursive working table is the previous round's rank vector; the
    * round counter and dangling mass ride ONE always-present aggregate
    * row (a GROUP BY over zero dangling rows would return no rows and
    * end the recursion silently — the scalar must be an ungrouped
    * aggregate).
    */
  private def pagerankDeepOracle(rounds: Int): String = {
    val S = "1000000000000"
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
       |  FROM events),
       |seq AS (
       |  SELECT page AS src,
       |    LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev),
       |edges AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT page FROM ev),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
       |it AS (
       |  SELECT 0 AS round, nd.page, CAST($S // nn.n AS BIGINT) AS r
       |  FROM nodes nd CROSS JOIN nn
       |  UNION ALL
       |  SELECT d.mr + 1, nd.page,
       |    CAST(($S * 15) // (nn.n * 100)
       |      + (d.dang * 85) // (nn.n * 100)
       |      + COALESCE(c.s, 0) AS BIGINT) AS r
       |  FROM nodes nd
       |  CROSS JOIN nn
       |  CROSS JOIN (SELECT MAX(it.round) AS mr,
       |                CAST(COALESCE(SUM(CASE WHEN outw.src IS NULL
       |                  THEN it.r END), 0) AS BIGINT) AS dang
       |              FROM it LEFT JOIN outw ON it.page = outw.src) d
       |  LEFT JOIN (SELECT e.dst AS page,
       |               CAST(SUM((i.r * e.w * 85) // (o.ow * 100)) AS BIGINT) AS s
       |             FROM edges e
       |             JOIN it i ON e.src = i.page
       |             JOIN outw o ON e.src = o.src
       |             GROUP BY e.dst) c ON nd.page = c.page
       |  WHERE d.mr < $rounds
       |)
       |SELECT page, r AS rank_fp FROM it WHERE round = $rounds""".stripMargin
  }

  /** DuckDB oracle for qg03: the same monotone label propagation,
    * unrolled (weights = transition multiplicities summed over both
    * directions of each unordered pair; per round each node finds the
    * heaviest neighbor label — ties toward the smaller — and adopts it
    * only if SMALLER than its current one; isolated nodes keep their
    * own).
    */
  private def labelPropOracle: String = {
    def iter(i: Int): String = {
      val p = i - 1
      s"""n$i AS (
         |  SELECT s.u, l.lab, CAST(SUM(s.w) AS BIGINT) AS sw
         |  FROM sym s JOIN l$p l ON s.v = l.page
         |  GROUP BY s.u, l.lab),
         |b$i AS (
         |  SELECT u, lab FROM (
         |    SELECT u, lab, ROW_NUMBER() OVER (
         |      PARTITION BY u ORDER BY sw DESC, lab) AS rn FROM n$i)
         |  WHERE rn = 1),
         |l$i AS (
         |  SELECT nd.page,
         |    LEAST(l$p.lab, COALESCE(b$i.lab, l$p.lab)) AS lab
         |  FROM nodes nd
         |  JOIN l$p ON nd.page = l$p.page
         |  LEFT JOIN b$i ON nd.page = b$i.u)""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
       |  FROM events),
       |seq AS (
       |  SELECT page AS src,
       |    LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev),
       |pe AS (
       |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM seq WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
       |sym AS (
       |  SELECT a AS u, b AS v, w FROM pe
       |  UNION ALL SELECT b AS u, a AS v, w FROM pe),
       |nodes AS (SELECT DISTINCT page FROM ev),
       |l0 AS (SELECT page, page AS lab FROM nodes),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT page, lab AS community FROM l3""".stripMargin
  }

  /** DuckDB oracle for qg01: the same integer fixed-point recurrence,
    * unrolled. S=1e12, d=85/100, 3 iterations (must mirror
    * Graph.pagerankFp's defaults exactly).
    */
  private def pagerankOracle: String = {
    val S = "1000000000000"
    def iter(i: Int): String = {
      val p = i - 1
      s"""d$p AS (
         |  SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang
         |  FROM r$p LEFT JOIN outw ON r$p.page = outw.src
         |  WHERE outw.src IS NULL),
         |c$i AS (
         |  SELECT e.dst AS page,
         |    CAST(SUM((r.r * e.w * 85) // (o.ow * 100)) AS BIGINT) AS s
         |  FROM edges e
         |  JOIN r$p r ON e.src = r.page
         |  JOIN outw o ON e.src = o.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT nd.page,
         |    CAST(($S * 15) // (nn.n * 100)
         |      + (d$p.dang * 85) // (nn.n * 100)
         |      + COALESCE(c$i.s, 0) AS BIGINT) AS r
         |  FROM nodes nd CROSS JOIN nn CROSS JOIN d$p
         |  LEFT JOIN c$i ON nd.page = c$i.page)""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
       |  FROM events),
       |seq AS (
       |  SELECT page AS src,
       |    LEAD(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev),
       |edges AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT page FROM ev),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
       |r0 AS (SELECT nd.page, CAST($S // nn.n AS BIGINT) AS r
       |       FROM nodes nd CROSS JOIN nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT page, r AS rank_fp FROM r3""".stripMargin
  }
}
