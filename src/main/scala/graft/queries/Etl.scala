package graft.queries

import graft.{Tables, etl}
import graft.etl.StarSchema
import graft.functions.Exact._
import graft.operators.Sessions

/** End-to-end ETL-shape queries: the generated date dimension, batch
  * sessionization and the full dimensional build (dims with surrogate
  * keys -> fact with FK lookups -> aggregate), each reproduced exactly
  * by the DuckDB oracle.
  */
object Etl {

  val all: Seq[Q] = Seq(

    // ----- gap-based sessionization (batch twin of the streaming op) ----
    Q("q31_events_sessions",
      s"""WITH o AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              > INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts, value,
         |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM o)
         |SELECT user_id, session_seq, COUNT(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  ${dsumSql("value")} AS total_value
         |FROM s GROUP BY user_id, session_seq""".stripMargin) { (s, dir) =>
      Sessions.batchSessions(Tables(s, dir, "events"))
    },

    // ----- peak concurrent sessions per day ------------------------------
    // Interval-overlap sweep over the gap-based sessions: +1/-1 points
    // clipped to each spanned day, running sum in a day-partitioned
    // window, MAX per day. Epoch-microsecond Longs end to end, +1
    // ordered before -1 at ties — engine-exact (see
    // Sessions.peakConcurrency).
    Q("q67_peak_concurrency",
      s"""WITH o AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              > INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts,
         |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM o),
         |iv AS (
         |  SELECT user_id, session_seq,
         |    epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en
         |  FROM s GROUP BY user_id, session_seq),
         |dy AS (
         |  SELECT user_id, session_seq, st, en,
         |    unnest(generate_series(st // 86400000000, en // 86400000000)) AS day
         |  FROM iv),
         |pt AS (
         |  SELECT day, greatest(st, day * 86400000000) AS t,
         |    CAST(1 AS BIGINT) AS delta, user_id, session_seq FROM dy
         |  UNION ALL
         |  SELECT day, least(en, (day + 1) * 86400000000 - 1) AS t,
         |    CAST(-1 AS BIGINT) AS delta, user_id, session_seq FROM dy),
         |rn AS (
         |  SELECT day, SUM(delta) OVER (PARTITION BY day
         |    ORDER BY t, delta DESC, user_id, session_seq
         |    ROWS UNBOUNDED PRECEDING) AS run
         |  FROM pt)
         |SELECT day, CAST(MAX(run) AS BIGINT) AS peak_concurrency
         |FROM rn GROUP BY day""".stripMargin) { (s, dir) =>
      Sessions.peakConcurrency(Tables(s, dir, "events"))
    },

    // ----- full dimensional ETL: dims -> fact -> rollup ------------------
    Q("q32_star_etl",
      s"""WITH dimc AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) + 1 AS BIGINT)
         |    AS dim_customer_key, c_custkey FROM customer),
         |dims AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) + 1 AS BIGINT)
         |    AS dim_supplier_key, s_suppkey FROM supplier),
         |f AS (
         |  SELECT COALESCE(dc.dim_customer_key, 1) AS dim_customer_key,
         |    COALESCE(ds.dim_supplier_key, 1) AS dim_supplier_key,
         |    CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS dim_order_date_key,
         |    l_extendedprice * (1 - l_discount) AS revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  LEFT JOIN dimc dc ON o_custkey = dc.c_custkey
         |  LEFT JOIN dims ds ON l_suppkey = ds.s_suppkey)
         |SELECT dim_customer_key, COUNT(*) AS n_items,
         |  min(dim_order_date_key) AS first_date_key,
         |  ${dsumSql("revenue")} AS revenue
         |FROM f GROUP BY dim_customer_key""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions._
      val dimC = StarSchema.dimCustomer(s, dir)
      val dimS = StarSchema.dimSupplier(s, dir)
      StarSchema.factSales(s, dir, dimC, dimS)
        .groupBy("dim_customer_key")
        .agg(
          count(lit(1)).as("n_items"),
          min(col("dim_order_date_key")).as("first_date_key"),
          dsum(col("revenue")).as("revenue"))
    },

    Q("q27_date_dim", etl.DateDim.oracleSql()) { (s, _) =>
      etl.DateDim.build(s)
    }
  )
}
