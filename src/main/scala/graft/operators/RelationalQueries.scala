package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The explicit relational surface (SURVEY.md §2.3 R1-R16) over the
  * TPC-H-ish star schema. Design for 100 TB:
  *   - dimension joins (`nation`, `region`, `customer`, `part`, `supplier`)
  *     are `broadcast()` — the fact table never shuffles for them;
  *   - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once and
  *     AQE handles skew;
  *   - aggregates are hash aggs with map-side partial aggregation for free;
  *   - final ORDER BYs exist only for oracle determinism (EliminateSorts
  *     removes them under Bench's count()).
  */
object RelationalQueries {

  val queries: Seq[QueryDef] = Seq(
    // R7 — the classic pricing-summary aggregate (TPC-H Q1 shape): full-scan
    // grouped agg, partial+final hash aggregation, no join.
    QueryDef("q1_agg", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          floorRound(sum(col("l_quantity")), 2).as("sum_qty"),
          floorRound(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          floorRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          floorRound(avg(col("l_quantity")), 4).as("avg_qty"),
          floorRound(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
                floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
                floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
                floor((avg(l_quantity)) * 10000 + 0.5) / 10000 AS avg_qty,
                floor((avg(l_discount)) * 10000 + 0.5) / 10000 AS avg_disc,
                CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    // R4 — star-schema multi-way join: revenue per nation.
    // lineitem⋈orders shuffles once on orderkey; customer and nation ride
    // along as broadcasts.
    QueryDef("q_star_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          floorRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue,
                CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),

    // R5 — semi join: customers that have at least one order (EXISTS).
    QueryDef("q_semi_join", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),

    // R5 — anti join: parts never shipped in a large quantity (NOT EXISTS
    // with a pushed-down predicate on the probe side).
    QueryDef("q_anti_join", (s, d) =>
      Tables.part(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 45),
              col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy("p_partkey"),
      """SELECT p_partkey, p_name FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_partkey = p_partkey AND l_quantity >= 45)
         ORDER BY p_partkey"""),

    // R10 — global top-k with deterministic tiebreak. TakeOrderedAndProject:
    // per-partition top-k then a single-reduce merge — no full sort at scale.
    QueryDef("q_topk_orders", (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    // R10 — top-k per group via ranking window (one shuffle on the group key).
    QueryDef("q_topk_per_segment", (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rk")
    },
      """SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rk
           FROM customer) WHERE rk <= 3 ORDER BY c_mktsegment, rk"""),

    // R8+R9 — grouped count + exact distinct (the reference's per-stream
    // received/sent counters generalized; reference/app/app.py:425-426,499-501).
    QueryDef("q_distinct_users", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R16 — rollup over the region/nation hierarchy (NULL super-aggregate
    // rows sorted NULLS FIRST to match both engines deterministically).
    QueryDef("q_rollup_geo", (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), floorRound(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first),
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers,
                floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""),

    // R13 — event-time tumbling window (1 hour), expressed as date_trunc so
    // the oracle mirrors it exactly; emitted as epoch-millis to avoid
    // timestamp-precision drift between engines.
    QueryDef("q_hourly_window", (s, d) =>
      Tables.events(s, d)
        .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
        .agg(count(lit(1)).as("n"), floorRound(sum(col("value")), 2).as("total_value"))
        .orderBy("hour_ms"),
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
                CAST(count(*) AS BIGINT) AS n, floor((sum(value)) * 100 + 0.5) / 100 AS total_value
         FROM events GROUP BY 1 ORDER BY hour_ms"""),

    // R13 — event-time HOPPING window (1 hour wide, 30-minute slide): the
    // third window shape next to tumbling (q_hourly_window) and session
    // (q_sessionize) — each event lands in width/slide = 2 overlapping
    // windows, the smoothing shape monitoring dashboards use. Spark's
    // window() aligns starts to the slide grid from the epoch; the oracle
    // replays that alignment arithmetically (start_k = (t div s - k)·s,
    // k < w/s — when w is a multiple of s every event is in exactly w/s
    // windows, no boundary filter needed). Scale: the window expansion is
    // a per-row flatMap (×2 rows) BEFORE one keyed aggregate that
    // partial-aggregates map-side — the same single-exchange shape as the
    // tumbling query, just double the input to the combine.
    QueryDef("q_hopping_window", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), floorRound(sum(col("value")), 2).as("total_value"))
        .select(unix_millis(col("window.start")).as("win_ms"), col("n"), col("total_value"))
        .orderBy("win_ms"),
      """WITH e AS (SELECT epoch_ms(ts) AS tms, value FROM events),
         x AS (SELECT ((tms // 1800000) - h.k) * 1800000 AS win_ms, value
               FROM e, unnest(generate_series(0, 1)) AS h(k))
         SELECT win_ms, CAST(count(*) AS BIGINT) AS n,
                floor((sum(value)) * 100 + 0.5) / 100 AS total_value
         FROM x GROUP BY win_ms ORDER BY win_ms"""),

    // R14 — session windows per user (30-minute inactivity gap), the batch
    // gaps-and-islands formulation; streaming twin is session_window() in
    // graft.streaming. One shuffle on user_id; windows run per key.
    QueryDef("q_sessionize", (s, d) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
        .withColumn("new_sess",
          when(col("ts_ms") - lag(col("ts_ms"), 1).over(wOrd) > 1800000L ||
               lag(col("ts_ms"), 1).over(wOrd).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_ms")).as("sess_start_ms"),
          max(col("ts_ms")).as("sess_end_ms"))
        .orderBy("user_id", "session_id")
    },
      """WITH t AS (
           SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
         flagged AS (
           SELECT user_id, ts_ms,
                  CASE WHEN ts_ms - lag(ts_ms) OVER w > 1800000
                         OR lag(ts_ms) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_sess
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
         sessioned AS (
           SELECT user_id, ts_ms,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
                min(ts_ms) AS sess_start_ms, max(ts_ms) AS sess_end_ms
         FROM sessioned GROUP BY user_id, session_id ORDER BY user_id, session_id"""),

    // R15 — set ops: users who viewed but never purchased (EXCEPT) plus
    // users who did both (INTERSECT), tagged and unioned.
    QueryDef("q_set_ops", (s, d) => {
      val e = Tables.events(s, d)
      val viewers    = e.filter(col("event_type") === "view").select(col("user_id")).distinct()
      val purchasers = e.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      viewers.except(purchasers).withColumn("cohort", lit("view_only"))
        .union(viewers.intersect(purchasers).withColumn("cohort", lit("view_and_buy")))
        .orderBy("cohort", "user_id")
    },
      """SELECT user_id, 'view_only' AS cohort FROM (
           SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
           EXCEPT
           SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'view_and_buy' AS cohort FROM (
           SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
           INTERSECT
           SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         ORDER BY cohort, user_id"""),

    // R12/R16 — cube over two low-cardinality axes of the order stream.
    QueryDef("q_cube_orders", (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), floorRound(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
  )
}
