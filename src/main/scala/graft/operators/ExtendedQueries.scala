package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deeper relational coverage (SURVEY.md §2.3): proper as-of join (R6),
  * the full ranking/analytic window surface (R10), exact percentiles,
  * approximate distinct (R9), grouping sets (R16), and the scalar function
  * surface (R22) the reference touches (string / date / JSON / math).
  */
object ExtendedQueries {

  val queries: Seq[QueryDef] = Seq(
    // R6 — as-of join: each purchase paired with the user's latest
    // strictly-preceding-or-equal view event. Composed from a single
    // carry-forward window (last IGNORE NULLS) over the merged per-user
    // timeline — one shuffle on user_id, no range join, no custom operator
    // needed; this shape scales to any per-key as-of at 100 TB.
    QueryDef("q_asof_join", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        .withColumn("asof_view_id",
          last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_ms"), col("asof_view_id"))
        .orderBy("purchase_id")
    },
      """WITH t AS (
           SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
           FROM events WHERE event_type IN ('view', 'purchase')),
         carried AS (
           SELECT *,
                  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_id
           FROM t)
         SELECT user_id, event_id AS purchase_id, ts_ms, asof_view_id
         FROM carried WHERE event_type = 'purchase' ORDER BY purchase_id"""),

    // R10 — analytic window suite: rank / dense_rank / ntile / lag / lead /
    // running sum / moving average over a deterministic (unique-key) order.
    QueryDef("q_window_suite", (s, d) => {
      val ord = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("rnk", rank().over(ord))
        .withColumn("drnk", dense_rank().over(ord))
        .withColumn("tile", ntile(4).over(ord))
        .withColumn("prev_bal", lag(col("c_acctbal"), 1).over(ord))
        .withColumn("next_bal", lead(col("c_acctbal"), 1).over(ord))
        .withColumn("cum_bal", floorRound(
          sum(col("c_acctbal")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("mov_avg", floorRound(
          avg(col("c_acctbal")).over(ord.rowsBetween(-2, Window.currentRow)), 4))
        .orderBy("c_mktsegment", "rnk")
    },
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                CAST(ntile(4) OVER w AS INT) AS tile,
                lag(c_acctbal, 1) OVER w AS prev_bal,
                lead(c_acctbal, 1) OVER w AS next_bal,
                floor((sum(c_acctbal) OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS cum_bal,
                floor((avg(c_acctbal) OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 10000 + 0.5) / 10000 AS mov_avg
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_mktsegment, rnk"""),

    // R7 — statistical aggregate surface: stddev/variance (sample + pop),
    // correlation and covariance across columns. Both engines accumulate in
    // doubles; floor-rounding absorbs the implementation drift.
    QueryDef("q_stats_funcs", (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          floorRound(stddev_samp(col("o_totalprice")), 2).as("sd_samp"),
          floorRound(stddev_pop(col("o_totalprice")), 2).as("sd_pop"),
          floorRound(var_samp(col("o_totalprice")), 1).as("var_samp"),
          floorRound(corr(col("o_totalprice"), col("o_custkey")), 4).as("price_cust_corr"),
          floorRound(covar_pop(col("o_totalprice"), col("o_custkey")), 1).as("price_cust_covar"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
                floor((stddev_samp(o_totalprice)) * 100 + 0.5) / 100 AS sd_samp,
                floor((stddev_pop(o_totalprice)) * 100 + 0.5) / 100 AS sd_pop,
                floor((var_samp(o_totalprice)) * 10 + 0.5) / 10 AS var_samp,
                floor((corr(o_totalprice, o_custkey)) * 10000 + 0.5) / 10000 AS price_cust_corr,
                floor((covar_pop(o_totalprice, o_custkey)) * 10 + 0.5) / 10 AS price_cust_covar,
                CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // R7/R12 — numeric histogram: fixed-width binning of order totals
    // (the profile/quality-report shape; one hash-agg shuffle of bucket ids).
    QueryDef("q_histogram", (s, d) =>
      Tables.orders(s, d)
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          floorRound(min(col("o_totalprice")), 2).as("lo"),
          floorRound(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("bucket"),
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n,
                floor((min(o_totalprice)) * 100 + 0.5) / 100 AS lo,
                floor((max(o_totalprice)) * 100 + 0.5) / 100 AS hi
         FROM orders GROUP BY 1 ORDER BY bucket"""),

    // R7/R9 — exact interpolated percentiles per group (Spark `percentile`
    // ≡ DuckDB `quantile_cont`).
    QueryDef("q_percentiles", (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(
          floorRound(expr("percentile(c_acctbal, 0.5)"), 4).as("median_bal"),
          floorRound(expr("percentile(c_acctbal, 0.9)"), 4).as("p90_bal"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment,
                floor((quantile_cont(c_acctbal, 0.5)) * 10000 + 0.5) / 10000 AS median_bal,
                floor((quantile_cont(c_acctbal, 0.9)) * 10000 + 0.5) / 10000 AS p90_bal,
                CAST(count(*) AS BIGINT) AS n
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // R9 — APPROXIMATE quantiles (Greenwald-Khanna sketch) audited against
    // the exact bracketing percentiles — the fifth sketch family member
    // (HLL: distinct, CMS: frequency, MinHash: similarity, bitmap: exact
    // distinct, GK: quantiles). At 100 TB the exact `percentile` sorts
    // every group; approx_percentile keeps a fixed-size mergeable summary
    // with a DETERMINISTIC worst-case rank error ≤ n/accuracy, which is
    // what the audit boolean pins: the sketch's median must lie between
    // the exact interpolated percentiles at 0.5 ∓ 4×(1/accuracy) (4× the
    // guarantee, absorbing interpolation-vs-element rank slack — a
    // worst-case bound, not a sigma gamble). The estimate itself is
    // sketch-internal and stays out of the hashed columns; the exact
    // median is the cross-engine fact (the q_hll_union discipline).
    // Bracket precondition (the oracle hardcodes within_rank_bound TRUE):
    // the GK rank slack 0.004n only provably exceeds the interpolation
    // span for n ≳ 200 per group — below that, an element-valued sketch
    // median can legitimately fall outside the INTERPOLATED 0.496/0.504
    // percentiles (e.g. a 2-row group). Groups under 200 rows short-
    // circuit to TRUE on the Spark side too: the audit is a sketch-bound
    // regression gate, and under 200 rows there is no bound to audit.
    QueryDef("q_approx_quantile", (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          floorRound(expr("percentile(o_totalprice, 0.5)"), 2).as("exact_median"),
          (count(lit(1)) < 200 ||
           (expr("approx_percentile(o_totalprice, 0.5, 1000)") >=
              expr("percentile(o_totalprice, 0.496)") - lit(1e-9) &&
            expr("approx_percentile(o_totalprice, 0.5, 1000)") <=
              expr("percentile(o_totalprice, 0.504)") + lit(1e-9)))
            .as("within_rank_bound"))
        .orderBy("o_orderpriority"),
      // sketch-vs-exact: the GK estimate is sketch-internal; DuckDB derives
      // the exact median independently and the rank bound rides as a boolean
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                floor((quantile_cont(o_totalprice, 0.5)) * 100 + 0.5) / 100 AS exact_median,
                TRUE AS within_rank_bound
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // R9 — HLL++ approximate distinct, oracled as an accuracy invariant:
    // the estimate itself is sketch-specific (not DuckDB-mirrorable), so
    // the hashed columns are the exact count plus a deterministic
    // |approx − exact| / exact ≤ 0.05 bound. rsd is configured to 0.01
    // (NOT the 0.05 default): rsd is a STANDARD DEVIATION, not a bound —
    // the default sketch measured a 6.7% miss at sf0.1 (1.3σ, entirely
    // expected), which flipped the boolean. At rsd=0.01 the 5% bound is
    // 5σ: a flip means a sketch-path regression, not sketch luck.
    QueryDef("q_approx_distinct", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.05).as("within_5pct"))
        .orderBy("event_type"),
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                TRUE AS within_5pct
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R16 — GROUPING SETS with grouping flags (beyond rollup/cube).
    QueryDef("q_grouping_sets", (s, d) => {
      val geo = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      val view = "graft_geo_tmp" // fixed name: createOrReplaceTempView replaces, no catalog leak
      geo.createOrReplaceTempView(view)
      s.sql(
        s"""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n
            FROM $view
            GROUP BY GROUPING SETS ((r_name), (n_name), ())
            ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
    },
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY GROUPING SETS ((r_name), (n_name), ())
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""),

    // R22 — scalar function surface: string / temporal / math built-ins the
    // reference exercises (concat app.py:107, substring/split README.md:137,
    // date parts app.py:234-241), mirrored 1:1 in the oracle.
    QueryDef("q_scalar_funcs", (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_upper"),
          substring(col("o_orderpriority"), 1, 1).as("pri_code"),
          expr("replace(o_orderstatus, 'O', 'OPEN')").as("status_word"),
          lpad(col("o_orderkey").cast("string"), 12, "0").as("key_padded"),
          length(col("o_orderpriority")).as("pri_len"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow"),
          floorRound(sqrt(col("o_totalprice")), 4).as("price_sqrt"),
          floorRound(ln(col("o_totalprice")), 4).as("price_ln"),
          (col("o_orderkey") % 7).as("key_mod7"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
                upper(o_orderpriority) AS pri_upper,
                substring(o_orderpriority, 1, 1) AS pri_code,
                replace(o_orderstatus, 'O', 'OPEN') AS status_word,
                lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
                CAST(length(o_orderpriority) AS INT) AS pri_len,
                CAST(year(o_orderdate) AS INT) AS y,
                CAST(month(o_orderdate) AS INT) AS m,
                CAST(dayofmonth(o_orderdate) AS INT) AS dom,
                CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
                floor((sqrt(o_totalprice)) * 10000 + 0.5) / 10000 AS price_sqrt,
                floor((ln(o_totalprice)) * 10000 + 0.5) / 10000 AS price_ln,
                o_orderkey % 7 AS key_mod7
         FROM orders ORDER BY o_orderkey"""),

    // P3/P4 modern form — VariantType JSON (Spark 4): schema-less parse with
    // typed path extraction, the engine-native way to honor the reference's
    // open-payload contract (unknown keys survive because nothing is bound
    // to a schema; reference/app/app.py:470-471).
    QueryDef("p_variant_extract", (s, d) =>
      Tables.events(s, d)
        .selectExpr(
          "event_id",
          // try_parse_json: a non-JSON body yields null (matching the
          // oracle's json_extract_string) instead of aborting the query
          "variant_get(try_parse_json(props), '$.k', 'bigint') AS k")
        .withColumn("k_bucket", col("k") - (col("k") % 10))
        .orderBy("event_id"),
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                CAST(json_extract_string(props, '$.k') AS BIGINT)
                  - (CAST(json_extract_string(props, '$.k') AS BIGINT) % 10) AS k_bucket
         FROM events ORDER BY event_id"""),

    // R4 — TPC-H Q3 shape: shipping-priority top-10 by revenue. Fact-fact
    // shuffle join under broadcast dimension filters; top-k on the rounded
    // revenue with orderkey tiebreak.
    QueryDef("q3_shipping_priority", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(floorRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderpriority"), col("revenue"))
    },
      """SELECT l_orderkey, o_orderpriority,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // R4 — TPC-H Q5 shape: regional volume where the supplier sits in the
    // customer's nation (5-way join, broadcast dims + one fact-fact shuffle).
    QueryDef("q5_region_volume", (s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          floorRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name,
                floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue,
                CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    // R4/R5 — outer-join surface: customers LEFT JOIN their high-value
    // orders (many customers have none → null-extended rows, coalesced),
    // preserving every left row. One shuffle; the null-handling semantics
    // are the point.
    QueryDef("q_outer_join", (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") >= 450000.0)
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_big_orders"), // count skips nulls
          floorRound(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("big_total"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment,
                CAST(count(o_orderkey) AS BIGINT) AS n_big_orders,
                floor((coalesce(sum(o_totalprice), 0.0)) * 100 + 0.5) / 100 AS big_total
         FROM customer LEFT JOIN (
           SELECT * FROM orders WHERE o_totalprice >= 450000.0) o
           ON c_custkey = o_custkey
         GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey"""),

    // R21 — multimodal frame sampling: slice each binary payload into
    // fixed 32-byte frames (the video frame-extraction shape: byte-offset
    // slicing, no decode needed) and keep every 2nd frame. Payloads are
    // ASCII here so the oracle mirrors the byte math at string level;
    // per-row expression, scan-speed at scale.
    QueryDef("m_frame_sample", (s, d) =>
      Multimodal.assets(s, d)
        .select(col("asset_id"), col("payload"))
        .withColumn("frames", expr(
          """CASE WHEN octet_length(payload) >= 32 THEN
               filter(
                 transform(sequence(0, CAST(floor(octet_length(payload) / 32) AS INT) - 1),
                           i -> struct(i AS idx, substring(payload, i * 32 + 1, 32) AS frame)),
                 f -> f.idx % 2 = 0)
             ELSE array() END"""))
        .select(col("asset_id"), explode(col("frames")).as("f"))
        .select(
          col("asset_id"),
          col("f.idx").as("frame_idx"),
          octet_length(col("f.frame")).as("frame_bytes"),
          sha2(col("f.frame"), 256).as("frame_sha"))
        .orderBy("asset_id", "frame_idx"),
      """WITH f AS (
           SELECT doc_id AS asset_id,
                  unnest(range(0, CAST(floor(length(text) / 32) AS BIGINT))) AS i,
                  text
           FROM documents WHERE length(text) >= 32)
         SELECT asset_id, CAST(i AS INT) AS frame_idx,
                CAST(32 AS INT) AS frame_bytes,
                sha256(substring(text, CAST(i * 32 + 1 AS INT), 32)) AS frame_sha
         FROM f WHERE i % 2 = 0 ORDER BY asset_id, frame_idx"""),

    // R10 — the custom TopKPerKey operator (graft.plans: LogicalPlan +
    // Strategy + two-phase heap SparkPlan): map-side bounded heaps cap the
    // shuffle at k rows per (key, partition); no per-key sort. Verified
    // byte-for-byte against the same oracle as the window formulation.
    QueryDef("q_topk_native", (s, d) =>
      graft.plans.TopK.perKey(
        Tables.customer(s, d),
        keys = Seq("c_mktsegment"),
        order = Seq(graft.plans.TopK.Ord("c_acctbal", desc = true),
                    graft.plans.TopK.Ord("c_custkey")),
        k = 3)
        .select(col("c_mktsegment"), col("rk"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rk"),
      """SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rk
           FROM customer) WHERE rk <= 3 ORDER BY c_mktsegment, rk"""),

    // R16 — pivot: per-user event-type counts as columns (explicit value
    // list so the output schema is deterministic; null where a user has no
    // events of that type, matching the oracle's sum-of-CASE).
    QueryDef("q_pivot", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy("user_id"),
      """SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // R16 — unpivot (melt): wide numeric columns to (key, metric, value)
    // long form, the inverse reshaping primitive.
    QueryDef("q_unpivot", (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_nationkey").cast("double").as("c_nationkey_d"))
        .unpivot(
          Array(col("c_custkey")),
          Array(col("c_acctbal"), col("c_nationkey_d")),
          "metric", "value")
        .orderBy("c_custkey", "metric"),
      """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
         UNION ALL
         SELECT c_custkey, 'c_nationkey_d' AS metric, CAST(c_nationkey AS DOUBLE) AS value
         FROM customer
         ORDER BY c_custkey, metric"""),

    // R22 — map-type surface: per-type stats built as a MapType column,
    // read back through map_keys/map_values/element_at. The oracle verifies
    // the extracted VALUES (DuckDB's map type has different equality
    // semantics, so the map itself stays engine-internal).
    QueryDef("q_map_funcs", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
        .withColumn("m", map(
          lit("events"), col("n"),
          lit("users"), col("u")))
        .select(
          col("event_type"),
          element_at(col("m"), "events").as("n_events"),
          element_at(col("m"), "users").as("n_users"),
          size(map_keys(col("m"))).as("n_keys"),
          array_max(map_values(col("m"))).as("max_stat"))
        .orderBy("event_type"),
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                2 AS n_keys,
                CAST(greatest(count(*), count(DISTINCT user_id)) AS BIGINT) AS max_stat
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R22 — temporal arithmetic surface: day diffs, calendar-clamped month
    // addition, end-of-month, quarter/day-of-year parts (the reference's
    // datetime handling domain, app.py:230-244, generalized).
    QueryDef("q_date_funcs", (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("days_since"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          last_day(col("o_orderdate")).as("eom"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofyear(col("o_orderdate")).as("doy"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
                CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since,
                CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
                CAST(last_day(o_orderdate) AS DATE) AS eom,
                CAST(quarter(o_orderdate) AS INT) AS qtr,
                CAST(dayofyear(o_orderdate) AS INT) AS doy
         FROM orders ORDER BY o_orderkey"""),

    // P5+P9 — protobuf-text wire round-trip: enrich then client-side split
    // and recover the ordinal (reference/ws_listener.py:61-72), proving the
    // wire format parses back losslessly.
    QueryDef("p_prototext_roundtrip", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          Envelope.enrichProtoText(
            concat(col("event_type"), lit("|"), col("props")),
            col("event_id"), unix_millis(col("ts"))).as("wire"))
        .select(col("event_id"),
          element_at(Envelope.splitProtoText(col("wire")), 1).as("rt_class"),
          substring(element_at(Envelope.splitProtoText(col("wire")), 3), 10, 32)
            .cast("long").as("rt_ordinal"))
        .withColumn("roundtrip_ok", col("rt_ordinal") === col("event_id"))
        .orderBy("event_id"),
      """WITH w AS (
           SELECT event_id,
                  event_type || '|' || props || '|ordinal: ' || CAST(event_id AS VARCHAR)
                    || '|timestamp: ' || CAST(epoch_ms(ts) AS VARCHAR) AS wire
           FROM events)
         SELECT event_id,
                string_split(wire, '|')[1] AS rt_class,
                CAST(substring(string_split(wire, '|')[3], 10, 32) AS BIGINT) AS rt_ordinal,
                CAST(substring(string_split(wire, '|')[3], 10, 32) AS BIGINT) = event_id AS roundtrip_ok
         FROM w ORDER BY event_id""")
  )
}
