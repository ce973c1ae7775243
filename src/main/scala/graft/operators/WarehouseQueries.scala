package graft.operators

import graft.Tables
import graft.functions.ParityMath.{floorRound, floorRoundSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 warehouse-engineering + robust-monitoring additions (SURVEY.md
  * §2.11): MAD outlier summary, CUSUM changepoint detection, Z-order
  * clustering keys, and an SCD type-2 dimension build — the remaining
  * "data platform around the stream" surface (reference scope: downstream
  * consumers of the delivered event stream, reference/app/app.py:393-526).
  */
object WarehouseQueries {

  /** MAD (median-absolute-deviation) outlier summary per event type —
    * the robust sibling of r_zscore_outliers: median and MAD survive the
    * heavy-tailed value distributions that wreck mean/std monitoring.
    * med/MAD go through the 4-dp floor dial BEFORE the threshold compare
    * so both engines gate identical arithmetic (the r_zscore discipline);
    * the threshold is the standard 3σ-equivalent 3·1.4826·MAD.
    *
    * Scale: the exact per-type median is a sort-based aggregate within
    * ~5 type groups — fine here because the group count is the event-type
    * catalog; a high-cardinality grouping at 100 TB swaps in the GK
    * sketch exactly as q_approx_quantile demonstrates. The stats frame
    * (5 rows) broadcasts back; everything else is one map-side-partial
    * type-keyed pass.
    */
  def madOutliers(eventsDf: DataFrame): DataFrame = {
    val base = eventsDf.select(col("event_type"), col("value"))
    val med = base.groupBy(col("event_type"))
      .agg(floorRound(expr("median(value)"), 4).as("med"))
    val mad = base.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(floorRound(expr("median(abs(value - med))"), 4).as("mad"))
    val stats = med.join(mad, Seq("event_type"))
    base.join(broadcast(stats), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(abs(col("value") - col("med")) > lit(3) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint detector per event type over the daily count
    * series: the classic level-shift monitor (Page 1954 lineage). Daily
    * counts and the per-type mean are lifted into INTEGER units (counts
    * ×10⁴ minus the 4-dp-floored mean in the same units), so the running
    * cumulative sum is exact long arithmetic — immune to the
    * segment-tree-vs-left-fold float ordering split between engines'
    * window aggregates. The changepoint is the argmax of |CUSUM| with an
    * earliest-day tie-break (total order).
    *
    * Scale: the day-grain pre-aggregation collapses the stream before any
    * window runs; the window itself is partitioned by event_type (never a
    * global sort).
    */
  def changepoint(eventsDf: DataFrame): DataFrame = {
    val daily = eventsDf
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val m = daily.groupBy(col("event_type"))
      .agg(
        floor(avg(col("cnt")) * 10000 + 0.5).cast("long").as("mean_units"),
        count(lit(1)).as("n_days"))
    val runW = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = daily.join(broadcast(m), Seq("event_type"))
      .withColumn("cu",
        sum(col("cnt") * 10000 - col("mean_units")).over(runW))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("cu")).desc, col("day"))
    cs.withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n_days"), col("day").as("cp_day"),
        abs(col("cu")).as("max_abs_cusum_units"))
      .orderBy("event_type")
  }

  /** 16-bit → 32-bit even-position bit spread (Morton interleave half). */
  private def spread(c: Column): Column = {
    val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order clustering audit (q_zorder_cluster): the multi-dimensional
    * data-layout key behind OPTIMIZE ZORDER-style file clustering. Each
    * order gets a 32-bit Morton code interleaving custkey and epoch-day,
    * each extent-normalized to 16 bits; rows then bucket by the code's
    * top 4 bits — the
    * "file" a Z-ordered writer would put them in — and the per-bucket
    * min/max SPANS of both raw dimensions are the audit: tight spans on
    * both axes simultaneously are what make min/max data-skipping work on
    * either predicate at 100 TB (a single-column sort gives one tight axis
    * and one full-range axis). Pure 64-bit integer arithmetic, bit-exact
    * across engines.
    */
  def zorderCluster(ordersDf: DataFrame): DataFrame = {
    // Normalize both dimensions to the full 16-bit range from their
    // observed extents (integer arithmetic, extents broadcast) — raw ids
    // leave the code's high bits constant at small domains, collapsing
    // every row into one bucket and voiding the audit.
    val dims = ordersDf.select(
      col("o_custkey").cast("long").as("ck"),
      datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("dy"))
    val ext = dims.agg(
      min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
      min(col("dy")).as("dy_min"), max(col("dy")).as("dy_max"))
    val base = dims.crossJoin(broadcast(ext)).select(
      expr("((ck - ck_min) * 65535) div greatest(ck_max - ck_min, 1)").as("x"),
      expr("((dy - dy_min) * 65535) div greatest(dy_max - dy_min, 1)").as("y"))
    base
      .withColumn("z", spread(col("x")).bitwiseOR(shiftleft(spread(col("y")), 1)))
      .withColumn("bucket", shiftright(col("z"), 28))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .select(col("bucket"), col("n"),
        col("x_min"), col("x_max"), (col("x_max") - col("x_min")).as("x_span"),
        col("y_min"), col("y_max"), (col("y_max") - col("y_min")).as("y_span"))
      .orderBy("bucket")
  }

  /** SCD type-2 dimension build (q_scd2_orders): collapse each customer's
    * order-status timeline into validity intervals — the warehouse
    * change-history primitive (Kimball SCD2). Consecutive same-status
    * orders merge into one run (lag ≠ → run counter via running sum, both
    * over the SAME (custkey, od, orderkey) window so they fuse into one
    * Window operator); each run becomes a row with valid_from = first
    * order date, valid_to = next run's valid_from (NULL ⇒ current).
    *
    * Scale: everything is partitioned by custkey — two window passes and
    * one keyed aggregate, no global sort; at 100 TB this is the standard
    * CDC-compaction shape (the streaming twin is startIncrementalDedup's
    * batch-partitioned state pattern).
    */
  def scd2(ordersDf: DataFrame): DataFrame = {
    val base = ordersDf.select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      col("o_orderdate").cast("date").as("od"),
      col("o_orderstatus").as("status"))
    val w = Window.partitionBy(col("custkey")).orderBy(col("od"), col("o_orderkey"))
    val runs = base
      .withColumn("chg",
        when(lag(col("status"), 1).over(w).isNull ||
          lag(col("status"), 1).over(w) =!= col("status"), 1L).otherwise(0L))
      .withColumn("run",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val seg = runs.groupBy(col("custkey"), col("run"))
      .agg(
        min(col("od")).as("valid_from"),
        min(col("status")).as("status"),
        count(lit(1)).as("n_orders"))
    val w2 = Window.partitionBy(col("custkey")).orderBy(col("run"))
    seg
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .select(
        col("custkey"), col("run").cast("int").as("seq"), col("status"),
        col("valid_from"), col("valid_to"), col("n_orders"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
      .orderBy("custkey", "seq")
  }

  /** CDC MERGE-apply (r_cdc_merge): collapse the event log into the final
    * per-user snapshot a warehouse MERGE would produce — the missing
    * sibling of q_scd2_orders (which keeps history; this keeps the
    * endstate). The log's own ordinal is the application order (the
    * reference's core guarantee: delivery in stream-offset order,
    * reference/app/app.py:404-409), and event types map onto CDC ops:
    * `signup` = INSERT/upsert, `error` = DELETE (full tombstone),
    * `click`/`view`/`purchase` = UPDATE. MERGE semantics, folded exactly:
    * a tombstone wipes everything before it (only events after the LAST
    * delete can contribute), updates against a non-existent key are
    * no-ops (only events at/after the first post-tombstone insert apply),
    * and a user with no live insert is absent from the snapshot.
    *
    * Purchase value is lifted to integer units (floor(value·10⁴)) BEFORE
    * the sum, so the per-user totals are exact long arithmetic in any
    * aggregation order.
    *
    * Scale: the fold is NOT an ordered per-key iteration — both cut
    * points (last tombstone, first live insert) are plain conditional
    * MIN/MAX window aggregates over the user partition, so the whole
    * query is ONE user_id exchange: two whole-partition Window passes and
    * the final groupBy all reuse the same hash partitioning. At 100 TB
    * this is the standard log-compaction shape; the streaming twin is the
    * batch-partitioned state pattern of startIncrementalDedup.
    */
  def cdcMergeApply(eventsDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    eventsDf.select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("last_del",
        max(when(col("event_type") === "error", col("event_id"))).over(w))
      .filter(col("last_del").isNull || col("event_id") > col("last_del"))
      .withColumn("live_since",
        min(when(col("event_type") === "signup", col("event_id"))).over(w))
      .filter(col("live_since").isNotNull && col("event_id") >= col("live_since"))
      .groupBy(col("user_id"))
      .agg(
        min(col("live_since")).as("live_since"),
        max(col("event_id")).as("last_event_id"),
        sum(when(col("event_type").isin("click", "view", "purchase"), 1L)
          .otherwise(0L)).as("n_updates"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 10000).cast("long")).otherwise(0L))
          .as("purchase_units"))
      .orderBy("user_id")
  }

  val queries: Seq[QueryDef] = Seq(
    // R7/R12-adjacent — robust (median/MAD) outlier monitoring: the
    // heavy-tail-safe twin of r_zscore_outliers. Stats frame broadcast;
    // PlanSpec pins broadcasts + event_type-only exchanges.
    QueryDef("r_anomaly_mad", (s, d) => madOutliers(Tables.events(s, d)),
      s"""WITH med AS (
            SELECT event_type, ${floorRoundSql("median(value)", 4)} AS med
            FROM events GROUP BY event_type),
          mad AS (
            SELECT e.event_type,
                   ${floorRoundSql("median(abs(e.value - m.med))", 4)} AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type),
          st AS (SELECT med.event_type, med.med, mad.mad
                 FROM med JOIN mad USING (event_type))
          SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
                 st.med, st.mad,
                 CAST(sum(CASE WHEN abs(e.value - st.med) > 3 * 1.4826 * st.mad
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          FROM events e JOIN st USING (event_type)
          GROUP BY e.event_type, st.med, st.mad
          ORDER BY event_type"""),

    // R13-adjacent — CUSUM level-shift changepoint per type on the daily
    // series; exact integer-unit running sums (window-aggregation-order
    // immune), day-grain pre-agg before any window.
    QueryDef("r_changepoint_cusum", (s, d) => changepoint(Tables.events(s, d)),
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY event_type, CAST(ts AS DATE)),
         m AS (
           SELECT event_type,
                  CAST(floor(avg(cnt) * 10000 + 0.5) AS BIGINT) AS mean_units,
                  CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY event_type),
         cs AS (
           SELECT d.event_type, m.n_days, d.day,
                  sum(d.cnt * 10000 - m.mean_units) OVER (
                    PARTITION BY d.event_type ORDER BY d.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
           FROM daily d JOIN m USING (event_type)),
         r AS (
           SELECT event_type, n_days, day,
                  abs(cu) AS mac,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY abs(cu) DESC, day) AS rk
           FROM cs)
         SELECT event_type, n_days, day AS cp_day,
                CAST(mac AS BIGINT) AS max_abs_cusum_units
         FROM r WHERE rk = 1 ORDER BY event_type"""),

    // §4-adjacent — Z-order layout audit: Morton-code bucketing of orders
    // on (custkey, order-day) with per-bucket span stats — the data-
    // skipping evidence for multi-dimensional clustering. All-integer.
    QueryDef("q_zorder_cluster", (s, d) => zorderCluster(Tables.orders(s, d)),
      """WITH dims AS (
           SELECT CAST(o_custkey AS BIGINT) AS ck,
                  CAST(date_diff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS dy
           FROM orders),
         ext AS (
           SELECT min(ck) AS ck_min, max(ck) AS ck_max,
                  min(dy) AS dy_min, max(dy) AS dy_max
           FROM dims),
         base AS (
           SELECT CAST(((ck - ck_min) * 65535) // greatest(ck_max - ck_min, 1) AS BIGINT) AS x,
                  CAST(((dy - dy_min) * 65535) // greatest(dy_max - dy_min, 1) AS BIGINT) AS y
           FROM dims, ext),
         sp AS (
           SELECT x, y,
                  ((((((x | (x << 8)) & 16711935) | (((x | (x << 8)) & 16711935) << 4)) & 252645135)
                    | ((((((x | (x << 8)) & 16711935) | (((x | (x << 8)) & 16711935) << 4)) & 252645135)) << 2)) & 858993459) AS px2,
                  ((((((y | (y << 8)) & 16711935) | (((y | (y << 8)) & 16711935) << 4)) & 252645135)
                    | ((((((y | (y << 8)) & 16711935) | (((y | (y << 8)) & 16711935) << 4)) & 252645135)) << 2)) & 858993459) AS py2
           FROM base),
         z AS (
           SELECT x, y,
                  (((px2 | (px2 << 1)) & 1431655765)
                   | (((py2 | (py2 << 1)) & 1431655765) << 1)) >> 28 AS bucket
           FROM sp)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                min(x) AS x_min, max(x) AS x_max, max(x) - min(x) AS x_span,
                min(y) AS y_min, max(y) AS y_max, max(y) - min(y) AS y_span
         FROM z GROUP BY bucket ORDER BY bucket"""),

    // R6/R17-adjacent — SCD type-2 history build over order status:
    // run-collapse via fused windows, custkey-partitioned end to end.
    QueryDef("q_scd2_orders", (s, d) => scd2(Tables.orders(s, d)),
      """WITH base AS (
           SELECT o_custkey AS custkey, o_orderkey,
                  CAST(o_orderdate AS DATE) AS od, o_orderstatus AS status
           FROM orders),
         runs AS (
           SELECT custkey, o_orderkey, od, status,
                  CASE WHEN lag(status) OVER w IS NULL
                         OR lag(status) OVER w <> status THEN 1 ELSE 0 END AS chg
           FROM base
           WINDOW w AS (PARTITION BY custkey ORDER BY od, o_orderkey)),
         r2 AS (
           SELECT *, sum(chg) OVER (
                  PARTITION BY custkey ORDER BY od, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM runs),
         seg AS (
           SELECT custkey, run, min(od) AS valid_from, min(status) AS status,
                  CAST(count(*) AS BIGINT) AS n_orders
           FROM r2 GROUP BY custkey, run)
         SELECT custkey, CAST(run AS INT) AS seq, status, valid_from,
                lead(valid_from) OVER (PARTITION BY custkey ORDER BY run) AS valid_to,
                n_orders,
                CASE WHEN lead(valid_from) OVER (PARTITION BY custkey ORDER BY run) IS NULL
                     THEN 1 ELSE 0 END AS is_current
         FROM seg ORDER BY custkey, seq"""),

    // R6-adjacent — CDC MERGE-apply: event log → final per-user snapshot
    // in log-ordinal order (insert/update/delete fold as conditional
    // window cuts); one user_id exchange end to end, integer-unit sums.
    QueryDef("r_cdc_merge", (s, d) => cdcMergeApply(Tables.events(s, d)),
      // WHERE is evaluated before window functions in the same SELECT, so
      // the live_since window in `alive` sees only post-tombstone rows —
      // the same order the Spark side's filter-then-window enforces.
      """WITH cut AS (
           SELECT user_id, event_id, event_type, value,
                  max(CASE WHEN event_type = 'error' THEN event_id END)
                    OVER (PARTITION BY user_id) AS last_del
           FROM events),
         alive AS (
           SELECT *, min(CASE WHEN event_type = 'signup' THEN event_id END)
                       OVER (PARTITION BY user_id) AS live_since
           FROM cut
           WHERE last_del IS NULL OR event_id > last_del),
         app AS (
           SELECT * FROM alive
           WHERE live_since IS NOT NULL AND event_id >= live_since)
         SELECT user_id, min(live_since) AS live_since,
                max(event_id) AS last_event_id,
                CAST(sum(CASE WHEN event_type IN ('click', 'view', 'purchase')
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
                CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(floor(value * 10000) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS purchase_units
         FROM app GROUP BY user_id ORDER BY user_id""")
  )
}
