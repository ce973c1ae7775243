package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 relational depth (SURVEY.md §2.3 R4, R5, R10, R18, R22):
  * classic warehouse shapes the round-1 surface didn't exercise —
  * nation-to-nation trade flow, returned-item reporting, promo revenue
  * share, correlated subqueries, fuzzy string matching, deterministic
  * stratified sampling, and a bucketed time-range self-join.
  *
  * Scale notes are per-query; the common theme: dimensions broadcast, the
  * single fact-fact shuffle keys on the join column, and every aggregate is
  * partial-aggregated map-side before the exchange.
  */
object DeepRelational {

  /** The (lineitem exact-decimal revenue, orders priority) join sides and
    * the priority rollup shared by the two skew-join variants — ONE
    * definition (review r20: the projections, the rollup, and the two
    * oracle literals were verbatim twins; salting must stay
    * result-invariant, so both variants MUST aggregate identically).
    */
  private def skewSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val big = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(8,4)")).as("rev"))
    val small = Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    (big, small)
  }

  private def priorityRollup(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        floorRound(sum(col("rev")).cast("double"), 2).as("revenue"))
      .orderBy("o_orderpriority")

  /** Both skew variants are oracled against the PLAIN join — salting is
    * result-invariant, so one SQL literal serves both keys. */
  private val skewJoinOracleSql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
              floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  val queries: Seq[QueryDef] = Seq(
    // R4 — TPC-H Q7 shape: cross-border revenue by (customer nation,
    // supplier nation, year). Facts shuffle once on l_orderkey; all four
    // dimension joins broadcast (nation twice under different aliases).
    // Revenue sums EXACT decimals (price as DECIMAL(18,2), discount factor
    // as DECIMAL(8,4)): with ~1000 output groups a double sum lands on a
    // floor-rounding boundary somewhere, and decimal addition is
    // order-independent so partition count can't move the result.
    QueryDef("q7_nation_trade", (s, d) => {
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val revDec = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount")).cast("decimal(8,4)")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .filter(col("cust_nation") =!= col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(
          floorRound(sum(revDec).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    },
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                CAST(year(l_shipdate) AS INT) AS l_year,
                floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue,
                CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3 ORDER BY cust_nation, supp_nation, l_year"""),

    // R4/R10 — TPC-H Q10 shape: top-20 customers by revenue lost to
    // returned items. Return-flag filter reaches the lineitem scan
    // (pushed predicate); nation broadcast; single shuffle + global top-k
    // (TakeOrderedAndProject — no full sort at scale).
    QueryDef("q10_returned", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        // exact decimal sum, the q7 discipline (review r20): a raw double
        // sum is partition-order-dependent and can straddle the
        // floor-rounding boundary the moment group sizes grow
        .agg(floorRound(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(8,4)")).cast("double"), 2)
            .as("revenue"),
          count(lit(1)).as("n_returned"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name, n_name,
                floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue,
                CAST(count(*) AS BIGINT) AS n_returned
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // R4/R22 — TPC-H Q14 shape: promo revenue share per ship-month.
    // Part is the broadcast side; conditional aggregation computes the
    // numerator and denominator in ONE pass (no second scan, no join of two
    // aggregates).
    QueryDef("q14_promo", (s, d) => {
      // exact decimal per-row revenue (the q7 discipline, review r20);
      // the promo share divides the two EXACT sums in double at the end
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount")).cast("decimal(8,4)")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"))
        .agg(
          floorRound(sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast("decimal(27,6)"))).cast("double") * 100.0
            / sum(rev).cast("double"), 4).as("promo_pct"),
          floorRound(sum(rev).cast("double"), 2).as("total_revenue"))
        .orderBy("ship_month")
    },
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
                floor((CAST(sum(CASE WHEN p_type = 'PROMO'
                                THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(1 - l_discount AS DECIMAL(8,4))
                                ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE) * 100.0
                       / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS promo_pct,
                floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY ship_month"""),

    // R5/R22 — correlated-subquery surface: EXISTS (correlated) plus an
    // uncorrelated scalar subquery, expressed in SQL so Catalyst's
    // RewritePredicateSubquery turns them into a semi join + broadcast
    // scalar — the rewrite IS the scale story (no per-row re-execution).
    QueryDef("q_exists_subquery", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_sub_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_sub_orders")
      s.sql(
        """SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
           FROM graft_sub_customer c
           WHERE EXISTS (
             SELECT 1 FROM graft_sub_orders o
             WHERE o.o_custkey = c.c_custkey
               AND o.o_totalprice > (SELECT avg(o_totalprice) FROM graft_sub_orders))
           ORDER BY c.c_custkey""")
    },
      """SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
         FROM customer c
         WHERE EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders))
         ORDER BY c.c_custkey"""),

    // R18 — fuzzy match via edit distance: Levenshtein between
    // consecutive-key part names (the SQL-expressible slice of
    // typo/variant dedup; at scale the same expression runs inside
    // LSH/blocking buckets instead of adjacent pairs). Pure codegen'd
    // built-in, scan-speed.
    QueryDef("q_edit_distance", (s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      p.as("a")
        .join(p.as("b"), col("b.p_partkey") === col("a.p_partkey") + 1)
        .select(
          col("a.p_partkey").as("p_partkey"),
          col("a.p_name").as("name_a"),
          col("b.p_name").as("name_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("edit_dist"))
        .withColumn("name_sim", floorRound(
          lit(1.0) - col("edit_dist") / greatest(length(col("name_a")), length(col("name_b"))), 4))
        .orderBy("p_partkey")
    },
      """SELECT a.p_partkey, a.p_name AS name_a, b.p_name AS name_b,
                CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
                floor((1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                       / greatest(length(a.p_name), length(b.p_name))) * 10000 + 0.5) / 10000 AS name_sim
         FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
         ORDER BY a.p_partkey"""),

    // R10/R17 — deterministic stratified sample: 10 rows per market
    // segment, ordered by an LCG pseudo-hash of the key so the sample is
    // reproducible across engines and scales (the training-data "take a
    // fixed per-stratum subsample" shape). Window is per-segment; at scale
    // the TopKPerKey native operator computes the same result with bounded
    // heaps (q_topk_native proves that path).
    QueryDef("q_stratified_sample", (s, d) => {
      val h = pmod(col("c_custkey") * lit(1103515245L) + lit(12345L), lit(2147483648L))
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("h"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), h.as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("c_mktsegment"), col("rk"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rk")
    },
      """SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY (c_custkey * 1103515245 + 12345) % 2147483648, c_custkey) AS INT) AS rk
           FROM customer) t
         WHERE rk <= 10 ORDER BY c_mktsegment, rk"""),

    // R13/R19 — time-proximity self-join, bucketed: pairs of events by the
    // same user within 60 s. Naive form is a per-user quadratic filter; the
    // bucketed form shuffles on (user_id, minute-bucket) and probes only
    // the home and next bucket, so cost tracks bucket occupancy, not n².
    // Probing the home and both adjacent buckets covers every |Δt| ≤ 60 s
    // pair in either time order — exactly ONCE by construction: the three
    // probe rows of an a-row carry DISTINCT pb values, and b contributes
    // one bucket value, so a given (a,b) pair satisfies pb = bucket on at
    // most one probe row (review r20: the dropDuplicates this used to pay
    // was a full extra shuffle guarding an invariant the join already
    // holds).
    QueryDef("q_range_join_bucketed", (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("bucket", floor(col("ms") / 60000L))
      val probes = e.select(col("event_id"), col("user_id"), col("ms"),
          explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("pb"))
      probes.as("a")
        .join(e.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.pb") === col("b.bucket") &&
          col("a.event_id") < col("b.event_id") &&
          abs(col("b.ms") - col("a.ms")) <= 60000L)
        .select(
          col("a.user_id").as("user_id"),
          col("a.event_id").as("id_a"),
          col("b.event_id").as("id_b"),
          (col("b.ms") - col("a.ms")).as("gap_ms"))
        .orderBy("id_a", "id_b")
    },
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
                epoch_ms(b.ts) - epoch_ms(a.ts) AS gap_ms
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_id < b.event_id
          AND abs(epoch_ms(b.ts) - epoch_ms(a.ts)) <= 60000
         ORDER BY id_a, id_b"""),

    // R4 + SCALE "skew" — the explicit salted join, oracled against the
    // PLAIN join SQL: salting must be result-invariant (every big-side row
    // meets exactly one copy of each matching small-side row). The hot-key
    // remedy when a single key exceeds an executor and AQE splitting isn't
    // enough. Exact-decimal revenue (5 groups but the salt changes
    // partitioning round to round).
    QueryDef("q_skew_salted_join", (s, d) => {
      val (big, small) = skewSides(s, d)
      priorityRollup(SkewJoin.saltedEquiJoin(big, small, "okey", salts = 8))
    },
      // plain-join SQL: the salted join must be result-invariant
      skewJoinOracleSql),

    // R4 + SCALE "skew", production form — hot-key-ONLY salting: one cheap
    // count aggregate finds the keys above the threshold, only those are
    // salted (small side replicated ×salts for hot keys alone), the cold
    // bulk takes the plain join path. Threshold 4 on lineitem-per-order
    // splits the data both ways (orders carry 1-7 items), so the oracle —
    // the same PLAIN join SQL — exercises hot path, cold path, and their
    // union.
    QueryDef("q_skew_hotkey_join", (s, d) => {
      val (big, small) = skewSides(s, d)
      priorityRollup(SkewJoin.saltedEquiJoinHotKeys(big, small, "okey",
        salts = 8, hotThreshold = 4L))
    },
      // same plain-join SQL: hot/cold split + salting must be result-invariant
      skewJoinOracleSql),

    // R10/R13 — RANGE window frames: per-user trailing-hour event count and
    // value sum. RANGE includes value peers, so the frame CONTENT is
    // deterministic even under timestamp ties (unlike a ROWS frame).
    QueryDef("q_window_frames", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
          col("value"))
        .withColumn("n_trailing_1h", count(lit(1)).over(w))
        .withColumn("v_trailing_1h", floorRound(sum(col("value")).over(w), 2))
        .drop("value")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, epoch_ms(ts) AS ms,
                CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
                floor((sum(value) OVER w) * 100 + 0.5) / 100 AS v_trailing_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // R22 — regex surface: extract / replace-all / match / regex split.
    // Patterns stay in the character-class subset where Java regex (Spark)
    // and RE2 (DuckDB) agree.
    QueryDef("q_regex_funcs", (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "([0-9]+)", 1).as("pri_num"),
          regexp_replace(col("o_orderstatus"), "[OF]", "#").as("status_masked"),
          col("o_orderpriority").rlike("^[12]-").as("is_urgent"),
          element_at(split(col("o_orderpriority"), "-"), 2).as("pri_word"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
                regexp_extract(o_orderpriority, '([0-9]+)', 1) AS pri_num,
                regexp_replace(o_orderstatus, '[OF]', '#', 'g') AS status_masked,
                regexp_matches(o_orderpriority, '^[12]-') AS is_urgent,
                string_split(o_orderpriority, '-')[2] AS pri_word
         FROM orders ORDER BY o_orderkey"""),

    // R5 — FULL OUTER join with guaranteed null-extension on BOTH sides
    // (disjoint key ranges), the survivor-merge shape for combining two
    // partial aggregates.
    QueryDef("q_full_outer", (s, d) => {
      val cn = Tables.customer(s, d).filter(col("c_nationkey") < 20)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val sn = Tables.supplier(s, d).filter(col("s_nationkey") >= 5)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },
      """WITH cn AS (
           SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust
           FROM customer WHERE c_nationkey < 20 GROUP BY c_nationkey),
         sn AS (
           SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_supp
           FROM supplier WHERE s_nationkey >= 5 GROUP BY s_nationkey)
         SELECT CAST(coalesce(c_nationkey, s_nationkey) AS INT) AS nationkey,
                coalesce(n_cust, 0) AS n_cust,
                coalesce(n_supp, 0) AS n_supp
         FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey
         ORDER BY nationkey"""),

    // R7/R22 — ordered string aggregation (LISTAGG shape): deterministic
    // because the list is sorted before concatenation. The groups are small
    // (bounded per segment by the filter); an unbounded LISTAGG at 100 TB
    // is an anti-pattern regardless of engine.
    QueryDef("q_string_agg", (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_custkey") < 40)
        .groupBy(col("c_mktsegment"))
        .agg(
          concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment,
                string_agg(c_name, ',' ORDER BY c_name) AS names,
                CAST(count(*) AS BIGINT) AS n
         FROM customer WHERE c_custkey < 40
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // R17/R22 — RECURSIVE CTE (Spark 4): transitive closure walking the
    // near-dup chain edges from each chain start — an independent
    // SQL-level witness of the d_dedup_cluster components (and the
    // recursive-query surface itself). The edge table is materialized
    // ONCE (localCheckpoint) before the recursion: Spark re-executes
    // non-materialized CTEs on every recursive step, which turned the
    // token self-join into a per-iteration cost.
    //
    // The recursive member strides FOUR hops per iteration (r11; two
    // until then) over a precomputed four-hop edge table, and one-shot
    // 1/2/3-hop expansions fill the other depth residues — the result
    // set is identical to the naive one-hop walk (the unchanged oracle
    // hash-proves it) but iteration count quarters (longest chain at
    // sf0.1 is 27 edges: 27 driver rounds naive, 7 here). Each recursion
    // step is driver-overhead-bound (the worktable is tiny), so at any
    // corpus scale step count, not per-step data, is the cost to cut;
    // the residue tables are three cheap self-joins paid once.
    QueryDef("q_recursive_cte", (s, d) => {
      val e = Lineage.cut(DedupQueries.adjacentJaccard(s, d)
        .filter(col("jaccard") >= 0.5).select(col("doc_a")))
      e.createOrReplaceTempView("graft_rc_edge")
      // k-hop tables: doc has edges doc .. doc+k-1 (contiguous runs, so
      // e_k = e_{k/2} stitched with itself shifted k/2). Only the
      // MULTI-consumer hop tables are cut (e2 feeds e4 + a residue; e4
      // feeds e8 + residues; e8 drives the recursion, which re-executes
      // its member subplan every round) — r21: e3 was cut despite a
      // single reference, a pure extra checkpoint job in a query whose
      // cost IS its job count (QueryProbe stages: ~60 sub-30 ms, >half
      // the wall clock in scheduling gaps). Odd residues now derive
      // inline from the cut tables inside the one final job.
      val e2 = Lineage.cut(e.as("a")
        .join(e.as("b"), col("b.doc_a") === col("a.doc_a") + 1)
        .select(col("a.doc_a")))
      e2.createOrReplaceTempView("graft_rc_edge2")
      val e4 = Lineage.cut(e2.as("a")
        .join(e2.as("b"), col("b.doc_a") === col("a.doc_a") + 2)
        .select(col("a.doc_a")))
      e4.createOrReplaceTempView("graft_rc_edge4")
      // stride EIGHT per recursion round (r21; four until then, two
      // before r11): each driver round is ~2 scheduling-bound jobs on a
      // tiny worktable, so halving the round count (sf0.1's longest
      // chain is 27 edges: 7 rounds at stride 4, 4 at stride 8) buys
      // more than the one extra cut job (e8) costs. The result set is
      // unchanged: every depth decomposes uniquely as 8q + k, k in 0..7
      // — the walk emits the 8q backbone and the k-residue expansions
      // below fill the rest, exactly the stride-4 argument.
      Lineage.cut(e4.as("a")
        .join(e4.as("b"), col("b.doc_a") === col("a.doc_a") + 4)
        .select(col("a.doc_a")))
        .createOrReplaceTempView("graft_rc_edge8")
      // Broadcast hints, SIZE-GATED (r21): the cut hop tables are
      // LogicalRDDs with no stats, so the planner defaulted every
      // walk/residue join to sort-merge — two exchanges and a sort per
      // tiny table per round, in a query whose cost is its job count.
      // Below the ConnectedComponents threshold the chain tables are
      // node-sized and broadcast turns each recursion round and the
      // 8-branch residue union into map-only joins (measured r21:
      // median 2.3 -> 2.1 s, min 1.9 -> 1.8 at sf0.1); above it the
      // hints are withheld and the sort-merge default stands (chain
      // tables grow with the corpus — the dual-path discipline).
      val small = ConnectedComponents.underThreshold(e, 1L << 20)
      def h(tbls: String): String =
        if (small) s"/*+ BROADCAST($tbls) */" else ""
      // the stride-8 walk is referenced eight times below (identity +
      // seven residue expansions); checkpoint it so the recursion
      // executes ONCE
      s.sql(
        s"""WITH RECURSIVE
             roots AS (
               SELECT e.doc_a AS doc_id FROM graft_rc_edge e
               LEFT JOIN graft_rc_edge prev ON prev.doc_a = e.doc_a - 1
               WHERE prev.doc_a IS NULL),
             walk(root, doc_id, depth) AS (
               SELECT doc_id, doc_id, 0 FROM roots
               UNION ALL
               SELECT ${h("e8")} w.root, w.doc_id + 8, w.depth + 8
               FROM walk w JOIN graft_rc_edge8 e8 ON e8.doc_a = w.doc_id)
           SELECT root, doc_id, depth FROM walk""")
        .transform(Lineage.cut(_))
        .createOrReplaceTempView("graft_rc_walk")
      // residue k extends the backbone by a k-hop chain; chains decompose
      // as 4+2+1 from the CUT tables, so e3/e5/e6/e7 need no tables of
      // their own — each residue is a 1-3-way join evaluated inside this
      // single final job
      s.sql(
        s"""SELECT root, doc_id, CAST(depth AS BIGINT) AS depth FROM graft_rc_walk
           UNION ALL
           SELECT ${h("e1")} w.root, w.doc_id + 1, CAST(w.depth + 1 AS BIGINT) AS depth
           FROM graft_rc_walk w JOIN graft_rc_edge e ON e.doc_a = w.doc_id
           UNION ALL
           SELECT ${h("e2")} w.root, w.doc_id + 2, CAST(w.depth + 2 AS BIGINT) AS depth
           FROM graft_rc_walk w JOIN graft_rc_edge2 e2 ON e2.doc_a = w.doc_id
           UNION ALL
           SELECT ${h("e2, e1")} w.root, w.doc_id + 3, CAST(w.depth + 3 AS BIGINT) AS depth
           FROM graft_rc_walk w
           JOIN graft_rc_edge2 e2 ON e2.doc_a = w.doc_id
           JOIN graft_rc_edge  e1 ON e1.doc_a = w.doc_id + 2
           UNION ALL
           SELECT ${h("e4")} w.root, w.doc_id + 4, CAST(w.depth + 4 AS BIGINT) AS depth
           FROM graft_rc_walk w JOIN graft_rc_edge4 e4 ON e4.doc_a = w.doc_id
           UNION ALL
           SELECT ${h("e4, e1")} w.root, w.doc_id + 5, CAST(w.depth + 5 AS BIGINT) AS depth
           FROM graft_rc_walk w
           JOIN graft_rc_edge4 e4 ON e4.doc_a = w.doc_id
           JOIN graft_rc_edge  e1 ON e1.doc_a = w.doc_id + 4
           UNION ALL
           SELECT ${h("e4, e2")} w.root, w.doc_id + 6, CAST(w.depth + 6 AS BIGINT) AS depth
           FROM graft_rc_walk w
           JOIN graft_rc_edge4 e4 ON e4.doc_a = w.doc_id
           JOIN graft_rc_edge2 e2 ON e2.doc_a = w.doc_id + 4
           UNION ALL
           SELECT ${h("e4, e2, e1")} w.root, w.doc_id + 7, CAST(w.depth + 7 AS BIGINT) AS depth
           FROM graft_rc_walk w
           JOIN graft_rc_edge4 e4 ON e4.doc_a = w.doc_id
           JOIN graft_rc_edge2 e2 ON e2.doc_a = w.doc_id + 4
           JOIN graft_rc_edge  e1 ON e1.doc_a = w.doc_id + 6
           ORDER BY root, doc_id""")
    },
      """WITH RECURSIVE
           tok AS (
             SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
           sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
           inter AS (
             SELECT a.doc_id AS doc_a, CAST(count(*) AS BIGINT) AS i
             FROM tok a JOIN tok b ON a.tok = b.tok AND b.doc_id = a.doc_id + 1
             GROUP BY a.doc_id),
           edge AS (
             SELECT doc_a FROM inter
               JOIN sz sa ON sa.doc_id = doc_a
               JOIN sz sb ON sb.doc_id = doc_a + 1
             WHERE floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.5),
           roots AS (
             SELECT e.doc_a AS doc_id FROM edge e
             LEFT JOIN edge prev ON prev.doc_a = e.doc_a - 1
             WHERE prev.doc_a IS NULL),
           walk(root, doc_id, depth) AS (
             SELECT doc_id, doc_id, 0 FROM roots
             UNION ALL
             SELECT w.root, w.doc_id + 1, w.depth + 1
             FROM walk w JOIN edge e ON e.doc_a = w.doc_id)
         SELECT root, doc_id, CAST(depth AS BIGINT) AS depth
         FROM walk ORDER BY root, doc_id"""),

    // R7/R12 — width_bucket histogram (Postgres semantics in both
    // engines): equi-width bucketing with explicit bounds, the
    // SQL-standard sibling of q_histogram's floor-division buckets.
    QueryDef("q_width_bucket", (s, d) =>
      Tables.orders(s, d)
        .groupBy(expr("width_bucket(o_totalprice, 0, 600000, 12)").as("bucket"))
        .agg(count(lit(1)).as("n"),
          floorRound(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy("bucket"),
      // DuckDB has no width_bucket: the oracle spells out its Postgres
      // definition (underflow → 0, overflow → n+1, else equi-width + 1)
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                          WHEN o_totalprice >= 600000 THEN 13
                          ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n,
                floor((avg(o_totalprice)) * 100 + 0.5) / 100 AS avg_price
         FROM orders GROUP BY 1 ORDER BY bucket"""),

    // R20 ext — data-quality contract over lineitem: one-pass violation
    // counts for the row-level constraints a training corpus ships with
    // (DataQuality.violations; the observe() twin is spec-tested).
    QueryDef("q_quality_checks", (s, d) =>
      DataQuality.violations(Tables.lineitem(s, d), Seq(
        DataQuality.Check("qty_pos", col("l_quantity") > 0),
        DataQuality.Check("disc_range", col("l_discount") >= 0 && col("l_discount") <= 0.6),
        DataQuality.Check("price_pos", col("l_extendedprice") > 0),
        DataQuality.Check("shipdate_present", col("l_shipdate").isNotNull),
        DataQuality.Check("flag_domain", col("l_returnflag").isin("A", "N", "R")))),
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN NOT coalesce(l_quantity > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_qty_pos,
                CAST(sum(CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 0.6, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_disc_range,
                CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_price_pos,
                CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS viol_shipdate_present,
                CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_flag_domain
         FROM lineitem"""),

    // R22 — timestamp arithmetic: week truncation, part extraction,
    // interval addition, epoch round-trip. All UTC (session TZ pinned).
    QueryDef("q_time_arith", (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          date_trunc("week", col("ts")).cast("date").as("week_start"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("m"),
          second(col("ts")).as("sec"),
          unix_millis(col("ts") + expr("INTERVAL 90 MINUTES")).as("plus90m_ms"),
          (unix_millis(col("ts")) / 1000L).cast("long").as("epoch_s"))
        .orderBy("event_id"),
      """SELECT event_id,
                CAST(date_trunc('week', ts) AS DATE) AS week_start,
                CAST(hour(ts) AS INT) AS h,
                CAST(minute(ts) AS INT) AS m,
                CAST(second(ts) AS INT) AS sec,
                epoch_ms(ts + INTERVAL 90 MINUTE) AS plus90m_ms,
                CAST(epoch_ms(ts) // 1000 AS BIGINT) AS epoch_s
         FROM events ORDER BY event_id"""),

    // R7/R22 — FILTER-clause and DISTINCT aggregates: per-group
    // conditional aggregation without CASE scaffolding, plus sum/avg over
    // distinct values (both planned through the same Expand machinery as
    // multi-distinct).
    QueryDef("q_filtered_aggs", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("graft_fa_events")
      s.sql(
        """SELECT event_type,
                  CAST(count(*) FILTER (WHERE value > 100) AS BIGINT) AS n_big,
                  floor((sum(value) FILTER (WHERE user_id % 2 = 0)) * 100 + 0.5) / 100 AS even_user_value,
                  CAST(sum(DISTINCT user_id % 10) AS BIGINT) AS sum_dist_mod,
                  floor((avg(DISTINCT CAST(user_id % 7 AS DOUBLE))) * 10000 + 0.5) / 10000 AS avg_dist_mod
           FROM graft_fa_events
           GROUP BY event_type ORDER BY event_type""")
    },
      """SELECT event_type,
                CAST(count(*) FILTER (WHERE value > 100) AS BIGINT) AS n_big,
                floor((sum(value) FILTER (WHERE user_id % 2 = 0)) * 100 + 0.5) / 100 AS even_user_value,
                CAST(sum(DISTINCT user_id % 10) AS BIGINT) AS sum_dist_mod,
                floor((avg(DISTINCT CAST(user_id % 7 AS DOUBLE))) * 10000 + 0.5) / 10000 AS avg_dist_mod
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R7 — higher-moment statistics: Spark emits POPULATION skewness g1 /
    // excess kurtosis g2; DuckDB emits the SAMPLE estimators G1 / G2. The
    // conversions are exact functions of n, so parity is algebra, not
    // tolerance: G1 = g1·√(n(n−1))/(n−2), G2 = ((n+1)g2 + 6)·(n−1)/((n−2)(n−3)).
    QueryDef("q_skew_kurt", (s, d) => {
      val n = count(lit(1)).cast("double")
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          floorRound(skewness(col("o_totalprice")) *
            sqrt(n * (n - 1)) / (n - 2), 4).as("skew_sample"),
          floorRound(((n + 1) * kurtosis(col("o_totalprice")) + 6) *
            (n - 1) / ((n - 2) * (n - 3)), 4).as("kurt_sample"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                floor((skewness(o_totalprice)) * 10000 + 0.5) / 10000 AS skew_sample,
                floor((kurtosis(o_totalprice)) * 10000 + 0.5) / 10000 AS kurt_sample
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // R7/R22 — argmin/argmax + bitwise/boolean aggregates. max_by/min_by
    // order on the UNIQUE event_id so ties cannot make the result
    // engine-dependent.
    QueryDef("q_minmax_by_bits", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          max_by(col("user_id"), col("event_id")).as("latest_user"),
          min_by(col("user_id"), col("event_id")).as("first_user"),
          expr("bit_and(user_id)").as("uid_and"),
          expr("bit_or(user_id)").as("uid_or"),
          expr("bit_xor(event_id)").as("eid_xor"),
          expr("bool_and(value >= 0)").as("all_nonneg"),
          expr("bool_or(value > 500)").as("any_large"))
        .orderBy("event_type"),
      """SELECT event_type,
                arg_max(user_id, event_id) AS latest_user,
                arg_min(user_id, event_id) AS first_user,
                CAST(bit_and(user_id) AS BIGINT) AS uid_and,
                CAST(bit_or(user_id) AS BIGINT) AS uid_or,
                CAST(bit_xor(event_id) AS BIGINT) AS eid_xor,
                bool_and(value >= 0) AS all_nonneg,
                bool_or(value > 500) AS any_large
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R22 — array / higher-order-function surface: sequence, slice,
    // transform, aggregate, exists/forall, set ops (sorted for engine
    // parity), flatten, reverse-sort. Every lambda runs inside codegen.
    // Array-valued results are serialized with array_join: the driver's
    // comparator cannot hash list cells (round-2 'unhashable numpy.ndarray'
    // crash left this oracle unchecked), so both engines emit the same
    // comma-joined string instead.
    QueryDef("q_array_funcs", (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          sequence(lit(1L), (col("c_nationkey") % 5 + 1).cast("long")).as("seq"),
          sequence(lit(2L), (col("c_nationkey") % 7 + 2).cast("long")).as("seq2"))
        .select(
          col("c_custkey"),
          array_join(col("seq"), ",").as("seq"),
          size(col("seq")).as("n"),
          array_join(expr("slice(seq, 1, 2)"), ",").as("first2"),
          expr("CAST(aggregate(seq, 0L, (a, x) -> a + x) AS BIGINT)").as("sum_seq"),
          array_join(expr("transform(seq, x -> x * x)"), ",").as("squares"),
          expr("exists(seq, x -> x % 2 = 0)").as("has_even"),
          expr("forall(seq, x -> x > 0)").as("all_pos"),
          array_join(array_sort(array_intersect(col("seq"), col("seq2"))), ",").as("inter_sorted"),
          array_join(array_sort(array_except(col("seq2"), col("seq"))), ",").as("extra_sorted"),
          array_join(sort_array(col("seq"), asc = false), ",").as("seq_desc"),
          array_join(flatten(array(col("seq"), col("seq"))), ",").as("doubled"))
        .orderBy("c_custkey"),
      """WITH a AS (
           SELECT c_custkey,
                  generate_series(1, c_nationkey % 5 + 1) AS seq,
                  generate_series(2, c_nationkey % 7 + 2) AS seq2
           FROM customer)
         SELECT c_custkey,
                array_to_string(seq, ',') AS seq,
                CAST(len(seq) AS INT) AS n,
                array_to_string(list_slice(seq, 1, 2), ',') AS first2,
                CAST(list_sum(seq) AS BIGINT) AS sum_seq,
                array_to_string(list_transform(seq, x -> x * x), ',') AS squares,
                len(list_filter(seq, x -> x % 2 = 0)) > 0 AS has_even,
                len(list_filter(seq, x -> x <= 0)) = 0 AS all_pos,
                -- DuckDB array_to_string(empty)=NULL but Spark array_join(empty)='' 
                coalesce(array_to_string(list_sort(list_intersect(seq, seq2)), ','), '') AS inter_sorted,
                coalesce(array_to_string(list_sort(list_filter(seq2, x -> NOT list_contains(seq, x))), ','), '') AS extra_sorted,
                array_to_string(list_sort(seq, 'DESC'), ',') AS seq_desc,
                array_to_string(flatten([seq, seq]), ',') AS doubled
         FROM a ORDER BY c_custkey"""),

    // R22 — error-safe evaluation surface: try_cast / try_divide return
    // NULL instead of raising — the semantics a 100 TB batch needs (one
    // malformed row must not kill a 6-hour job). Mirrors the reference's
    // drop-don't-crash handling of undecodable messages (app/app.py:433-443).
    QueryDef("q_try_funcs", (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          expr("try_cast(o_orderpriority AS INT)").as("bad_int"),
          expr("try_cast(regexp_extract(o_orderpriority, '([0-9]+)', 1) AS INT)").as("pri_int"),
          floorRound(expr("try_divide(o_totalprice, o_custkey % 3)"), 4).as("per_mod"),
          expr("try_cast(o_orderdate AS STRING)").as("date_str"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
                TRY_CAST(o_orderpriority AS INT) AS bad_int,
                TRY_CAST(regexp_extract(o_orderpriority, '([0-9]+)', 1) AS INT) AS pri_int,
                floor((CASE WHEN o_custkey % 3 = 0 THEN NULL
                            ELSE o_totalprice / (o_custkey % 3) END) * 10000 + 0.5) / 10000 AS per_mod,
                CAST(o_orderdate AS VARCHAR) AS date_str
         FROM orders ORDER BY o_orderkey"""),

    // R22 — null semantics: NULLIF / COALESCE / IS NULL / null-safe
    // equality (<=> ≡ IS NOT DISTINCT FROM). Three-valued logic is where
    // engines drift; pin it.
    QueryDef("q_null_semantics", (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("st"))
        .select(
          col("o_orderkey"),
          col("st"),
          coalesce(col("st"), lit("OPEN")).as("st_filled"),
          col("st").isNull.as("is_open"),
          (col("st") <=> lit("F")).as("is_f_nullsafe"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
                nullif(o_orderstatus, 'O') AS st,
                coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st_filled,
                nullif(o_orderstatus, 'O') IS NULL AS is_open,
                nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS is_f_nullsafe
         FROM orders ORDER BY o_orderkey"""),

    // R9 — several COUNT(DISTINCT ·) in ONE aggregation: Catalyst plans
    // this with Expand (one replicated row-set per distinct column) +
    // partial aggregation — a single pass instead of N self-joined
    // single-distinct aggregates.
    QueryDef("q_multi_distinct", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("u_users"),
          countDistinct(col("event_id") % 100).as("u_idmod"),
          countDistinct(to_date(col("ts"))).as("u_days"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS u_users,
                CAST(count(DISTINCT event_id % 100) AS BIGINT) AS u_idmod,
                CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS u_days,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R9 scale path — MERGEABLE distinct-count sketches (Apache
    // DataSketches HLL): per-day sketches union into a per-type total
    // without re-touching raw data. At 100 TB this is THE distinct-count
    // pattern: daily jobs persist tiny sketches, rollups merge them.
    // Estimates are engine-specific ⇒ rows-only check; accuracy vs exact
    // is spec-pinned (±5%).
    QueryDef("q_hll_union", (s, d) => {
      // Datasketches HLL mergeability: per-day sketches union into the
      // per-type total without re-reading raw data. Oracled as an accuracy
      // invariant — the union estimate is sketch-specific, so the hashed
      // columns are the exact overall distinct count, the (exact) sum of
      // daily distincts, and a |union_est − exact| / exact ≤ 0.05 bound.
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("exact_day"))
        .groupBy(col("event_type"))
        .agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
          sum(col("exact_day")).as("sum_daily_exact"))
      val exact = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      daily.join(exact, "event_type")
        .select(col("event_type"), col("exact_users"), col("sum_daily_exact"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.05).as("union_within_5pct"))
        .orderBy("event_type")
    },
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_day
           FROM events GROUP BY 1, 2),
         tot AS (
           SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM events GROUP BY 1)
         SELECT t.event_type, t.exact_users,
                CAST(sum(d.exact_day) AS BIGINT) AS sum_daily_exact,
                TRUE AS union_within_5pct
         FROM tot t JOIN daily d ON t.event_type = d.event_type
         GROUP BY t.event_type, t.exact_users ORDER BY t.event_type"""),

    // R10 — rank-distribution surface: percent_rank / cume_dist / first /
    // last / nth over a unique total order (no rounding needed — both
    // engines divide the same integers).
    QueryDef("q_rank_dist", (s, d) => {
      val ord = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("pct_rank", percent_rank().over(ord))
        .withColumn("cume", cume_dist().over(ord))
        .withColumn("top_key", first(col("c_custkey")).over(full))
        .withColumn("bottom_key", last(col("c_custkey")).over(full))
        .withColumn("second_key", nth_value(col("c_custkey"), 2).over(full))
        .orderBy("c_mktsegment", "c_custkey")
    },
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume,
                first_value(c_custkey) OVER w AS top_key,
                last_value(c_custkey) OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_key,
                nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_mktsegment, c_custkey""")
  )
}
