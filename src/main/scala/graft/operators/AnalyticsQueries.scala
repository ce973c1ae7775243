package graft.operators

import graft.Tables
import graft.functions.ParityMath.{floorRound, floorRoundSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 third-session additions: behavioral event analytics (funnel,
  * cohort retention) and corpus-statistics passes (per-dimension embedding
  * moments, Zipf-law fit, lexicon redaction) — the remaining "what would a
  * training-data / product-analytics team run daily" surface on top of the
  * existing inventory (reference scope: the event stream the service
  * delivers, reference/app/app.py:393-526; everything here is downstream
  * analytics over that stream's batch twin).
  */
object AnalyticsQueries {

  private val Deny = Seq("customer", "key", "value", "row")
  private def denySqlList: String = Deny.map(w => s"'$w'").mkString(", ")

  /** PPJoin-style EXACT all-pairs Jaccard τ-join core (d_ppjoin) over
    * 3-shingle sets, τ = 3/5. Prefix filtering (Chaudhuri/Xiao AllPairs-
    * PPJoin lineage): under any global canonical token order, two sets
    * with J ≥ τ MUST collide within their first n − ⌈τn⌉ + 1 tokens — so
    * candidates come from joining those prefixes only (rarest-first
    * ordering keeps prefix postings short), a 5·min ≥ 3·max length filter
    * prunes impossible size ratios, and an exact intersection count
    * verifies the survivors. All thresholds are INTEGER arithmetic
    * (⌈3n/5⌉ = (3n+4) div 5; J ≥ 3/5 ⟺ 8i ≥ 3(na+nb)), so completeness
    * is a theorem, not a float coin-flip — which is why the oracle is the
    * BRUTE-FORCE all-pairs SQL (result invariance, the q_bloom_prefilter
    * convention). Span-dedup shuffle discipline: shingle strings are
    * hashed per-row (xxhash64) and dropped — every exchange carries
    * 8-byte keys (64-bit-collision trade, documented).
    */
  def ppjoin(docsDf: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.shingles
    import org.apache.spark.sql.expressions.Window
    val sh = docsDf
      .select(col("doc_id"), explode(array_distinct(shingles("text", 3))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, Seq("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .join(sz, Seq("doc_id"))
    val prefix = ranked
      .filter(col("rk") <= col("n") - expr("(3 * n + 4) div 5") + 1)
      .select(col("h"), col("doc_id"), col("n"))
    val cand = prefix.select(col("h"), col("doc_id").as("da"), col("n").as("na"))
      .join(prefix.select(col("h"), col("doc_id").as("db"), col("n").as("nb")),
        Seq("h"))
      .filter(col("db") > col("da") &&
        lit(5) * least(col("na"), col("nb")) >= lit(3) * greatest(col("na"), col("nb")))
      .select(col("da"), col("db")).distinct()
    // Exact verify via the sorted-hash-array merge (r11, the verifyPairs
    // discipline): the exploded formulation joined cand to the posting
    // rows TWICE — |cand| × ~|shingles| rows through two shuffles and a
    // count aggregate. Collapsing each doc's hashes into one sorted array
    // and merge-counting per pair (native graft_intersect_count) ships
    // one array per pair side and zero aggregate: the integer threshold
    // arithmetic (8i ≥ 3(na+nb)) is unchanged, so completeness is still
    // the prefix-filter theorem.
    val arr = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n"))
    cand
      .join(arr.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na")), Seq("da"))
      .join(arr.select(col("doc_id").as("db"), col("hs").as("hb"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"), col("na"), col("nb"),
        expr("graft_intersect_count(ha, hb)").as("i"))
      .filter(lit(8) * col("i") >= lit(3) * (col("na") + col("nb")))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        floorRound(col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Funnel core (r_funnel) over any (user_id, event_type, ts) frame:
    * per-user first-occurrence times of view → click → purchase, then the
    * strictly-ordered progression counts. Comparisons happen on
    * epoch-millis (both engines floor ns → ms identically, dodging the
    * ns-vs-µs storage difference).
    */
  def funnel(eventsDf: DataFrame): DataFrame = {
    val ms = unix_millis(col("ts"))
    val u = eventsDf
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", ms)).as("tv"),
        min(when(col("event_type") === "click", ms)).as("tc"),
        min(when(col("event_type") === "purchase", ms)).as("tp"))
    u.agg(
        count(col("tv")).as("c1"),
        count(when(col("tc") > col("tv"), lit(1))).as("c2"),
        count(when(col("tc") > col("tv") && col("tp") > col("tc"), lit(1)))
          .as("c3"))
      .select(expr(
        """stack(3, 'f1_view', c1,
                    'f2_view_click', c2,
                    'f3_view_click_purchase', c3) AS (stage, n_users)"""))
      .orderBy("stage")
  }

  /** Cohort-retention core (r_cohort_retention): cohort = the user's first
    * event DATE (UTC); a user is retained at offset d when they have any
    * event on cohort_day + d, d ∈ [0, 7].
    */
  def cohortRetention(eventsDf: DataFrame): DataFrame = {
    val e = eventsDf.select(col("user_id"), to_date(col("ts")).as("day"))
    val f = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(f, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("offset_day"))
      .filter(col("offset_day").between(0, 7))
      .distinct()
      .groupBy(col("cohort_day"), col("offset_day"))
      .agg(count(lit(1)).cast("long").as("n_active"))
      .orderBy("cohort_day", "offset_day")
  }

  /** Per-dimension embedding moments (v_dim_stats) — the normalization /
    * whitening prep pass every vector pipeline runs before indexing.
    * Uniform-dim guard mirrors pqCodes (`size = 64`).
    */
  def dimStats(embDf: DataFrame, dim: Int = 64): DataFrame =
    embDf.filter(size(col("embedding")) === dim)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        min(col("x")).cast("double").as("x_min"),
        max(col("x")).cast("double").as("x_max"),
        floorRound(avg(col("x")), 4).as("x_mean"),
        floorRound(stddev_samp(col("x")), 4).as("x_std"))
      .orderBy("dim")

  /** RFM segmentation core (r_rfm_segments) over any
    * (user_id, event_type, ts, value) frame — scale-right: quintile
    * CUTPOINTS from one percentile aggregate (broadcast 3×4 doubles),
    * per-row CASE assignment — never a global ntile window.
    */
  def rfmSegments(eventsDf: DataFrame): DataFrame = {
    val perUser = eventsDf.groupBy(col("user_id")).agg(
      max(unix_millis(col("ts"))).as("last_ms"),
      count(when(col("event_type") === "purchase", lit(1))).as("freq"),
      floorRound(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0))), 2).as("mon"))
    val anchor = eventsDf.agg(max(unix_millis(col("ts"))).as("anchor_ms"))
    val m = perUser.crossJoin(broadcast(anchor))
      .withColumn("rec_days",
        floor((col("anchor_ms") - col("last_ms")) / lit(86400000.0)).cast("long"))
    val cuts = m.agg(
      expr("percentile(rec_days, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(mon, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    def score(v: org.apache.spark.sql.Column, cutsCol: String, asc: Boolean) = {
      val c = (i: Int) => floorRound(element_at(col(cutsCol), i), 4)
      val raw = when(v <= c(1), 1).when(v <= c(2), 2).when(v <= c(3), 3)
        .when(v <= c(4), 4).otherwise(5)
      if (asc) raw else lit(6) - raw // recency: smaller rec_days = better
    }
    m.crossJoin(broadcast(cuts))
      .select(
        (score(col("rec_days").cast("double"), "rc", asc = false) * 100 +
         score(col("freq").cast("double"), "fc", asc = true) * 10 +
         score(col("mon"), "mc", asc = true)).as("segment"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy("segment")
  }

  /** First-order Markov transition matrix core (q_markov_transitions). */
  def markovTransitions(eventsDf: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val seq = eventsDf
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
    val n = seq.groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = n.groupBy(col("src")).agg(sum(col("n")).as("n_src"))
    n.join(broadcast(tot), Seq("src"))
      .select(col("src"), col("dst"), col("n").cast("long").as("n"),
        floorRound(col("n").cast("double") / col("n_src").cast("double"), 4)
          .as("p"))
      .orderBy("src", "dst")
  }

  val queries: Seq[QueryDef] = Seq(
    // R11/R14-adjacent — event funnel: strictly-ordered first-touch
    // progression view → click → purchase. ONE shuffle (user_id) with
    // map-side partial min; the final 3-row stack is a scalar aggregate.
    // At 100 TB the shuffle carries one row per (partition × user) — the
    // same shape as q_distinct_users.
    QueryDef("r_funnel", (s, d) => funnel(Tables.events(s, d)),
      """WITH u AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS tv,
                  min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS tc,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS tp
           FROM events GROUP BY user_id)
         SELECT stage, n_users FROM (
           SELECT 'f1_view' AS stage,
                  CAST(count(tv) AS BIGINT) AS n_users FROM u
           UNION ALL
           SELECT 'f2_view_click',
                  CAST(count(CASE WHEN tc > tv THEN 1 END) AS BIGINT) FROM u
           UNION ALL
           SELECT 'f3_view_click_purchase',
                  CAST(count(CASE WHEN tc > tv AND tp > tc THEN 1 END) AS BIGINT) FROM u)
         ORDER BY stage"""),

    // R12/R13-adjacent — cohort retention heatmap input. Two keyed
    // shuffles (user_id for first-day + the join, which AQE plans off the
    // same exchange; then (cohort, offset) for the distinct+count). The
    // distinct() collapses (user, cohort, offset) BEFORE the count so the
    // final agg shuffle carries at most |users| × 8 rows, and the
    // first-day frame is per-user (≪ events) so its join side stays small.
    QueryDef("r_cohort_retention", (s, d) => cohortRetention(Tables.events(s, d)),
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
           f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
           a AS (SELECT DISTINCT e.user_id, f.cohort_day,
                        CAST(date_diff('day', f.cohort_day, e.day) AS INT) AS offset_day
                 FROM e JOIN f USING (user_id)
                 WHERE date_diff('day', f.cohort_day, e.day) BETWEEN 0 AND 7)
         SELECT cohort_day, offset_day, CAST(count(*) AS BIGINT) AS n_active
         FROM a GROUP BY cohort_day, offset_day
         ORDER BY cohort_day, offset_day"""),

    // R19-adjacent — per-dimension embedding moments (count/min/max/mean/
    // stddev). posexplode multiplies rows ×64 but the hash aggregate is
    // map-side partial: the shuffle carries 64 rows per input partition,
    // constant in corpus size. min/max are float-exact in both engines
    // (no accumulation); mean/stddev accumulate in double and round to 4
    // decimals (the established float-parity dial).
    QueryDef("v_dim_stats", (s, d) => dimStats(Tables.embeddings(s, d)),
      s"""SELECT t.i AS dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(min(e.embedding[t.i + 1]) AS DOUBLE) AS x_min,
                 CAST(max(e.embedding[t.i + 1]) AS DOUBLE) AS x_max,
                 ${floorRoundSql("avg(e.embedding[t.i + 1])", 4)} AS x_mean,
                 ${floorRoundSql("stddev_samp(e.embedding[t.i + 1])", 4)} AS x_std
          FROM embeddings e, range(0, 64) t(i)
          WHERE len(e.embedding) = 64
          GROUP BY t.i ORDER BY dim"""),

    // R20 — Zipf-law fit over the corpus word-frequency table:
    // rank words by frequency (ties broken by word — total order, so the
    // rank is deterministic across engines/partitionings), then OLS slope
    // of ln(freq) on ln(rank). The global row_number window runs on the
    // VOCAB, not the corpus — Heaps' law keeps |vocab| ≪ |tokens| (a 100 TB
    // corpus has ~10M types ⇒ a single-partition window over ~100 MB,
    // after the one token-keyed shuffle that builds the table map-side-
    // partially). regr_slope/intercept/r2 accumulate in double → 4-decimal
    // dial.
    QueryDef("t_zipf_slope", (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // No-partition rank window, KEPT deliberately (r22 WindowExec
      // audit): the window input is the VOCABULARY, not the corpus —
      // Heaps' law keeps distinct types sublinear in corpus size, and
      // the Zipf rank is an inherently global total order. The
      // RDD.zipWithIndex alternative was built and rejected: it runs the
      // partition-offset job EAGERLY at DataFrame construction time,
      // breaking the no-action-at-plan-time contract the audit/probe
      // tooling relies on (PlanSpec pins this query's exchange shape).
      val ranked = vocab.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("f").desc, col("w"))))
      ranked
        .select(log(col("f").cast("double")).as("lf"),
          log(col("rk").cast("double")).as("lr"))
        .agg(
          count(lit(1)).cast("long").as("n_types"),
          floorRound(expr("regr_slope(lf, lr)"), 4).as("zipf_slope"),
          floorRound(expr("regr_intercept(lf, lr)"), 4).as("zipf_intercept"),
          floorRound(expr("regr_r2(lf, lr)"), 4).as("zipf_r2"))
    },
      s"""WITH v AS (
            SELECT w, count(*) AS f FROM (
              SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
            WHERE len(w) > 0 GROUP BY w),
          r AS (
            SELECT ln(CAST(f AS DOUBLE)) AS lf,
                   ln(CAST(row_number() OVER (ORDER BY f DESC, w) AS DOUBLE)) AS lr
            FROM v)
          SELECT CAST(count(*) AS BIGINT) AS n_types,
                 ${floorRoundSql("regr_slope(lf, lr)", 4)} AS zipf_slope,
                 ${floorRoundSql("regr_intercept(lf, lr)", 4)} AS zipf_intercept,
                 ${floorRoundSql("regr_r2(lf, lr)", 4)} AS zipf_r2
          FROM r"""),

    // R7/R12-adjacent — z-score anomaly summary per event type: the
    // monitoring pass over the stream's batch twin. Two-phase: per-type
    // moments (ONE type-keyed shuffle, map-side partial), broadcast the
    // ~5-row stats frame back onto the events, flag |z| > 3. Mean/std go
    // through the 4-dp parity dial BEFORE z so both engines threshold the
    // same deterministic arithmetic; max|z| re-rounds for display.
    QueryDef("r_zscore_outliers", (s, d) => {
      val e = Tables.events(s, d)
      val stats = e.groupBy(col("event_type")).agg(
        floorRound(avg(col("value")), 4).as("mu"),
        floorRound(stddev_samp(col("value")), 4).as("sigma"))
      val z = e.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      z.groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("long").as("n_events"),
          count(when(abs(col("z")) > 3.0, lit(1))).cast("long").as("n_outliers"),
          floorRound(max(abs(col("z"))), 4).as("max_abs_z"))
        .orderBy("event_type")
    },
      s"""WITH st AS (
            SELECT event_type,
                   ${floorRoundSql("avg(value)", 4)} AS mu,
                   ${floorRoundSql("stddev_samp(value)", 4)} AS sigma
            FROM events GROUP BY event_type),
          z AS (
            SELECT e.event_type, (e.value - st.mu) / st.sigma AS z
            FROM events e JOIN st USING (event_type))
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(CASE WHEN abs(z) > 3.0 THEN 1 END) AS BIGINT) AS n_outliers,
                 ${floorRoundSql("max(abs(z))", 4)} AS max_abs_z
          FROM z GROUP BY event_type ORDER BY event_type"""),

    // R10/R12-adjacent — weighted sampling WITHOUT replacement
    // (Efraimidis-Spirakis A-ES): the source-weighted corpus sampling the
    // mixing stage needs when quotas are per-document, not per-source.
    // Top-k by ln(u)/w where u is a DETERMINISTIC per-doc uniform from an
    // LCG on doc_id (pure 64-bit integer arithmetic — identical in both
    // engines, the t_source_sample convention) and w = n_chars, so long
    // documents are preferentially kept with exactly the E-S inclusion
    // law. All per-row scalar math (no accumulation ⇒ bit-deterministic
    // doubles); the only corpus-sized operator is the
    // TakeOrderedAndProject heap — per-partition top-20, single merge,
    // never a full sort. Ties broken by doc_id: a total order.
    QueryDef("q_weighted_sample", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L))
            .as("lcg"))
        .withColumn("u", (col("lcg").cast("double") + lit(0.5)) / lit(2147483647.0))
        .withColumn("es_key",
          floorRound(log(col("u")) / col("n_chars").cast("double"), 10))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(20)
        // the emitted key IS the ranking key (10-dp): re-rounding it
        // coarser would collapse ties and make the emitted row order
        // unreproducible from the emitted columns
        .select(col("doc_id"), col("n_chars"), col("es_key")),
      s"""WITH k AS (
            SELECT doc_id, n_chars,
                   (CAST((doc_id * 1103515245 + 12345) % 2147483647 AS DOUBLE) + 0.5)
                     / 2147483647.0 AS u
            FROM documents),
          r AS (
            SELECT doc_id, n_chars,
                   ${floorRoundSql("ln(u) / CAST(n_chars AS DOUBLE)", 10)} AS es_key
            FROM k)
          SELECT doc_id, n_chars, es_key
          FROM r ORDER BY es_key DESC, doc_id LIMIT 20"""),

    // R13/R14-adjacent — bounded-window EWMA per user (α = 0.5 over the
    // last 8 events by time): the trend line a monitoring dashboard draws
    // per entity. The closed form is unrolled into 8 lag() terms of pure
    // scalar arithmetic (no iterative accumulation ⇒ deterministic in
    // both engines; short histories renormalize over the lags that
    // exist). ONE user-keyed window shuffle; at 100 TB the state per key
    // is 8 lags — the same shape Spark's streaming twin would hold.
    QueryDef("r_ewma", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      val terms = (0 until 8).map { k =>
        val c = math.pow(0.5, k + 1) // α(1−α)^k with α=0.5
        (when(lag(col("value"), k).over(w).isNotNull, lit(c)).otherwise(lit(0.0)),
          coalesce(lag(col("value"), k).over(w), lit(0.0)) * lit(c))
      }
      val wsum = terms.map(_._1).reduce(_ + _)
      val vsum = terms.map(_._2).reduce(_ + _)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("value"))
        .withColumn("ewma8", floorRound(vsum / wsum, 4))
        .select(col("user_id"), col("event_id"), col("ewma8"))
        .orderBy("user_id", "event_id")
    },
      s"""WITH t AS (
            SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events),
          l AS (
            SELECT user_id, event_id,
                   ${(0 until 8).map(k =>
                      s"lag(value, $k) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS v$k")
                      .mkString(",\n                   ")}
            FROM t),
          e AS (
            SELECT user_id, event_id,
                   (${(0 until 8).map(k =>
                       s"CASE WHEN v$k IS NOT NULL THEN ${math.pow(0.5, k + 1)} ELSE 0.0 END")
                       .mkString(" + ")}) AS wsum,
                   (${(0 until 8).map(k =>
                       s"coalesce(v$k, 0.0) * ${math.pow(0.5, k + 1)}")
                       .mkString(" + ")}) AS vsum
            FROM l)
          SELECT user_id, event_id, ${floorRoundSql("vsum / wsum", 4)} AS ewma8
          FROM e ORDER BY user_id, event_id"""),

    // R18 — PPJoin-style EXACT all-pairs Jaccard τ-join (see [[ppjoin]]):
    // the deterministic sibling of d_minhash_lsh — same problem, zero
    // probability of a missed pair. Candidates only from rarest-first
    // PREFIX collisions + an integer length filter; exact verify on the
    // survivors. Integer thresholds make completeness a theorem, so the
    // oracle is the brute-force all-pairs SQL (result invariance).
    QueryDef("d_ppjoin", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      ppjoin(Tables.documents(s, d))
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
           FROM toks WHERE len(t) >= 3),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS i
           FROM sh a JOIN sh b ON a.g = b.g AND b.doc_id > a.doc_id
           GROUP BY 1, 2)
         SELECT da AS doc_a, db AS doc_b,
                floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000 + 0.5) / 10000
                  AS jaccard
         FROM inter
           JOIN sz sa ON sa.doc_id = da
           JOIN sz sb ON sb.doc_id = db
         WHERE 8 * i >= 3 * (sa.n + sb.n)
         ORDER BY doc_a, doc_b"""),

    // R7/R12-adjacent — RFM (recency/frequency/monetary) segmentation:
    // the classic customer-value grid, built scale-right — NO global
    // ntile window (a single-partition sort over all users is the
    // 100 TB killer). Instead: per-user metrics in one user-keyed
    // shuffle, exact quintile CUTPOINTS from one percentile aggregate
    // (4 doubles per metric), broadcast back, per-row CASE assignment,
    // then a segment-keyed count. Cutpoints go through the 4-dp dial so
    // both engines threshold identical values; score convention: higher
    // = better (recent / frequent / high-spend).
    QueryDef("r_rfm_segments", (s, d) => rfmSegments(Tables.events(s, d)),
      s"""WITH pu AS (
            SELECT user_id,
                   max(epoch_ms(ts)) AS last_ms,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS freq,
                   ${floorRoundSql(
                     "sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)", 2)}
                     AS mon
            FROM events GROUP BY user_id),
          a AS (SELECT max(epoch_ms(ts)) AS anchor_ms FROM events),
          m AS (
            SELECT user_id,
                   CAST(floor((a.anchor_ms - pu.last_ms) / 86400000.0) AS BIGINT)
                     AS rec_days,
                   freq, mon
            FROM pu, a),
          c AS (
            SELECT quantile_cont(CAST(rec_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS rc,
                   quantile_cont(CAST(freq AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS fc,
                   quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS mc
            FROM m),
          seg AS (
            SELECT (6 - (CASE WHEN CAST(rec_days AS DOUBLE) <= floor(rc[1] * 10000 + 0.5) / 10000 THEN 1
                              WHEN CAST(rec_days AS DOUBLE) <= floor(rc[2] * 10000 + 0.5) / 10000 THEN 2
                              WHEN CAST(rec_days AS DOUBLE) <= floor(rc[3] * 10000 + 0.5) / 10000 THEN 3
                              WHEN CAST(rec_days AS DOUBLE) <= floor(rc[4] * 10000 + 0.5) / 10000 THEN 4
                              ELSE 5 END)) * 100
                 + (CASE WHEN CAST(freq AS DOUBLE) <= floor(fc[1] * 10000 + 0.5) / 10000 THEN 1
                         WHEN CAST(freq AS DOUBLE) <= floor(fc[2] * 10000 + 0.5) / 10000 THEN 2
                         WHEN CAST(freq AS DOUBLE) <= floor(fc[3] * 10000 + 0.5) / 10000 THEN 3
                         WHEN CAST(freq AS DOUBLE) <= floor(fc[4] * 10000 + 0.5) / 10000 THEN 4
                         ELSE 5 END) * 10
                 + (CASE WHEN mon <= floor(mc[1] * 10000 + 0.5) / 10000 THEN 1
                         WHEN mon <= floor(mc[2] * 10000 + 0.5) / 10000 THEN 2
                         WHEN mon <= floor(mc[3] * 10000 + 0.5) / 10000 THEN 3
                         WHEN mon <= floor(mc[4] * 10000 + 0.5) / 10000 THEN 4
                         ELSE 5 END) AS segment
            FROM m, c)
          SELECT segment, CAST(count(*) AS BIGINT) AS n_users
          FROM seg GROUP BY segment ORDER BY segment"""),

    // R13-adjacent — event-type transition matrix (first-order Markov):
    // the path-analysis pass behind "what do users do next". ONE
    // user-keyed window (lead over event time) then a 25-cell-bounded
    // count; transition probabilities join the src totals back (tiny
    // broadcast). Deterministic order: (epoch-millis, event_id) is a
    // total order per user in both engines.
    QueryDef("q_markov_transitions", (s, d) => markovTransitions(Tables.events(s, d)),
      s"""WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER (PARTITION BY user_id
                     ORDER BY epoch_ms(ts), event_id) AS dst
            FROM events),
          n AS (
            SELECT event_type AS src, dst, CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
          tot AS (SELECT src, sum(n) AS n_src FROM n GROUP BY src)
          SELECT n.src, n.dst, n.n,
                 ${floorRoundSql("CAST(n.n AS DOUBLE) / CAST(tot.n_src AS DOUBLE)", 4)} AS p
          FROM n JOIN tot USING (src)
          ORDER BY src, dst"""),

    // R20/R17-adjacent — n-gram novelty curve: per doc (in doc_id order,
    // the corpus's ingest order), the fraction of its distinct 3-shingles
    // whose FIRST corpus occurrence is this doc — the "how much new text
    // does each increment add" metric a dataset-curation loop watches as
    // it appends crawls (a falling curve means the source is mined out).
    // Shape: one gram-hash-keyed min-aggregate (map-side partial) + one
    // doc-keyed count — the span-dedup shuffle discipline (8-byte hashes,
    // strings never move; 64-bit-collision trade documented there).
    QueryDef("t_ngram_novelty", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      import graft.functions.TextFunctions.shingles
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(shingles("text", 3))).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
      val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).cast("long").as("n_grams"),
          count(when(col("first_doc") === col("doc_id"), lit(1)))
            .cast("long").as("n_novel"))
        .withColumn("novelty_frac",
          floorRound(col("n_novel").cast("double") / col("n_grams").cast("double"), 4))
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
           FROM toks WHERE len(t) >= 3),
         first AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
         SELECT sh.doc_id,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(count(CASE WHEN first.first_doc = sh.doc_id THEN 1 END) AS BIGINT)
                  AS n_novel,
                floor(CAST(count(CASE WHEN first.first_doc = sh.doc_id THEN 1 END) AS DOUBLE)
                      / count(*) * 10000 + 0.5) / 10000 AS novelty_frac
         FROM sh JOIN first USING (g)
         GROUP BY sh.doc_id ORDER BY sh.doc_id"""),

    // R20 — lexicon (denylist) redaction: the scrubbing stage of a corpus
    // pipeline (PII/sensitive-term removal; the synthetic corpus has no
    // real PII, so the denylist is four in-vocabulary terms — the
    // machinery, not the lexicon, is the deliverable). Token-exact
    // replacement via higher-order functions (per-row, whole-stage
    // codegen, zero shuffles); the redacted text is emitted as its md5 so
    // the oracle proves byte-identical scrubbing without moving full text
    // through the compare.
    QueryDef("t_redact_lexicon", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(
          col("doc_id"),
          size(col("t")).as("n_tokens"),
          expr(s"size(filter(t, w -> w IN ($denySqlList)))").as("n_hits"),
          expr(
            s"""md5(array_join(transform(t,
                 w -> CASE WHEN w IN ($denySqlList) THEN '<RED>' ELSE w END),
               ' '))""").as("redacted_md5"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                 CAST(len(list_filter(string_split(text, ' '),
                        w -> list_contains([$denySqlList], w))) AS INT) AS n_hits,
                 md5(array_to_string(list_transform(string_split(text, ' '),
                       w -> CASE WHEN list_contains([$denySqlList], w)
                                 THEN '<RED>' ELSE w END), ' ')) AS redacted_md5
          FROM documents ORDER BY doc_id""")
  )
}
