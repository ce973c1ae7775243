package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 additions (SURVEY.md §2.13; beyond the cleared r13 backlog):
  *
  *   - `t_lm_score`       R20      held-out BIGRAM language-model scoring —
  *                                 the real CCNet-shape quality filter
  *                                 (train an n-gram LM on a reference
  *                                 corpus, score candidate docs by average
  *                                 negative log-likelihood). Steps up from
  *                                 `t_perplexity_proxy` (self-corpus
  *                                 unigram): train/score split, CONDITIONAL
  *                                 probabilities with add-one smoothing,
  *                                 OOV-context handling.
  *   - `d_snapshot_diff`  R17/R6   corpus release diff — added / removed /
  *                                 changed / unchanged between two corpus
  *                                 snapshots by (doc_id, content sha): the
  *                                 data-versioning audit every iterative
  *                                 corpus release runs before shipping.
  *   - `v_embedding_drift` R19     embedding-space drift monitor — the
  *                                 `q_psi_drift` analog for the vector
  *                                 family: reference-vs-current centroid
  *                                 cosine, mean-shift L2, norm drift, one
  *                                 alarmable row.
  */
object Round14Queries {

  /** avg −ln p dial for `t_lm_score`, in integer 1e-4 units (the
    * `t_perplexity_proxy` discipline, and numerically the same dial —
    * ~3.43 nats ≈ ppl 31): sits at the fixture's per-SF median
    * (measured nll_avg_units 32.3k-37.4k, median ≈ 34.1-34.3k at
    * sf0.001/0.01/0.1), so both flag values occur at every SF. The flag
    * is an integer compare on engine-identical units — any dial is
    * parity-safe; this one is exercised.
    */
  private[graft] val LmHighNllUnits = 34300L

  /** Held-out bigram-LM scoring core (see the `t_lm_score` def for the
    * model and parity discipline). `train` and `scored` carry
    * (doc_id, text); docs with fewer than two tokens score no bigrams and
    * are absent from the output (both engines agree).
    */
  private[graft] def lmScore(train0: DataFrame, scored0: DataFrame,
                             highNllUnits: Long = LmHighNllUnits): DataFrame = {
    // positions 1..size-1 via filter, NOT sequence(1, size-1): Spark's
    // sequence runs DESCENDING when stop < start, so a 1-token doc would
    // produce [1, 0] and crash element_at — caught by the short-doc spec
    val bigramsOf =
      expr("""transform(filter(sequence(1, size(t)), i -> i < size(t)),
                i -> struct(element_at(t, i) AS w1,
                            element_at(t, i + 1) AS w2))""")
    val train = train0.select(col("doc_id"), split(col("text"), " ").as("t"))
    val c2 = train.select(explode(bigramsOf).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = train.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    scored0.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(bigramsOf).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(c1, Seq("w1"), "left_outer")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), expr(
        """CAST(floor(-ln((coalesce(c2, 0) + 1) / CAST(coalesce(c1, 0) + v AS DOUBLE))
             * 10000 + 0.5) AS BIGINT)""").as("u"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("u")).as("nll_units"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_units"),
        expr("nll_units div n_bigrams").as("nll_avg_units"),
        (expr("nll_units div n_bigrams") > highNllUnits).as("high_ppl"))
      .orderBy("doc_id")
  }

  /** Mean-shift alarm multiplier for `v_embedding_drift`: the null
    * expectation for unit-norm iid halves is E|m̄ref − m̄cur|² =
    * 1/n_ref + 1/n_cur (each half's centroid is noise of squared length
    * ~1/n), so the alarm fires at `k·√(1/n_ref + 1/n_cur)` with k = 3 —
    * several sigma above the CLT null, the sketch-bound discipline. The
    * centroid COSINE is emitted as an informational column but not
    * alarmed on: for centered/unit-norm corpora both centroids are noise
    * vectors and their cosine is arbitrary (the iid fixture measures
    * ~0.1 at sf0.1 — meaningless, not drift).
    */
  private[graft] val DriftShiftSigma = 3.0

  /** Embedding-drift core (see the `v_embedding_drift` def). `ref` and
    * `cur` carry (vec_id, v) with 64-dim double vectors.
    */
  private[graft] def embeddingDrift(ref: DataFrame, cur: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.l2Norm
    def dimMeans(df: DataFrame, u: String): DataFrame =
      df.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(expr("CAST(floor(avg(x) * 1000000 + 0.5) AS BIGINT)").as(u))
    def normStats(df: DataFrame, n: String, avg: String): DataFrame =
      df.select(floor(l2Norm(col("v")) * 10000 + 0.5).as("nu"))
        .agg(count(lit(1)).as(n), sum(col("nu")).as("__s"))
        .select(col(n), expr(s"__s div $n").as(avg))
    val dims = dimMeans(ref, "u0").join(dimMeans(cur, "u1"), "pos")
      .agg(sum(col("u0") * col("u1")).as("dot"),
        sum(col("u0") * col("u0")).as("q0"),
        sum(col("u1") * col("u1")).as("q1"),
        sum((col("u0") - col("u1")) * (col("u0") - col("u1"))).as("s2"))
    dims
      .crossJoin(broadcast(normStats(ref, "n_ref", "norm_avg_ref_u4")))
      .crossJoin(broadcast(normStats(cur, "n_cur", "norm_avg_cur_u4")))
      .select(col("n_ref"), col("n_cur"),
        // a perfectly-symmetric half can quantize to a zero centroid —
        // its cosine is undefined, not infinite: null, never a
        // floor(NaN/Infinity) artifact (both engines guard identically)
        expr("""CASE WHEN q0 > 0 AND q1 > 0 THEN
                  floor(CAST(dot AS DOUBLE) / (sqrt(CAST(q0 AS DOUBLE)) * sqrt(CAST(q1 AS DOUBLE)))
                    * 10000 + 0.5) / 10000 END""").as("cos_mean4"),
        expr("CAST(floor(sqrt(CAST(s2 AS DOUBLE)) + 0.5) AS BIGINT)").as("mean_shift_u6"),
        expr(s"""CAST(floor($DriftShiftSigma *
             sqrt(1.0 / n_ref + 1.0 / n_cur) * 1000000 + 0.5) AS BIGINT)""")
          .as("shift_limit_u6"),
        col("norm_avg_ref_u4"), col("norm_avg_cur_u4"),
        (col("norm_avg_cur_u4") - col("norm_avg_ref_u4")).as("norm_delta_u4"))
      .withColumn("drifted", col("mean_shift_u6") > col("shift_limit_u6"))
  }

  /** Snapshot-diff core (see the `d_snapshot_diff` def): `a` is the
    * previous release, `b` the candidate, both (doc_id, text); diff by
    * id presence then content md5.
    */
  private[graft] def snapshotDiff(a0: DataFrame, b0: DataFrame): DataFrame = {
    val a = a0.select(col("doc_id"), md5(col("text")).as("sha_a"))
    val b = b0.select(col("doc_id"), md5(col("text")).as("sha_b"))
    // materialize the slim (doc_id, status) frame ONCE — both consumers
    // below (census + output) would otherwise re-execute the full-outer
    // join (Lineage.cut: localCheckpoint, or reliable under the conf)
    val joined = Lineage.cut(a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("sha_a").isNull, "added")
          .when(col("sha_b").isNull, "removed")
          .when(col("sha_a") =!= col("sha_b"), "changed")
          .otherwise("unchanged").as("status")))
    // the census is ≤ 4 rows — always broadcast (the full-outer id join
    // above is the only corpus-sized exchange in the plan)
    val counts = joined.groupBy(col("status"))
      .agg(count(lit(1)).as("n_status"))
    joined.join(broadcast(counts), "status")
      .select(col("doc_id"), col("status"), col("n_status"))
      .orderBy("doc_id")
  }

  val queries: Seq[QueryDef] = Seq(

    // R20 — HELD-OUT BIGRAM LM SCORING. Train half: even doc_id; score
    // half: odd. Model: P(w2|w1) = (c2(w1,w2)+1) / (c1(w1)+V) with
    // c1(w1) = Σ_w2 c2(w1,w2) (bigram-context count, so the conditional
    // sums to 1) and V = |distinct train tokens|; an unseen context
    // degrades to the uniform 1/V floor. Per-bigram −ln p is floored to
    // integer 1e-4 units BEFORE summing (order-independent integer sum —
    // the t_perplexity_proxy parity trick), the per-doc mean is an exact
    // integer division, and the high-ppl flag is an integer compare.
    // Scale shape: bigram extraction is a pure per-row transform+explode
    // (no self-join); the model tables are vocab-sized and deliberately
    // NOT broadcast-hinted (vocabulary grows with the corpus — the scored
    // probe joins shuffle on the bigram/context key, AQE may still pick
    // broadcast when the model fits); one 1-row V aggregate broadcasts.
    QueryDef("t_lm_score", (s, d) =>
      lmScore(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1)),
      // replays the split, the bigram/context counts, the add-one smoothing
      // and the integer-unit NLL fold exactly
      s"""WITH tk AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                  generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents),
         bg AS (
           SELECT x.doc_id, x.w AS w1, y.w AS w2
           FROM tk x JOIN tk y ON y.doc_id = x.doc_id AND y.i = x.i + 1),
         c2 AS (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
           FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
         vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                FROM tk WHERE doc_id % 2 = 0),
         u AS (
           SELECT bg.doc_id,
                  CAST(floor(-ln((coalesce(c2.c2, 0) + 1) /
                         CAST(coalesce(c1.c1, 0) + vv.v AS DOUBLE))
                       * 10000 + 0.5) AS BIGINT) AS u
           FROM bg
           LEFT JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
           LEFT JOIN c1 ON c1.w1 = bg.w1
           CROSS JOIN vv
           WHERE bg.doc_id % 2 = 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(u) AS BIGINT) AS nll_units,
                CAST(sum(u) // count(*) AS BIGINT) AS nll_avg_units,
                (sum(u) // count(*)) > $LmHighNllUnits AS high_ppl
         FROM u GROUP BY doc_id ORDER BY doc_id"""),

    // R17/R6 — CORPUS SNAPSHOT DIFF: the release-over-release audit.
    // Snapshot A ("previous release") and B ("candidate") are derived
    // deterministically from the fixture so both engines construct
    // identical inputs: A = docs with doc_id % 5 != 4, all carrying their
    // ORIGINAL text (including the % 11 == 0 docs — the edit exists only
    // in B); B = every doc, with " revised" appended when
    // doc_id % 11 == 0, so % 11 == 0 docs present in A diff as
    // "changed" and the % 5 == 4 docs as "added". Diff by doc_id
    // (presence) then by md5 (content): status ∈ added / changed /
    // unchanged (removed cannot occur in this fixture shape — A ⊆ B by
    // id — but the expression handles it; the spec plants one). Output:
    // per-doc status + per-status counts. Scale shape: one full outer
    // join keyed on doc_id with 16-byte hashes as the only payload —
    // the exact-dedup discipline applied across releases; at 100 TB
    // both sides are sha-bucketed scans, nothing text-sized shuffles
    // after the hash projection.
    QueryDef("d_snapshot_diff", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      snapshotDiff(
        docs.filter(col("doc_id") % 5 =!= 4),
        docs.select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" revised")))
            .otherwise(col("text")).as("text")))
    },
      // replays the derived snapshots, the full-outer id join, the sha
      // compare and the status census exactly
      """WITH a AS (
           SELECT doc_id, md5(text) AS sha_a
           FROM documents WHERE doc_id % 5 != 4),
         b AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 11 = 0 THEN text || ' revised'
                           ELSE text END) AS sha_b
           FROM documents),
         j AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.sha_a IS NULL THEN 'added'
                       WHEN b.sha_b IS NULL THEN 'removed'
                       WHEN a.sha_a != b.sha_b THEN 'changed'
                       ELSE 'unchanged' END AS status
           FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
         c AS (SELECT status, CAST(count(*) AS BIGINT) AS n_status
               FROM j GROUP BY status)
         SELECT j.doc_id, j.status, c.n_status
         FROM j JOIN c ON c.status = j.status
         ORDER BY j.doc_id"""),

    // R19 — EMBEDDING-SPACE DRIFT MONITOR: reference = even vec_id,
    // current = odd (the q_psi_drift split discipline applied to the
    // vector family). Per-dim means are quantized to integer 1e-6 units
    // FIRST (one floor at the aggregate edge — everything downstream is
    // exact integer math both engines replay bit-for-bit): centroid
    // cosine from integer dots, mean-shift L2 in 1e-6 units; per-row
    // norms are quantized to 1e-4 units before the integer sum, so the
    // per-half average norm is an exact integer division. One output
    // row; `drifted` alarms on centroid cosine under the dial. Scale
    // shape: one (half, pos) keyed aggregate (128 rows) + one per-row
    // norm pass — nothing corpus-sized shuffles beyond the two partial
    // aggregates; the monitor a nightly embedding pipeline runs at any
    // corpus size.
    QueryDef("v_embedding_drift", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
      embeddingDrift(e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    },
      // replays the half split, the 1e-6-unit per-dim means, the integer
      // centroid cosine / mean-shift arithmetic, and the 1e-4-unit norm
      // averages exactly
      s"""WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         dm AS (
           SELECT vec_id % 2 AS half, i,
                  CAST(floor(avg(e) * 1000000 + 0.5) AS BIGINT) AS u
           FROM ex GROUP BY 1, 2),
         pv AS (
           SELECT i, max(CASE WHEN half = 0 THEN u END) AS u0,
                  max(CASE WHEN half = 1 THEN u END) AS u1
           FROM dm GROUP BY i),
         st AS (
           SELECT CAST(sum(u0 * u1) AS BIGINT) AS dot,
                  CAST(sum(u0 * u0) AS BIGINT) AS q0,
                  CAST(sum(u1 * u1) AS BIGINT) AS q1,
                  CAST(sum((u0 - u1) * (u0 - u1)) AS BIGINT) AS s2
           FROM pv),
         nr AS (
           SELECT vec_id, vec_id % 2 AS half,
                  CAST(floor(sqrt(sum(e * e)) * 10000 + 0.5) AS BIGINT) AS nu
           FROM ex GROUP BY vec_id),
         ns AS (
           SELECT half, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(nu) AS BIGINT) AS s
           FROM nr GROUP BY half)
         SELECT r.n AS n_ref, c.n AS n_cur,
                CASE WHEN st.q0 > 0 AND st.q1 > 0 THEN
                  floor(CAST(st.dot AS DOUBLE) /
                      (sqrt(CAST(st.q0 AS DOUBLE)) * sqrt(CAST(st.q1 AS DOUBLE)))
                    * 10000 + 0.5) / 10000 END AS cos_mean4,
                CAST(floor(sqrt(CAST(st.s2 AS DOUBLE)) + 0.5) AS BIGINT) AS mean_shift_u6,
                CAST(floor($DriftShiftSigma *
                    sqrt(1.0 / r.n + 1.0 / c.n) * 1000000 + 0.5) AS BIGINT)
                  AS shift_limit_u6,
                CAST(r.s // r.n AS BIGINT) AS norm_avg_ref_u4,
                CAST(c.s // c.n AS BIGINT) AS norm_avg_cur_u4,
                CAST(c.s // c.n - r.s // r.n AS BIGINT) AS norm_delta_u4,
                CAST(floor(sqrt(CAST(st.s2 AS DOUBLE)) + 0.5) AS BIGINT) >
                  CAST(floor($DriftShiftSigma *
                    sqrt(1.0 / r.n + 1.0 / c.n) * 1000000 + 0.5) AS BIGINT)
                  AS drifted
         FROM st, (SELECT * FROM ns WHERE half = 0) r,
              (SELECT * FROM ns WHERE half = 1) c""")
  )
}
