package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13/14 additions (SURVEY.md §2, VERDICT r12/r13 "Next round"):
  *
  *   - `t_pii_redact`     R20/R22  structured (pattern-class) PII detection
  *                                 + redaction — the scrub stage every
  *                                 released training corpus runs before the
  *                                 k-anonymity gate (q_k_anonymity) means
  *                                 anything. Complements t_redact_lexicon
  *                                 (denylist terms): that one scrubs KNOWN
  *                                 strings, this one scrubs SHAPES (emails,
  *                                 phone numbers, long numeric IDs).
  *   - `v_ivf_cell_skew`  R19      ANN index health audit (r14, VERDICT r12
  *                                 #8): per-cell census over the IVF home-
  *                                 cell assignment + max/median skew ratio +
  *                                 rebalance flag — the serve→monitor→
  *                                 retrain loop for the vector index, the
  *                                 way q_psi_drift closes it for features.
  *
  * House parity discipline throughout: per-row codegen'd expressions, zero
  * shuffles before the output sort, md5-of-scrubbed-text so the oracle
  * proves byte-identical scrubbing without moving full text through the
  * compare (the t_redact_lexicon pattern, AnalyticsQueries.scala).
  */
object Round13Queries {

  /** PII pattern classes. Restricted to the regex subset Java
    * (java.util.regex, Spark) and RE2 (DuckDB) treat identically:
    * explicit char classes, ASCII `\d`, ASCII word-boundary `\b`,
    * bounded repetition. No lookaround (RE2 has none), no `\w`-dependent
    * Unicode modes.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
  private[graft] val IdRe    = "\\b\\d{9}\\b"

  /** Staged scrub: count a class, THEN replace it, then move to the next
    * class on the already-scrubbed text — so an email's digit runs can
    * never double-count as a numeric ID (class precedence: email >
    * phone > id, most-specific shape first). Returns (n_email, n_phone,
    * n_id, scrubbed_text). Every column is a per-row codegen'd
    * expression — at 100 TB this stage is a pure map over the corpus
    * scan, no shuffle, no UDF.
    */
  private[graft] def piiStages(text: Column): (Column, Column, Column, Column) = {
    val nEmail = regexp_count(text, lit(EmailRe))
    val t1 = regexp_replace(text, EmailRe, "<EMAIL>")
    val nPhone = regexp_count(t1, lit(PhoneRe))
    val t2 = regexp_replace(t1, PhoneRe, "<PHONE>")
    val nId = regexp_count(t2, lit(IdRe))
    val t3 = regexp_replace(t2, IdRe, "<ID>")
    (nEmail, nPhone, nId, t3)
  }

  val queries: Seq[QueryDef] = Seq(

    // R20/R22 — STRUCTURED PII DETECT + REDACT. The base fixture corpus is
    // digit-free (no real PII, by construction; the derived sf1 perf corpus
    // appends a single copy-index digit per token — one digit can never
    // form the \d{3}-\d{4} or \d{9} shapes from a digit-free base, so hit
    // counts stay banner-only at every SF), so — exactly like
    // t_redact_lexicon's in-vocabulary denylist — the query plants a
    // DETERMINISTIC per-doc PII banner (class varies by doc_id % 4:
    // email / phone / 9-digit ID / none) and the machinery is the
    // deliverable: both engines inject identically, so nonzero hit
    // counts and the scrubbed-text md5 exercise every class at every SF.
    // Output: per-doc hit count per class + total + md5 of the scrubbed
    // text (byte-identical-scrub proof).
    QueryDef("t_pii_redact", (s, d) => {
      val banner = when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today")))
        .when(col("doc_id") % 4 === 2, lit(" ssn 123456789 ref"))
        .otherwise(lit(""))
      val (nEmail, nPhone, nId, scrubbed) =
        piiStages(concat(col("text"), banner))
      Tables.documents(s, d)
        .select(col("doc_id"),
          nEmail.as("n_email"), nPhone.as("n_phone"), nId.as("n_id"),
          scrubbed.as("t3"))
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_id"),
          (col("n_email") + col("n_phone") + col("n_id")).as("n_pii"),
          md5(col("t3")).as("redacted_md5"))
        .orderBy("doc_id")
    },
      // DuckDB twin: same banner, same staged class order; DuckDB's
      // regexp_replace needs the explicit 'g' flag (Spark replaces all
      // matches by default).
    {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{4}\\b"
      val id = "\\b\\d{9}\\b"
      s"""WITH aug AS (
           SELECT doc_id,
                  text || CASE
                    WHEN doc_id % 4 = 0 THEN ' contact user' ||
                      CAST(doc_id AS VARCHAR) || '@example.com now'
                    WHEN doc_id % 4 = 1 THEN ' call 555-' ||
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                    WHEN doc_id % 4 = 2 THEN ' ssn 123456789 ref'
                    ELSE '' END AS t
           FROM documents),
         s1 AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_email,
                  regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1
           FROM aug),
         s2 AS (
           SELECT doc_id, n_email,
                  CAST(len(regexp_extract_all(t1, '$phone')) AS INT) AS n_phone,
                  regexp_replace(t1, '$phone', '<PHONE>', 'g') AS t2
           FROM s1),
         s3 AS (
           SELECT doc_id, n_email, n_phone,
                  CAST(len(regexp_extract_all(t2, '$id')) AS INT) AS n_id,
                  regexp_replace(t2, '$id', '<ID>', 'g') AS t3
           FROM s2)
         SELECT doc_id, n_email, n_phone, n_id,
                n_email + n_phone + n_id AS n_pii,
                md5(t3) AS redacted_md5
         FROM s3 ORDER BY doc_id"""
    }),

    // R19 — IVF INDEX CELL-SKEW AUDIT: assign every vector its home cell
    // exactly as the serve path does (per-row argmax against the broadcast
    // stride-13 coarse quantizer — byte-identical machinery to
    // v_ivfpq_search's assignment stage), census the cells, and price the
    // skew: max cell size over exact median (carried as med2 = the sum of
    // the two middle order statistics, an exact BIGINT — no float
    // interpolation) with the rebalance flag at ratio ≥ 4. Scale shape:
    // one per-row assignment pass (no shuffle), one k-row keyed count,
    // then everything is index-sized — the census a monitor runs nightly
    // over a 100 TB corpus costs one codes-table scan, nothing more.
    QueryDef("v_ivf_cell_skew", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
      val (centArr, _) = SimilarityQueries.pqIndexBuild(e)
      val counts = e.crossJoin(broadcast(centArr))
        .select(expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      SimilarityQueries.cellSkewCensus(counts)
    },
      // replays the home-cell assignment (stride-13 centroids, 4-dp-floored
      // cosine, c DESC / cell ASC argmax — the v_ivfpq_search CTEs), the
      // per-cell census, and the integer median/skew arithmetic exactly
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         cdots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 13 = 0
           GROUP BY 1, 2),
         cc AS (
           SELECT vid, cell,
                  CASE WHEN nx.n * ny.n > 0
                    THEN floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM cdots JOIN nrm nx ON nx.vec_id = vid
                      JOIN nrm ny ON ny.vec_id = cell),
         home AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM cc) WHERE rk = 1),
         counts AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
           FROM home GROUP BY cell),
         ranked AS (
           SELECT cell, n_vecs,
                  CAST(row_number() OVER (ORDER BY n_vecs, cell) AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS k
           FROM counts),
         audit AS (
           SELECT CAST(max(k) AS BIGINT) AS n_cells,
                  CAST(max(n_vecs) AS BIGINT) AS max_n,
                  CAST(sum(CASE
                    WHEN rn = (k + 1) // 2 AND rn = (k + 2) // 2 THEN n_vecs * 2
                    WHEN rn = (k + 1) // 2 OR rn = (k + 2) // 2 THEN n_vecs
                    ELSE 0 END) AS BIGINT) AS med2
           FROM ranked)
         SELECT r.cell, r.n_vecs, a.n_cells, a.max_n, a.med2,
                floor(a.max_n * 2.0 / a.med2 * 10000 + 0.5) / 10000 AS skew_ratio,
                (a.max_n * 2 >= a.med2 * 4) AS rebalance
         FROM ranked r CROSS JOIN audit a
         ORDER BY r.cell""")
  )
}
