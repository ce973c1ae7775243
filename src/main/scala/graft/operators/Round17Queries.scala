package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Round-17 additions (SURVEY.md §2 R20 — text analysis):
  *
  *   - `t_lang_spans`  SPAN-LEVEL LANGUAGE SEGMENTATION — the code-switch
  *                     detector a multilingual corpus build runs between
  *                     language ID and filtering: `t_lang_id` labels the
  *                     whole document, but real pages mix languages (an
  *                     English nav/boilerplate frame around a non-English
  *                     body, quoted passages, code-switched forums), and
  *                     per-language corpus routing needs the CONTIGUOUS
  *                     SPANS, not one doc-level vote. Fixed non-overlapping
  *                     token windows are each classified by the same marker
  *                     evidence the doc-level classifier uses, and adjacent
  *                     same-language windows merge into spans
  *                     (gaps-and-islands over the window ordinal).
  *
  *   - `t_dsir_weights`  HASHED N-GRAM IMPORTANCE WEIGHTS (DSIR, Xie et
  *                     al. 2023, "Data Selection for Language Models via
  *                     Importance Resampling"): score every raw-pool
  *                     document by how target-like its hashed-bigram
  *                     distribution is. Bigrams hash into a FIXED 2^16
  *                     bucket space (the hashing trick — this cap is what
  *                     makes the method 100 TB-viable: the per-bucket
  *                     log-ratio table is ≤65,536 rows and broadcasts, so
  *                     scoring is one narrow per-doc pass + one broadcast
  *                     join, never a corpus-sized vocabulary shuffle).
  *                     `source = 'src0'` plays the target domain, all
  *                     other sources the raw pool, mirroring the
  *                     `t_decontaminate` split convention.
  *
  *   - `t_bm25_topk`   BM25 RETRIEVAL SCORING (Robertson–Spärck Jones,
  *                     k1=1.2 b=0.75) of a fixed query against the corpus,
  *                     top-10: the retrieval primitive a pipeline runs for
  *                     eval-set leakage hunts and targeted corpus audits
  *                     (`t_tfidf_top_term` ranks terms within a doc; BM25
  *                     ranks DOCS for a query, with df-damped idf and
  *                     doc-length-normalized tf saturation). Tokens filter
  *                     to the query set BEFORE any shuffle, df/avgdl are
  *                     broadcast scalars, and the top-10 is a TakeOrdered,
  *                     so the corpus-sized work is one filtered scan.
  *
  * Both new operators follow the cross-engine parity discipline of
  * [[Round11Queries]]: md5-derived 16-bit buckets (`conv` ↔ strpos-fold)
  * and per-term integer micro-units (floor(x*1e6+0.5) per term, BIGINT
  * sums) so corpus aggregates are exact integers in both engines.
  */
object Round17Queries {

  /** Tokens per classification window for `t_lang_spans` — small enough
    * that a one-line foreign insertion gets its own span, large enough
    * that the ≥1-marker evidence is meaningful within a window.
    */
  private[graft] val SpanWindowTokens = 5

  /** Core of `t_lang_spans`, reusable over any (doc_id, text) frame
    * (spec-tested on planted code-switch fixtures): classify each
    * [[SpanWindowTokens]]-token window by the shared five-language
    * marker-argmax vote ([[TextQueries.langVote]] over the
    * `t_lang_id` lexicon, VERDICT r17 #6 — no-evidence windows label
    * "other"), then merge adjacent same-language windows by the
    * gaps-and-islands ordinal trick: within (doc, lang),
    * `window_no − (rank−1)` is constant exactly on consecutive runs.
    */
  private[graft] def langSpans(docs: DataFrame,
                               w: Int = SpanWindowTokens): DataFrame = {
    val wins = Round15Queries.docLines(docs, w)
      .select(col("doc_id"), col("line_no").cast(LongType).as("win_no"),
        TextQueries.langVote(split(col("line"), " "), "other").as("lang"))
    val byDocLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("lang")).orderBy(col("win_no"))
    wins
      .withColumn("grp",
        col("win_no") - (row_number().over(byDocLang).cast(LongType) - 1L))
      .groupBy(col("doc_id"), col("lang"), col("grp"))
      .agg(min(col("win_no")).as("span_start"),
        max(col("win_no")).as("span_end"),
        count(lit(1)).cast(LongType).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("lang"), col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** Hashed-feature space for `t_dsir_weights` — 2^16 buckets, the full
    * range of the 4-hex-char md5 prefix both engines derive identically
    * (`conv(substring(md5(g),1,4),16,10)` ↔ the strpos fold). Fixing the
    * feature space is the method's scale lever: the log-ratio table is
    * bounded at 65,536 rows regardless of corpus size.
    */
  private[graft] val DsirBuckets = 65536

  /** Core of `t_dsir_weights` over a (doc_id, source, text) frame.
    *
    * Per-bucket log importance ratio, add-one smoothed over the hashed
    * space, in integer micro-units (exact cross-engine sums):
    *
    *   lr(b) = floor(ln(((ct+1) * (tr+B)) / ((cr+1) * (tt+B))) * 1e6 + 0.5)
    *
    * where ct/cr are the bucket's target/raw bigram counts and tt/tr the
    * corpus totals. A raw doc's weight is the sum of lr over its bigram
    * stream (with multiplicity — DSIR's bag-of-features product in log
    * space); `selected` = weight > 0, i.e. the doc looks more like the
    * target than the raw pool. Docs with <2 tokens carry no evidence:
    * 0 grams, 0 units, not selected.
    *
    * Scale shape: bigram formation is a narrow per-row slice; the only
    * corpus-sized shuffles are the bucket-keyed count aggregate (8-byte
    * keys, ≤2^16 groups after partial aggregation) and the doc_id-keyed
    * scoring aggregate every per-doc operator pays. The log-ratio table
    * and the corpus totals are broadcast; text never shuffles.
    */
  private[graft] def dsirWeights(docs: DataFrame): DataFrame = {
    val B = DsirBuckets
    val grams = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
          .as("g"))
      .select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(g), 1, 4), 16, 10) AS BIGINT)").as("b"))
    val counts = grams.groupBy(col("b")).agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cr"))
    // Σ_b ct and Σ_b cr, but computed as Σ_doc (n_tokens - 1) per side —
    // the same totals off a narrow no-hash scan, so the md5+explode
    // subtree is not re-evaluated a third time just to sum it
    val totals = docs
      .select(col("source"),
        greatest(size(split(col("text"), " ")) - 1, lit(0))
          .cast(LongType).as("ng"))
      .agg(sum(when(col("source") === "src0", col("ng")).otherwise(0L)).as("tt"),
        sum(when(col("source") =!= "src0", col("ng")).otherwise(0L)).as("tr"))
    val lr = counts.crossJoin(broadcast(totals))
      .select(col("b"), expr(
        s"""CAST(floor(ln(((CAST(ct AS DOUBLE) + 1.0) * (CAST(tr AS DOUBLE) + $B.0)) /
                          ((CAST(cr AS DOUBLE) + 1.0) * (CAST(tt AS DOUBLE) + $B.0)))
                       * 1000000 + 0.5)
                 AS BIGINT)""").as("lr_units"))
    val scored = grams.where(col("source") =!= "src0")
      .join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr_units")).as("dsir_units"))
    docs.where(col("source") =!= "src0").select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dsir_units"), lit(0L)).as("dsir_units"))
      .withColumn("selected", col("dsir_units") > 0L)
      .orderBy("doc_id")
  }

  /** Fixed query for `t_bm25_topk` — mid-frequency corpus terms, so tf
    * saturation and length normalization both move the ranking.
    */
  private[graft] val Bm25Query = Seq("vector", "join", "stream")

  /** Result size for `t_bm25_topk` (a TakeOrdered, never a global sort). */
  private[graft] val Bm25TopK = 10

  /** The `t_bm25_topk` oracle SQL with the term list as a parameter —
    * shared by the registered oracle (fixed [[Bm25Query]]) and
    * [[graft.Bm25Probe]], which re-oracles the SAME core at sf1 with
    * in-corpus (per-copy-suffixed) terms so the sf1 row is non-vacuous
    * and re-runs mechanically each round (VERDICT r18 #7). Identical
    * idf/saturation/length-norm formula to [[bm25TopK]] with the CASTs
    * in the same positions (every float op promotes from the same
    * integers), so the micro-unit weights agree term-for-term.
    */
  private[graft] def bm25OracleSql(terms: Seq[String]): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         tf AS (
           SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(t) AS tok FROM toks) u
           WHERE tok IN (${terms.map(t =>
             "'" + t.replace("'", "''") + "'").mkString(", ")})
           GROUP BY doc_id, tok),
         dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         w AS (
           SELECT tf.doc_id,
                  CAST(floor(
                    ln((CAST(n_docs AS DOUBLE) - df + 0.5) /
                       (CAST(df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(tf AS DOUBLE) * 2.2)
                    / (CAST(tf AS DOUBLE) +
                       1.2 * (1.0 - 0.75 +
                              0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))
                    * 1000000 + 0.5) AS BIGINT) AS w_units
           FROM tf JOIN dfc USING (tok)
             JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                CAST(sum(w_units) AS BIGINT) AS bm25_units
         FROM w GROUP BY doc_id
         ORDER BY bm25_units DESC, doc_id LIMIT $Bm25TopK"""

  /** Core of `t_bm25_topk` over a (doc_id, text) frame: Okapi BM25 with
    * k1=1.2, b=0.75, per-(doc, term) weight in integer micro-units
    * (floor(w*1e6+0.5)) so per-doc sums are exact cross-engine:
    *
    *   w = ln((N - df + 0.5)/(df + 0.5) + 1) * tf*(k1+1)
    *       / (tf + k1*(1 - b + b*dl*N/sum_dl))
    *
    * Scale shape: tokens filter to the ≤|query| term set before any
    * shuffle (the exploded stream collapses immediately into the
    * (doc_id, tok) partial-aggregated tf frame); df (≤|query| rows) and
    * the (N, Σdl) scalars broadcast; the dl join is doc_id-keyed; the
    * final top-10 is orderBy+limit = TakeOrdered, shipping 10 rows per
    * partition to the driver, never a global sort.
    */
  /** `query` defaults to [[Bm25Query]] (the registered query + oracle);
    * parameterized so off-gate sweeps can pass terms that exist in a
    * derived corpus — the sf1 fixture suffixes every token per copy, and
    * a fixed term set would make its sf1 oracle row vacuously 0-row.
    */
  private[graft] def bm25TopK(docs: DataFrame,
                              query: Seq[String] = Bm25Query): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val dl = toks.select(col("doc_id"), size(col("t")).cast(LongType).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("tok"))
      .where(col("tok").isin(query: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        """CAST(floor(
             ln((CAST(n_docs AS DOUBLE) - df + 0.5) /
                (CAST(df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(tf AS DOUBLE) * 2.2)
             / (CAST(tf AS DOUBLE) +
                1.2 * (1.0 - 0.75 +
                       0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))
             * 1000000 + 0.5) AS BIGINT)""").as("w_units"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w_units")).as("bm25_units"))
      .orderBy(col("bm25_units").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val queries: Seq[QueryDef] = Seq(

    // R20 — DSIR IMPORTANCE WEIGHTS. Scale shape: see [[dsirWeights]].
    QueryDef("t_dsir_weights", (s, d) =>
      dsirWeights(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))),
      // the bigram/bucket/log-ratio arithmetic replayed term-for-term: the
      // strpos fold IS conv(md5-prefix, 16, 10) (Round11's bucketSql
      // pairing), and the micro-unit rounding happens per BUCKET, so the
      // per-doc BIGINT sums are exact in both engines
      s"""WITH toks AS (
           SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         grams AS (
           SELECT doc_id, source,
                  unnest(list_transform(range(1, len(t)),
                                        i -> t[i] || ' ' || t[i+1])) AS g
           FROM toks),
         hb AS (
           SELECT doc_id, source,
                  CAST((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096 +
                       (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256 +
                       (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16 +
                       (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1)
                    AS BIGINT) AS b
           FROM grams),
         counts AS (
           SELECT b,
                  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
                  sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
           FROM hb GROUP BY b),
         tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM counts),
         lr AS (
           SELECT b,
                  CAST(floor(ln(((CAST(ct AS DOUBLE) + 1.0) * (CAST(tr AS DOUBLE) + ${DsirBuckets}.0)) /
                                ((CAST(cr AS DOUBLE) + 1.0) * (CAST(tt AS DOUBLE) + ${DsirBuckets}.0)))
                             * 1000000 + 0.5) AS BIGINT) AS lr_units
           FROM counts CROSS JOIN tot),
         scored AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(sum(lr_units) AS BIGINT) AS dsir_units
           FROM hb JOIN lr USING (b)
           WHERE source <> 'src0' GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(s.dsir_units, 0) AS BIGINT) AS dsir_units,
                coalesce(s.dsir_units, 0) > 0 AS selected
         FROM documents d LEFT JOIN scored s USING (doc_id)
         WHERE d.source <> 'src0' ORDER BY d.doc_id"""),

    // R20 — BM25 TOP-K RETRIEVAL. Scale shape: see [[bm25TopK]].
    QueryDef("t_bm25_topk", (s, d) =>
      bm25TopK(Tables.documents(s, d).select(col("doc_id"), col("text"))),
      // identical idf/saturation/length-norm formula with the CASTs in the
      // same positions (every float op promotes from the same integers), so
      // the micro-unit weights agree term-for-term
      bm25OracleSql(Bm25Query)),

    // R20 — SPAN-LEVEL LANGUAGE SEGMENTATION. Scale shape: window
    // formation is the shared per-row narrow slice ([[Round15Queries
    // .docLines]] — no shuffle, no self-join); the islands merge is ONE
    // window function partitioned by (doc_id, lang) — partitions are
    // doc-bounded, never corpus-sized — and one (doc_id, lang, grp)
    // aggregate. Nothing corpus-wide shuffles except the doc_id-keyed
    // exchange every per-doc operator pays.
    QueryDef("t_lang_spans", (s, d) =>
      langSpans(Tables.documents(s, d).select(col("doc_id"), col("text"))),
      // replays the window formation (1-based subscripts grouped by
      // (i-1)//w, the d_line_dedup discipline), the per-window marker-argmax
      // vote (rebuilt window string ⇒ the SAME shared langVoteSql as the
      // doc-level classifier), and the same islands arithmetic
      s"""WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents),
         winstr AS (
           SELECT doc_id,
                  CAST((i - 1) // $SpanWindowTokens AS BIGINT) AS win_no,
                  string_agg(tok, ' ' ORDER BY i) AS win_text
           FROM toks GROUP BY doc_id, (i - 1) // $SpanWindowTokens),
         wins AS (
           SELECT doc_id, win_no,
                  ${TextQueries.langVoteSql("win_text", "other")} AS lang
           FROM winstr),
         isl AS (
           SELECT doc_id, win_no, lang,
                  win_no - (CAST(row_number() OVER (
                    PARTITION BY doc_id, lang ORDER BY win_no) AS BIGINT) - 1)
                    AS grp
           FROM wins)
         SELECT doc_id,
                CAST(min(win_no) AS BIGINT) AS span_start,
                CAST(max(win_no) AS BIGINT) AS span_end,
                lang,
                CAST(count(*) AS BIGINT) AS n_windows
         FROM isl GROUP BY doc_id, lang, grp
         ORDER BY doc_id, span_start""")
  )
}
