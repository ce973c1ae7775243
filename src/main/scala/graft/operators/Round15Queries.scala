package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 additions (SURVEY.md §2; VERDICT r14 #6):
  *
  *   - `d_line_dedup`  R17/R20  LINE-LEVEL BOILERPLATE DEDUP — the C4
  *                              "remove repeated lines across documents"
  *                              scrub (the one major pre-training cleanup
  *                              not yet in the family; distinct from
  *                              `d_span_dedup`'s sliding token shingles:
  *                              here the unit is a fixed NON-overlapping
  *                              segment — the stand-in for a real corpus's
  *                              newline-split lines, which this fixture's
  *                              single-line docs lack — and the cut is
  *                              corpus-wide line frequency, not pairwise
  *                              overlap). Nav menus, cookie banners, and
  *                              share-bars appear verbatim across many
  *                              pages; dropping every line that occurs in
  *                              more than [[MaxDocsPerLine]] distinct
  *                              documents removes them while keeping
  *                              body text, and each document is then
  *                              RECONSTRUCTED from its surviving lines in
  *                              order.
  *   - `v_ivf_retrain` R19      IVF RETRAIN LOOP — closes the index
  *                              serve → monitor → retrain cycle
  *                              (VERDICT r14 #5): the cell-skew census
  *                              against the seed quantizer, a fixed
  *                              2-step Lloyd retrain from the same seeds,
  *                              re-encode, re-census, and the integer
  *                              improvement verdict, one audit row.
  */
object Round15Queries {

  /** Tokens per synthesized "line" for `d_line_dedup`. The fixture's docs
    * are single-line token streams, so lines are fixed non-overlapping
    * 3-token segments — measured at sf0.01 this yields 7,460 distinct
    * lines of which 231 cross the boilerplate cut (real work for the
    * filter: most text survives, repeated fragments drop). On real data
    * with newlines pass `newlineSplit = true` to [[lineDedup]] — the
    * segmentation becomes `split(text, '\n')` and everything downstream
    * is unchanged (spec-pinned in Round15Spec).
    */
  private[graft] val LineTokens = 3

  /** Boilerplate cut: a line occurring in MORE than this many distinct
    * documents is dropped from every document (C4 drops any line repeated
    * across the corpus; the >2 dial keeps legitimate 2-doc coincidences —
    * quotations, shared citations — and still fires at every SF).
    */
  private[graft] val MaxDocsPerLine = 2L

  /** Retrained quantizer + RE-ENCODED codes for the tripped-census path
    * (VERDICT r14 #5 — the piece that closes serve → monitor → retrain):
    * the coarse quantizer is Lloyd-refined `steps` E/M rounds from the
    * same strided seeds ([[SimilarityQueries.refinedCentArrK]] — the
    * oracle-replayable fixed-unroll trainer), and every corpus vector is
    * re-annotated against it with [[SimilarityQueries.pqIndexAnnotate]]
    * (home cell + packed PQ code — the PQ codebook is subspace-local and
    * does NOT depend on the coarse cells, so it carries over unchanged
    * and only the cell assignment moves). Scale shape: per-row argmax /
    * encode folds against broadcast one-row artifacts — no shuffle on the
    * corpus side beyond what the K Lloyd M-steps already pay.
    */
  private[graft] def ivfRetrainEncode(e: DataFrame, seedStride: Int = 13,
                                      steps: Int = 2): (DataFrame, DataFrame) = {
    val trained = SimilarityQueries.refinedCentArrK(e, seedStride, steps)
    val (_, cb) = SimilarityQueries.pqIndexBuild(e, seedStride)
    (trained,
      SimilarityQueries.pqIndexAnnotate(e.select(col("vec_id"), col("v")),
        trained, cb))
  }

  /** Census → retrain → re-census audit (the `v_ivf_retrain` core): one
    * row holding the [[SimilarityQueries.cellSkewCensus]] globals BEFORE
    * (seed quantizer) and AFTER (the [[ivfRetrainEncode]] quantizer),
    * plus `improved` — the pure-integer cross-multiplied predicate
    * max_n_post·med2_pre ≤ max_n_pre·med2_post (skew ratio did not get
    * worse; exact BIGINT arithmetic, no float division to drift). The
    * audit is unconditional (a dry-run retrain prices the rebalance even
    * while the flag is green — `rebalance_pre` tells the operator whether
    * acting on it is due); the planted-skew spec drives the tripped path
    * end-to-end: flag fires → retrain → `rebalance_post` clears.
    */
  private[graft] def ivfRetrainAudit(e: DataFrame, seedStride: Int = 13,
                                     steps: Int = 2,
                                     threshold: Int = 4): DataFrame = {
    import graft.operators.SimilarityQueries.{cellSkewCensus, pqIndexBuild, refinedCentArrKFrom}
    // ONE seed build shared by the census baseline and the trainer (r21:
    // pqIndexBuild + refinedCentArrK each built the identical strided
    // seed collect — an extra corpus pass + checkpoint). The cut frame
    // stays owned here; refinedCentArrKFrom never frees it.
    val seedArr = graft.operators.Lineage.cut(pqIndexBuild(e, seedStride)._1)
    val trained = refinedCentArrKFrom(e, seedArr, steps)
    def countsAgainst(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .select(expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    // the census globals ride identically on every per-cell row — max()
    // collapses them to the one-row summary
    def globals(cents: DataFrame, sfx: String): DataFrame =
      cellSkewCensus(countsAgainst(cents), threshold)
        .agg(max(col("n_cells")).as("n_cells" + sfx),
             max(col("max_n")).as("max_n" + sfx),
             max(col("med2")).as("med2" + sfx),
             max(col("skew_ratio")).as("skew" + sfx),
             max(col("rebalance")).as("rebalance" + sfx))
    globals(seedArr, "_pre").crossJoin(broadcast(globals(trained, "_post")))
      .select(col("n_cells_pre"), col("max_n_pre"), col("med2_pre"),
        col("skew_pre"), col("rebalance_pre"),
        col("n_cells_post"), col("max_n_post"), col("med2_post"),
        col("skew_post"), col("rebalance_post"),
        (col("max_n_post") * col("med2_pre") <=
          col("max_n_pre") * col("med2_post")).as("improved"))
  }

  /** Line-level boilerplate dedup core (see the `d_line_dedup` def).
    * `docs` carries (doc_id, text); output is one row per document:
    * total line count, surviving line count, and the document text
    * reconstructed from surviving lines in original order (empty string
    * when every line was boilerplate — the row still appears, so the
    * "this page was ALL chrome" census is readable downstream).
    *
    * Segmentation modes (VERDICT r16 #6 — the scaladoc's newline claim
    * now has an executable path):
    *   - token-window (default): fixed non-overlapping `w`-token segments
    *     — the stand-in for the fixture's single-line docs;
    *   - `newlineSplit = true`: real-corpus mode — `split(text, '\n')`,
    *     the C4 segmentation verbatim; reconstruction re-joins survivors
    *     with '\n'. Blank lines hash equal corpus-wide and fall to the
    *     frequency cut like any other repeated line (C4 drops them too).
    *     Everything downstream of line formation is shared between modes.
    */
  private[graft] def lineDedup(docs: DataFrame, w: Int = LineTokens,
                               maxDocs: Long = MaxDocsPerLine,
                               newlineSplit: Boolean = false): DataFrame = {
    val lines = docLines(docs, w, newlineSplit)
    lineCut(lines, docFreq(lines), maxDocs, newlineSplit).orderBy("doc_id")
  }

  /** Line formation shared by the batch operator and the streaming corpus
    * pipeline's line scrub ([[graft.streaming.StreamingAggs]]): (doc_id,
    * line_no, line, lh) — token-window or newline-split per the flag.
    */
  private[graft] def docLines(docs: DataFrame, w: Int = LineTokens,
                              newlineSplit: Boolean = false): DataFrame =
    (if (newlineSplit)
      docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
    else
      // fixed non-overlapping w-token segments, built narrow: indices
      // 0..ceil(n/w)-1 via filter (NOT sequence(0, ceil-1): Spark's
      // sequence runs DESCENDING when stop < start — the t_lm_score lesson)
      docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          s"""transform(filter(sequence(0, size(toks) div $w),
                               i -> i * $w < size(toks)),
                        i -> array_join(slice(toks, i * $w + 1, $w), ' '))"""))
          .as(Seq("line_no", "line"))))
      .withColumn("lh", xxhash64(col("line")))

  /** Corpus frequency over [[docLines]] output: distinct docs per line
    * hash (within-doc repeats count once — a doc's own refrain is not
    * cross-doc boilerplate).
    */
  private[graft] def docFreq(lines: DataFrame): DataFrame =
    lines.select(col("lh"), col("doc_id")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("ndocs"))

  /** The cut + in-order reconstruction over [[docLines]] output and a
    * frequency table (lh, ndocs) — the batch operator feeds it its own
    * corpus counts; the streaming scrub feeds prior-state-augmented ones.
    */
  private[graft] def lineCut(lines: DataFrame, freq: DataFrame,
                             maxDocs: Long, newlineSplit: Boolean): DataFrame =
    lines.join(freq, Seq("lh"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("ndocs") <= maxDocs, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("ndocs") <= maxDocs,
                struct(col("line_no"), col("line"))))),
            x => x.getField("line")),
          if (newlineSplit) "\n" else " ").as("kept_text"))

  val queries: Seq[QueryDef] = Seq(

    // R17/R20 — LINE-LEVEL BOILERPLATE DEDUP. Scale shape: line
    // formation is a pure per-row transform (slice over the token array —
    // no shuffle, no self-join); the corpus-frequency table keys every
    // shuffle on xxhash64(line) (8-byte keys — line TEXT never shuffles
    // on the frequency side; the 2⁻⁶⁴ collision caveat is the exact-dedup
    // family's documented trade), first (lh, doc_id)-distinct for the
    // map-side-combinable per-doc dedup, then an lh-keyed count whose
    // exchange the verdict join reuses. The frequency side is
    // deliberately NOT broadcast-hinted: the distinct-line table grows
    // with the corpus (the t_lm_score vocab discipline — AQE may still
    // pick broadcast when it fits). Reconstruction is one doc_id-keyed
    // aggregate; per-doc line counts are bounded by doc length, so the
    // collect_list is row-sized, never corpus-sized.
    QueryDef("d_line_dedup", (s, d) =>
      lineDedup(Tables.documents(s, d).select(col("doc_id"), col("text"))),
      // replays the segmentation (1-based subscripts grouped by (i-1)//w ≡
      // the 0-based slice windows), the distinct-doc frequency, the cut,
      // and the in-order reconstruction exactly; DuckDB string_agg skips
      // the CASE's NULLs just as collect_list skips them
      s"""WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents),
         lines AS (
           SELECT doc_id, CAST((i - 1) // $LineTokens AS BIGINT) AS line_no,
                  string_agg(tok, ' ' ORDER BY i) AS line
           FROM toks GROUP BY doc_id, (i - 1) // $LineTokens),
         freq AS (
           SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs
           FROM lines GROUP BY line)
         SELECT l.doc_id,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN f.ndocs <= $MaxDocsPerLine
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                coalesce(string_agg(
                  CASE WHEN f.ndocs <= $MaxDocsPerLine THEN l.line END,
                  ' ' ORDER BY l.line_no), '') AS kept_text
         FROM lines l JOIN freq f USING (line)
         GROUP BY l.doc_id ORDER BY l.doc_id"""),

    // R17/R20 — the NEWLINE segmentation mode of the line dedup, oracled
    // end-to-end (VERDICT r16 #6: the mode must be an executable path,
    // not prose): the fixture's single-line docs are given real newlines
    // by a deterministic rewrite (a '\n' after every 4th token — the same
    // transformation on both sides), then deduped with
    // `lineDedup(newlineSplit = true)`. Scale shape identical to
    // d_line_dedup: the rewrite is per-row narrow work, everything
    // downstream keys on the 8-byte line hash.
    QueryDef("d_line_dedup_nl", (s, d) =>
      lineDedup(
        Tables.documents(s, d).select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n")
            .as("text")),
        newlineSplit = true),
      // the newline mode's oracle: same rewrite (RE2 '\1' + chr(10) ≡ Java
      // '$1\n'; both engines continue past each non-overlapping match), then
      // chr(10)-split lines with 1-based ordinals (ordering-equivalent to
      // Spark's 0-based posexplode), the distinct-doc frequency, the cut,
      // and the chr(10)-joined in-order reconstruction
      s"""WITH nl AS (
           SELECT doc_id,
                  regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+) ',
                                 '\\1' || chr(10), 'g') AS text
           FROM documents),
         lines AS (
           SELECT doc_id,
                  CAST(generate_subscripts(string_split(text, chr(10)), 1)
                       AS BIGINT) AS line_no,
                  unnest(string_split(text, chr(10))) AS line
           FROM nl),
         freq AS (
           SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs
           FROM lines GROUP BY line)
         SELECT l.doc_id,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN f.ndocs <= $MaxDocsPerLine
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                coalesce(string_agg(
                  CASE WHEN f.ndocs <= $MaxDocsPerLine THEN l.line END,
                  chr(10) ORDER BY l.line_no), '') AS kept_text
         FROM lines l JOIN freq f USING (line)
         GROUP BY l.doc_id ORDER BY l.doc_id"""),

    // R19 — IVF RETRAIN LOOP (VERDICT r14 #5): v_ivf_cell_skew monitors,
    // refinedCentArrK retrains, pqIndexAnnotate re-encodes — this query
    // composes flag → retrain → re-census into the one-row audit an index
    // operator acts on: the census globals against the SEED quantizer
    // (exactly v_ivf_cell_skew's figures), the same globals against the
    // 2-step-Lloyd retrained quantizer, and the integer `improved`
    // verdict. Fixed unroll (steps = 2) so the oracle replays the E/M
    // chain as materialized CTEs (the v_ivfpq_trained discipline). Scale
    // shape: 2 census passes + 2 Lloyd steps = a bounded number of
    // per-row argmax scans against broadcast index-sized artifacts;
    // nothing corpus-sized shuffles except the k-row M-step aggregates.
    QueryDef("v_ivf_retrain", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
      ivfRetrainAudit(e)
    },
      // replays the seed home assignment + census (the v_ivf_cell_skew
      // CTEs), TWO Lloyd E/M steps as a materialized CTE chain (the
      // v_ivfpq_trained discipline), the re-census against the retrained
      // centroids, and the integer cross-multiplied improvement predicate
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         sdots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 13 = 0
           GROUP BY 1, 2),
         sc AS (
           SELECT vid, cell,
                  CASE WHEN nx.n * ny.n > 0
                    THEN floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM sdots JOIN nrm nx ON nx.vec_id = vid
                      JOIN nrm ny ON ny.vec_id = cell),
         shome AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM sc) WHERE rk = 1),
         counts_pre AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
           FROM shome GROUP BY cell),
         ranked_pre AS (
           SELECT cell, n_vecs,
                  CAST(row_number() OVER (ORDER BY n_vecs, cell) AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS k
           FROM counts_pre),
         audit_pre AS (
           SELECT CAST(max(k) AS BIGINT) AS n_cells_pre,
                  CAST(max(n_vecs) AS BIGINT) AS max_n_pre,
                  CAST(sum(CASE
                    WHEN rn = (k + 1) // 2 AND rn = (k + 2) // 2 THEN n_vecs * 2
                    WHEN rn = (k + 1) // 2 OR rn = (k + 2) // 2 THEN n_vecs
                    ELSE 0 END) AS BIGINT) AS med2_pre
           FROM ranked_pre),
         cent1 AS (
           SELECT sh.cell, x.i, avg(x.e) AS m
           FROM shome sh JOIN ex x ON x.vec_id = sh.vid
           GROUP BY 1, 2),
         cnrm1 AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent1 GROUP BY cell),
         r1dots AS (
           SELECT x.vec_id AS vid, c1.cell AS cell, sum(x.e * c1.m) AS dp
           FROM ex x JOIN cent1 c1 ON c1.i = x.i
           GROUP BY 1, 2),
         r1c AS (
           SELECT r1dots.vid, r1dots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM r1dots JOIN nrm nx ON nx.vec_id = r1dots.vid
                       JOIN cnrm1 cn ON cn.cell = r1dots.cell),
         home1 AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r1c) WHERE rk = 1),
         cent2 AS (
           SELECT h.cell, x.i, avg(x.e) AS m
           FROM home1 h JOIN ex x ON x.vec_id = h.vid
           GROUP BY 1, 2),
         cnrm2 AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent2 GROUP BY cell),
         r2dots AS (
           SELECT x.vec_id AS vid, c2.cell AS cell, sum(x.e * c2.m) AS dp
           FROM ex x JOIN cent2 c2 ON c2.i = x.i
           GROUP BY 1, 2),
         r2c AS (
           SELECT r2dots.vid, r2dots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM r2dots JOIN nrm nx ON nx.vec_id = r2dots.vid
                       JOIN cnrm2 cn ON cn.cell = r2dots.cell),
         home2 AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r2c) WHERE rk = 1),
         counts_post AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
           FROM home2 GROUP BY cell),
         ranked_post AS (
           SELECT cell, n_vecs,
                  CAST(row_number() OVER (ORDER BY n_vecs, cell) AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS k
           FROM counts_post),
         audit_post AS (
           SELECT CAST(max(k) AS BIGINT) AS n_cells_post,
                  CAST(max(n_vecs) AS BIGINT) AS max_n_post,
                  CAST(sum(CASE
                    WHEN rn = (k + 1) // 2 AND rn = (k + 2) // 2 THEN n_vecs * 2
                    WHEN rn = (k + 1) // 2 OR rn = (k + 2) // 2 THEN n_vecs
                    ELSE 0 END) AS BIGINT) AS med2_post
           FROM ranked_post)
         SELECT a.n_cells_pre, a.max_n_pre, a.med2_pre,
                floor(a.max_n_pre * 2.0 / a.med2_pre * 10000 + 0.5) / 10000
                  AS skew_pre,
                (a.max_n_pre * 2 >= a.med2_pre * 4) AS rebalance_pre,
                b.n_cells_post, b.max_n_post, b.med2_post,
                floor(b.max_n_post * 2.0 / b.med2_post * 10000 + 0.5) / 10000
                  AS skew_post,
                (b.max_n_post * 2 >= b.med2_post * 4) AS rebalance_post,
                (b.max_n_post * a.med2_pre <= a.max_n_pre * b.med2_post)
                  AS improved
         FROM audit_pre a CROSS JOIN audit_post b""")
  )
}
