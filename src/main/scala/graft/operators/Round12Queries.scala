package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 additions (SURVEY.md §2.12): the training-corpus assembly ops
  * the previous rounds' inventory still lacked —
  *
  *   - `q_hash_split`       R17/R7  deterministic train/val/test hash split
  *                                  + cross-split exact-content leakage audit
  *   - `t_mix_weights`      R20/R7  temperature-α source mixing weights
  *                                  (the multilingual upsampling table)
  *   - `t_chunk_windows`    R20/R12 context-window chunking with stride
  *                                  (the windowed-sequence table a trainer
  *                                  actually consumes)
  *   - `v_matryoshka_probe` R19     truncated-dimension retrieval audit
  *                                  (nested / matryoshka embedding serving)
  *   - `t_oov_rate`         R20     tokenizer vocabulary coverage / OOV
  *   - `q_k_anonymity`      R22/R7  quasi-identifier group-size audit
  *   - `v_maxsim_probe`     R19     late-interaction (maxsim) retrieval
  *   - `t_curriculum_bins`  R20/R7  quality-quartile curriculum staging
  *   - `q_psi_drift`        R7/R22  population stability index (drift)
  *   - `q_ab_ztest`         R7      two-proportion z-test (A/B readout)
  *
  * All of them follow the house parity discipline: integer-exact where
  * possible, floorRound(…, 4) on the few genuine doubles, LCG-on-reduced-id
  * pseudo-randomness (the q_approx_groupby_ci overflow-safe form), and
  * deterministic ORDER BY.
  */
object Round12Queries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Chunking geometry shared by the query and its spec: a 32-token
    * window advancing 24 tokens per step (8-token overlap) — the
    * fixture-scale stand-in for the 2048/1536 production shape.
    */
  private[graft] val ChunkWindow = 32
  private[graft] val ChunkStride = 24

  /** Vocabulary size for the OOV-rate audit (fixture-scale stand-in for
    * a 32k-256k production vocab) and the k-anonymity threshold.
    */
  private[graft] val VocabSize = 100
  private[graft] val AnonK = 5

  /** OOV-rate core (t_oov_rate), factored for the planted-NULL spec.
    *
    * ONE grouped pass computes both per-doc counts: left-join the
    * broadcast vocab with an in-vocab flag, count tokens and the
    * unflagged ones per doc (review r20 — the old shape paid a third
    * corpus scan and a resurrection outer join for the same numbers).
    *
    * NULL-text parity (ADVICE r20): `explode(split(NULL))` emitted no
    * rows, so a NULL-text doc vanished while the oracle's base CTE still
    * emits its row with n_tokens NULL. `explode_outer` keeps one
    * tok=NULL row per such doc; the vocab filters NULL toks (the
    * oracle's toks CTE never sees them — DuckDB's unnest(NULL) emits no
    * rows), `count(tok)` ignores the NULL marker so the doc lands at 0
    * counted tokens — rendered as the oracle's (n_tokens NULL, n_oov 0,
    * oov_rate NULL) row. Non-NULL docs always count ≥ 1 token
    * (split('') = ['']), so 0 unambiguously identifies the NULL-text
    * case.
    */
  private[graft] def oovRate(docsDf: DataFrame): DataFrame = {
    val toks = docsDf
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("tok"))
    val vocab = toks.filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(VocabSize)
      .select(col("tok"), lit(1).as("inv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("tok")).as("n_toks"),
        sum(when(col("inv").isNull && col("tok").isNotNull, 1L)
          .otherwise(0L)).as("n_oov"))
      .select(col("doc_id"),
        when(col("n_toks") > 0, col("n_toks")).cast("int").as("n_tokens"),
        col("n_oov"),
        floorRound(col("n_oov").cast("double") /
          when(col("n_toks") > 0, col("n_toks")), 4).as("oov_rate"))
      .orderBy("doc_id")
  }

  val queries: Seq[QueryDef] = Seq(

    // R17/R7 — TRAIN/VAL/TEST HASH SPLIT + LEAKAGE AUDIT. Split
    // assignment must be a pure function of a stable key (re-runs and
    // late-arriving shards land identically — never rand()), so the
    // LCG-on-reduced-id ladder assigns each doc a bucket in [0, 100):
    // <80 train, <90 val, else test. The audit half is the part teams
    // actually get burned by: a val/test document whose EXACT content
    // (md5 of text) also appears in train is leakage — counted per
    // split via one distinct-hash semi-join. Scale shape: one hash agg
    // for the split counts + a broadcast-able distinct-hash semi-join
    // (train-hash set is corpus-distinct-sized; at 100 TB it becomes a
    // shuffle semi-join on the 16-byte hash — never on text).
    QueryDef("q_hash_split", (s, d) => {
      val bucket = ((col("doc_id") % lit(2147483648L)) * lit(1103515245L) +
        lit(12345L)) % lit(2147483648L) % 100
      val assigned = docs(s, d).select(
        col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"),
        md5(col("text")).as("h"))
        // slim (id, split, 16-byte hash) rows read by THREE consumers
        // (train hashes, the leak join's probe side, the split counts) —
        // without the cut each one re-scans the corpus and re-runs md5
        // over full text (review r20)
        .transform(Lineage.cut(_))
      val trainH = assigned.filter(col("split") === "train")
        .select(col("h")).distinct()
      val leaks = assigned.filter(col("split") =!= "train")
        .join(trainH, Seq("h"), "left_semi")
        .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
      // from the materialized slim frame, not a fourth corpus scan
      val total = assigned.agg(count(lit(1)).as("n_total"))
      assigned.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(leaks, Seq("split"), "left")
        .crossJoin(broadcast(total))
        .select(
          col("split"), col("n_docs"),
          floorRound(col("n_docs").cast("double") / col("n_total"), 4).as("pct"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked_from_train"))
        .orderBy("split")
    },
      """WITH a AS (
           SELECT doc_id,
                  CASE WHEN ((doc_id % 2147483648) * 1103515245 + 12345)
                         % 2147483648 % 100 < 80 THEN 'train'
                       WHEN ((doc_id % 2147483648) * 1103515245 + 12345)
                         % 2147483648 % 100 < 90 THEN 'val'
                       ELSE 'test' END AS split,
                  md5(text) AS h
           FROM documents),
         th AS (SELECT DISTINCT h FROM a WHERE split = 'train'),
         lk AS (
           SELECT split, CAST(count(*) AS BIGINT) AS n_leaked
           FROM a WHERE split <> 'train' AND h IN (SELECT h FROM th)
           GROUP BY split),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         cnt AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
                 FROM a GROUP BY split)
         SELECT c.split, c.n_docs,
                floor(CAST(c.n_docs AS DOUBLE) / tot.n_total
                      * 10000 + 0.5) / 10000 AS pct,
                coalesce(lk.n_leaked, 0) AS n_leaked_from_train
         FROM cnt c CROSS JOIN tot
         LEFT JOIN lk ON lk.split = c.split
         ORDER BY c.split"""),

    // R20/R7 — TEMPERATURE-α SOURCE MIXING (α = 0.7, the standard
    // multilingual-upsampling temperature): per-source token masses
    // n_i, sampling weights w_i ∝ n_i^α (α < 1 flattens the head and
    // upsamples the tail), the expected token draw from a 1M-token
    // budget, and the implied epochs over each source (> 1 = that
    // source repeats — the overfit-risk signal a mixing table exists to
    // surface). One corpus pass for the masses; everything after is
    // source-cardinality-sized (a broadcast scalar for the normalizer).
    // Parity note (ADVICE r12): pow() is allowed ~1 ulp of engine skew, so
    // the raw weight is quantized ONCE — half-up into integer 1e-6 units
    // (the house +0.5 offset dampens boundary flips) — and EVERYTHING
    // downstream (weight, exp_tokens_1m, epochs) derives from that single
    // BIGINT, never re-touching the raw double.
    QueryDef("t_mix_weights", (s, d) => {
      val bySrc = docs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        // source-cardinality rows read by the normalizer AND the final
        // select — without the cut the corpus tokenize+agg runs twice
        // (review r20)
        .transform(Lineage.cut(_))
      val norm = bySrc.agg(
        sum(pow(col("n_tokens").cast("double"), 0.7)).as("z"))
      // weight in integer micro-units: w_u = ⌊w·1e6 + 0.5⌋ — ALSO the
      // expected token draw from a 1M-token budget, so exp_tokens_1m IS w_u.
      // NOT a hard allocation (ADVICE r13): half-up rounding means
      // Σ exp_tokens_1m can exceed the 1e6 budget by up to n_sources/2
      // units (each source may round up by ~0.5). A consumer that needs
      // Σ ≤ budget exactly should re-floor the draws and distribute the
      // remainder (largest-fraction), not read these as a partition.
      val wUnits = floor(pow(col("n_tokens").cast("double"), 0.7) / col("z")
        * 1000000 + 0.5).cast("long")
      bySrc.crossJoin(broadcast(norm))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          wUnits.as("wu"))
        .select(
          col("source"), col("n_docs"), col("n_tokens"),
          floorRound(col("wu").cast("double") / 1000000, 4).as("weight"),
          col("wu").as("exp_tokens_1m"),
          floorRound(col("wu").cast("double") /
            col("n_tokens").cast("double"), 4).as("epochs"))
        .orderBy("source")
    },
      """WITH bysrc AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         z AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS z FROM bysrc),
         w AS (
           SELECT source, n_docs, n_tokens,
                  CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.7) / z
                             * 1000000 + 0.5) AS BIGINT) AS wu
           FROM bysrc, z)
         SELECT source, n_docs, n_tokens,
                floor(CAST(wu AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
                  AS weight,
                wu AS exp_tokens_1m,
                floor(CAST(wu AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                      * 10000 + 0.5) / 10000 AS epochs
         FROM w ORDER BY source"""),

    // R20/R12 — CONTEXT-WINDOW CHUNKING: the (doc, chunk) table a
    // trainer consumes — fixed window, fixed stride, tail kept.
    // n_chunks = 1 + ceil(max(0, n_tokens − W) / S) (every token is
    // covered; the last window may be short), materialized by exploding
    // a per-doc chunk-index sequence — a pure per-row generate, no
    // shuffle at all until the output sort. At 100 TB this is the shape
    // that matters: chunk boundaries are computed from counts, so the
    // corpus text is scanned once and only (doc_id, offsets) rows flow.
    QueryDef("t_chunk_windows", (s, d) => {
      val w = lit(ChunkWindow)
      val st = lit(ChunkStride)
      val nTok = size(split(col("text"), " "))
      val nChunks = (lit(1) +
        ceil(greatest(nTok - w, lit(0)).cast("double") / st).cast("int"))
      docs(s, d)
        .select(col("doc_id"), nTok.as("n_tokens"), nChunks.as("n_chunks"))
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
        .select(
          col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * st).as("tok_start"),
          least(col("chunk_idx") * st + w, col("n_tokens")).as("tok_end"),
          (least(col("chunk_idx") * st + w, col("n_tokens")) -
            col("chunk_idx") * st).as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },
      s"""WITH t AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
           FROM documents),
         n AS (
           SELECT doc_id, n_tokens,
                  1 + CAST(ceil(CAST(greatest(n_tokens - $ChunkWindow, 0)
                                     AS DOUBLE) / $ChunkStride) AS INT)
                    AS n_chunks
           FROM t)
         SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
                CAST(u.i * $ChunkStride AS INT) AS tok_start,
                CAST(least(u.i * $ChunkStride + $ChunkWindow, n_tokens)
                     AS INT) AS tok_end,
                CAST(least(u.i * $ChunkStride + $ChunkWindow, n_tokens)
                     - u.i * $ChunkStride AS INT) AS n_chunk_tokens
         FROM n, LATERAL (SELECT unnest(range(n.n_chunks)) AS i) u
         ORDER BY doc_id, chunk_idx"""),

    // R20/R7 — CURRICULUM BINNING: stage the corpus into four quality
    // quartiles (the easy→hard schedule curriculum training consumes),
    // each stage reporting its doc count, token budget, and mean
    // quality. Quality is t_quality_score's exact blend (one shared
    // formula, 4-dp floored); the quartile CUTPOINTS come from one
    // percentile aggregate broadcast back (the r_rfm_segments
    // discipline) — a global ntile would be a corpus-wide sort, the
    // flagged anti-pattern, while cut-comparison is one corpus pass +
    // a 3-double broadcast at any scale.
    QueryDef("t_curriculum_bins", (s, d) => {
      val toks = split(col("text"), " ")
      val scored = docs(s, d).select(
        col("doc_id"), size(toks).cast("long").as("n_tokens"),
        TextQueries.qualityBlend.as("q"))
      val cuts = scored.agg(
        expr("percentile(q, array(0.25, 0.5, 0.75))").as("c"))
      scored.crossJoin(broadcast(cuts))
        .select(col("n_tokens"), col("q"),
          (lit(1) +
            when(col("q") > floorRound(element_at(col("c"), 1), 4), 1).otherwise(0) +
            when(col("q") > floorRound(element_at(col("c"), 2), 4), 1).otherwise(0) +
            when(col("q") > floorRound(element_at(col("c"), 3), 4), 1).otherwise(0))
            .as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("token_budget"),
          floorRound(avg(col("q")), 4).as("avg_quality"))
        .orderBy("stage")
    },
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a'))) AS DOUBLE) AS stop_hits,
                  CAST(len(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                    / len(string_split(text, ' ')) AS avg_len,
                  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')) AS diversity
           FROM documents),
         s AS (
           SELECT doc_id, n_tokens,
                  floor((0.5 * diversity + 0.3 * (1.0 - stop_hits / n_tok)
                         + 0.2 * least(avg_len / 10.0, 1.0))
                        * 10000 + 0.5) / 10000 AS q
           FROM t),
         c AS (SELECT quantile_cont(q, [0.25, 0.5, 0.75]) AS c FROM s),
         st AS (
           SELECT s.n_tokens, s.q,
                  1 + CASE WHEN s.q > floor(c.c[1] * 10000 + 0.5) / 10000
                           THEN 1 ELSE 0 END
                    + CASE WHEN s.q > floor(c.c[2] * 10000 + 0.5) / 10000
                           THEN 1 ELSE 0 END
                    + CASE WHEN s.q > floor(c.c[3] * 10000 + 0.5) / 10000
                           THEN 1 ELSE 0 END AS stage
           FROM s, c)
         SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS token_budget,
                floor(avg(q) * 10000 + 0.5) / 10000 AS avg_quality
         FROM st GROUP BY stage ORDER BY stage"""),

    // R20 — TOKENIZER VOCABULARY COVERAGE / OOV RATE: fix the vocab to
    // the corpus's top-100 tokens (frequency desc, token asc — ties
    // deterministic) and report each document's out-of-vocabulary
    // fraction, the coverage metric that decides whether a tokenizer's
    // vocab suits a corpus before a training run burns on it. Scale
    // shape: one explode → token hash agg (Heaps-law-sized, never
    // corpus-sized), top-K via the heap (TakeOrdered), and the per-doc
    // pass joins exploded tokens against the BROADCAST vocab — the
    // corpus shuffles on doc_id only for its own per-doc count.
    QueryDef("t_oov_rate", (s, d) => oovRate(docs(s, d)),
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         vocab AS (
           SELECT tok FROM (
             SELECT tok, count(*) AS n FROM toks GROUP BY tok
             ORDER BY n DESC, tok LIMIT 100)),
         oov AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_oov
           FROM toks WHERE tok NOT IN (SELECT tok FROM vocab)
           GROUP BY doc_id),
         base AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
           FROM documents)
         SELECT b.doc_id, b.n_tokens,
                coalesce(o.n_oov, 0) AS n_oov,
                floor(coalesce(o.n_oov, 0) / CAST(b.n_tokens AS DOUBLE)
                      * 10000 + 0.5) / 10000 AS oov_rate
         FROM base b LEFT JOIN oov o ON o.doc_id = b.doc_id
         ORDER BY b.doc_id"""),

    // R22/R7 — K-ANONYMITY AUDIT (k = 5) over the (event_type, day)
    // quasi-identifier: the data-governance gate a corpus passes before
    // release — any QI group smaller than k re-identifies its members.
    // One aggregation pass builds the QI group sizes; a second
    // (group-count-sized, not corpus-sized) folds the violation census:
    // groups below k, records at risk, and the suppression fraction the
    // release would need. Integer-exact throughout.
    QueryDef("q_k_anonymity", (s, d) => {
      val groups = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      groups.agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("n") < AnonK, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("n") < AnonK, col("n")).otherwise(0L)).as("n_records_at_risk"),
          sum(col("n")).as("n_records"))
        .select(
          col("n_groups"), col("n_violating"), col("n_records_at_risk"),
          floorRound(col("n_records_at_risk").cast("double") /
            col("n_records"), 6).as("suppression_frac"),
          (col("n_violating") === 0).as("k_anonymous"))
    },
      """WITH g AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_violating,
                CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                  AS n_records_at_risk,
                floor(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                      / CAST(sum(n) AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS suppression_frac,
                sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) = 0 AS k_anonymous
         FROM g"""),

    // R19 — LATE-INTERACTION (ColBERT-style) MAXSIM PROBE: each 64-dim
    // vector read as EIGHT 8-dim token-vectors (the multi-vector doc
    // stand-in); score(doc) = Σ over probe subvectors of the max dot
    // product against any doc subvector — the maxsim operator serving
    // late-interaction retrieval. Every (i, j) pair's dot is floored to
    // integer units BEFORE max/sum, so the oracle replays the 64 dots,
    // the 8 maxes, and the sum exactly. Scale shape: a pure per-row
    // fold (64 8-dim dots/row) against one broadcast probe row + heap
    // top-10 — zero corpus shuffle, the v_pq_adc discipline.
    QueryDef("v_maxsim_probe", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .filter(size(col("v")) === 64)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id"), expr(
          """CAST(aggregate(sequence(0, 7), 0L, (acc, qi) -> acc +
               array_max(transform(sequence(0, 7), dj ->
                 CAST(floor(aggregate(sequence(1, 8), CAST(0.0 AS DOUBLE),
                   (a, k) -> a + element_at(pv, qi * 8 + k)
                               * element_at(v, dj * 8 + k))
                   * 10000 + 0.5) AS BIGINT)))) AS BIGINT)""").as("maxsim_units"))
        .orderBy(col("maxsim_units").desc, col("vec_id"))
        .limit(10)
    },
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS k, e
           FROM ex),
         q AS (SELECT ss AS qi, k, e FROM sub WHERE vec_id = 0),
         dots AS (
           SELECT s.vec_id, q.qi, s.ss AS dj,
                  CAST(floor(sum(q.e * s.e) * 10000 + 0.5) AS BIGINT) AS d
           FROM sub s JOIN q ON q.k = s.k
           WHERE s.vec_id <> 0
           GROUP BY 1, 2, 3),
         mx AS (SELECT vec_id, qi, max(d) AS m FROM dots GROUP BY 1, 2),
         score AS (
           SELECT vec_id, CAST(sum(m) AS BIGINT) AS maxsim_units
           FROM mx GROUP BY 1)
         SELECT vec_id, maxsim_units FROM score
         ORDER BY maxsim_units DESC, vec_id LIMIT 10"""),

    // R7/R22 — POPULATION STABILITY INDEX between the first and second
    // half of the event stream (split at the median event_id, buckets =
    // 10 equal-width over the GLOBAL value range): the drift metric a
    // serving pipeline alarms on. Laplace-smoothed integer counts (+1
    // per bucket) keep ln() off zero; PSI = Σ (p−q)·ln(p/q), 6-dp
    // floored. One pass builds both halves' bucket counts (conditional
    // aggregation over the broadcast split point); the PSI fold is
    // 10-row arithmetic over ALL 10 buckets — a 10-row spine left-joins
    // the observed counts so a bucket empty in BOTH halves still
    // contributes its (p−q)ln(p/q) smoothing term, exactly like the
    // streaming twin psiDriftWindows's 10 conditional sums (ADVICE r12:
    // without the spine the two twins disagreed on identical data).
    QueryDef("q_psi_drift", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      // split point = integer midpoint of the id range (exact in both
      // engines — an approx-median would be engine-specific arithmetic)
      val bounds = ev.agg(
        floor((min(col("event_id")) + max(col("event_id"))) / 2).as("mid"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      // degenerate-range guard: hi == lo (every value identical) makes
      // the bucket width 0 and ANSI double division THROWS (the same
      // failure mode q_ab_ztest hit on zero variance) — all mass lands
      // in bucket 0 on both engines instead
      val bucketed = ev.crossJoin(broadcast(bounds))
        .select(
          when(col("hi") > col("lo"),
            least(floor((col("value") - col("lo")) /
              ((col("hi") - col("lo")) / 10)), lit(9L)))
            .otherwise(lit(0L)).cast("int").as("bucket"),
          (col("event_id") <= col("mid")).as("first_half"))
      val observed = bucketed.groupBy(col("bucket"))
        .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("n_p"),
          sum(when(!col("first_half"), 1L).otherwise(0L)).as("n_q"))
      // full 10-bucket spine (a 10-row local range — no shuffle): empty
      // buckets surface with n = 0 so smoothing applies to all 10 terms
      val spine = s.range(10).toDF("bucket")
        .select(col("bucket").cast("int").as("bucket"))
      val counts = spine.join(observed, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_p"), lit(0L)).as("n_p"),
          coalesce(col("n_q"), lit(0L)).as("n_q"))
      val tot = counts.agg(sum(col("n_p")).as("tp"), sum(col("n_q")).as("tq"))
      counts.crossJoin(broadcast(tot))
        .select(((col("n_p") + 1).cast("double") / (col("tp") + 10)).as("p"),
          ((col("n_q") + 1).cast("double") / (col("tq") + 10)).as("q"))
        .agg(floorRound(sum((col("p") - col("q")) *
          log(col("p") / col("q"))), 6).as("psi"))
    },
      """WITH b AS (
           SELECT floor((min(event_id) + max(event_id)) / 2) AS mid,
                  min(value) AS lo, max(value) AS hi
           FROM events),
         bk AS (
           SELECT CAST(CASE WHEN b.hi > b.lo
                       THEN least(floor((e.value - b.lo) / ((b.hi - b.lo) / 10)), 9)
                       ELSE 0 END AS INT) AS bucket,
                  e.event_id <= b.mid AS first_half
           FROM events e, b),
         obs AS (
           SELECT bucket,
                  CAST(sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_p,
                  -- NOT first_half, not ELSE (review r20): a NULL key row
                  -- must land in NEITHER half, as Spark's when(!cond)
                  -- already does — ELSE would count it in n_q
                  CAST(sum(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_q
           FROM bk GROUP BY bucket),
         sp AS (SELECT CAST(r.range AS INT) AS bucket FROM range(10) r),
         c AS (
           SELECT sp.bucket, coalesce(obs.n_p, 0) AS n_p,
                  coalesce(obs.n_q, 0) AS n_q
           FROM sp LEFT JOIN obs ON obs.bucket = sp.bucket),
         t AS (SELECT sum(n_p) AS tp, sum(n_q) AS tq FROM c),
         pq AS (
           SELECT (n_p + 1) / CAST(t.tp + 10 AS DOUBLE) AS p,
                  (n_q + 1) / CAST(t.tq + 10 AS DOUBLE) AS q
           FROM c, t)
         SELECT floor(sum((p - q) * ln(p / q)) * 1000000 + 0.5) / 1000000
           AS psi
         FROM pq"""),

    // R7 — TWO-PROPORTION Z-TEST (A/B readout): assignment by user-id
    // parity (the deterministic split stand-in), conversion = user made
    // ≥15 purchases (every fixture user purchases at least once, so a
    // has-any-purchase metric saturates at p=1 and the pooled variance
    // degenerates — the ≥15 cut sits at the distribution's median and
    // discriminates at every SF); pooled-variance z with a zero-variance
    // guard (z := 0 when p(1−p)=0: saturated metric carries no
    // evidence). Two user-keyed aggregations; the statistic is one-row
    // math. floorRound(4) on the two rates and z.
    QueryDef("q_ab_ztest", (s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 15, 1L).otherwise(0L).as("converted"))
        .select((col("user_id") % 2 === 0).as("grp_a"), col("converted"))
      val g = users.agg(
        sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp_a"), col("converted")).otherwise(0L)).as("c_a"),
        sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("grp_a"), col("converted")).otherwise(0L)).as("c_b"))
      val p = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
      val variance = p * (lit(1.0) - p) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
      g.select(
        col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        floorRound(col("c_a").cast("double") / col("n_a"), 4).as("rate_a"),
        floorRound(col("c_b").cast("double") / col("n_b"), 4).as("rate_b"),
        floorRound(
          when(variance > 0,
            (col("c_a").cast("double") / col("n_a") -
              col("c_b").cast("double") / col("n_b")) / sqrt(variance))
            .otherwise(lit(0.0)), 4).as("z"))
    },
      """WITH u AS (
           SELECT user_id % 2 = 0 AS grp_a,
                  CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= 15
                       THEN 1 ELSE 0 END AS converted
           FROM events GROUP BY user_id),
         g AS (
           SELECT CAST(sum(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN grp_a THEN converted ELSE 0 END) AS BIGINT)
                    AS c_a,
                  -- NOT grp_a, not ELSE (review r20): a NULL user_id row
                  -- must join NEITHER cohort, matching Spark's when(!cond)
                  CAST(sum(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  CAST(sum(CASE WHEN NOT grp_a THEN converted ELSE 0 END) AS BIGINT)
                    AS c_b
           FROM u),
         v AS (
           SELECT g.*,
                  (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b) AS variance
           FROM g)
         SELECT n_a, c_a, n_b, c_b,
                floor(CAST(c_a AS DOUBLE) / n_a * 10000 + 0.5) / 10000 AS rate_a,
                floor(CAST(c_b AS DOUBLE) / n_b * 10000 + 0.5) / 10000 AS rate_b,
                floor(CASE WHEN variance > 0
                      THEN (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                           / sqrt(variance)
                      ELSE 0.0 END * 10000 + 0.5) / 10000 AS z
         FROM v"""),

    // R19 — MATRYOSHKA (nested-embedding) RETRIEVAL AUDIT: serve-time
    // dimension truncation — rank by the first 16 (and 32) of 64 dims
    // and price what the cheap prefix costs in exact-top-10 overlap.
    // The production lever: a 4× narrower scan for candidate gen, full
    // dims only for re-rank (the v_ivfpq_rerank shape, with prefix dims
    // playing the codes). Integer-unit L2 end-to-end ⇒ the oracle
    // replays all three rankings exactly. Scale shape: three per-row
    // fold passes against one broadcast probe + TakeOrderedAndProject —
    // no corpus shuffle, no join.
    QueryDef("v_matryoshka_probe", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .filter(size(col("v")) === 64)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
      def d2u(dims: Int): org.apache.spark.sql.Column = expr(
        s"""CAST(floor(aggregate(
             zip_with(slice(v, 1, $dims), slice(pv, 1, $dims),
                      (x, y) -> (x - y) * (x - y)),
             CAST(0.0 AS DOUBLE), (a, b) -> a + b) * 10000 + 0.5) AS BIGINT)""")
      val scored = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id"), d2u(64).as("d64"), d2u(32).as("d32"),
          d2u(16).as("d16"))
        // slim (vec_id, 3×BIGINT) rows read by FIVE consumers (three
        // top-10s, two of them twice) — without the cut the embeddings
        // scan + three distance folds execute per consumer (review r20)
        .transform(Lineage.cut(_))
      def top10(c: String) = scored.orderBy(col(c), col("vec_id")).limit(10)
        .select(col("vec_id"))
      top10("d64").agg(sum(col("vec_id")).as("full_top10_idsum"))
        .crossJoin(top10("d64").join(top10("d32"), "vec_id")
          .agg(count(lit(1)).as("n_overlap_32")))
        .crossJoin(top10("d64").join(top10("d16"), "vec_id")
          .agg(count(lit(1)).as("n_overlap_16")))
    },
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         qx AS (SELECT e, i FROM ex WHERE vec_id = 0),
         d AS (
           SELECT ex.vec_id,
                  CAST(floor(sum((ex.e - qx.e) * (ex.e - qx.e))
                             * 10000 + 0.5) AS BIGINT) AS d64,
                  CAST(floor(sum(CASE WHEN ex.i <= 32
                                 THEN (ex.e - qx.e) * (ex.e - qx.e)
                                 ELSE 0 END) * 10000 + 0.5) AS BIGINT) AS d32,
                  CAST(floor(sum(CASE WHEN ex.i <= 16
                                 THEN (ex.e - qx.e) * (ex.e - qx.e)
                                 ELSE 0 END) * 10000 + 0.5) AS BIGINT) AS d16
           FROM ex JOIN qx ON qx.i = ex.i
           WHERE ex.vec_id <> 0
           GROUP BY ex.vec_id),
         t64 AS (SELECT vec_id FROM d ORDER BY d64, vec_id LIMIT 10),
         t32 AS (SELECT vec_id FROM d ORDER BY d32, vec_id LIMIT 10),
         t16 AS (SELECT vec_id FROM d ORDER BY d16, vec_id LIMIT 10)
         SELECT
           (SELECT CAST(sum(vec_id) AS BIGINT) FROM t64) AS full_top10_idsum,
           (SELECT CAST(count(*) AS BIGINT)
            FROM t64 JOIN t32 USING (vec_id)) AS n_overlap_32,
           (SELECT CAST(count(*) AS BIGINT)
            FROM t64 JOIN t16 USING (vec_id)) AS n_overlap_16""")
  )
}
