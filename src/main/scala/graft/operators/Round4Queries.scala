package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import graft.functions.TextFunctions.sha256Hex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 operator additions (SURVEY.md §2.6): the remaining
  * training-data-pipeline primitives a 100 TB corpus build needs —
  * multimodal perceptual-hash near-dup, incremental snapshot dedup, and
  * corpus collocation statistics. Every query is DuckDB-oracled; the
  * perceptual-hash path does ALL of its comparisons in integer units so
  * the two engines agree bit-for-bit with no float-boundary risk.
  */
object Round4Queries {

  val queries: Seq[QueryDef] = Seq(
    // R21+R18 bridge — perceptual-hash near-dup over BINARY payloads: the
    // multimodal twin of MinHash. Each asset's payload reduces to the 8-bin
    // byte-histogram feature (the same partition-batched decode stub the
    // m_decode_features path uses, here recomputed in column expressions),
    // the perceptual hash sets bit i when slot i is above the asset's mean
    // (8·uᵢ > Σu in INTEGER 1e-4 units — no float compare), assets block
    // on equal hashes (deterministic arithmetic, so the oracle mirrors the
    // blocking exactly — unlike MinHash there is no engine-specific hash
    // anywhere), and blocked pairs are verified by integer L1 distance.
    // Scale: one groupBy on the 8-bit hash, Σ bucket² ≪ n², same shape as
    // every other blocked near-dup path here.
    QueryDef("m_phash_neardup", (s, d) => {
      // Domain guard, mirrored in the oracle: payloads must fill all 8
      // histogram slots (≥ 8 bytes) and be single-byte text (the decode
      // stub hashes BYTES; the SQL twin models characters — they agree
      // exactly on ASCII, so multi-byte payloads are excluded from the
      // oracled domain rather than silently diverging).
      val assets = Multimodal.assets(s, d)
        .filter(col("meta.n_bytes") >= 8 &&
          col("meta.n_bytes") === length(col("payload").cast("string")))
      val feats = Multimodal.decodeStub(s, assets)
        // integer 1e-4 units of the (already 4-dp-rounded) feature slots
        .select(col("asset_id"),
          expr("transform(feature, x -> CAST(round(x * 10000) AS BIGINT))").as("u"))
        .select(col("asset_id"), col("u"),
          expr("aggregate(u, 0L, (acc, x) -> acc + x)").as("usum"))
        .select(col("asset_id"), col("u"),
          expr("""aggregate(sequence(0, 7), 0L, (acc, i) ->
                    acc | IF(8 * element_at(u, i + 1) > usum, shiftleft(1L, i), 0L))""")
            .as("phash"))
      feats.as("a").join(feats.as("b"),
          col("a.phash") === col("b.phash") && col("a.asset_id") < col("b.asset_id"))
        .select(col("a.asset_id").as("asset_a"), col("b.asset_id").as("asset_b"),
          expr("""aggregate(zip_with(a.u, b.u, (x, y) -> abs(x - y)),
                            0L, (acc, v) -> acc + v)""").as("l1_units"))
        .filter(col("l1_units") <= 500) // 0.05 in 1e-4 units
        .orderBy("asset_a", "asset_b")
    },
      // feature units per (doc, slot) exactly as the m_decode_features twin,
      // then integer phash + integer L1 — mirrors the Spark arithmetic 1:1
      """WITH dom AS (
           SELECT doc_id, text FROM documents
           WHERE length(text) >= 8
             AND length(text) = octet_length(CAST(text AS BLOB))),
         b AS (
           SELECT doc_id, length(text) AS n, t.i % 8 AS slot,
                  ascii(substring(text, CAST(t.i + 1 AS INT), 1)) / 255.0 AS v
           FROM dom, unnest(generate_series(0, length(text) - 1)) AS t(i)),
         f AS (SELECT doc_id, slot,
                      CAST(round(round(sum(v) / max(n) * 10000) / 10000 * 10000) AS BIGINT) AS u
               FROM b GROUP BY doc_id, slot),
         ph AS (SELECT doc_id,
                       CAST(sum(CASE WHEN 8 * u > (SELECT sum(u) FROM f f2 WHERE f2.doc_id = f.doc_id)
                                THEN CAST(1 AS BIGINT) << slot ELSE 0 END) AS BIGINT) AS phash
                FROM f GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS asset_a, b.doc_id AS asset_b
           FROM ph a JOIN ph b ON a.phash = b.phash AND a.doc_id < b.doc_id)
         SELECT asset_a, asset_b, CAST(sum(abs(fa.u - fb.u)) AS BIGINT) AS l1_units
         FROM pairs
           JOIN f fa ON fa.doc_id = asset_a
           JOIN f fb ON fb.doc_id = asset_b AND fb.slot = fa.slot
         GROUP BY asset_a, asset_b
         HAVING sum(abs(fa.u - fb.u)) <= 500
         ORDER BY asset_a, asset_b"""),

    // R17 — INCREMENTAL snapshot dedup: the every-crawl primitive — an
    // incoming batch (sources src10+, the "new crawl") checked against the
    // accepted base corpus (src0-src9) by content address; `is_new` marks
    // docs whose sha256 is unseen. One shuffle join on the 32-byte sha —
    // the big text never moves; at 100 TB the base sha set is a bucketed
    // table the incoming batch shuffle-joins against (no broadcast
    // assumption), exactly this plan.
    QueryDef("d_dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), sha256Hex(col("text")).as("content_sha"),
          expr("cast(regexp_replace(source, '[^0-9]', '') as int)").as("src_idx"))
      val base = docs.filter(col("src_idx") < 10)
        .select(col("content_sha")).distinct()
        .withColumn("seen", lit(true))
      docs.filter(col("src_idx") >= 10)
        .join(base, Seq("content_sha"), "left_outer")
        .select(col("doc_id"), col("content_sha"),
          coalesce(!col("seen"), lit(true)).as("is_new"))
        .orderBy("doc_id")
    },
      """WITH d AS (
           SELECT doc_id, sha256(text) AS content_sha,
                  CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) AS src_idx
           FROM documents),
         base AS (SELECT DISTINCT content_sha FROM d WHERE src_idx < 10)
         SELECT doc_id, content_sha,
                (content_sha NOT IN (SELECT content_sha FROM base)) AS is_new
         FROM d WHERE src_idx >= 10 ORDER BY doc_id"""),

    // R20/R12 — SEQUENCE PACKING: the GPT-style concat-and-chunk that turns
    // a document corpus into fixed-size training sequences. Docs are
    // concatenated in doc_id order WITHIN a shard (doc_id % 32 — the
    // pre-assigned pack shard a real pipeline carries) and the token stream
    // chunks into 512-token bins; each doc reports the bin its first token
    // lands in, the bin its last token lands in (straddlers span several),
    // and its offset inside the start bin. One window per shard = one
    // shuffle on the shard key; shards are the parallelism unit, so packing
    // 100 TB is embarrassingly parallel across shards and each shard's
    // prefix sum is a linear scan. Pure integer arithmetic ⇒ exact oracle.
    QueryDef("t_pack_sequences", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val binCap = 512
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 32).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          ((col("cum") - col("n_tokens")) / binCap).cast("long").as("start_bin"),
          ((col("cum") - 1) / binCap).cast("long").as("end_bin"),
          ((col("cum") - col("n_tokens")) % binCap).as("offset_in_bin"))
        .orderBy("doc_id")
    },
      """WITH t AS (
           SELECT doc_id, doc_id % 32 AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT doc_id, shard, n_tokens,
                CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS start_bin,
                CAST(floor((cum - 1) / 512.0) AS BIGINT) AS end_bin,
                CAST((cum - n_tokens) % 512 AS BIGINT) AS offset_in_bin
         FROM c ORDER BY doc_id"""),

    // R10/R17 — deterministic reservoir sample: k docs per language chosen
    // by md5 rank order — a uniform-ish, seed-free, engine-reproducible
    // sample (md5 of the id is the random tag; both engines compute the
    // identical hex, so the "reservoir" is the same everywhere — unlike a
    // rand() sample, re-running or re-sharding cannot change membership).
    // Runs through the native bounded-heap TopKPerKey path: at most k rows
    // per (key, partition) enter the shuffle, the full corpus is never
    // sorted — the same plan a 100 TB per-key sample needs.
    QueryDef("q_reservoir_sample", (s, d) => {
      val tagged = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("tag"))
      graft.plans.TopK.perKey(tagged, keys = Seq("lang"),
          order = Seq(graft.plans.TopK.Ord("tag"), graft.plans.TopK.Ord("doc_id")), k = 10)
        .select(col("lang"), col("rk"), col("doc_id"), col("tag"))
        .orderBy("lang", "rk")
    },
      """WITH tagged AS (
           SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS tag FROM documents),
         r AS (
           SELECT lang, doc_id, tag,
                  CAST(row_number() OVER (PARTITION BY lang ORDER BY tag, doc_id) AS INT) AS rk
           FROM tagged)
         SELECT lang, rk, doc_id, tag FROM r WHERE rk <= 10 ORDER BY lang, rk"""),

    // CAPSTONE — the end-to-end corpus build, composed from the proven
    // operators as ONE pipeline: quality gate (t_quality_score blend ≥
    // 0.52) → exact dedup (min doc_id per text survives) → near-dup
    // representative selection (docs that are the higher side of an
    // adjacent J ≥ 0.5 edge drop, leaving each run's min — the
    // d_dedup_cluster representative without running the full CC loop) →
    // GPT-style sequence packing of the survivors (t_pack_sequences
    // arithmetic). This is the query a user actually runs before training:
    // every stage is a keyed shuffle or a per-shard window, nothing
    // quadratic, and the whole composition is DuckDB-oracled end-to-end.
    QueryDef("d_corpus_build", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      // text reduces to its sha256 content address in the scan projection
      // (r21, the d_dedup_hash discipline): every downstream exchange
      // carries a 64-char key instead of the full document, and the
      // string-exact DuckDB oracle would fail loudly on a collision.
      val scored = Tables.documents(s, d).select(col("doc_id"),
        graft.functions.TextFunctions.sha256Hex(col("text")).as("__sha"),
        size(toks).cast("long").as("n_tokens"),
        TextQueries.qualityBlend.as("quality"))
      val qualified = scored.filter(col("quality") >= 0.52)
      // exact dedup: min doc_id per text among the qualified. A grouped
      // aggregate, not a text-partitioned row_number window (r21): it
      // partial-aggregates map-side. min(struct(...)) keeps the keeper's
      // row ATOMICALLY (ADVICE r21): doc_id leads the struct and is
      // unique per group, so the min is the keeper's whole row — robust
      // even if a future column stops being a function of text.
      val exactKept = qualified
        .groupBy(col("__sha"))
        .agg(min(struct(col("doc_id"), col("n_tokens"), col("quality")))
          .as("__keeper"))
        .select(col("__keeper.doc_id").as("doc_id"),
          col("__keeper.n_tokens").as("n_tokens"),
          col("__keeper.quality").as("quality"))
      // Near-dup drop: run the REAL near-dup operator — the full
      // MinHash+LSH pipeline (shingle → sign → band → verify) — and drop
      // the higher side of every verified J ≥ 0.5 pair. Shingle Jaccard,
      // not token Jaccard: on a small shared vocabulary every doc shares
      // most TOKENS with its neighbor (369 of 499 adjacent pairs clear 0.5
      // on unigrams at sf0.01) while shingle overlap isolates the genuine
      // near-duplicates. Composing the registered operator is the point of
      // the capstone: its own oracle already proved the pair set equals
      // the all-pairs ground truth.
      val dupped = DedupQueries.minhashLshPairs(s, d)
        .select(col("doc_b").as("doc_id")).distinct()
      val kept = exactKept.join(dupped, Seq("doc_id"), "left_anti")
      // pack survivors: per-shard prefix sums into 512-token bins
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      kept.withColumn("shard", col("doc_id") % 32)
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("n_tokens"), col("quality"), col("shard"),
          ((col("cum") - col("n_tokens")) / 512).cast("long").as("start_bin"))
        .orderBy("doc_id")
    },
      // the composed pipeline, mirrored stage by stage: quality blend →
      // exact-dedup survivor → adjacent near-dup drop → per-shard packing
      """WITH scored AS (
           SELECT doc_id, text,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  floor((0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                / len(string_split(text, ' ')))
                       + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN ('the', 'a'))) AS DOUBLE)
                                / len(string_split(text, ' ')))
                       + 0.2 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                                / len(string_split(text, ' '))) / 10.0, 1.0)) * 10000 + 0.5) / 10000
                    AS quality
           FROM documents),
         qualified AS (SELECT * FROM scored WHERE quality >= 0.52),
         exact_kept AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
             FROM qualified) WHERE rk = 1),
         toks3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh3 AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS s
           FROM toks3 WHERE len(t) >= 3),
         shsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh3 GROUP BY doc_id),
         shint AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
           FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         dup_b AS (
           SELECT DISTINCT doc_b AS doc_id FROM shint
             JOIN shsz sa ON sa.doc_id = doc_a
             JOIN shsz sb ON sb.doc_id = doc_b
           WHERE floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.5),
         kept AS (
           SELECT doc_id, n_tokens, quality, doc_id % 32 AS shard
           FROM exact_kept WHERE doc_id NOT IN (SELECT doc_id FROM dup_b)),
         packed AS (
           SELECT doc_id, n_tokens, quality, shard,
                  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM kept)
         SELECT doc_id, n_tokens, quality, shard,
                CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS start_bin
         FROM packed ORDER BY doc_id"""),

    // R20 — collocation mining: top bigrams by pointwise mutual information
    // over adjacent token pairs, the standard corpus-statistics pass for
    // tokenizer/vocabulary work. Exact integer counts (bigram + unigram
    // tables, two linear groupBys), one log at the end, min-count cut so
    // PMI is stable, ties broken lexicographically. At 100 TB both count
    // tables partial-aggregate map-side; the join is bigram→unigram (two
    // broadcastable aggregates after the cut).
    QueryDef("t_collocations", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(split(col("text"), " ").as("t"))
      // bigram branch only: Spark's sequence(1, 0) DESCENDS, so a 1-token
      // doc must not produce a bogus (t[1], t[0]) bigram — but its token
      // still counts in the unigram model (the oracle's uni CTE spans ALL
      // docs, so the filter must not leak into that branch)
      val bigrams = toks.filter(size(col("t")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(t) - 1),
               i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"""))
          .as("bg"))
        .groupBy(col("bg.w1"), col("bg.w2")).agg(count(lit(1)).as("c_ab"))
      val unigrams = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      val nBig = bigrams.agg(sum(col("c_ab")).as("n_big"))
      val nUni = unigrams.agg(sum(col("c_w")).as("n_uni"))
      bigrams.filter(col("c_ab") >= 5)
        .join(unigrams.select(col("w").as("w1"), col("c_w").as("c_a")), "w1")
        .join(unigrams.select(col("w").as("w2"), col("c_w").as("c_b")), "w2")
        .crossJoin(nBig).crossJoin(nUni)
        .select(col("w1"), col("w2"), col("c_ab"),
          floorRound(
            log((col("c_ab").cast("double") / col("n_big")) /
              ((col("c_a").cast("double") / col("n_uni")) *
               (col("c_b").cast("double") / col("n_uni")))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         bg AS (
           SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_ab
           FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
           GROUP BY 1, 2),
         uni AS (
           SELECT u.w AS w, CAST(count(*) AS BIGINT) AS c_w
           FROM toks, unnest(t) AS u(w) GROUP BY 1),
         nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_big FROM bg),
         nu AS (SELECT CAST(sum(c_w) AS DOUBLE) AS n_uni FROM uni)
         SELECT w1, w2, c_ab,
                floor((ln((c_ab / n_big) /
                       ((ca.c_w / n_uni) * (cb.c_w / n_uni)))) * 10000 + 0.5) / 10000 AS pmi
         FROM bg
           JOIN uni ca ON ca.w = w1
           JOIN uni cb ON cb.w = w2
           CROSS JOIN nb CROSS JOIN nu
         WHERE c_ab >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 20""")
  )
}
