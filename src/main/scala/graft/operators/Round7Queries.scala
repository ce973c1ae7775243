package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 composition: the training-corpus build capstone extended with
  * the round-7 hygiene operators (SURVEY.md §2.9).
  */
object Round7Queries {

  val queries: Seq[QueryDef] = Seq(
    // R17/R18/R20 capstone v2 — the FULL modern pre-training pipeline as
    // one oracled query, composing every hygiene family the engine has:
    //   quality gate (0.52 blend) → repetition gate (Gopher dials) →
    //   benchmark decontamination (src0 = the held-out eval set) →
    //   exact dedup (min doc_id per text) → MinHash-LSH near-dup drop →
    //   per-shard 512-token sequence packing.
    // d_corpus_build (v1) stays registered unchanged — v2 is additive, so
    // the two rows double as a regression pair: v2's survivors are a
    // subset of v1's. Every stage is a keyed shuffle, a broadcast
    // semi-probe, or a per-shard window — nothing quadratic; the composed
    // operators' own oracles already proved their pieces, and this oracle
    // replays the whole composition end-to-end.
    QueryDef("d_corpus_build_v2", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val all = Tables.documents(s, d)
      val train = all.filter(col("source") =!= "src0")
      val toks = split(col("text"), " ")
      // text reduces to its sha256 content address in the scan projection
      // (r21, the d_dedup_hash discipline): the calm/clean joins and the
      // dedup aggregate below then move 64-char keys, never documents,
      // and the string-exact oracle would fail loudly on a collision.
      // r22 scan fusion (§1.2/§2.4): quality AND the repetition gate are
      // per-row signals, so they ride the ONE scored projection — the
      // former composition re-scanned documents twice more (the gram
      // signals and the token-dominance aggregate) and paid a calm join
      // just to apply a per-row predicate. Same single-sourced formulas:
      // TextQueries.{qualityBlend, repetitiveGate}. A null-text doc fails
      // both gates (NULL predicate ⇒ filtered), exactly as the old inner
      // join against repetition()'s output dropped it.
      val scored = train.select(col("doc_id"),
        graft.functions.TextFunctions.sha256Hex(col("text")).as("__sha"),
        size(toks).cast("long").as("n_tokens"),
        TextQueries.qualityBlend.as("quality"),
        TextQueries.repetitiveGate.as("__repetitive"))
      // decontamination: needs the FULL frame (eval grams come from src0).
      // Only the DROP SET is needed here, as a left_anti — every row of
      // contaminatedDocs has n ≥ 1, so anti-joining it equals the old
      // inner join against decontaminate()'s !contaminated side, minus
      // the third corpus scan that rebuilt the full doc list (r22).
      val contaminated = TextQueries.contaminatedDocs(all, evalSource = "src0")
      val qualified = scored
        .filter(col("quality") >= 0.52 && !col("__repetitive"))
        .join(contaminated, Seq("doc_id"), "left_anti")
      // exact dedup: min doc_id per text among the qualified. A grouped
      // aggregate on the content sha, not a text-partitioned row_number
      // window (r21): partial-aggregates map-side. min(struct(...)) keeps
      // the keeper's row ATOMICALLY (ADVICE r21): doc_id leads the struct
      // and is unique per group, so the min is the keeper's whole row —
      // robust even if a future column stops being a function of text.
      val exactKept = qualified
        .groupBy(col("__sha"))
        .agg(min(struct(col("doc_id"), col("n_tokens"), col("quality")))
          .as("__keeper"))
        .select(col("__keeper.doc_id").as("doc_id"),
          col("__keeper.n_tokens").as("n_tokens"),
          col("__keeper.quality").as("quality"))
      // near-dup drop: the registered MinHash-LSH operator's verified
      // pair set (corpus-wide, like v1 — a near-dup of ANY doc, eval
      // included, is dropped), higher side of each pair goes
      val dupped = DedupQueries.minhashLshPairs(s, d)
        .select(col("doc_b").as("doc_id")).distinct()
      val kept = exactKept.join(dupped, Seq("doc_id"), "left_anti")
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      kept.withColumn("shard", col("doc_id") % 32)
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("n_tokens"), col("quality"), col("shard"),
          ((col("cum") - col("n_tokens")) / 512).cast("long").as("start_bin"))
        .orderBy("doc_id")
    },
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
           FROM documents WHERE source <> 'src0'),
         toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         rep AS (
           SELECT g.doc_id FROM
             (SELECT doc_id,
                     greatest(len(t) - 1, 0) AS total2,
                     len(list_distinct(list_transform(
                       range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS dist2
              FROM toks WHERE source <> 'src0') g
             JOIN
             (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_tok FROM
                (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT doc_id, unnest(t) AS tok FROM toks WHERE source <> 'src0')
                 GROUP BY doc_id, tok) GROUP BY doc_id) tp
             ON g.doc_id = tp.doc_id
           WHERE NOT (
             (CASE WHEN total2 > 0 THEN 1.0 - CAST(dist2 AS DOUBLE) / total2 ELSE 0.0 END) > 0.1
             OR CAST(top_cnt AS DOUBLE) / n_tok > 0.25)),
         sh5 AS (
           SELECT doc_id, source,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')))) AS g
           FROM toks WHERE len(t) >= 5),
         ev AS (SELECT DISTINCT g FROM sh5 WHERE source = 'src0'),
         contam AS (
           SELECT DISTINCT doc_id FROM sh5 JOIN ev USING (g) WHERE source <> 'src0'),
         qualified AS (
           SELECT s.* FROM scored s
             JOIN rep ON rep.doc_id = s.doc_id
           WHERE s.quality >= 0.52
             AND s.doc_id NOT IN (SELECT doc_id FROM contam)),
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
         FROM packed ORDER BY doc_id""")
  )
}
