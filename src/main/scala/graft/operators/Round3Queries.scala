package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 surface widening (SURVEY.md §2.7): the mergeable-bitmap exact
  * distinct-count pattern, IGNORE NULLS window fills, outer generators,
  * char-n-gram Jaccard near-dup, and the multimodal resize-planning step.
  *
  * Scale notes per query; shared theme: every aggregate here is mergeable
  * (bitmap OR, min/max) so partial aggregation happens map-side and the
  * shuffle carries sketches/fills, not rows.
  */
object Round3Queries {

  val queries: Seq[QueryDef] = Seq(
    // R9 at 100 TB — EXACT distinct counts via mergeable bitmaps
    // (bitmap_construct_agg / bitmap_count): per (key, bucket) partial
    // bitmaps merge associatively, so daily jobs can persist tiny bitmap
    // segments and rollups OR them together without re-touching raw data —
    // the exact-count twin of the q_hll_union approximate pattern.
    // bitmap_bit_position is 1-based, so ids are shifted +1 (injective ⇒
    // the distinct count is unchanged); verified exactly against DuckDB's
    // count(DISTINCT).
    //
    // PRECONDITION (id domain): the key must be >= 0 and < Long.MaxValue —
    // a negative id yields an invalid 1-based bit position and MaxValue
    // overflows the +1 shift, silently corrupting counts. Holds for
    // events.user_id (generator emits 0..n); reusing this pattern on
    // another key column requires the same guarantee (or a pre-filter).
    QueryDef("q_bitmap_distinct", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id + 1)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id + 1))").as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_users"))
        .orderBy("event_type"),
      // the bitmap pipeline must land on EXACTLY count(DISTINCT)
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // R10/R22 — IGNORE NULLS window fills: last-observation-carried-forward
    // (LOCF) and next-observation fill per user over the event stream — the
    // canonical sensor/feature gap-fill. `error` events null the value out;
    // the fills skip them. Pure frame scan, no extra shuffle beyond the
    // per-user partitioning.
    QueryDef("q_ignore_nulls", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val past = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val future = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
        .withColumn("locf", last(col("v"), ignoreNulls = true).over(past))
        .withColumn("nocb", first(col("v"), ignoreNulls = true).over(future))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
                CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
                last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
                first_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nocb
         FROM events ORDER BY user_id, event_id"""),

    // R22 — outer generator semantics: posexplode_outer keeps a null row
    // for empty arrays (an inner explode silently drops the parent — the
    // classic training-data-loss bug). pos is 0-based.
    QueryDef("q_explode_outer", (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("filter(sequence(1L, CAST(c_nationkey % 5 + 1 AS LONG)), x -> x % 4 = 0)").as("arr"))
        .select(col("c_custkey"), expr("posexplode_outer(arr)"))
        .select(col("c_custkey"), col("pos").cast("int").as("pos"), col("col").as("x"))
        .orderBy(col("c_custkey"), col("pos")),
      """WITH a AS (
           SELECT c_custkey,
                  list_filter(generate_series(1, c_nationkey % 5 + 1), x -> x % 4 = 0) AS arr
           FROM customer),
         e AS (
           SELECT c_custkey, arr,
                  unnest(CASE WHEN len(arr) = 0 THEN [NULL]::BIGINT[] ELSE arr END) AS x
           FROM a)
         SELECT c_custkey,
                CAST(CASE WHEN x IS NULL THEN NULL
                          ELSE list_position(arr, x) - 1 END AS INT) AS pos,
                x
         FROM e ORDER BY c_custkey, pos NULLS FIRST"""),

    // R18 — character-3-gram Jaccard between neighboring documents: the
    // n-gram flavor of near-dup (robust to tokenization differences, the
    // standard fuzzy-dedup feature for CJK/noisy text). Gram sets build
    // inside codegen (sequence+transform+array_distinct); at scale the same
    // gram arrays feed MinHash/LSH blocking (d_minhash_lsh) instead of the
    // adjacent-pair slice used here for verifiability.
    QueryDef("d_ngram_jaccard", (s, d) => {
      val grams = expr(
        "array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3)))")
      val docs = Tables.documents(s, d).select(col("doc_id"), grams.as("g"))
      docs.as("a")
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(
          col("a.doc_id").as("doc_id"),
          size(col("a.g")).as("n_a"),
          size(col("b.g")).as("n_b"),
          floorRound(
            size(array_intersect(col("a.g"), col("b.g"))).cast("double") /
              size(array_union(col("a.g"), col("b.g"))), 4).as("jacc"))
        .orderBy("doc_id")
    },
      """WITH g AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(length(text) - 2, 1) + 1),
                    i -> substr(text, CAST(i AS INT), 3))) AS g
           FROM documents)
         SELECT a.doc_id AS doc_id,
                CAST(len(a.g) AS INT) AS n_a,
                CAST(len(b.g) AS INT) AS n_b,
                floor((CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.g, b.g)))) * 10000 + 0.5) / 10000 AS jacc
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
         ORDER BY doc_id"""),

    // R5/R10 — LATERAL correlated subquery join: per customer, the single
    // most expensive order (deterministic tie-break on key). Catalyst
    // plans the correlated LIMIT 1 as a per-key top-1, not a per-row
    // re-execution; same shape as the max_by/TopKPerKey paths but through
    // the SQL-standard LATERAL surface.
    QueryDef("q_lateral_join", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_lat_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_lat_orders")
      s.sql(
        """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
           FROM graft_lat_customer c,
             LATERAL (
               SELECT o.o_orderkey, o.o_totalprice
               FROM graft_lat_orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o.o_totalprice DESC, o.o_orderkey
               LIMIT 1) t
           ORDER BY c.c_custkey""")
    },
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
         FROM customer c,
           LATERAL (
             SELECT o.o_orderkey, o.o_totalprice
             FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o.o_totalprice DESC, o.o_orderkey
             LIMIT 1) t
         ORDER BY c.c_custkey"""),

    // R7 — exact grouped median (interpolated for even counts in both
    // engines): single-pass sort-based agg per group.
    QueryDef("q_median", (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          floorRound(expr("median(o_totalprice)"), 4).as("med_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
                floor(median(o_totalprice) * 10000 + 0.5) / 10000 AS med_price,
                CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // R21 — resize planning: aspect-preserving target dimensions for a
    // 224-box from (synthetic, deterministic) source dims. Completes the
    // multimodal op set (decode ✓ features ✓ frame-sample ✓ resize).
    // All-integer arithmetic ⇒ bit-exact across engines; the actual pixel
    // resample is the decoder stub's job (Multimodal.decodeStub note).
    QueryDef("m_resize_plan", (s, d) =>
      Multimodal.assets(s, d)
        .select(col("asset_id"),
          (lit(320) + (col("asset_id") * 7) % 1600).cast("long").as("w"),
          (lit(200) + (col("asset_id") * 13) % 900).cast("long").as("h"))
        .withColumn("long_side", greatest(col("w"), col("h")))
        .select(
          col("asset_id"), col("w"), col("h"),
          ((col("w") * 224) / col("long_side")).cast("long").as("out_w"),
          ((col("h") * 224) / col("long_side")).cast("long").as("out_h"),
          (col("w") * 224 % col("long_side") === 0 &&
            col("h") * 224 % col("long_side") === 0).as("exact_fit"))
        .orderBy("asset_id"),
      """WITH dims AS (
           SELECT doc_id AS asset_id,
                  CAST(320 + (doc_id * 7) % 1600 AS BIGINT) AS w,
                  CAST(200 + (doc_id * 13) % 900 AS BIGINT) AS h
           FROM documents)
         SELECT asset_id, w, h,
                CAST(w * 224 // greatest(w, h) AS BIGINT) AS out_w,
                CAST(h * 224 // greatest(w, h) AS BIGINT) AS out_h,
                (w * 224 % greatest(w, h) = 0 AND h * 224 % greatest(w, h) = 0) AS exact_fit
         FROM dims ORDER BY asset_id""")
  )
}
