package graft

import org.apache.spark.sql.functions._

/** Semantics pins for the round-3 queries (Round3Queries). */
class Round3Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bitmap distinct == exact countDistinct per key") {
    import spark.implicits._
    val viaBitmap = SparkEntry.queries("q_bitmap_distinct")(spark, sf)
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sf)
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(viaBitmap == exact)
  }

  test("LOCF skips nulls and NOCB looks forward") {
    import spark.implicits._
    val out = SparkEntry.queries("q_ignore_nulls")(spark, sf)
      .filter($"v".isNull).limit(1000).collect()
    assert(out.nonEmpty)
    // every nulled value row must be filled from a neighbor when one exists:
    // locf/nocb are only null at the partition edge (no prior/next non-null)
    val locfNulls = SparkEntry.queries("q_ignore_nulls")(spark, sf)
      .groupBy($"user_id")
      .agg(min(when($"v".isNotNull, $"event_id")).as("first_nonnull"),
        max(when($"locf".isNull, $"event_id")).as("last_locf_null"))
      .filter($"last_locf_null" >= $"first_nonnull")
      .count()
    assert(locfNulls == 0, "locf null after a non-null value appeared")
  }

  test("posexplode_outer keeps one null row per empty array") {
    import spark.implicits._
    val df = SparkEntry.queries("q_explode_outer")(spark, sf)
    val emptyKeys = Tables.customer(spark, sf)
      .select($"c_custkey", expr("size(filter(sequence(1L, CAST(c_nationkey % 5 + 1 AS LONG)), x -> x % 4 = 0))").as("n"))
      .filter($"n" === 0).count()
    assert(df.filter($"x".isNull && $"pos".isNull).count() == emptyKeys)
    assert(df.select($"c_custkey").distinct().count() ==
      Tables.customer(spark, sf).count(), "no parent row lost")
  }

  test("ngram jaccard is within [0,1] and 1 for identical texts") {
    import spark.implicits._
    val out = SparkEntry.queries("d_ngram_jaccard")(spark, sf)
    assert(out.filter($"jacc" < 0.0 || $"jacc" > 1.0).count() == 0)
    // identical strings => identical gram sets => jaccard 1
    val g = expr("array_distinct(transform(sequence(1, greatest(length(t) - 2, 1)), i -> substring(t, i, 3)))")
    val one = Seq(("abcabc", "abcabc")).toDF("t", "u")
      .select((size(array_intersect(g, g)).cast("double") / size(array_union(g, g))).as("j"))
      .head().getDouble(0)
    assert(one == 1.0)
  }

  test("resize plan preserves aspect ratio within integer truncation") {
    import spark.implicits._
    val bad = SparkEntry.queries("m_resize_plan")(spark, sf)
      .filter(greatest($"out_w", $"out_h") =!= 224)
      .count()
    assert(bad == 0, "long side must land exactly on 224")
  }
}
