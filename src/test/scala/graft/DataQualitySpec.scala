package graft

import graft.operators.DataQuality
import graft.operators.DataQuality.Check
import graft.plans.{TopKPerKey, TopKRewriteRule, TopKStrategy}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Data-quality operator semantics (one-pass violation counting, both the
  * aggregate and the zero-extra-pass observe() form), plus robustness
  * checks for the custom top-k machinery: null ordering and
  * expression-valued sort keys.
  */
class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private val dirty = Seq(
    (1L, 10.0, "ok"),
    (2L, -3.0, "ok"),     // violates v_pos
    (3L, 5.0, null),      // violates tag_present
    (4L, 0.0, "bad")      // violates v_pos (not > 0)
  ).toDF("id", "v", "tag")

  private val checks = Seq(
    Check("v_pos", $"v" > 0),
    Check("tag_present", $"tag".isNotNull))

  test("violations: one row, per-check counts, null predicate counts as violation") {
    val r = DataQuality.violations(dirty, checks).head()
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("viol_v_pos") === 2L)
    assert(r.getAs[Long]("viol_tag_present") === 1L)
  }

  test("observed: same counts arrive as observe() metrics on the existing action") {
    val df = DataQuality.observed(dirty, checks)
    df.collect() // the action the pipeline would run anyway
    val m = df.queryExecution.observedMetrics("graft_quality")
    assert(m.getAs[Long]("n_rows") === 4L)
    assert(m.getAs[Long]("viol_v_pos") === 2L)
    assert(m.getAs[Long]("viol_tag_present") === 1L)
  }

  test("TopKPerKey honors null ordering: desc puts nulls last, like the window form") {
    val withNulls = Seq[(String, java.lang.Double, Long)](
      ("a", 5.0, 1L), ("a", null, 2L), ("a", 7.0, 3L),
      ("b", null, 4L), ("b", null, 5L), ("b", 1.0, 6L)
    ).toDF("k", "score", "id")
    val native = graft.plans.TopK.perKey(withNulls, Seq("k"),
        Seq(graft.plans.TopK.Ord("score", desc = true), graft.plans.TopK.Ord("id")), 2)
      .select("k", "rk", "id").orderBy("k", "rk")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id")
    val windowDf = withNulls
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 2)
      .select("k", "rk", "id").orderBy("k", "rk")
    assert(windowDf.queryExecution.optimizedPlan.collect { case t: TopKPerKey => t }.isEmpty)
    val window = windowDf
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(native === window)
  }

  test("TopKRewriteRule fires on expression-valued sort keys and matches results") {
    val base = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val w = Window.partitionBy($"l_orderkey")
      .orderBy(($"l_extendedprice" * (lit(1) - $"l_discount")).desc, $"l_extendedprice")
    val df = base.withColumn("rk", row_number().over(w)).filter($"rk" <= 2)
    assert(df.queryExecution.optimizedPlan.collect { case t: TopKPerKey => t }.isEmpty)
    val rewritten = TopKRewriteRule(df.queryExecution.optimizedPlan)
    assert(rewritten.collect { case t: TopKPerKey => t }.nonEmpty)
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val got = ColumnBridge.ofRows(spark, rewritten)
      .orderBy("l_orderkey", "rk").collect().toSeq
    val expected = df.orderBy("l_orderkey", "rk").collect().toSeq
    assert(got === expected)
  }
}
