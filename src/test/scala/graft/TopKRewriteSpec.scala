package graft

import graft.plans.{TopKPerKey, TopKRewriteRule, TopKStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The window-top-k optimizer rewrite: plan shape and result equivalence.
  * The rule is applied explicitly here (not installed on the shared test
  * session) so other suites keep their un-rewritten plans.
  */
class TopKRewriteSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def windowTopK(k: Int): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val df = Tables.customer(spark, d)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    // the session must not rewrite it already, or every reference below
    // is the heap operator compared with itself
    assert(df.queryExecution.optimizedPlan.collect { case t: TopKPerKey => t }.isEmpty)
    df
  }

  private def rewritten(df: DataFrame): DataFrame = {
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    ColumnBridge.ofRows(spark, TopKRewriteRule(df.queryExecution.optimizedPlan))
  }

  test("rule turns Filter(rk<=k, Window(row_number)) into TopKPerKey") {
    val out = TopKRewriteRule(windowTopK(3).queryExecution.optimizedPlan)
    assert(out.collect { case t: TopKPerKey => t }.nonEmpty,
      s"no TopKPerKey in:\n$out")
    // the Filter over the rank is gone — the operator enforces the bound
    assert(!out.toString.contains("row_number"))
  }

  test("rewritten plan returns exactly the window-form rows") {
    val base = windowTopK(3)
    val expected = base.orderBy("c_mktsegment", "rk").collect().toSeq
    val got = rewritten(base).orderBy("c_mktsegment", "rk").collect().toSeq
    assert(got === expected)
  }

  test("rk === 1 (latest-per-key idiom) rewrites with k=1") {
    val out = TopKRewriteRule(windowTopK(1).queryExecution.optimizedPlan)
    val ks = out.collect { case t: TopKPerKey => t.k }
    assert(ks === Seq(1))
  }

  test("bounds with extra predicates are left untouched") {
    val df = windowTopK(3).filter(col("c_acctbal") > 0)
    // optimizer merges the two filters into And(...) — rule must not fire
    val out = TopKRewriteRule(df.queryExecution.optimizedPlan)
    assert(out.collect { case t: TopKPerKey => t }.isEmpty)
  }

  test("extreme bounds decline safely: rk < Int.MinValue stays empty; huge k keeps the window form") {
    // code-review r17: `v - 1` underflowed at Int.MinValue, turning an
    // always-false rank filter into top-Int.MaxValue (all rows); and a
    // huge-but-valid k is better served by the window sort than a heap
    // buffering k rows per key, so the rule declines it
    val minBound = windowTopK(3) // reuse shape, replace the filter below
      .drop("rk")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val ranked = Tables.customer(spark, d)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rk", row_number().over(w))
    val under = ranked.filter(col("rk") < Int.MinValue)
    assert(TopKRewriteRule(under.queryExecution.optimizedPlan)
      .collect { case t: TopKPerKey => t }.isEmpty, "underflow shape must not rewrite")
    assert(rewritten(under).count() === 0,
      "an always-false rank bound must stay empty through the rule")
    val huge = ranked.filter(col("rk") <= Int.MaxValue)
    assert(TopKRewriteRule(huge.queryExecution.optimizedPlan)
      .collect { case t: TopKPerKey => t }.isEmpty,
      "k above MaxRewriteK must keep the spilling window form")
    assert(minBound.count() >= 0) // shape reuse keeps the helper exercised
  }
}
