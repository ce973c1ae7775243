package graft

import graft.plans.{TopK, TopKPerKey}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom TopKPerKey operator (LogicalPlan + Strategy + two-phase heap
  * SparkPlan) must agree exactly with the window formulation.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("native top-k per key matches the window formulation on real data") {
    val c = Tables.customer(spark, "/root/testdata/sf0.001")
    val native = TopK.perKey(c,
      keys = Seq("c_mktsegment"),
      order = Seq(TopK.Ord("c_acctbal", desc = true), TopK.Ord("c_custkey")), k = 3)
      .select($"c_mktsegment", $"rk", $"c_custkey", $"c_acctbal")
      .orderBy("c_mktsegment", "rk")
      .collect().map(_.toString).toSeq
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey")
    val windowedDf = c.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"c_mktsegment", $"rk", $"c_custkey", $"c_acctbal")
      .orderBy("c_mktsegment", "rk")
    // the reference must stay the window form, or this compares the heap
    // operator with itself
    assert(windowedDf.queryExecution.optimizedPlan.collect { case t: TopKPerKey => t }.isEmpty)
    val windowed = windowedDf.collect().map(_.toString).toSeq
    assert(native === windowed)
    assert(native.size === 15) // 5 segments x 3
  }

  test("native top-k: fewer rows than k, ties, and skewed partitioning") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 5.0), ("a", 4L, 20.0),
      ("b", 5L, 1.0)
    ).toDF("key", "id", "score").repartition(7) // scatter rows across partitions
    val got = TopK.perKey(df, Seq("key"),
      Seq(TopK.Ord("score", desc = true), TopK.Ord("id")), k = 2)
      .select($"key", $"rk", $"id").orderBy("key", "rk")
      .as[(String, Int, Long)].collect().toSeq
    // a: 20.0 (id 4) then the 10.0 tie broken by id asc (id 1); b: only row
    assert(got === Seq(("a", 1, 4L), ("a", 2, 1L), ("b", 1, 5L)))
  }

  test("native top-k plan contains the heap execs and an exchange between them") {
    val c = Tables.customer(spark, "/root/testdata/sf0.001")
    val df = TopK.perKey(c, Seq("c_mktsegment"), Seq(TopK.Ord("c_acctbal", desc = true)), k = 3)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial"), p.take(500))
    assert(p.contains("TopKPerKeyFinal"), p.take(500))
    assert(p.contains("Exchange hashpartitioning(c_mktsegment"), p.take(800))
  }

  test("global top-k (no keys) returns a single ranked top-k, not per-partition") {
    val df = (1 to 100).map(i => (i.toLong, (i * 37 % 100).toDouble))
      .toDF("id", "score").repartition(8)
    val got = TopK.perKey(df, keys = Seq.empty, Seq(TopK.Ord("score", desc = true), TopK.Ord("id")), k = 5)
      .select($"rk", $"id", $"score").orderBy("rk")
      .collect()
    assert(got.length === 5)
    assert(got.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 4, 5))
    // matches a plain global sort
    val expect = df.orderBy($"score".desc, $"id").limit(5).select($"id").as[Long].collect().toSeq
    assert(got.map(_.getLong(1)).toSeq === expect)
  }

  test("invalid k and empty order are rejected at call time") {
    val df = Seq(("a", 1L)).toDF("key", "id")
    intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq("key"), Seq(TopK.Ord("id")), k = 0)
    }
    intercept[IllegalArgumentException] {
      TopK.perKey(df, Seq("key"), Seq.empty, k = 2)
    }
  }
}
