package graft
import org.apache.spark.sql.SparkSession

/** Dev tool (QueryProbe's plan twin): print `explain("formatted")` for
  * registered queries at bench-like settings. With query names as args it
  * explains exactly those; with none it runs the original demo set (star
  * join + seek pushdown) whose annotations the round-4 plan audit used.
  * Usage: runMain graft.PlanProbe [sfDir] [query ...]
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    // pre-cut builder subplans (r21): iterative operators Lineage.cut their
    // expensive build stage, so the registered query's plan starts at
    // `Scan ExistingRDD` and the builder is invisible — these names explain
    // the builder frame itself (the thing the cut materializes).
    val precut: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "dev:order_pairs" -> ((sp, dd) =>
        operators.GraphQueries.orderPairs(Tables.lineitem(sp, dd))),
      "dev:lloyd_step" -> ((sp, dd) => {
        plans.GraftFunctions.register(sp)
        import org.apache.spark.sql.functions.{col, size}
        import functions.VectorFunctions.{asDouble, l2Norm}
        val e = Tables.embeddings(sp, dd)
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
          .filter(size(col("v")) === 64)
          .withColumn("nrm", l2Norm(col("v")))
        operators.SimilarityQueries.refinedCentArr(e)
      }))
    if (names.nonEmpty) {
      names.foreach { n =>
        println(s"== $n ==")
        precut.getOrElse(n, SparkEntry.queries(n))(spark, d).explain("formatted")
      }
    } else {
      def time(name: String): Unit = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, d).count()
        println(f"TIMED $name ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
      SparkEntry.queries("q1_agg")(spark, d).count() // warmup
      time("d_minhash_lsh"); time("d_minhash_lsh")
      time("v_ann_lsh")
      time("t_rolling_fingerprint")
      println("== star join plan (expect 2x BroadcastHashJoin, PushedFilters) ==")
      SparkEntry.queries("q_star_join")(spark, d).explain("formatted")
      println("== seek pushdown ==")
      SparkEntry.queries("s_seek_ordinal")(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
