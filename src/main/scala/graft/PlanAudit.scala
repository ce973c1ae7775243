package graft

/** Dev tool (r21): one-line plan-shape summary for EVERY registered query —
  * join strategies, exchange count, cartesians — so a suite-wide audit is
  * one run instead of 202 PlanProbe invocations.
  * Usage: runMain graft.PlanAudit [sfDir]   (SPARK_GRAFT_CPUS=8 for the
  * committed plans/plan_audit_sf0.1.txt)
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    // AQE off: AdaptiveSparkPlanExec hides its tree from collect() and
    // sparkPlan predates EnsureRequirements (no exchanges yet), so the
    // wide-exchange audit needs the plain executed plan. Counts differ
    // from bench plans only by AQE's runtime rewrites.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val q = fn(spark, d).queryExecution
        val p = q.executedPlan.toString
        val qe = q.executedPlan
        def c(s: String) = s.r.findAllIn(p).size
        // r21: string/binary columns crossing a shuffle exchange — the
        // §2.3 "project before the exchange" audit. Keys are often
        // legitimately strings; the flag exists so a human can eyeball
        // which exchanges move documents/payloads instead of keys.
        val wide = qe.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.child.output.filter(a =>
              a.dataType == org.apache.spark.sql.types.StringType ||
              a.dataType == org.apache.spark.sql.types.BinaryType)
              .map(_.name)
        }.flatten.distinct.sorted
        val wideTag = if (wide.isEmpty) "" else s" wideExch=${wide.mkString(",")}"
        println(s"AUDIT $name scans=${c("Scan parquet")} exch=${c("Exchange")} smj=${c("SortMergeJoin")} " +
          s"bhj=${c("BroadcastHashJoin")} bnl=${c("BroadcastNestedLoopJoin")} " +
          s"cart=${c("CartesianProduct")} sort=${c("(?m)^\\s*[+:]?-? ?\\*?\\(?\\d*\\)? ?Sort ")} " +
          s"window=${c("Window")} rdd=${c("ExistingRDD")}$wideTag")
      } catch {
        case e: Throwable => println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
