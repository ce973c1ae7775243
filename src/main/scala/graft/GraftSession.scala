package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs on: `local[SPARK_GRAFT_CPUS]` (default 4)
  * with as many shuffle partitions as cores, UI off, UTC, and the window
  * top-k rewrite installed — so the probes explain and time the same plans
  * that Bench measures and Verify checks.
  */
object GraftSession {
  def apply(logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.plans.TopKRewrite.enable(spark)
    spark
  }
}
