package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra arguments
  * name the queries to dump (their oracle SQL only), so
  * `tools/oracle_check.py` can check a query under iteration without the
  * full sweep.
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
    def picked(name: String) = names.isEmpty || names(name)
    val spark = GraftSession(logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (picked(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // a tab or CR in builder-authored SQL must not make the driver's
    // json.load fail and silently zero the round's correctness
    val json = SparkEntry.oracleSql.filter(kv => picked(kv._1))
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
