package graft

/** Dev tool (VERDICT r19 #4): drive named registered queries at an
  * off-gate scale factor — the sf10-class 500k-doc corpus from
  * `dev/make_sf10.py` — timing each and printing every OBSERVED metric
  * (the bucket-cap overflow counters `minhash_bucket_overflow`,
  * `simhash_bucket_overflow`, `simhash_bucket_overflow_l2`), so the
  * cap/overflow behavior the code documents for >100k docs/shard is a
  * measured figure instead of a prediction. No oracle here (a 500k-doc
  * all-pairs DuckDB truth is days of compute); correctness at this scale
  * rides on the gate SFs + sf1 oracle sweep — this probe measures
  * throughput and the overflow counters.
  * Usage: runMain graft.ScaleProbe <dir> [query ...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("target/sf10")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("d_minhash_lsh", "d_simhash_pairs", "d_corpus_build")
    val spark = GraftSession()
    val nDocs = Tables.documents(spark, d).count()
    println(f"scaleprobe corpus: $nDocs%,d docs in $d")
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, d)
      // drive df's OWN QueryExecution — count() would wrap it in a fresh
      // aggregate plan whose execution never fills df's observe
      // accumulators (first probe run printed [null,null] for every
      // metric)
      val rows = df.queryExecution.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"scaleprobe $name: $rows%,d rows in $secs%.1f s = " +
        f"${nDocs / secs}%,.0f docs/s")
      df.queryExecution.observedMetrics.toSeq.sortBy(_._1).foreach {
        case (metric, row) => println(s"  observed $metric: $row")
      }
    }
    spark.stop()
  }
}
