package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** Dev tool (PlanProbe's timing twin): run registered queries N times at
  * bench settings to separate cold-scan cost from steady-state cost —
  * bench totals at sf0.1 local[32] are machine-noise dominated, so
  * regressions should be confirmed here in isolation before chasing them.
  * After the timings it prints each query's LAST run stage by stage (wall
  * duration, summed executor run time, task count, shuffle bytes), so
  * "where do the seconds go" has a measured answer instead of a guess.
  * Usage: runMain graft.QueryProbe <sfDir> <query[,query...]> [runs]
  */
object QueryProbe {
  /** Local property naming the query whose stages are recorded. */
  private val Tag = "graft.queryprobe"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    // comma-separated names probe a batch in ONE session (r21): per-JVM
    // spin-up dwarfs a sub-2 s query, so steady-stating the top-N one
    // JVM at a time was mostly measuring sbt+session start
    val names = (if (args.length > 1) args(1) else "q1_agg").split(',').toSeq
    val runs = if (args.length > 2) args(2).toInt else 3
    val owner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        Option(s.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(owner.put(s.stageInfo.stageId, _))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        Option(owner.get(si.stageId)).foreach { name =>
          val tm = si.taskMetrics
          val dur = (for {s <- si.submissionTime; c <- si.completionTime}
            yield (c - s) / 1000.0).getOrElse(-1.0)
          stages.add(name -> (f"stage ${si.stageId}%4d dur=$dur%6.2fs exec=${tm.executorRunTime / 1000.0}%7.2fs " +
            f"tasks=${si.numTasks}%4d shufR=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"shufW=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  ${si.name.takeWhile(_ != '\n').take(80)}"))
        }
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (name <- names) {
      val ts = (1 to runs).map { i =>
        if (i == runs) spark.sparkContext.setLocalProperty(Tag, name)
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, d).count()
        finally spark.sparkContext.setLocalProperty(Tag, null)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$name run $i: $s%.2f s")
        s
      }
      println(f"$name steady: min=${ts.min}%.2f median=${ts.sorted.apply(ts.size / 2)}%.2f")
    }
    // stop first: it drains the listener bus, so every stage is recorded
    spark.stop()
    for (name <- names) {
      println(s"$name stages (run $runs):")
      stages.forEach(r => if (r._1 == name) println(r._2))
    }
  }
}
