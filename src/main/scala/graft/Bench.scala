package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Streaming data-plane throughput — the reference IS a stream processor
    * (its data plane is the per-message consume→enrich→push loop), so the
    * bench needs a streaming number alongside the batch totals or a perf
    * regression on the S1→P*→S7 path is invisible to the driver. Drives a
    * fixed row count through the REAL pipeline: GraftLog DSv2 source →
    * envelope guard + JSON enrichment → GraftLog DSv2 sink, paced into ~10
    * micro-batches (admission control), with bounds-marked segments so each
    * batch prunes to its own window instead of rescanning the log. Returns
    * (rowsDelivered, seconds); throws to the caller on any failure so it
    * lands in the errors list with a visible metric of 0.
    */
  private[graft] def streamPipelineBench(spark: SparkSession, sfDir: String): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val fmt = classOf[graft.sources.GraftLogProvider].getName
    val target = 100000
    val base = java.nio.file.Files.createTempDirectory("graft-bench-stream")
    try {
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    // publish the fixture through the sink itself: 10 range partitions →
    // 10 bounds-marked segments, so micro-batches prune instead of
    // re-reading the whole log every trigger
    Tables.events(spark, sfDir).limit(target)
      .select(
        to_json(struct(col("event_type"), col("user_id"), col("value"))).as("body"),
        col("event_id").cast("long").as("ordinal"),
        unix_millis(col("ts")).as("ts_ms"))
      .repartitionByRange(10, col("ordinal"))
      .write.format(fmt).option("path", src).mode("append").save()
    // measure what the fixture actually holds — a smaller-SF events table
    // caps the row count, and the delivered == rows check must compare
    // against reality, not the target
    val rows = spark.read.format(fmt).option("path", src).load().count()
    val t0 = System.nanoTime()
    val enriched = spark.readStream.format(fmt).option("path", src)
      .option("maxOrdinalsPerTrigger", math.max(1L, rows / 10).toString).load()
      .filter(graft.operators.Envelope.forwardable(col("body")))
      .select(
        graft.operators.Envelope.enrichJson(col("body"), col("ordinal"), col("ts_ms"))
          .as("body"),
        col("ordinal"), col("ts_ms"))
    val q = enriched.writeStream.format(fmt)
      .option("path", out).option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val delivered = spark.read.format(fmt).option("path", out).load().count()
    require(delivered == rows, s"stream pipeline delivered $delivered of $rows rows")
    (delivered, secs)
    } finally deleteTree(base)
  }

  /** Watermarked stream–stream join throughput (VERDICT r10 §next-6):
    * `correlateStreams` was spec-verified but invisible to the bench, so
    * its state/throughput cost was untracked per round. Publishes the
    * events fixture as two GraftLog logs — the right twin shifted +60 s
    * into the left's [ts, ts+5 min] correlation window, keyed by the
    * unique event id so every left row pairs exactly once (the
    * request→response shape) — then drives both through the REAL
    * watermarked interval join in ~10 paced micro-batches. The fixture's
    * event time is monotone in ordinal (corr ≈ 1.0, ~26 s median gap), so
    * the 10-minute watermark absorbs intra-batch jitter and evicts state
    * batch-over-batch — the bench exercises eviction, not an ever-growing
    * store. Returns (pairs delivered, seconds); delivered must equal the
    * log row count or the run fails loudly.
    */
  private[graft] def streamJoinBench(spark: SparkSession, sfDir: String): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val fmt = classOf[graft.sources.GraftLogProvider].getName
    val target = 100000
    val base = java.nio.file.Files.createTempDirectory("graft-bench-sjoin")
    try {
      val (srcL, srcR, ckpt) = (s"$base/l", s"$base/r", s"$base/ckpt")
      val ev = Tables.events(spark, sfDir).limit(target)
        .select(col("event_id").cast("string").as("body"),
          col("event_id").cast("long").as("ordinal"),
          unix_millis(col("ts")).as("ts_ms"))
        .repartitionByRange(10, col("ordinal"))
      ev.write.format(fmt).option("path", srcL).mode("append").save()
      ev.withColumn("ts_ms", col("ts_ms") + 60000L)
        .write.format(fmt).option("path", srcR).mode("append").save()
      val rows = spark.read.format(fmt).option("path", srcL).load().count()
      val per = math.max(1L, rows / 10).toString
      def side(path: String) = spark.readStream.format(fmt)
        .option("path", path).option("maxOrdinalsPerTrigger", per).load()
      val left = side(srcL).select(col("body").as("routing_key"),
        col("ordinal"), timestamp_millis(col("ts_ms")).as("ts"))
      val right = side(srcR).select(col("body").as("routing_key"),
        col("ordinal").as("r_ordinal"), timestamp_millis(col("ts_ms")).as("r_ts"))
      val joined = graft.streaming.StreamingAggs.correlateStreams(
        left, right, watermark = "10 minutes", within = "5 minutes")
      val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
      // State-partition sizing: AUTOSIZED from the estimated per-batch key
      // cardinality (r13 — stateJoinPartitions carries the r12 study's
      // heuristic and its full rationale; at this fixture, 100k unique
      // event-id keys over ~10 batches ⇒ ~10k keys/batch, which the
      // 2048-keys-per-partition target lands on the previously pinned 8 —
      // same measured band, now derived instead of hardcoded). The
      // partition count is fixed per checkpoint at the query's first
      // batch, so the session conf is set only around query start; it is
      // restored only AFTER the drain because the first micro-batch
      // captures the count asynchronously after start() returns.
      val estKeysPerBatch = math.max(1L, rows / 10)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.StreamingAggs
          .stateJoinPartitions(estKeysPerBatch, spark = spark).toString)
      val t0 = System.nanoTime()
      val q = joined.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          delivered.addAndGet(batch.count()); ()
        }
        .start()
      try q.processAllAvailable()
      finally {
        try q.stop()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      require(delivered.get() == rows,
        s"stream join delivered ${delivered.get()} of $rows pairs")
      (delivered.get(), secs)
    } finally deleteTree(base)
  }

  /** Bench fixtures are throwaway: two 100k-row logs plus a checkpoint per
    * run would otherwise accumulate in the system temp dir forever.
    */
  private def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE coalesce floor: Spark's own 1 MB default (r22). The r21 64k floor
    // lost ~4-7% overall in an interleaved same-window A/B
    // (plans/r22/aqe_floor_ab/), so the session leaves it unset.
    // Log level ERROR, not WARN: the driver tail-parses stdout for the JSON
    // line below, and WARN spam (WindowExec single-partition notes,
    // function re-registration) both bloats the captured tail and risks
    // interleaving with the metric line.
    val spark = GraftSession()
    // Warm the JVM/codegen/scan paths so per-query timings are not skewed
    // by one-time session setup landing on whichever query runs first
    // (d_dedup_cluster sorts first and was absorbing the documents-table
    // cold scan + file-index build).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q1_agg").foreach(f => f(spark, sfDir).count())
    // events.parquet carries INT64 TIMESTAMP(NANOS) which a bare
    // spark.read.parquet rejects (README gotcha); warm it through
    // Tables.events so the scan actually warms and no ERROR stack trace
    // lands in the driver's 2000-char stdout tail above the metric line.
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    Seq("documents", "embeddings", "customer", "orders", "part")
      .foreach(t => try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () })
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // non-fatal notes (e.g. a stream metric that succeeded on retry):
    // recorded in bench_full.json but NOT counted in "failed"
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 recordErr: Boolean): (Boolean, Double) = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          // raw text: escaped once, when bench_full.json is written
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(80)
          if (recordErr) errors += s"$name: $msg"
          false
      }
      (ok, (System.nanoTime() - t0) / 1e9)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (ok, secs) = timeOnce(name, fn, recordErr = true)
      // Failed queries get a NEGATED timing so they are unmistakable in both
      // bench_full.json and the metric line (a -1.23 can never be confused
      // with a passing elapsed time). Floor at 10ms so a failure faster
      // than the 2-decimal rendering (an immediate AnalysisException) can't
      // round to a passing-looking "0".
      name -> (if (ok) secs else -math.max(secs, 0.01))
    }.toMap
    // Streaming throughput, measured after the batch queries so the JVM and
    // scan paths are warm (the batch loop is the warmup). 0 rows/s = failed,
    // with the reason in the errors list. ONE retry per stream metric:
    // each run uses a fresh random tmp checkpoint dir, and a transient
    // state-store IO hiccup was observed once (r11: a left-keyWithIndex
    // file under the ckpt dir errored, the immediate same-code re-run was
    // clean) — a single retry keeps a one-off from costing the round's
    // artifact, while a REAL break still fails twice and reports.
    def measureStream(tag: String, run: () => (Long, Double)): Long = {
      def once(): Long = { val (n, secs) = run(); math.round(n / secs) }
      def msg(e: Throwable): String = Option(e.getMessage)
        .getOrElse(e.getClass.getSimpleName).take(80)
        .map(c => if (c < ' ') ' ' else c)
      // NonFatal only: an OOM/VM error must propagate, never be "retried"
      // into a passing-looking artifact; and the FIRST failure is recorded
      // even when the retry succeeds, so a deterministically ~50%-flaky
      // bug leaves a trace in the errors list (ADVICE r11)
      try once()
      catch {
        case scala.util.control.NonFatal(first) =>
          try {
            val v = once()
            warnings += s"$tag: retried after: ${msg(first)}"
            v
          } catch {
            case scala.util.control.NonFatal(e) =>
              errors += (tag + ": " + msg(e))
              0L
          }
      }
    }
    val streamRps: Long =
      measureStream("stream_pipeline", () => streamPipelineBench(spark, sfDir))
    // Stream–stream join throughput (pairs/sec through the watermarked
    // interval join); 0 = failed twice, reason in errors.
    val streamJoinRps: Long =
      measureStream("stream_join", () => streamJoinBench(spark, sfDir))
    // Steady-state map (r22, VERDICT r21 #6): 5-run medians for the 10
    // most expensive cold queries, recorded in bench_full.json ONLY —
    // never the metric line — so plan-cost adjudications are reproducible
    // from a committed artifact instead of probe-session prose (this host
    // spikes 2–6× on single shots; the cold map stays the official
    // number, the steady map is the plan-quality signal). Runs AFTER both
    // stream benches so no official metric sees its cache side effects.
    val steady: Map[String, Double] = results.toSeq
      .filter(_._2 > 0).sortBy(-_._2).take(10).map { case (name, _) =>
        val fn = SparkEntry.queries(name)
        val ts = (1 to 5).map(_ => timeOnce(name, fn, recordErr = false)._2)
        name -> ts.sorted.apply(ts.size / 2)
      }.toMap
    // The driver tail-captures ~2000 chars of the run log, so the printed
    // line must stay well under that (round 1's full-precision line got
    // truncated and the bench metric was lost). The line carries the
    // all-query total plus the slowest 45 per-query timings (>80% of
    // runtime); the complete map goes to target/bench_full.json.
    def fmt(v: Double): String = {
      val s = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .underlying().stripTrailingZeros().toPlainString
      if (s.isEmpty || s == "0E-2") "0" else s
    }
    def render(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(math.abs).sum else 0.0
    val slowest = results.toSeq.sortBy(r => -math.abs(r._2)).take(45).sortBy(_._1)
    val omitted = results.size - slowest.size
    // exception messages routinely carry quotes ('... "path" ...') and
    // backslashes — embed them escaped or the artifact stops parsing
    val errJson = errors.take(10).map(Json.quote).mkString("[", ",", "]")
    val warnJson = warnings.take(10).map(Json.quote).mkString("[", ",", "]")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_full.json"),
      s"""{"total":${fmt(total)},"failed":${errors.size},"stream_rows_per_sec":$streamRps,"stream_join_rows_per_sec":$streamJoinRps,"errors":$errJson,"warnings":$warnJson,"steady":${render(steady.toSeq.sortBy(_._1))},"queries":${render(results.toSeq.sortBy(_._1))}}""")
    catch { case _: Throwable => () }
    // Stop Spark BEFORE printing so no executor/shutdown logging can land
    // after the metric line — it must be the final line of stdout for the
    // driver's parse.
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"failed":${errors.size},"stream_rows_per_sec":$streamRps,"stream_join_rows_per_sec":$streamJoinRps,"queries":${render(slowest)},"omitted_fastest":$omitted,"sf":${Json.quote(sfDir)}}""")
    System.out.flush()
  }
}
