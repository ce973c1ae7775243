package graft.perfbench

import graft.perfbench.Common._
import graft.operators.Replay
import graft.sources.{GraftLog, GraftLogProvider}
import graft.streaming.{EventStreamPipeline, EventStreamRegistry, ServiceShell, StreamCoordinator, StreamingAggs}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, timestamp_millis, when}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The system under test, in one JVM: Spark `local[N]`, the real
  * `ServiceShell` over loopback (with `EventStreamRegistry` and
  * `StreamCoordinator`, fed by `Replay.logStream` over the generator's
  * GraftLog directories), then the `log_pipeline` leg
  * (`EventStreamPipeline.enrich` between a GraftLog source and sink, and
  * the `StreamingAggs.correlateStreams` join) and the `batch_suite` leg
  * (`SparkEntry.queries`).
  *
  * In a traced run (`"trace": true`) it also registers a
  * `StreamingQueryListener` and a `SparkListener` and records spans; an
  * untraced run registers neither.
  *
  * Usage: Server <config.json>
  */
object Server {
  def main(args: Array[String]): Unit = {
    val cfg = config(args(0))
    val code = try { new Server(cfg).run(); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  /** Canonical text of a result value; doubles keep 6 significant digits
    * so a float sum's last-bit order effects do not change the print.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonD(d)
    case f: Float => canonD(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros().toPlainString
    case other => other.toString
  }

  private def canonD(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else BigDecimal(d).round(new java.math.MathContext(6)).bigDecimal
      .stripTrailingZeros().toPlainString

  /** Order-independent fingerprint of a result: row count + SHA-256 of the
    * sorted canonical rows.
    */
  def fingerprint(df: DataFrame): String = {
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString.take(32)
  }
}

final class Server(cfg: Config) {
  import Server._

  private val fmt = classOf[GraftLogProvider].getName
  private val report = obj()
  private val spans = new SpanLog(cfg.trace)
  private var attempted = 0L
  private val failures = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private def fail(kind: String, n: Long = 1): Unit =
    if (n > 0) failures(kind) = failures.getOrElse(kind, 0L) + n

  private val cpus = cfg.int("cpus")
  // the same session settings as graft.Bench
  private val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", cfg.runDir.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", cfg.runDir.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  graft.plans.TopKRewrite.enable(spark)

  private val batches = new Listeners.Batches
  private val tasks = new Listeners.Tasks
  if (cfg.trace) {
    spark.streams.addListener(batches)
    spark.sparkContext.addSparkListener(tasks)
  }

  private val legSecs = report.putObject("leg_secs")
  /** Runs a leg, then takes the JVM's live memory after a full GC: heap
    * in use plus non-heap in use. Its peak over the legs is
    * `mem_peak_mb`; unlike peak RSS it does not follow G1's heap sizing,
    * which made RSS land in two modes run to run.
    */
  private var peakLiveBytes = 0L
  private def leg(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body; legSecs.put(name, (System.nanoTime() - t0) / 1e9)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    peakLiveBytes = math.max(peakLiveBytes,
      mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed)
  }

  /** The batch suite runs first: its warm-up pass also warms the JVM for
    * the streaming legs that follow. The service legs run last, while the
    * generator (started alongside this process) drives them.
    */
  def run(): Unit = {
    leg("suite")(suiteLeg())
    leg("pipeline")(pipelineLeg())
    leg("join")(joinLeg())
    if (cfg.trace) leg("envelope")(envelopeProbe())
    // every leg ends with a full GC (see `leg`), so the service legs start
    // from a collected heap and the batch legs' garbage does not land its
    // GC pauses in the latency figures
    leg("service")(serviceLegs())
    report.put("mem_peak_mb", peakLiveBytes / 1048576.0).put("rss_peak_mb", peakRssMb())
    report.put("attempted", attempted)
    val f = report.putObject("failures")
    failures.foreach { case (k, v) => f.put(k, v) }
    if (cfg.trace) {
      Thread.sleep(300) // let the listener bus deliver the last events
      writeJson(cfg.runDir.resolve("server_batches.json"), batches.dump())
      spans.dump(cfg.runDir.resolve("server_spans.json"))
    }
    writeJson(cfg.runDir.resolve("server_result.json"), report)
    spark.stop()
  }

  // -------------------------------------------------- live_tail + replay

  /** Serve the shell until the generator is done. `live_*` keys read their
    * log from the head (NEXT); `replay_*` keys read it from ordinal 0 and
    * the handshake's seek is applied in the plan, as the shell does today.
    */
  private def serviceLegs(): Unit = {
    val registry = new EventStreamRegistry
    val coordinator = new StreamCoordinator
    val shell = new ServiceShell(spark, registry, coordinator, key =>
      if (key.startsWith("live_")) Replay.logStream(spark, cfg.logDir(key), Replay.Next)
      else Replay.logStream(spark, cfg.logDir(key), Replay.FromOrdinal(0)))
    shell.start()
    val opened0 = GraftLog.filesOpened.get()
    try {
      writeJson(cfg.runDir.resolve("server.json"),
        obj().put("http_port", shell.httpPort).put("ws_port", shell.wsPort))
      awaitFile(cfg.runDir.resolve("gen.done"), cfg.int("service_timeout_s") * 1000L, "the generator")
      val s = report.putObject("service")
      s.put("files_opened", GraftLog.filesOpened.get() - opened0)
      if (cfg.trace) {
        // GraftLog probes at run end: one timed maxOrdinal per log
        val logs = listDir(cfg.runDir.resolve("logs"))
        val ms = logs.map { d =>
          val t0 = System.nanoTime(); GraftLog.maxOrdinal(d.toString)
          (System.nanoTime() - t0) / 1e6
        }
        s.put("max_ordinal_ms", median(ms))
        val segs = logs.filter(_.getFileName.toString.startsWith("live_"))
          .map(d => listDir(d).count(_.toString.endsWith(".log"))).filter(_ > 0)
        s.put("segments_per_key", segs.sum.toDouble / math.max(1, segs.size))
      }
    } finally shell.stop()
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
  }

  // ------------------------------------------------------- log_pipeline

  // run.py writes the pool while this process starts up
  private lazy val pool = {
    val p = Paths.get(cfg.str("messages"))
    awaitFile(p, 60000L, "the message pool")
    loadPool(p.toString)
  }

  private def poolRows(n: Int, offset: Int): Seq[(String, Long, Long)] = {
    val base = cfg.node.get("replay_epoch_ms").asLong()
    (0 until n).map(i => (pool((offset + i) % pool.size).body, i.toLong, base + i * 26000L))
  }

  /** Publish (body, ordinal, ts) rows as bounds-marked segments of
    * `perSegment` rows.
    */
  private def writeLog(dir: String, rows: Seq[(String, Long, Long)], perSegment: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    rows.grouped(math.max(1, perSegment)).zipWithIndex.foreach { case (g, i) =>
      publishSegment(dir, i, g.map { case (b, o, ts) => (o, ts, b) })
    }
  }

  /** Per-batch throughput of a finished streaming query, from its own
    * progress reports (no listener): `rows(batchId)` over the batch's
    * trigger time, for every batch with rows.
    */
  private def batchRates(q: org.apache.spark.sql.streaming.StreamingQuery,
                         rows: Long => Long): Seq[Double] =
    q.recentProgress.toSeq.flatMap { p =>
      val n = rows(p.batchId)
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue()).getOrElse(0.0)
      if (n > 0 && ms > 0) Some(n * 1000.0 / ms) else None
    }

  /** GraftLog source → `EventStreamPipeline.enrich` (forwardable rows) →
    * GraftLog sink, paced into micro-batches of a tenth of
    * `pipeline_rows`; every delivered row is checked against the frame
    * oracle. The first `pipeline_warmup_batches` batches are warm-up (the
    * query's start-up and the JIT's first compiles of this plan land in
    * them). `rows_per_s` is the median, over the batches after them (they
    * carry `pipeline_rows` rows), of input rows per second of trigger
    * time, so one slow batch (one hit by a host stall) does not move it.
    */
  private def pipelineLeg(): Unit = {
    import spark.implicits._
    val perBatch = math.max(1, cfg.int("pipeline_rows") / 10)
    val warmup = cfg.int("pipeline_warmup_batches")
    val n = cfg.int("pipeline_rows") + warmup * perBatch
    val offset = new scala.util.Random(cfg.int("seed") + 1).nextInt(pool.size)
    val rows = poolRows(n, offset)
    val dir = cfg.runDir.resolve("pipeline")
    val (src, out, ckpt) = (dir.resolve("src").toString, dir.resolve("out").toString,
      dir.resolve("ckpt").toString)
    writeLog(src, rows, perBatch)
    val t0 = System.nanoTime()
    val enriched = EventStreamPipeline.enrich(spark.readStream.format(fmt).option("path", src)
        .option("maxOrdinalsPerTrigger", perBatch.toString).load())
      .filter(col("forward"))
      .select(col("wire").as("body"), col("ordinal"), col("ts_ms"))
    val q = enriched.writeStream.format(fmt).queryName("perfbench-pipeline")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val inputRows = q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
    val rates = batchRates(q, b => if (b < warmup) 0L else inputRows.getOrElse(b, 0L))
    val got = spark.read.format(fmt).option("path", out).load()
      .select("body", "ordinal").as[(String, Long)].collect()
    val expect = rows.indices.filter(i => pool((offset + i) % pool.size).forwardable).toSet
    attempted += expect.size
    val seen = scala.collection.mutable.HashSet.empty[Long]
    got.foreach { case (body, o) =>
      if (!seen.add(o)) fail("pipeline_duplicate")
      else if (!expect(o.toInt)) fail("pipeline_a3_delivered")
      else if (!frameMatches(pool((offset + o.toInt) % pool.size), o, rows(o.toInt)._3, body))
        fail("pipeline_wrong_payload")
    }
    fail("pipeline_missing", expect.count(o => !seen(o.toLong)))
    val pl = report.putObject("pipeline").put("rows", got.length).put("secs", secs)
      .put("batches", rates.size).put("rows_per_s", median(rates))
    val perBatchRates = pl.putArray("batch_rows_per_s"); rates.foreach(perBatchRates.add(_))
  }

  /** The watermarked `correlateStreams` join over a +60 s shifted twin
    * log, keyed by a unique id so every left row pairs exactly once.
    * `pairs_per_s` is the median over the batches that emit pairs of
    * pairs per second of trigger time.
    */
  private def joinLeg(): Unit = {
    import spark.implicits._
    val n = cfg.int("join_rows")
    val dir = cfg.runDir.resolve("join")
    val (srcL, srcR, ckpt) = (dir.resolve("l").toString, dir.resolve("r").toString,
      dir.resolve("ckpt").toString)
    val base = cfg.node.get("replay_epoch_ms").asLong()
    val ev = (0 until n).map(i => (s"k$i", i.toLong, base + i * 26000L))
    writeLog(srcL, ev, n / 10)
    writeLog(srcR, ev.map { case (k, o, ts) => (k, o, ts + 60000L) }, n / 10)
    val per = math.max(1, n / cfg.int("join_batches")).toString
    def side(p: String) = spark.readStream.format(fmt).option("path", p)
      .option("maxOrdinalsPerTrigger", per).load()
    val left = side(srcL).select(col("body").as("routing_key"), col("ordinal"),
      timestamp_millis(col("ts_ms")).as("ts"))
    val right = side(srcR).select(col("body").as("routing_key"),
      col("ordinal").as("r_ordinal"), timestamp_millis(col("ts_ms")).as("r_ts"))
    val joined = StreamingAggs.correlateStreams(left, right,
      watermark = "10 minutes", within = "5 minutes")
    val pairs = new java.util.concurrent.atomic.AtomicLong(0)
    val wrong = new java.util.concurrent.atomic.AtomicLong(0)
    val pairsByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      StreamingAggs.stateJoinPartitions(n.toLong / cfg.int("join_batches"), spark = spark).toString)
    val t0 = System.nanoTime()
    val q = joined.writeStream.queryName("perfbench-join")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val r = b.agg(count(lit(1)), sum(when(col("ordinal") =!= col("r_ordinal"), 1L)
          .otherwise(0L))).head()
        pairs.addAndGet(r.getLong(0)); pairsByBatch.put(id, r.getLong(0))
        if (!r.isNullAt(1)) wrong.addAndGet(r.getLong(1)); ()
      }.start()
    try q.processAllAvailable()
    finally { try q.stop() finally spark.conf.set("spark.sql.shuffle.partitions", prevParts) }
    val secs = (System.nanoTime() - t0) / 1e9
    val rates = batchRates(q, b => pairsByBatch.getOrDefault(b, 0L))
    attempted += n
    fail("join_missing", math.max(0L, n - pairs.get()))
    fail("join_extra", math.max(0L, pairs.get() - n))
    fail("join_wrong_pair", wrong.get())
    report.putObject("join").put("pairs", pairs.get()).put("secs", secs)
      .put("batches", rates.size).put("pairs_per_s", median(rates))
  }

  /** `graft.operators.Envelope` alone: a timed `enrich` over a replay-log
    * sized fixture as a batch DataFrame (traced run only).
    */
  private def envelopeProbe(): Unit = {
    import spark.implicits._
    val n = cfg.int("replay_records") * cfg.int("replay_consumers")
    val df = poolRows(n, 0).toDF("body", "ordinal", "ts_ms").cache()
    df.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      EventStreamPipeline.enrich(df).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val secs = median((1 to 3).map(_ => once()))
    report.putObject("envelope").put("rows_per_s", df.count() / secs)
    df.unpersist()
  }

  // -------------------------------------------------------- batch_suite

  /** Warm-up pass: every query runs once and its collected result is
    * checked against the recorded fingerprint. Timed pass: one query at a
    * time, evaluated in full with a `noop` write (a `count()` would let
    * the optimizer prune unused projections). A query runs `suite_runs`
    * times in a row and its fastest run counts: host stalls only ever add
    * time, and the short queries, where one stall weighs most, run more
    * than once.
    */
  private def suiteLeg(): Unit = {
    val dir = cfg.str("suite_dir")
    val all = graft.SparkEntry.queries
    val runs = cfg.node.get("suite_runs")
    val names = runs.fieldNames().asScala.toSeq
    val fpPath = Paths.get(cfg.str("fingerprints"))
    val recorded = if (Files.exists(fpPath)) readJson(fpPath) else obj()
    val record = cfg.bool("record_fingerprints")
    val newFp = recorded.deepCopy[ObjectNode]()
    // warm the scan paths as graft.Bench does
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val checkMs = report.putObject("suite_check_ms")
    for (name <- names) {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val fp = fingerprint(all(name)(spark, dir))
        checkMs.put(name, (System.nanoTime() - t0) / 1e6)
        newFp.put(name, fp)
        val want = Option(recorded.get(name)).map(_.asText())
        if (!record && !want.contains(fp)) {
          fail("suite_mismatch"); System.err.println(s"suite: $name fingerprint $fp != $want")
        }
      } catch { case e: Exception =>
        fail("suite_error"); System.err.println(s"suite: $name failed: ${e.getMessage}")
      }
    }
    if (record) writeJson(fpPath, newFp)
    val ms = ArrayBuffer.empty[Double]
    val runMs = report.putObject("suite_run_ms")
    val layers = report.putObject("suite_layers")
    for (name <- names) {
      val n = runs.get(name).asInt()
      // (build, plan, exec) ms of each run; the listener counts jobs of
      // every run, so the traced counters are divided by n
      val times = (0 until n).map { r =>
        try {
          spark.sparkContext.setLocalProperty(Listeners.QueryProp, name)
          val t0 = System.nanoTime(); val w0 = nowMs
          val df = all(name)(spark, dir)
          val t1 = System.nanoTime()
          if (cfg.trace) df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          if (cfg.trace) {
            val w1 = w0 + (t1 - t0) / 1e6; val w2 = w0 + (t2 - t0) / 1e6; val w3 = w0 + (t3 - t0) / 1e6
            val rid = s"$name#$r"
            spans.add(Span("suite.query", w0, w3, "suite", rid))
            spans.add(Span("suite.build", w0, w1, "suite.query", rid))
            spans.add(Span("suite.plan", w1, w2, "suite.query", rid))
            spans.add(Span("suite.exec", w2, w3, "suite.query", rid))
          }
          Some(((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6))
        } catch { case e: Exception =>
          fail("suite_error"); System.err.println(s"suite: $name failed: ${e.getMessage}"); None
        } finally spark.sparkContext.setLocalProperty(Listeners.QueryProp, null)
      }
      val a = runMs.putArray(name); times.flatten.foreach { case (b, p, e) => a.add(b + p + e) }
      if (times.forall(_.isDefined)) {
        val (b, p, e) = times.flatten.minBy { case (b, p, e) => b + p + e }
        ms += b + p + e
        if (cfg.trace) layers.putObject(name).put("build_ms", b).put("plan_ms", p)
          .put("exec_ms", e).put("wall_ms", b + p + e).put("runs", n)
      }
    }
    if (cfg.trace) {
      Thread.sleep(300)
      tasks.byQuery.foreach { case (q, c) =>
        if (layers.has(q)) {
          val o = layers.get(q).asInstanceOf[ObjectNode]
          val n = o.get("runs").asDouble()
          o.put("jobs", c.jobs.get() / n).put("stages", c.stages.get() / n)
            .put("tasks", c.tasks.get() / n).put("exec_run_ms", c.runMs.get() / n)
            .put("exec_cpu_ms", c.cpuNs.get() / 1e6 / n)
            .put("shuffle_read_bytes", c.shuffleRead.get() / n)
            .put("shuffle_write_bytes", c.shuffleWrite.get() / n)
        }
      }
    }
    report.putObject("suite").put("total_s", ms.sum / 1000).put("query_p50_ms", median(ms.toSeq))
      .put("queries", ms.size).put("cpus", cpus)
  }

  private def listDir(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
