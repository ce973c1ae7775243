package graft.perfbench

import graft.perfbench.Common._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{CompletableFuture, CompletionStage, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The load generator: a process of its own, apart from the JVM that runs
  * Spark and the service shell. It is the only producer of the service's
  * GraftLog directories and its only client, over loopback HTTP and
  * WebSocket (JDK `java.net.http`): at most 4 worker threads and at most 4
  * open WebSocket connections outside the short set-up rounds.
  *
  * Runs, in order: the set-up rounds, the `live_tail` ladder and the
  * `replay_catchup` loop; then checks every frame against its own oracle
  * and writes `gen.json` for run.py.
  *
  * Usage: Gen <config.json>
  */
object Gen {

  /** One received text frame; its ordinal is read once, when first asked. */
  final case class Frame(recvNs: Long, recvMs: Long, text: String) {
    lazy val ord: Long = frameOrdinal(text)
  }

  /** A WebSocket client: records every frame with its receipt time. */
  final class Client(http: HttpClient, uri: String) {
    val frames = new ConcurrentLinkedQueue[Frame]()
    val count = new AtomicLong(0)
    val firstFrameNs = new AtomicLong(-1)
    val closed = new CompletableFuture[Integer]()
    val startNs: Long = System.nanoTime()
    @volatile var waitCount: Long = Long.MaxValue
    val reached = new CompletableFuture[java.lang.Boolean]()
    private val partial = new java.lang.StringBuilder
    val ws: WebSocket = http.newWebSocketBuilder().buildAsync(URI.create(uri),
      new WebSocket.Listener {
        override def onText(w: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
          partial.append(data)
          if (last) {
            val text = partial.toString; partial.setLength(0)
            val ns = System.nanoTime()
            firstFrameNs.compareAndSet(-1, ns)
            frames.add(Frame(ns, System.currentTimeMillis(), text))
            if (count.incrementAndGet() >= waitCount) reached.complete(true)
          }
          w.request(1); null
        }
        override def onClose(w: WebSocket, code: Int, reason: String): CompletionStage[_] = {
          closed.complete(code); null
        }
        override def onError(w: WebSocket, error: Throwable): Unit = { closed.complete(-1); () }
      }).get(30, TimeUnit.SECONDS)

    def close(): Int = {
      try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").get(5, TimeUnit.SECONDS)
      catch { case _: Exception => () }
      try closed.get(5, TimeUnit.SECONDS).intValue() catch { case _: Exception => -2 }
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = config(args(0))
    val code = try { new Gen(cfg).run(); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    Files.write(cfg.runDir.resolve("gen.done"), Array.emptyByteArray)
    System.exit(code)
  }
}

final class Gen(cfg: Config) {
  import Gen._

  private val pool = loadPool(cfg.str("messages"))
  private val rnd = new scala.util.Random(cfg.int("seed"))
  private val http = HttpClient.newBuilder().executor(
    java.util.concurrent.Executors.newFixedThreadPool(2)).build()
  private val spans = new SpanLog(cfg.trace)
  private val report = obj()
  // failures are (kind -> count); attempted counts the frames and legs checked
  private val failures = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val attempted = new AtomicLong(0)
  private val badCloses = new AtomicInteger(0)
  private val framesTotal = new AtomicLong(0)
  private def fail(kind: String, n: Long = 1): Unit = if (n > 0) failures.synchronized {
    failures.put(kind, failures.getOrElse(kind, 0L) + n)
  }

  private var httpBase: String = _

  /** Per-key log state: the pool index of every ordinal written, its due
    * time, and the next segment sequence number.
    */
  final class KeyLog(val key: String) {
    val dir: String = cfg.logDir(key)
    val poolIdx = new ArrayBuffer[Int]
    val dueNs = new ArrayBuffer[Long]
    val tsMs = new ArrayBuffer[Long]
    val step = new ArrayBuffer[Int]
    var seq = 0L
    Files.createDirectories(Paths.get(dir))
    def append(idx: Seq[Int], due: Long, ts: Long, stepNo: Int): Unit = {
      val first = poolIdx.size.toLong
      val rows = idx.zipWithIndex.map { case (pi, j) => (first + j, ts, pool(pi).body) }
      idx.foreach { pi => poolIdx += pi; dueNs += due; tsMs += ts; step += stepNo }
      publishSegment(dir, seq, rows); seq += 1
    }
  }

  private def post(key: String): (Long, String, Double) = {
    val t0 = System.nanoTime()
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"$httpBase/event-stream/"))
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"routing_key": "$key"}"""))
      .build(), HttpResponse.BodyHandlers.ofString())
    val ms = (System.nanoTime() - t0) / 1e6
    require(resp.statusCode() == 201, s"create $key: ${resp.statusCode()}")
    val n = mapper.readTree(resp.body)
    (n.get("id").asLong(), n.get("location").asText(), ms)
  }

  private def delete(id: Long): Unit = {
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"$httpBase/event-stream/$id"))
      .DELETE().build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 204, s"delete $id: ${resp.statusCode()}")
  }

  private def expectClose(c: Client, allowed: Set[Int]): Unit = {
    val code = try c.closed.get(10, TimeUnit.SECONDS).intValue() catch { case _: Exception => -2 }
    if (!allowed(code)) { badCloses.incrementAndGet(); fail("bad_close") }
  }

  private val nextPool = new AtomicInteger(0)
  private def drawPool(n: Int): Seq[Int] =
    (0 until n).map(_ => math.floorMod(nextPool.getAndIncrement(), pool.size))
  private def drawForwardable(): Int = Iterator.continually(drawPool(1).head)
    .find(pool(_).forwardable).get

  def run(): Unit = {
    awaitFile(cfg.runDir.resolve("server.json"), cfg.int("server_wait_s") * 1000L, "the server")
    val ports = readJson(cfg.runDir.resolve("server.json"))
    httpBase = s"http://127.0.0.1:${ports.get("http_port").asInt()}"
    nextPool.set(rnd.nextInt(pool.size))
    val legs = report.putObject("leg_secs")
    def leg[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body; legs.put(name, (System.nanoTime() - t0) / 1e9); r
    }
    val (live, replay) = leg("setup")(setup())
    leg("live")(liveTail(live))
    leg("replay")(replayCatchup(replay))
    report.put("attempted", attempted.get()).put("bad_closes", badCloses.get())
      .put("frames", framesTotal.get())
    val f = report.putObject("failures")
    failures.foreach { case (k, v) => f.put(k, v) }
    if (cfg.trace) spans.dump(cfg.runDir.resolve("gen_spans.json"))
    writeJson(cfg.runDir.resolve("gen.json"), report)
  }

  // ------------------------------------------------------------------ setup

  final case class LiveKey(log: KeyLog, id: Long, client: Client)
  final case class ReplayKey(log: KeyLog, id: Long, location: String)

  /** Set-up, repeated `setup_rounds` times (the median round is `setup_s`):
    * write the replay logs, create the live and replay streams over REST,
    * connect one NEXT consumer per live key and publish warm-up messages
    * until each has received a frame. Every round but the last is torn
    * down again with DELETE (close 1000 expected).
    */
  private def setup(): (Seq[LiveKey], Seq[ReplayKey]) = {
    val rounds = cfg.int("setup_rounds")
    val nLive = cfg.dbls("live_shares").size
    val roundSecs, createMs, admitMs = new ArrayBuffer[Double]
    var result: (Seq[LiveKey], Seq[ReplayKey]) = null
    for (r <- 0 until rounds) {
      val t0 = System.nanoTime()
      val replay = (0 until cfg.int("replay_consumers")).map { i =>
        val log = new KeyLog(s"replay_r${r}_$i")
        writeReplayLog(log)
        val (id, loc, ms) = post(log.key); createMs += ms
        ReplayKey(log, id, loc)
      }
      val live = (0 until nLive).map { i =>
        val log = new KeyLog(s"live_r${r}_$i")
        val (id, loc, ms) = post(log.key); createMs += ms
        LiveKey(log, id, new Client(http, loc))
      }
      // NEXT starts at the log head when the query starts, which the client
      // cannot observe: keep publishing one warm-up message per key until
      // the first frame arrives
      while (live.exists(_.client.count.get() == 0)) {
        if (System.nanoTime() - t0 > 60e9.toLong)
          throw new IllegalStateException("consumers never warmed up")
        live.filter(_.client.count.get() == 0).foreach { k =>
          k.log.append(Seq(drawForwardable()), System.nanoTime(), System.currentTimeMillis(), -1)
        }
        Thread.sleep(50)
      }
      val t1 = System.nanoTime()
      roundSecs += (t1 - t0) / 1e9
      live.foreach(k => admitMs += (k.client.firstFrameNs.get() - k.client.startNs) / 1e6)
      spans.add(Span("setup.round", nowMs - (t1 - t0) / 1e6, nowMs, "run", s"round$r"))
      if (r < rounds - 1) {
        live.foreach(k => delete(k.id))
        (live.map(_.client)).foreach(expectClose(_, Set(1000)))
        replay.foreach(k => delete(k.id))
      } else result = (live, replay)
    }
    val s = report.putObject("setup")
    arr(s, "round_secs", roundSecs.toSeq); arr(s, "create_ms", createMs.toSeq)
    arr(s, "admit_ms", admitMs.toSeq)
    result
  }

  private def arr(o: com.fasterxml.jackson.databind.node.ObjectNode, k: String, xs: Seq[Double]): Unit = {
    val a = o.putArray(k); xs.foreach(a.add(_))
  }

  /** A replay log: `replay_records` records in bounds-marked segments,
    * broker timestamps one second apart from a fixed epoch.
    */
  private def writeReplayLog(log: KeyLog): Unit = {
    val n = cfg.int("replay_records"); val seg = cfg.int("replay_segment")
    val base = cfg.node.get("replay_epoch_ms").asLong()
    for (start <- 0 until n by seg) {
      val idx = drawPool(math.min(seg, n - start))
      val first = log.poolIdx.size
      val rows = idx.zipWithIndex.map { case (pi, j) =>
        (first + j.toLong, base + (first + j) * 1000L, pool(pi).body) }
      idx.zipWithIndex.foreach { case (pi, j) =>
        log.poolIdx += pi; log.dueNs += 0L; log.tsMs += base + (first + j) * 1000L; log.step += -1 }
      publishSegment(log.dir, log.seq, rows); log.seq += 1
    }
  }

  // -------------------------------------------------------------- live_tail

  /** Open-loop ladder: every `tick_ms` one segment per key is published,
    * carrying the key's share of the step's aggregate rate; each step
    * lasts its `live_step_shares` share of `live_secs`. A message's due
    * time is its tick's scheduled instant, so a publisher or service stall
    * is charged to every message it delays.
    */
  private def liveTail(live: Seq[LiveKey]): Unit = {
    val shares = cfg.dbls("live_shares")
    val ladder = cfg.dbls("live_ladder")
    val tickMs = cfg.int("tick_ms")
    // each step lasts its share of the live leg's time
    val stepTicks = cfg.dbls("live_step_shares").map(f =>
      math.max(1, (cfg.dbl("live_secs") * 1000 * f / tickMs).toInt))
    val gapTicks = math.max(1, 300 / tickMs)
    val acc = Array.fill(live.size)(0.0)
    val lateMs = new ArrayBuffer[Double]
    System.gc() // start the ladder with an empty young generation (see run.py)
    val t0 = System.nanoTime() + 50000000L
    var tick = 0L
    val stepStartNs = new ArrayBuffer[Long]
    for ((rate, s) <- ladder.zipWithIndex) {
      stepStartNs += t0 + tick * tickMs * 1000000L
      for (_ <- 0 until stepTicks(s)) {
        val due = t0 + tick * tickMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val wall = System.currentTimeMillis()
        live.zipWithIndex.foreach { case (k, i) =>
          acc(i) += rate * shares(i) * tickMs / 1000.0
          val n = acc(i).toInt
          acc(i) -= n
          if (n > 0) k.log.append(drawPool(n), due, wall, s)
        }
        lateMs += (System.nanoTime() - due) / 1e6
        tick += 1
      }
      tick += gapTicks
    }
    val tPub = System.nanoTime()
    // drain: wait until every forwardable ladder message is in, or a
    // deadline. Warm-up messages published before a consumer's NEXT start
    // are never delivered, so the frame count is only a lower bound; the
    // ordinals are checked once it is reached.
    val deadline = tPub + cfg.dbl("drain_secs").toLong * 1000000000L
    val want = live.map(k => k.log.poolIdx.indices.filter(o =>
      k.log.step(o) >= 0 && pool(k.log.poolIdx(o)).forwardable).map(_.toLong))
    def drained: Boolean = live.zip(want).forall { case (k, w) =>
      k.client.count.get() >= w.size && {
        val got = k.client.frames.asScala.iterator.map(_.ord).toSet
        w.forall(got)
      }
    }
    while (System.nanoTime() < deadline && !drained) Thread.sleep(50)
    val tDrain = System.nanoTime()
    live.foreach(k => delete(k.id))
    live.foreach(k => expectClose(k.client, Set(1000)))
    val tDown = System.nanoTime()

    // ---- evaluate: per step latency, backlog and the frame oracle ----
    val lat = Array.fill(ladder.size)(new ArrayBuffer[Double])
    val stepMsgs, stepMissing = Array.fill(ladder.size)(0L)
    val msgDump = new java.lang.StringBuilder
    // one checking thread per key (the consumers are closed by now)
    val checker = java.util.concurrent.Executors.newFixedThreadPool(live.size)
    val recvByKey = try {
      live.map(k => checker.submit(() =>
        checkFrames(k.log, k.client.frames.asScala.toSeq, fromOrdinal = 0L))).map(_.get())
    } finally checker.shutdown()
    live.zip(recvByKey).foreach { case (k, recv) =>
      framesTotal.addAndGet(k.client.count.get())
      k.log.poolIdx.indices.foreach { o =>
        val s = k.log.step(o)
        if (s >= 0 && pool(k.log.poolIdx(o)).forwardable) {
          stepMsgs(s) += 1; attempted.incrementAndGet()
          recv.get(o.toLong) match {
            case Some(f) =>
              lat(s) += (f.recvNs - k.log.dueNs(o)) / 1e6
              if (cfg.trace) msgDump.append(s"${k.log.key}\t$o\t${k.log.tsMs(o)}\t${f.recvMs}\t$s\n")
            case None =>
              stepMissing(s) += 1; fail("live_missing")
          }
        }
      }
    }
    if (cfg.trace) Files.writeString(cfg.runDir.resolve("gen_msgs.tsv"), msgDump.toString)
    val l = report.putObject("live")
    val steps = l.putArray("steps")
    ladder.zipWithIndex.foreach { case (rate, s) =>
      val xs = lat(s).toSeq
      val stepEnd = stepStartNs(s) + stepTicks(s).toLong * tickMs * 1000000L
      // backlog at the step's end: messages due by then but not yet received
      val backlog = live.zip(recvByKey).map { case (k, recv) =>
        k.log.poolIdx.indices.count(o => k.log.step(o) == s &&
          pool(k.log.poolIdx(o)).forwardable && !recv.get(o.toLong).exists(_.recvNs <= stepEnd))
      }.sum
      // a missing frame counts as one over the latency limit
      val p99Limit = pct(xs ++ Seq.fill(stepMissing(s).toInt)(Double.PositiveInfinity), 99)
      val sustained = xs.nonEmpty && p99Limit <= cfg.dbl("p99_limit_ms") &&
        backlog <= rate * cfg.dbl("p99_limit_ms") / 1000.0
      // p50/p99 of the frames received (0 when none was): always finite
      steps.addObject().put("rate", rate).put("msgs", stepMsgs(s))
        .put("missing", stepMissing(s))
        .put("p50_ms", if (xs.isEmpty) 0.0 else pct(xs, 50))
        .put("p99_ms", if (xs.isEmpty) 0.0 else pct(xs, 99))
        .put("backlog_end", backlog).put("sustained", sustained)
    }
    live.foreach(_.client.frames.clear()) // checked: let the collector have them
    arr(l, "late_ms", Seq(pct(lateMs.toSeq, 50), pct(lateMs.toSeq, 99)))
    arr(l, "step_ticks", stepTicks.map(_.toDouble))
    l.put("drain_s", (tDrain - tPub) / 1e9)
      .put("teardown_s", (tDown - tDrain) / 1e9).put("eval_s", (System.nanoTime() - tDown) / 1e9)
  }

  /** The frame oracle for one key: strictly increasing ordinals, each
    * forwardable message at most once with its exact expected payload,
    * no non-forwardable (A3) message delivered. Returns the frames by
    * ordinal. Missing messages are counted by the caller.
    */
  private def checkFrames(log: KeyLog, frames: Seq[Frame], fromOrdinal: Long): Map[Long, Frame] = {
    var last = Long.MinValue
    val byOrd = scala.collection.mutable.HashMap.empty[Long, Frame]
    frames.foreach { f =>
      val o = f.ord
      if (o < 0 || o >= log.poolIdx.size) fail("unknown_frame")
      else {
        val m = pool(log.poolIdx(o.toInt))
        if (o <= last) fail(if (byOrd.contains(o)) "duplicate" else "out_of_order")
        else if (!m.forwardable) fail("a3_delivered")
        else if (o < fromOrdinal) fail("below_seek")
        else if (!frameMatches(m, o, log.tsMs(o.toInt), f.text)) fail("wrong_payload")
        byOrd.getOrElseUpdate(o, f)
        last = math.max(last, o)
      }
    }
    byOrd.toMap
  }

  // --------------------------------------------------------- replay_catchup

  private val isoT = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
  private val isoSpace = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Closed loop: each consumer connects with a seeded seek, drains to the
    * last record, disconnects and starts its next round, until the leg's
    * time is up (a started round always completes).
    */
  private def replayCatchup(keys: Seq[ReplayKey]): Unit = {
    val legNs = (cfg.dbl("replay_secs") * 1e9).toLong
    val firstMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val rounds = new AtomicLong(0)
    val frames = new AtomicLong(0)
    val seeds = keys.map(_ => rnd.nextLong())
    // (key, seek ordinal, expected ordinals, frames) per round, checked after the leg
    val done = new ConcurrentLinkedQueue[(ReplayKey, Long, Seq[Int], Seq[Frame])]()
    System.gc()
    val t0 = System.nanoTime()
    val threads = keys.zip(seeds).map { case (k, seed) => new Thread(() => {
      val r = new scala.util.Random(seed)
      val n = k.log.poolIdx.size
      // seek points follow a seeded low-discrepancy sequence, so every run
      // drains a similar share of the log whatever the seed
      val u0 = r.nextDouble()
      var round = 0
      while (System.nanoTime() - t0 < legNs) {
        val target = (((u0 + round * 0.6180339887) % 1.0) * n).toInt
        val ts = k.log.tsMs(target)
        val (query, from) = (round % 3) match {
          case 0 => val o = if (round % 6 == 0) 0 else target
            (s"stream_from_ordinal=$o", o.toLong)
          case 1 => (s"stream_from_timestamp=$ts", target.toLong)
          case _ =>
            val fmt = if (r.nextBoolean()) isoT else isoSpace
            (s"stream_from_datetime=${java.net.URLEncoder.encode(
              fmt.format(Instant.ofEpochMilli(ts)), "UTF-8")}", target.toLong)
        }
        val expect = (from.toInt until n).filter(o => pool(k.log.poolIdx(o)).forwardable)
        val startMs = nowMs
        val c = new Client(http, s"${k.location}?$query")
        c.waitCount = expect.size
        if (c.count.get() < expect.size) {
          try c.reached.get(cfg.dbl("drain_secs").toLong, TimeUnit.SECONDS)
          catch { case _: Exception => fail("short_replay") }
        }
        val code = c.close()
        if (code != 1000) { badCloses.incrementAndGet(); fail("bad_close") }
        if (c.firstFrameNs.get() > 0) firstMs.add((c.firstFrameNs.get() - c.startNs) / 1e6)
        done.add((k, from, expect, c.frames.asScala.toSeq))
        frames.addAndGet(c.count.get())
        spans.add(Span("replay.round", startMs, nowMs, "replay", s"${k.log.key}:$from"))
        rounds.incrementAndGet(); round += 1
      }
    }, s"replay-${k.log.key}") }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    keys.foreach(k => delete(k.id))
    done.asScala.foreach { case (k, from, expect, got) =>
      val recv = checkFrames(k.log, got, from)
      attempted.addAndGet(expect.size)
      fail("missing", expect.count(o => !recv.contains(o.toLong)))
      framesTotal.addAndGet(got.size)
    }
    val rp = report.putObject("replay")
    arr(rp, "first_frame_ms", firstMs.asScala.map(_.doubleValue()).toSeq)
    rp.put("frames", frames.get()).put("secs", wall).put("rounds", rounds.get())
  }
}
