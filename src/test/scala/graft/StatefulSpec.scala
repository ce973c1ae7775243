package graft

import graft.streaming.StreamingAggs
import graft.streaming.StreamingAggs.StreamStats
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** T4 — custom per-key state: the every-N stats counters as
  * flatMapGroupsWithState, state carried ACROSS micro-batches.
  */
class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("statsEveryN emits cumulative counters at each interval crossing, across batches") {
    val stream = MemoryStream[(String, Boolean)](spark)
    val out = StreamingAggs.statsEveryN(stream.toDS(), every = 3)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stats_out").start()
    try {
      // batch 1: 4 messages on rk-a (1 dropped), 2 on rk-b
      stream.addData(("rk-a", true), ("rk-a", false), ("rk-a", true),
        ("rk-a", true), ("rk-b", true), ("rk-b", true))
      q.processAllAvailable()
      // batch 2: state must carry over (rk-a at 4 → crosses 6; rk-b at 2 → crosses 3)
      stream.addData(("rk-a", true), ("rk-a", true), ("rk-b", false))
      q.processAllAvailable()
      val rows = spark.table("stats_out").as[StreamStats].collect()
        .sortBy(s => (s.routingKey, s.received))
      assert(rows.toSeq === Seq(
        StreamStats("rk-a", 3, 2),  // batch 1: third message, 2 forwarded
        StreamStats("rk-a", 6, 5),  // batch 2: counters carried across batches
        StreamStats("rk-b", 3, 2)))
    } finally q.stop()
  }

  test("funnelStages: stage transitions across batches; late early click demotes") {
    import graft.streaming.StreamingAggs.FunnelUpdate
    val stream = MemoryStream[(Long, String, Long)](spark)
    val out = StreamingAggs.funnelStages(stream.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_out").start()
    try {
      // batch 1: user 1 views at t=100 → stage 1
      stream.addData((1L, "view", 100L))
      q.processAllAvailable()
      // batch 2: click at 200 then purchase at 300 → straight to stage 3
      stream.addData((1L, "click", 200L), (1L, "purchase", 300L))
      q.processAllAvailable()
      // batch 3: a LATE click at t=50 (before the first view) lowers the
      // first-touch click below tv — the ordered progression breaks and
      // the user demotes to stage 1, exactly what the batch funnel over
      // all four events would say
      stream.addData((1L, "click", 50L))
      q.processAllAvailable()
      // batch 4: redelivery of an already-folded event — no minimum
      // moves, no emission (replay idempotence)
      stream.addData((1L, "click", 200L))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").as[FunnelUpdate].collect().toSeq
      assert(rows === Seq(
        FunnelUpdate(1L, 1), FunnelUpdate(1L, 3), FunnelUpdate(1L, 1)))
    } finally q.stop()
  }

  test("funnelStages: arrival order never changes the converged stage") {
    import graft.streaming.StreamingAggs.FunnelUpdate
    // same four events in two different arrival orders → same final stage
    val deliveries = Seq(
      Seq((7L, "view", 10L), (7L, "click", 20L), (7L, "purchase", 30L), (7L, "signup", 5L)),
      Seq((7L, "purchase", 30L), (7L, "signup", 5L), (7L, "click", 20L), (7L, "view", 10L)))
    val finals = deliveries.zipWithIndex.map { case (evs, i) =>
      val stream = MemoryStream[(Long, String, Long)](spark)
      val q = StreamingAggs.funnelStages(stream.toDS())
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(s"funnel_ord_$i").start()
      try {
        evs.foreach { e => stream.addData(e); q.processAllAvailable() }
        spark.table(s"funnel_ord_$i").as[FunnelUpdate].collect().last.stage
      } finally q.stop()
    }
    assert(finals === Seq(3, 3))
  }

  test("gapDetect emits lost-message events live, state carried across batches") {
    import graft.streaming.StreamingAggs.GapEvent
    val stream = MemoryStream[(String, Long)](spark)
    val out = StreamingAggs.gapDetect(stream.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("gap_out").start()
    try {
      // rk-a joins mid-stream at 100 (no gap), then 100 → 150: ordinals
      // 101..149 never arrive — the reference's "49 messages lost" example
      // (README.md:229-233); rk-b contiguous — never emits
      stream.addData(("rk-a", 100L), ("rk-b", 7L), ("rk-b", 8L))
      q.processAllAvailable()
      stream.addData(("rk-a", 150L), ("rk-b", 9L)) // gap detected ACROSS batches
      q.processAllAvailable()
      val rows = spark.table("gap_out").as[GapEvent].collect().toSeq
      assert(rows === Seq(GapEvent("rk-a", 100L, 150L, 49L)))
    } finally q.stop()
  }

  test("gapDetect is order-robust within a batch and skips redeliveries") {
    import graft.streaming.StreamingAggs.GapEvent
    val stream = MemoryStream[(String, Long)](spark)
    val out = StreamingAggs.gapDetect(stream.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("gap_ooo").start()
    try {
      // same batch, descending arrival: the group iterator's order is not
      // the arrival order contract — the operator sorts, so this is one
      // 49-gap, not a silent miss
      stream.addData(("rk-a", 150L), ("rk-a", 100L))
      q.processAllAvailable()
      // redelivery of an ordinal at/below the cursor emits nothing
      stream.addData(("rk-a", 150L), ("rk-a", 120L))
      q.processAllAvailable()
      val rows = spark.table("gap_ooo").as[GapEvent].collect().toSeq
      assert(rows === Seq(GapEvent("rk-a", 100L, 150L, 49L)))
    } finally q.stop()
  }

  test("sessionTimeouts: event-time timer closes a quiet stream once the watermark passes") {
    import StreamingAggs.SessionClosed
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(String, java.sql.Timestamp)](spark)
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
      val watermarked = stream.toDF().toDF("routing_key", "ts")
        .withWatermark("ts", "5 seconds")
        .as[(String, java.sql.Timestamp)]
      val out = StreamingAggs.sessionTimeouts(watermarked, gapMs = 60000)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("sess_close_out").start()
      try {
        // rk-a: 3 events ending t=100; rk-b keeps the watermark moving
        stream.addData(("rk-a", ts(90)), ("rk-a", ts(95)), ("rk-a", ts(100)))
        q.processAllAvailable()
        stream.addData(("rk-b", ts(120)))
        q.processAllAvailable()
        assert(spark.table("sess_close_out").isEmpty) // watermark 115 < 160
        // watermark → 295 > rk-a's timer at 160: the session closes
        stream.addData(("rk-b", ts(300)))
        q.processAllAvailable()
        // one more batch so timers fired in the previous batch are committed
        stream.addData(("rk-b", ts(301)))
        q.processAllAvailable()
        val rows = spark.table("sess_close_out").as[SessionClosed].collect()
          .filter(_.routingKey == "rk-a")
        assert(rows.toSeq === Seq(SessionClosed("rk-a", 3, 100000)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
