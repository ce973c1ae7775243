package graft.streaming

import graft.operators.TextQueries
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Event-time stateful operators for the streaming layer (SURVEY.md §2.4
  * T3-T4, §2.3 R13/R14/R17 streaming twins).
  *
  * The reference itself does no event-time processing (broker timestamp
  * only annotates — app/app.py:487-494); these are the driver-mandated
  * extensions, expressed with watermarks so state is bounded at scale:
  * a watermark caps how long per-window/per-key state lives, which is what
  * makes these operators safe on an unbounded 100 TB/day stream.
  */
object StreamingAggs {

  /** R13 streaming — event-time window counts with bounded state. Tumbling
    * by default; pass `slide` < window for HOPPING windows (each event
    * lands in window/slide overlapping windows — state grows by that
    * factor, still bounded by the watermark horizon, and each window
    * still finalizes exactly once when the watermark passes its end).
    */
  def windowedCounts(df: DataFrame, tsCol: String, window_ : String,
                     watermark: String = "10 minutes",
                     slide: Option[String] = None): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_, slide.getOrElse(window_)), col("routing_key"))
      .agg(count(lit(1)).as("n"))

  /** T3/R7 streaming — windowed PSI drift monitor: the streaming twin of
    * `q_psi_drift` (Round12Queries). Each event-time window's value
    * distribution is bucketed into 10 fixed equal-width bins over
    * [lo, hi) and compared against a REFERENCE share vector (trained
    * offline — e.g. the batch query's first-half shares) by population
    * stability index, Laplace-smoothed exactly like the batch twin.
    *
    * Shape: ONE stateful aggregation (the windowed conditional counts —
    * chained streaming aggregations are not generally plannable, so the
    * 10 bucket counts ride one agg as 10 conditional sums) followed by a
    * STATELESS per-row PSI fold over the 10 columns. State per window =
    * 10 longs; watermark evicts closed windows. At 100 TB-rate ingest
    * the agg is map-side partial like any windowed count.
    */
  def psiDriftWindows(df: DataFrame, tsCol: String, valueCol: String,
                      ref: Seq[Double], lo: Double, hi: Double,
                      window_ : String = "10 minutes",
                      watermark: String = "10 minutes"): DataFrame = {
    require(ref.length == 10, s"reference must carry 10 bucket shares, got ${ref.length}")
    require(math.abs(ref.sum - 1.0) < 1e-6, s"reference shares must sum to 1, got ${ref.sum}")
    // a zero reference share would make (p − q)·ln(p/q) = +∞ the moment
    // live mass lands in that bucket — the reference must arrive smoothed
    // (the batch twin's (n+1)/(total+10) shares are, by construction)
    require(ref.forall(_ > 0), s"reference shares must be positive (smoothed): $ref")
    require(hi > lo, s"bucket range must be non-degenerate: lo=$lo hi=$hi")
    // clamp BOTH sides: live drift can leave [lo, hi) in either direction
    // and every value must count — low-side mass folds into bucket 0 as
    // high-side folds into 9 (an unclamped negative bucket would match no
    // conditional sum and silently vanish from the distribution, hiding
    // exactly the drift this monitor exists to alarm on)
    val bucket = greatest(least(floor((col(valueCol) - lit(lo)) /
      lit((hi - lo) / 10)), lit(9L)), lit(0L)).cast("int")
    val cnts = (0 until 10).map(i =>
      sum(when(bucket === i, 1L).otherwise(0L)).as(s"__b$i"))
    val total = (0 until 10).map(i => col(s"__b$i")).reduce(_ + _)
    val psi = (0 until 10).map { i =>
      val p = (col(s"__b$i") + 1).cast("double") / (total + 10)
      val q = lit(ref(i))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    // null AND NaN measurements carry no distribution information and
    // must not count (least(null, 9) would silently file nulls as
    // top-bucket mass; floor(NaN) yields 0, so a NaN flood would inflate
    // bucket-0 share and fire or mask the alarm on signal-free data —
    // code-review r17)
    df.filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      .agg(cnts.head, cnts.tail: _*)
      .select(col("window"), total.as("n_values"),
        graft.functions.ParityMath.floorRound(psi, 6).as("psi"))
      // alarm on the SAME 6-dp value that is emitted — thresholding the
      // unrounded psi could show psi = 0.25 with drift_alarm = false at
      // the boundary (ADVICE r12): consumer-visible value and alarm agree
      .withColumn("drift_alarm", col("psi") >= 0.25)
  }

  /** T3/R19 streaming — EMBEDDING-DRIFT monitor per event-time window
    * (r14): the `v_embedding_drift` batch twin's live half. Each window's
    * per-dim centroid is compared against a broadcast OFFLINE reference
    * (the units the batch query's quantized means produce over the
    * reference corpus — the psiDriftWindows reference-handoff pattern),
    * with the SAME integer discipline: window means quantized to 1e-6
    * units, integer mean-shift L2, alarm at the 3-sigma CLT null
    * k·√(1/n_ref + 1/n_window) (see `Round14Queries.DriftShiftSigma`).
    *
    * Shape: ONE stateful aggregation — `dim` per-dim sums + a count ride
    * one agg (chained streaming aggs are not plannable) — followed by a
    * stateless per-row fold over the dim columns. State per window =
    * dim doubles + a long; the watermark evicts closed windows. At
    * 100 TB-rate ingest the agg is map-side partial like any windowed
    * sum; `dim` is a schema constant, never data-sized.
    */
  def embeddingDriftWindows(df: DataFrame, tsCol: String, vecCol: String,
                            refMeansU: Seq[Long], refN: Long, dim: Int = 64,
                            sigma: Double = 3.0,
                            window_ : String = "10 minutes",
                            watermark: String = "10 minutes"): DataFrame = {
    require(refMeansU.length == dim,
      s"reference must carry $dim per-dim mean units, got ${refMeansU.length}")
    require(refN > 0, s"reference count must be positive, got $refN")
    // per-dim avg, NOT sum/n_vectors: avg skips null ELEMENTS per dim
    // exactly as the batch twin's per-dim avg(x) does — dividing a
    // null-skipping sum by the total row count would bias the mean low
    // on vectors with null elements and diverge from the batch
    // quantization (code-review r17)
    val sums = (0 until dim).map(i =>
      avg(element_at(col(vecCol), i + 1)).as(s"__s$i"))
    val n = col("n_vectors")
    // per-dim window-mean units, quantized exactly like the batch twin
    def u(i: Int) =
      floor(col(s"__s$i") * 1000000 + 0.5).cast("long")
    val s2 = (0 until dim).map { i =>
      val d = u(i) - lit(refMeansU(i))
      d * d
    }.reduce(_ + _)
    val shift = floor(sqrt(s2.cast("double")) + lit(0.5)).cast("long")
    val limit = floor(lit(sigma) *
      sqrt(lit(1.0) / lit(refN.toDouble) + lit(1.0) / n) * 1000000 + 0.5)
      .cast("long")
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      .agg(count(lit(1)).as("n_vectors"), sums: _*)
      .select((Seq(col("window"), n, shift.as("mean_shift_u6"),
        limit.as("shift_limit_u6"))): _*)
      // alarm on the SAME emitted integers (the psiDriftWindows parity
      // rule: consumer-visible value and alarm must agree at the edge)
      .withColumn("drifted", col("mean_shift_u6") > col("shift_limit_u6"))
  }

  /** R14 streaming — session windows per key (inactivity gap). */
  def sessions(df: DataFrame, tsCol: String, gap: String,
               watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("routing_key"))
      .agg(count(lit(1)).as("n_events"))

  /** R17 streaming — dedup with bounded state: drops re-deliveries of the
    * same ordinal seen within the watermark horizon.
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String,
                           watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("routing_key", "ordinal")

  /** T3/R4 streaming — watermarked STREAM–STREAM join: correlate two live
    * event streams on a shared key within an event-time bound (reference
    * grounding: the AS and DM producers publish onto separate streams that
    * a consumer correlates per task — reference/README.md:174-179; the
    * reference leaves correlation to the client, this is the engine-side
    * operator for it).
    *
    * Semantics: `left ⋈ right` on `key` equality AND `right.ts` within
    * `[left.ts, left.ts + within]` — the canonical interval-correlation
    * shape (request→response, publish→ack). BOTH sides carry a watermark
    * and the range predicate is what lets Spark derive a state watermark
    * for EACH side: a buffered left row can only ever match right rows up
    * to `left.ts + within`, so once the right watermark passes that, the
    * row is emitted (outer) or dropped — state is bounded at any input
    * rate, which is what makes this safe on an unbounded stream. With
    * `joinType = "left_outer"`, unmatched left rows surface with null
    * right columns ONLY after the watermark proves no match can arrive —
    * late/out-of-order right rows inside the horizon still converge to
    * the same pairs a batch join would produce (WatermarkSpec pins both).
    *
    * Column contract: the sides must have disjoint column names apart
    * from `key` (the right side's ts column name is the caller's choice);
    * the output carries left columns then right columns, `key` once.
    * Scale shape: a stream–stream join shuffles both sides on `key` —
    * the same exchange a batch equi-join pays — and keeps only the
    * in-horizon slice of each side in the state store.
    */
  def correlateStreams(left: DataFrame, right: DataFrame,
                       key: String = "routing_key",
                       leftTs: String = "ts", rightTs: String = "r_ts",
                       watermark: String = "10 minutes",
                       within: String = "5 minutes",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within"),
        joinType)
      .drop(col(s"r.$key"))
  }

  /** State-partition sizing for a stateful stream query (VERDICT r12 #7):
    * derive the shuffle-partition count from the estimated DISTINCT join
    * keys per micro-batch instead of pinning a constant.
    *
    * Why keys-per-batch is the right input: the r12 study (BASELINE.md)
    * measured a stream–stream join committing 4 state stores PER PARTITION
    * PER BATCH, and when per-partition state is small that fixed commit
    * cost dominates — throughput was ∝ 1/partitions at the 100k-row
    * fixture (32→3.4k, 16→7.1k, 8→11.4k, 4→14.5k pairs/s steady). The
    * heuristic targets ~[[StateKeysPerPartition]] keys per partition per
    * batch (enough state per commit that the commit cost amortizes),
    * rounds UP to a power of two (partition-count stability: halving/
    * doubling key estimates reuses counts instead of resizing on every
    * drift), and clamps to [1, maxPartitions] — the cap is the cluster-
    * parallelism ceiling the caller owns (defaults to the session's
    * shuffle-partition setting). At the bench fixture (100k rows, ~10
    * batches ⇒ ~10k keys/batch) this lands exactly on the pinned 8; at
    * 100 TB (millions of keys per batch) it rides the cap, where
    * per-partition state size — not commit count — is the binding
    * constraint.
    *
    * The count is fixed per checkpoint at the query's first batch (Spark
    * pins state-store layout), so callers set
    * `spark.sql.shuffle.partitions` to this value around `start()` and
    * restore it after the drain, exactly as the bench does.
    */
  val StateKeysPerPartition: Long = 2048L

  def stateJoinPartitions(estKeysPerBatch: Long, maxPartitions: Int = 0,
                          spark: org.apache.spark.sql.SparkSession = null): Int = {
    val cap =
      if (maxPartitions > 0) maxPartitions
      else if (spark != null)
        spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      else 32
    val need = math.max(1L,
      (math.max(0L, estKeysPerBatch) + StateKeysPerPartition - 1) /
        StateKeysPerPartition)
    val pow2 = java.lang.Long.highestOneBit(need) match {
      case h if h == need => need
      case h              => h << 1
    }
    math.min(pow2, cap.toLong).toInt
  }

  /** Emitted by [[statsEveryN]] whenever a stream's received counter crosses
    * a multiple of the interval.
    */
  final case class StreamStats(routingKey: String, received: Long, sent: Long)

  /** T4/R12 streaming — the reference's every-N-messages stats log
    * (app/app.py:93,515-518: a closure dict ticked per message, logged every
    * 800) as per-key custom state: flatMapGroupsWithState keeps one
    * (received, sent) pair per routing key — O(#streams) state, not
    * O(#messages) — and emits a StreamStats record each time `received`
    * crosses a multiple of `every`. Input: (routing_key, forward) rows from
    * the enrich() pipeline.
    */
  def statsEveryN(keyed: Dataset[(String, Boolean)], every: Int,
                  idleTtlMs: Long = 0L): Dataset[StreamStats] = {
    // fail at construction, not with an executor-side ArithmeticException
    // at the first row (the psi/drift monitors' require() convention)
    require(every > 0, s"emit interval must be positive, got $every")
    import keyed.sparkSession.implicits._
    // Idle-TTL reclamation (idleTtlMs > 0) keeps state O(#live streams),
    // not O(#streams ever): a routing key silent for idleTtlMs drops its
    // counters — faithful to the reference, whose stats dict lives and
    // dies with the consumer connection (app.py:545-548). OPT-IN because
    // processing-time timeouts make the engine schedule timeout-check
    // batches forever, which blocks processAllAvailable()-style test
    // drains; production queries (which never call it) should pass a TTL.
    val timeoutConf = if (idleTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, rows: Iterator[(String, Boolean)], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (received, sent) = state.getOption.getOrElse((0L, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[StreamStats]
            rows.foreach { case (_, forward) =>
              received += 1
              if (forward) sent += 1
              if (received % every == 0) out += StreamStats(key, received, sent)
            }
            state.update((received, sent))
            if (idleTtlMs > 0) state.setTimeoutDuration(idleTtlMs)
            out.iterator
          }
      }
  }

  /** Emitted by [[funnelStages]] whenever a user's funnel stage changes:
    * 0 = not entered (no view yet), 1 = viewed, 2 = viewed→clicked in
    * order, 3 = full view→click→purchase progression.
    */
  final case class FunnelUpdate(userId: Long, stage: Int)

  /** T4/R11 streaming — LIVE first-touch funnel, the streaming twin of
    * `r_funnel`: per-user state is exactly the batch aggregate's three
    * first-occurrence event-times (view/click/purchase minima, -1 unset)
    * — O(#users) state, 24 bytes each — and a FunnelUpdate is emitted
    * whenever the derived stage CHANGES. Because state holds minima (not
    * the stage), out-of-order and late arrivals converge to the batch
    * answer: a late early view can promote a user (its tv drops below
    * tc), a late early click can DEMOTE one (tc drops to or below tv) —
    * stage is deliberately not monotone, it tracks what the batch funnel
    * over all-data-so-far would say. Re-delivery of an already-folded
    * event changes no minimum ⇒ no emission: replay-idempotent. Input:
    * (user_id, event_type, event_time_millis).
    */
  def funnelStages(events: Dataset[(Long, String, Long)],
                   idleTtlMs: Long = 0L): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    def stageOf(tv: Long, tc: Long, tp: Long): Int =
      if (tv < 0) 0
      else if (tc >= 0 && tc > tv) { if (tp >= 0 && tp > tc) 3 else 2 }
      else 1
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (tv, tc, tp) = state.getOption.getOrElse((-1L, -1L, -1L))
            val before = stageOf(tv, tc, tp)
            def mn(cur: Long, t: Long) = if (cur < 0 || t < cur) t else cur
            rows.foreach { case (_, et, ts) =>
              et match {
                case "view"     => tv = mn(tv, ts)
                case "click"    => tc = mn(tc, ts)
                case "purchase" => tp = mn(tp, ts)
                case _          => () // non-funnel types fold to nothing
              }
            }
            state.update((tv, tc, tp))
            if (idleTtlMs > 0) state.setTimeoutDuration(idleTtlMs)
            val after = stageOf(tv, tc, tp)
            if (after != before) Iterator.single(FunnelUpdate(uid, after))
            else Iterator.empty
          }
      }
  }

  /** Emitted by [[gapDetect]] for every ordinal discontinuity observed on a
    * stream: messages (fromExclusive, toExclusive) never arrived.
    */
  final case class GapEvent(routingKey: String, fromExclusive: Long,
                            toExclusive: Long, lost: Long)

  /** T4/R11 streaming — LIVE gap detection, the streaming twin of
    * `Replay.gapStats`: one last-seen ordinal per routing key
    * (flatMapGroupsWithState, O(#streams) state), a GapEvent emitted the
    * moment a discontinuity is observed — the reference's "first message …
    * ordinal 150 ⇒ 49 messages lost" arithmetic (README.md:229-233) as it
    * happens rather than in a batch audit. Relies on the source's per-key
    * ordinal order (T1); the first message of a key sets the cursor without
    * emitting (NEXT semantics — a consumer joining mid-stream is not "a
    * gap"). Input: (routing_key, ordinal) rows.
    */
  def gapDetect(keyed: Dataset[(String, Long)],
                idleTtlMs: Long = 0L): Dataset[GapEvent] = {
    import keyed.sparkSession.implicits._
    // Idle-TTL reclamation (idleTtlMs > 0; opt-in for the same
    // processAllAvailable reason as statsEveryN) keeps state O(#live
    // streams): dropping an idle key's cursor means its next message
    // re-enters with NEXT semantics — no gap emitted for the idle period,
    // the same contract as a consumer (re)joining mid-stream.
    val timeoutConf = if (idleTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // The shuffle into flatMapGroupsWithState sorts on the KEY
            // only — within-key arrival order is arbitrary with a
            // multi-partition upstream, so sort this batch's ordinals
            // before walking them (bounded by the micro-batch's per-key
            // row count). Ordinals at or below the cursor (redelivery)
            // are skipped, not re-gapped.
            val ords = rows.map(_._2).toArray
            java.util.Arrays.sort(ords)
            val out = scala.collection.mutable.ArrayBuffer.empty[GapEvent]
            var last = state.getOption.getOrElse(Long.MinValue)
            ords.foreach { ord =>
              if (ord > last) {
                if (last != Long.MinValue && ord > last + 1)
                  out += GapEvent(key, last, ord, ord - last - 1)
                last = ord
              }
            }
            if (last != Long.MinValue) {
              state.update(last)
              if (idleTtlMs > 0) state.setTimeoutDuration(idleTtlMs)
            }
            out.iterator
          }
      }
  }

  /** Emitted by [[sessionTimeouts]] when a stream goes quiet for the gap. */
  final case class SessionClosed(routingKey: String, nEvents: Long, lastMs: Long)

  /** T5/R14 — inactivity detection with EVENT-TIME TIMERS: one timer per
    * key at (last event + gap); each new event slides it. When the
    * watermark passes the timer, the session closes and its summary is
    * emitted — the streaming analog of the reference's per-connection
    * teardown (a consumer that stops hearing traffic), on the state-v2
    * API (value state + timers). State is O(#streams): one (count, lastMs)
    * pair and one registered timer per key, reclaimed on emit.
    */
  final class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[String, (String, java.sql.Timestamp), SessionClosed] {
    @transient private var sess: ValueState[(Long, Long)] = _ // (nEvents, lastMs)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long)](
        "sess", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionClosed] = {
      var (n, last) = if (sess.exists()) sess.get() else (0L, 0L)
      val hadTimer = n > 0
      val prevExpiry = last + gapMs
      rows.foreach { case (_, ts) =>
        n += 1
        if (ts.getTime > last) last = ts.getTime
      }
      // slide the timer: drop the stale one, arm at the new quiet horizon
      if (hadTimer) getHandle.deleteTimer(prevExpiry)
      getHandle.registerTimer(last + gapMs)
      sess.update((n, last))
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionClosed] = {
      val (n, last) = sess.get()
      sess.clear()
      Iterator(SessionClosed(key, n, last))
    }
  }

  /** Session-close events for a watermarked (routing_key, ts) stream. */
  def sessionTimeouts(keyed: Dataset[(String, java.sql.Timestamp)],
                      gapMs: Long): Dataset[SessionClosed] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** R18/T4 streaming twin of `d_minhash_lsh` — incremental NEAR-dup of an
    * unbounded document stream against an accumulating accepted-corpus
    * state: each micro-batch is the "new crawl"; arriving docs are
    * shingled, MinHash-signed, and banded exactly like the batch operator,
    * then (a) probed against the accepted docs' stored band buckets
    * (cross-batch candidates) and (b) self-bucketed within the batch
    * (intra-batch candidates, keep-lowest-doc_id convention, same as
    * d_minhash_lsh's drop-higher). Every candidate is verified with the
    * exact native `graft_jaccard` at ≥ 0.5 against stored shingle sets, so
    * marks carry the batch operator's precision, not raw LSH precision.
    *
    * State (`<stateDir>/bands`, `<stateDir>/shingles`) is hive-partitioned
    * by micro-batch like the incremental-dedup sha table: per-batch
    * overwrite commits are idempotent and the probe excludes the current
    * batchId's slice, so a replayed batch reproduces its first attempt's
    * flags. Only ACCEPTED (non-dup) docs append state, so the accepted set
    * stays dup-free and state growth tracks unique content, not traffic.
    *
    * 100 TB: band rows are the slim (band, h, doc_id) LSH shape and the
    * probe is an equi-join on (band, h) — the stored side is a bucketed
    * table and co-locates. Storing shingle ARRAYS is the exact-verify
    * cost; a deployment that accepts LSH-precision marks stores only the
    * 32×8-byte signatures instead.
    */
  /** Per-batch core of [[startIncrementalNearDup]], shared with
    * [[startCorpusPipeline]]: marks the batch's near-dups against the
    * accumulating accepted state (cross-batch bucket probe + intra-batch
    * self-bucketing, every candidate exact-verified), and returns the
    * marked frame plus a commit function that appends the given accepted
    * doc set's features to the batch's own state partitions. The caller
    * persists/unpersists the marked frame around its consumers and decides
    * WHICH docs count as accepted (the standalone gate accepts every
    * non-dup; the composed pipeline accepts only docs that also passed
    * the upstream gates — state must stay exactly the accepted corpus).
    */
  private def markNearDups(batch: DataFrame, stateDir: String, batchId: Long)
      : (DataFrame, Seq[DataFrame], DataFrame => Unit) = {
    import graft.functions.TextFunctions.{minhashBands, shingles}
    import org.apache.spark.sql.types._
    val s = batch.sparkSession
    graft.plans.GraftFunctions.register(s)
    val bandSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("h", LongType)))
    val shSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sh", ArrayType(StringType))))
    // feat persisted too (code-review r17): the shingle + MinHash work is
    // the expensive part and five downstream joins consume it (cross x2,
    // intra x2, commit) — caching only `banded` re-ran it per join
    val feat = batch.select(col("doc_id"), shingles("text", 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", expr("graft_minhash(sh)"))
      .persist()
    val banded = feat
      .select(col("doc_id"), explode(minhashBands("sig", 8, 4)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.h"))
      .persist()
    val storedBands = readState(s, s"$stateDir/bands", batchId, bandSchema)
    val storedSh = readState(s, s"$stateDir/shingles", batchId, shSchema)
    // cross-batch: arriving band rows probe the accepted corpus's buckets
    val crossDup = banded
      .join(storedBands.withColumnRenamed("doc_id", "old_id"), Seq("band", "h"))
      .select(col("doc_id"), col("old_id")).distinct()
      .join(feat.select(col("doc_id"), col("sh").as("sh_new")), "doc_id")
      .join(storedSh.select(col("doc_id").as("old_id"), col("sh").as("sh_old")), "old_id")
      .filter(expr("graft_jaccard(sh_new, sh_old)") >= 0.5)
      .select(col("doc_id"))
    // intra-batch: the batch operator's bucket pair-gen + drop-higher
    val intraDup = graft.operators.DedupQueries.bucketedCandidatePairs(banded)
      .join(feat.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(feat.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .filter(expr("graft_jaccard(sh_a, sh_b)") >= 0.5)
      .select(col("doc_b").as("doc_id"))
    val dupIds = crossDup.union(intraDup).distinct()
      .withColumn("__dup", lit(true))
    val marked = batch.join(dupIds, Seq("doc_id"), "left_outer")
      .withColumn("is_neardup", coalesce(col("__dup"), lit(false)))
      .drop("__dup")
    val commit = (accepted: DataFrame) => {
      feat.join(accepted, "doc_id").select(col("doc_id"), col("sh"))
        .write.mode("overwrite").parquet(s"$stateDir/shingles/batch=$batchId")
      banded.join(accepted, "doc_id")
        .write.mode("overwrite").parquet(s"$stateDir/bands/batch=$batchId")
    }
    (marked, Seq(banded, feat), commit)
  }

  def startIncrementalNearDup(docs: DataFrame, stateDir: String,
                              checkpointDir: String,
                              onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (marked0, caches, commit) = markNearDups(batch, stateDir, batchId)
        val marked = marked0.persist()
        try {
          onBatch(marked)
          commit(marked.filter(!col("is_neardup")).select(col("doc_id")))
        } finally { marked.unpersist(); caches.foreach(_.unpersist()) }
        ()
      }
      .start()

  /** R17 streaming twin of `d_dedup_incremental` — content-address dedup
    * of an UNBOUNDED document stream against an appendable accepted-sha
    * table: each micro-batch is the "new crawl", the parquet dir at
    * `seenShaDir` is the accepted base corpus (the caller seeds it with
    * the base shas before starting). Per batch: sha the texts, rank
    * first-occurrence-within-batch (one window keyed on the sha — bounded
    * by the micro-batch, never global), left-join the seen set, mark
    * `is_new` = unseen AND first in batch, hand the marked batch to
    * `onBatch`, then append the newly-accepted shas so later batches (and
    * restarts) dedup against them. The big text never shuffles wide —
    * only 32-byte shas join; at 100 TB `seenShaDir` is a sha-bucketed
    * table and this exact plan holds (no broadcast assumption).
    *
    * The sha table is hive-partitioned by micro-batch (`batch=<id>`
    * subdirs; the seed goes under `batch=-1`), which makes the commit
    * IDEMPOTENT and the flags REPLAY-STABLE: each batch overwrites only
    * its own partition (a replay rewrites identical content rather than
    * appending duplicates), and the membership join excludes the current
    * batchId's partition, so a batch replayed after a post-append crash
    * sees exactly the seen-set its first attempt saw and emits identical
    * `is_new` flags. The marked batch is persisted across its two
    * consumers (onBatch + the sha write) so the plan executes once.
    */
  /** R20/T4 streaming twin of `t_decontaminate` — the ingest-time
    * benchmark-decontamination gate: each arriving micro-batch of documents
    * is probed against the held-out eval set's verbatim n-gram shingles and
    * handed to `onBatch` with `contaminated` / `n_contaminated_grams`
    * columns, the same output contract as the batch operator. The eval
    * gram set is planned ONCE from the static frame and re-executed per
    * batch as a broadcast semi-probe (eval sets are small by nature —
    * identical plan shape to the batch twin, PlanSpec-pinned there); the
    * arriving batch streams at scan speed with one per-doc shuffle.
    * Stateless across batches, so delivery is exactly the sink's contract.
    */
  def startDecontamination(docs: DataFrame, evalDocs: DataFrame,
                           checkpointDir: String,
                           onBatch: DataFrame => Unit, n: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions.shingles
    val evalGrams = evalDocs
      .select(explode(shingles("text", n)).as("g")).distinct()
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sh = batch.select(col("doc_id"), explode(shingles("text", n)).as("g"))
        val hits = sh.join(broadcast(evalGrams), Seq("g"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n")) // grams are distinct per doc
        onBatch(batch.join(hits, Seq("doc_id"), "left_outer")
          .withColumn("n_contaminated_grams", coalesce(col("n"), lit(0L)))
          .withColumn("contaminated", col("n_contaminated_grams") > 0)
          .drop("n"))
        ()
      }
      .start()
  }

  /** R17/R18/R20/T4 capstone — the COMPOSED ingest-time corpus gate, the
    * streaming twin of `d_corpus_build_v2`'s gate sequence: every arriving
    * micro-batch is scored and gated by quality (the same 0.52-dial blend),
    * intra-doc repetition (Gopher dials, via the shared
    * [[graft.operators.TextQueries.repetition]] core), benchmark
    * decontamination (broadcast semi-probe against the static eval gram
    * set), and exact dedup against the accumulating accepted-sha state —
    * one `accepted` verdict per doc, with every per-gate signal alongside
    * so downstream can audit WHICH gate dropped a doc. In production this
    * runs AT INGEST so rejected documents never reach the data lake at
    * all, instead of paying a full-corpus batch pass later.
    *
    * All four gates are functions of the text alone, so identical texts
    * gate identically — the dedup rank within a sha therefore never
    * crosses a gate boundary, and the accepted-sha state (batch-
    * partitioned like [[startIncrementalDedup]]'s: idempotent per-batch
    * overwrite commits, own-slice exclusion on probe ⇒ replay-stable
    * flags) stays exactly the set of shas the gate ever accepted. Only
    * ACCEPTED docs append state: a gated-out doc's later identical twin
    * re-fails the same gates, so its sha is never needed.
    *
    * 100 TB: the stateless gates are per-row expressions plus one per-doc
    * shuffle each (the repetition core's token count); the eval gram set
    * broadcasts (small by nature); dedup joins 32-byte shas against a
    * sha-bucketed table. Near-dup gating composes by chaining
    * [[startIncrementalNearDup]] on this gate's accepted output — kept
    * separate because its shingle-set state has a different storage
    * contract.
    */
  /** Per-batch core of [[startCorpusGate]] / [[startCorpusPipeline]]:
    * annotates the batch with every stateless gate signal (quality blend,
    * repetition, decontamination vs the broadcast eval gram set) plus the
    * exact-dedup `is_new` against the batch-partitioned sha table
    * (own-slice excluded ⇒ replay-stable). Returns the batch columns +
    * quality / repetitive / contaminated / content_sha / is_new.
    */
  /** Batch-partitioned state read shared by every state family (sha /
    * mix / pack / lines — code-review r17: the pattern lived in three
    * hand-rolled copies): prior rows under `dir` with the OWN slice
    * (`batch == batchId`) excluded — the replay-stability contract in
    * one place — or an empty frame of `schema` when no state exists yet.
    */
  private def readState(s: org.apache.spark.sql.SparkSession, dir: String,
                        batchId: Long,
                        schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
      // explicit schema (+ the batch partition column): a crash during a
      // family's FIRST commit leaves the dir holding only _temporary
      // task files, and schema INFERENCE over zero footers throws
      // "Unable to infer schema" on every replay — a permanent wedge
      // that breaks the idempotent-replay contract. With the schema
      // supplied, zero data files read as an empty frame and the replay
      // proceeds to rewrite the slice (code-review r17).
      s.read.schema(schema.add(org.apache.spark.sql.types.StructField(
          "batch", org.apache.spark.sql.types.LongType)))
        .parquet(dir)
        .filter(col("batch") =!= batchId) // replay: ignore own prior append
        .select(schema.fieldNames.map(col).toSeq: _*)
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def markGates(batch0: DataFrame, evalGrams: DataFrame,
                        seenShaDir: String, batchId: Long,
                        n: Int): DataFrame = {
    import graft.functions.TextFunctions.{sha256Hex, shingles}
    import graft.functions.ParityMath.floorRound
    // null text carries no content: the gates compute over '' so every
    // per-doc frame keeps a row (repetition() yields NO row for null
    // text and markGates's inner join would silently DROP the doc from
    // the batch — the vanish the line scrub's left join exists to
    // prevent), and `has_text` = false rides out for the callers'
    // accept predicate to reject it WITH an audit row (code-review r17)
    val batch = batch0
      .withColumn("has_text",
        col("text").isNotNull && length(col("text")) > 0)
      .withColumn("text", coalesce(col("text"), lit("")))
    val s = batch.sparkSession
    graft.plans.GraftFunctions.register(s)
    // quality: the d_corpus_build_v2 blend, per-row
    val quality = TextQueries.qualityBlend
    val rep = graft.operators.TextQueries.repetition(batch)
      .select(col("doc_id"), col("repetitive"))
    val contam = batch
      .select(col("doc_id"), explode(shingles("text", n)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("__c", lit(true))
    val seen = readState(s, seenShaDir, batchId,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("content_sha",
          org.apache.spark.sql.types.StringType)))).distinct()
    val wSha = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_sha")).orderBy(col("doc_id"))
    batch
      .withColumn("quality", quality)
      .join(rep, "doc_id")
      .join(contam, Seq("doc_id"), "left_outer")
      .withColumn("contaminated", coalesce(col("__c"), lit(false)))
      .withColumn("content_sha", sha256Hex(col("text")))
      .withColumn("__rk", row_number().over(wSha))
      .join(seen.withColumn("__seen", lit(true)), Seq("content_sha"), "left_outer")
      .withColumn("is_new", col("__seen").isNull && col("__rk") === 1)
      .drop("__c", "__seen", "__rk")
  }

  /** Per-batch PII scrub stage shared by [[startCorpusGate]] and
    * [[startCorpusPipeline]] (VERDICT r13 #8): when enabled, `text` is
    * replaced by its `t_pii_redact` staged-scrubbed form BEFORE any gate
    * and per-class hit counts ride alongside (each withColumn resolves
    * col("text") against the PRE-replacement column). Identity when off.
    */
  private def piiScrubStage(enabled: Boolean): DataFrame => DataFrame = df =>
    if (!enabled) df
    else {
      val (nEmail, nPhone, nId, scrubbed) =
        graft.operators.Round13Queries.piiStages(col("text"))
      df.withColumn("n_email", nEmail)
        .withColumn("n_phone", nPhone)
        .withColumn("n_id", nId)
        .withColumn("n_pii",
          col("n_email") + col("n_phone") + col("n_id"))
        .withColumn("text", scrubbed)
    }

  /** Per-batch boilerplate line scrub of [[startCorpusPipeline]] (VERDICT
    * r15 #7 / r16 #7 — `d_line_dedup`'s streaming twin, the last gate
    * without one): `text` is replaced by its surviving-lines
    * reconstruction, with `n_lines` / `n_kept_lines` audit columns
    * alongside, BEFORE any downstream gate — so the content sha, the
    * dedup state, the quality blend, and the near-dup shingles all see
    * chrome-free text, exactly as the piiScrub ordering note argues.
    *
    * Frequency state (`lineDir`): one row per (lh, ndocs) per batch —
    * this batch's per-line-hash DISTINCT-DOC counts. Doc counts are
    * additive across batches (a doc arrives in exactly one batch), so
    * the accumulated corpus frequency is prior sums (own-slice excluded
    * on read, idempotent per-batch overwrite on commit ⇒ a replayed
    * batch re-derives its first attempt's scrub exactly) plus the
    * current batch's own counts — full within-batch visibility, the
    * same causal at-ingest semantics as the sha/mix/pack state
    * families: a line that only crosses the [[maxDocs]] cut via later
    * accumulation scrubs from later docs, not retroactively. State
    * counts ALL arriving docs, not just accepted ones — chrome
    * frequency is a property of what arrives (the batch operator counts
    * its whole input too), and a nav menu on pages that fail quality is
    * still chrome. Line formation/cut/reconstruction are shared with the
    * batch operator ([[graft.operators.Round15Queries.docLines]] /
    * `lineCut`), so a single-batch run is textually identical to
    * `d_line_dedup` over the same corpus (spec-pinned).
    *
    * 100 TB: line formation is per-row narrow work; every shuffle keys
    * on the 8-byte xxhash64 line hash (line text never shuffles on the
    * frequency side); reconstruction is one doc_id-keyed aggregate.
    * State grows one row per DISTINCT new line per batch.
    */
  private def lineScrubStage(batch: DataFrame, lineDir: String,
                             batchId: Long, maxDocs: Long,
                             newlineSplit: Boolean)
      : (DataFrame, DataFrame) = {
    import graft.operators.Round15Queries.{docFreq, docLines, lineCut}
    import org.apache.spark.sql.types._
    val s = batch.sparkSession
    val lines = docLines(batch.select(col("doc_id"), col("text")),
      newlineSplit = newlineSplit)
    // persisted: the per-batch counts feed BOTH the scrub join (via the
    // gated persist downstream) and the state commit — without the cache
    // the commit re-pays the line-formation scan and both shuffles
    // (code-review r17). The PIPELINE owns the unpersist (its outer
    // finally), so the cache is freed on success and failure alike.
    val cur = docFreq(lines).persist()
    val prior = readState(s, lineDir, batchId,
      StructType(Seq(StructField("lh", LongType),
        StructField("ndocs", LongType))))
      .groupBy(col("lh")).agg(sum(col("ndocs")).as("__nd_prior"))
    val freq = cur.join(prior, Seq("lh"), "left_outer")
      .select(col("lh"),
        (col("ndocs") + coalesce(col("__nd_prior"), lit(0L))).as("ndocs"))
    val cut = lineCut(lines, freq, maxDocs, newlineSplit = newlineSplit)
    // left join: a doc that produced NO lines (null text) must stay
    // VISIBLE — with n_kept_lines = 0 the gate rejects it with an audit
    // row, instead of an inner join silently dropping it from the batch
    val out = batch
      .join(cut.select(col("doc_id"), col("n_lines"),
        col("n_kept").as("n_kept_lines"), col("kept_text")),
        Seq("doc_id"), "left_outer")
      .withColumn("n_lines", coalesce(col("n_lines"), lit(0L)))
      .withColumn("n_kept_lines", coalesce(col("n_kept_lines"), lit(0L)))
      .withColumn("text", coalesce(col("kept_text"), col("text")))
      .drop("kept_text")
    (out, cur)
  }

  def startCorpusGate(docs: DataFrame, evalDocs: DataFrame, seenShaDir: String,
                      checkpointDir: String, onBatch: DataFrame => Unit,
                      minQuality: Double = 0.52, n: Int = 5,
                      piiScrub: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions.shingles
    val evalGrams = evalDocs.select(explode(shingles("text", n)).as("g")).distinct()
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marked = markGates(piiScrubStage(piiScrub)(batch), evalGrams,
            seenShaDir, batchId, n)
          .withColumn("accepted",
            col("has_text") && col("quality") >= minQuality &&
              !col("repetitive") && !col("contaminated") && col("is_new"))
          .persist()
        try {
          onBatch(marked)
          marked.filter(col("accepted")).select(col("content_sha"))
            .write.mode("overwrite").parquet(s"$seenShaDir/batch=$batchId")
        } finally marked.unpersist()
        ()
      }
      .start()
  }

  /** R17/R18/R20/T4 — the FULL streaming twin of `d_corpus_build_v2`'s
    * hygiene sequence in ONE stream: [[markGates]] (quality + repetition +
    * decontamination + exact dedup) and then [[markNearDups]] over the
    * slice that survived those gates — MinHash-LSH against the accumulating
    * ACCEPTED corpus, exact-verified — composing to a single `accepted`
    * verdict with every per-gate signal alongside. State lives under one
    * root (`<stateRoot>/sha`, `<stateRoot>/neardup/{bands,shingles}`), all
    * of it batch-partitioned with own-slice exclusion on probe, so a
    * replayed batch reproduces its first attempt's verdicts and rewrites
    * identical state. Gate-failing docs never reach the near-dup probe
    * (they are not corpus candidates), and only fully-accepted docs append
    * EITHER state — the dedup reference is exactly the corpus a batch
    * build over the accepted output would see. (One deliberate semantic
    * difference vs the batch capstone: the batch near-dup drop consults
    * corpus-WIDE pairs, eval and dropped docs included; at ingest the
    * reference corpus is the accepted set, because only it is retained.)
    *
    * With `sourceMix = true` (requires a `source` column) the
    * `t_source_sample` budget rebalance runs as the LAST per-batch stage:
    * per-source sampling weights w = min(1, budget/src_tokens) are
    * derived from the ACCUMULATED accepted per-source token totals of all
    * PRIOR batches (`<stateRoot>/mix`, batch-partitioned with own-slice
    * exclusion like the sha table, so a replayed batch re-derives its
    * first attempt's weights), the per-doc keep decision is the same
    * deterministic LCG as the batch operator (no rand() — replay-stable),
    * and only docs that clear EVERY gate AND the mix draw append any
    * state. Batch 0 sees no totals and keeps everything — the stream
    * learns its mixture as it accumulates, which is the only causal
    * option at ingest (the batch operator sees final totals up front).
    * Scale: the weights table is one row per SOURCE — catalog-bounded,
    * broadcast-correct at any scale — and the mix state grows one row
    * per (source, batch).
    *
    * With `packSequences = true` the accepted survivors are additionally
    * packed into 512-token training bins (`t_pack_sequences` arithmetic)
    * CONTINUING across batches: each shard's bin cursor is the
    * accumulated accepted token total of all PRIOR batches
    * (`<stateRoot>/pack`, batch-partitioned, own-slice exclusion —
    * replay re-derives identical bins), so the stream emits exactly the
    * bin assignments a batch pack over the accepted corpus in arrival
    * order would. A doc arriving mid-bin straddles batches the same way
    * it would straddle bins. Packed rows go to `onPacked`; state is one
    * row per (shard, batch) — 32 longs a batch.
    *
    * With `piiScrub = true` (VERDICT r13 #8) the `t_pii_redact` scrub
    * ([[graft.operators.Round13Queries.piiStages]]) runs FIRST, before any
    * gate: `text` is replaced by its staged-scrubbed form and per-class
    * hit counts (`n_email` / `n_phone` / `n_id` / `n_pii`) ride alongside
    * the verdict in the `onBatch` frame. Ordering is the point — real
    * ingest scrubs before accepting, so every downstream consumer of the
    * text (the quality blend, the content sha and its dedup STATE, the
    * near-dup shingles, packing token counts) sees only scrubbed text and
    * the retained corpus is PII-free by construction. Scrubbing redacts,
    * it does not reject: the hit counts are audit signals (a monitor
    * alarms on a source whose PII rate jumps), not a gate. Pure per-row
    * codegen'd regex work — zero added shuffle at any scale.
    *
    * With `lineScrub = true` (VERDICT r16 #7) the `d_line_dedup`
    * boilerplate-line scrub ([[lineScrubStage]]) runs after the PII scrub
    * and before every gate: lines occurring in more than `maxDocsPerLine`
    * distinct documents across the accumulated ingest (the
    * `<stateRoot>/lines` frequency state, batch-partitioned with
    * own-slice exclusion) are dropped from `text`, with `n_lines` /
    * `n_kept_lines` audit columns alongside — so dedup shas, near-dup
    * shingles, and quality scores are all computed over chrome-free text.
    * `lineNewlineSplit` selects the segmentation mode, matching the batch
    * twin's two modes (`d_line_dedup` token-window / `d_line_dedup_nl`
    * newline — ADVICE r17): true splits on real newlines for genuinely
    * newline-delimited corpora; false (default) keeps the fixed
    * token-window segmentation.
    */
  def startCorpusPipeline(docs: DataFrame, evalDocs: DataFrame,
                          stateRoot: String, checkpointDir: String,
                          onBatch: DataFrame => Unit,
                          minQuality: Double = 0.52, n: Int = 5,
                          sourceMix: Boolean = false,
                          packSequences: Boolean = false,
                          onPacked: DataFrame => Unit = _ => (),
                          piiScrub: Boolean = false,
                          lineScrub: Boolean = false,
                          maxDocsPerLine: Long =
                            graft.operators.Round15Queries.MaxDocsPerLine,
                          lineNewlineSplit: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions.shingles
    val evalGrams = evalDocs.select(explode(shingles("text", n)).as("g")).distinct()
    val scrubStage = piiScrubStage(piiScrub)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // with lineScrub on, a doc whose every line was boilerplate scrubs
        // to the empty string — pure chrome is not corpus material, and
        // letting it through would ACCEPT it (the quality blend scores ""
        // as 1-token/1-distinct ⇒ 0.8) and burn its empty-string sha in
        // the dedup state; gate it out explicitly
        val gatePass = col("has_text") &&
          col("quality") >= minQuality && !col("repetitive") &&
          !col("contaminated") && col("is_new") &&
          (if (lineScrub) col("n_kept_lines") > 0 else lit(true))
        // scrub order: PII first (redact before anything reads the text),
        // then boilerplate lines (chrome off before sha/shingles/quality),
        // then the gates — see each stage's scaladoc
        val (preGated, lineFreq) =
          if (lineScrub) {
            val (o, cur) = lineScrubStage(scrubStage(batch),
              s"$stateRoot/lines", batchId, maxDocsPerLine,
              newlineSplit = lineNewlineSplit)
            (o, Some(cur))
          } else (scrubStage(batch), None)
        val gated = markGates(preGated, evalGrams, s"$stateRoot/sha",
            batchId, n)
          .persist()
        try {
          val (ndMarked, ndCaches, commitNearDup) = markNearDups(
            gated.filter(gatePass).select(col("doc_id"), col("text")),
            s"$stateRoot/neardup", batchId)
          val ndFull = gated
            .join(ndMarked.select(col("doc_id"), col("is_neardup")),
              Seq("doc_id"), "left_outer")
            .withColumn("is_neardup", coalesce(col("is_neardup"), lit(false)))
            .withColumn("accepted", gatePass && !col("is_neardup"))
          val full = (if (sourceMix)
            markSourceMix(ndFull, s"$stateRoot/mix", batchId)
          else ndFull).persist()
          try {
            onBatch(full)
            val accepted = full.filter(col("accepted"))
            commitNearDup(accepted.select(col("doc_id")))
            accepted.select(col("content_sha"))
              .write.mode("overwrite").parquet(s"$stateRoot/sha/batch=$batchId")
            if (sourceMix)
              accepted.groupBy(col("source"))
                .agg(sum(size(split(col("text"), " ")).cast("long"))
                  .as("src_tokens"))
                .write.mode("overwrite").parquet(s"$stateRoot/mix/batch=$batchId")
            if (packSequences)
              packBatch(accepted, s"$stateRoot/pack", batchId, onPacked)
            // line-frequency state: ALL batch docs' counts
            lineFreq.foreach(_.write.mode("overwrite")
              .parquet(s"$stateRoot/lines/batch=$batchId"))
          } finally { full.unpersist(); ndCaches.foreach(_.unpersist()) }
        } finally { gated.unpersist(); lineFreq.foreach(_.unpersist()) }
        ()
      }
      .start()
  }

  /** Packing stage of [[startCorpusPipeline]]: per-shard prefix sums over
    * the batch's accepted docs, offset by the accumulated prior-batch
    * token totals, chunked into 512-token bins; commits this batch's
    * per-shard sums to the batch-partitioned cursor state.
    */
  private def packBatch(accepted: DataFrame, packDir: String, batchId: Long,
                        onPacked: DataFrame => Unit): Unit = {
    import org.apache.spark.sql.types._
    val s = accepted.sparkSession
    val binCap = 512
    val baseSchema = StructType(Seq(StructField("shard", LongType),
      StructField("shard_tokens", LongType)))
    val base = readState(s, packDir, batchId, baseSchema)
      .groupBy(col("shard"))
      .agg(sum(col("shard_tokens")).cast(LongType).as("base_tokens"))
    val toks = accepted.select(col("doc_id"), (col("doc_id") % 32).as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packed = toks
      .join(broadcast(base), Seq("shard"), "left_outer")
      .withColumn("cum",
        sum(col("n_tokens")).over(w) + coalesce(col("base_tokens"), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        ((col("cum") - col("n_tokens")) / binCap).cast("long").as("start_bin"),
        ((col("cum") - 1) / binCap).cast("long").as("end_bin"),
        ((col("cum") - col("n_tokens")) % binCap).as("offset_in_bin"))
      .persist()
    try {
      onPacked(packed)
      toks.groupBy(col("shard"))
        .agg(sum(col("n_tokens")).cast(LongType).as("shard_tokens"))
        .write.mode("overwrite").parquet(s"$packDir/batch=$batchId")
    } finally packed.unpersist()
    ()
  }

  /** Source-mixing stage of [[startCorpusPipeline]]: annotates the batch
    * with `mix_weight` (min(1, budget/src_tokens) over the PRIOR batches'
    * accepted per-source token totals; 1.0 for sources with no history)
    * and `mix_kept` (the `t_source_sample` LCG draw), and folds the draw
    * into `accepted`.
    */
  private def markSourceMix(ndFull: DataFrame, mixDir: String,
                            batchId: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val s = ndFull.sparkSession
    val mixSchema = StructType(Seq(StructField("source", StringType),
      StructField("src_tokens", LongType)))
    val prior = readState(s, mixDir, batchId, mixSchema)
    val bySrc = prior.groupBy(col("source"))
      .agg(sum(col("src_tokens")).cast(LongType).as("src_tokens"))
    val totals = bySrc.agg(
      sum(col("src_tokens")).cast("double").as("total_tokens"),
      count(lit(1)).cast("double").as("n_sources"))
    val weights = bySrc.crossJoin(broadcast(totals))
      .select(col("source"),
        least(lit(1.0), (col("total_tokens") / col("n_sources")) /
          col("src_tokens").cast("double")).as("__w"))
    val h = pmod(col("doc_id") * lit(1103515245L) + lit(12345L),
      lit(2147483648L))
    ndFull.join(broadcast(weights), Seq("source"), "left_outer")
      .withColumn("mix_weight", coalesce(col("__w"), lit(1.0)))
      .withColumn("mix_kept",
        h.cast("double") < col("mix_weight") * lit(2147483648.0))
      .withColumn("accepted", col("accepted") && col("mix_kept"))
      .drop("__w")
  }

  def startIncrementalDedup(docs: DataFrame, seenShaDir: String,
                            checkpointDir: String,
                            onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions.sha256Hex
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_sha")).orderBy(col("doc_id"))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marked = batch
          .withColumn("content_sha", sha256Hex(col("text")))
          .withColumn("__rk", row_number().over(w))
          .join(batch.sparkSession.read.parquet(seenShaDir)
              .filter(col("batch") =!= batchId) // replay: ignore own prior append
              .select(col("content_sha")).distinct()
              .withColumn("__seen", lit(true)),
            Seq("content_sha"), "left_outer")
          .withColumn("is_new", col("__seen").isNull && col("__rk") === 1)
          .drop("__seen", "__rk")
          .persist()
        try {
          onBatch(marked)
          marked.filter(col("is_new")).select(col("content_sha"))
            .write.mode("overwrite").parquet(s"$seenShaDir/batch=$batchId")
        } finally marked.unpersist()
        ()
      }
      .start()
  }

  /** R6/R17/T4 — streaming SNAPSHOT-DIFF twin (VERDICT r14 #8):
    * `d_snapshot_diff` batch-diffs two corpus releases; this takes the
    * same readout INCREMENTALLY — each arriving batch of (doc_id, text)
    * is diffed against the ACCEPTED corpus head (the latest md5 per
    * doc_id across the seed release and all prior batches — the same
    * 16-byte-hash state shape [[startIncrementalDedup]]'s sha tables
    * hold): a doc_id never seen is `added`, seen with a different md5 is
    * `changed`, seen with the same md5 is `unchanged` (`removed` cannot
    * occur on an append stream — the batch operator owns that arm).
    * added/changed rows append their new md5 to the state table
    * (batch-partitioned overwrite — idempotent replay, own-batch slice
    * filtered on read, the startIncrementalDedup discipline), so the
    * state is always the running release head. `onBatch` receives the
    * classified (doc_id, sha, status, batch_id) frame; `groupBy(status)`
    * over it IS the per-batch census. The caller seeds `stateDir` with a
    * `batch=-1` slice — the previous release's (doc_id, sha) rows, or an
    * empty frame for a from-scratch corpus (the [[startIncrementalDedup]]
    * seed contract). Within a batch, duplicate doc_ids resolve
    * deterministically (first by md5 asc) before the diff. 100 TB: state
    * rows are id + 16-byte md5; the per-batch join keys on doc_id with
    * hash-only payloads — nothing text-sized shuffles past the md5
    * projection, exactly the batch operator's scale shape.
    */
  def startIncrementalSnapshotDiff(docs: DataFrame, stateDir: String,
                                   checkpointDir: String,
                                   onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // release head: latest (doc_id, sha) across seed + prior batches
        val headW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("batch").desc)
        val accepted = spark.read.parquet(stateDir)
          .filter(col("batch") =!= batchId) // replay: ignore own prior append
          .withColumn("__rk", row_number().over(headW))
          .filter(col("__rk") === 1)
          .select(col("doc_id"), col("sha").as("sha_prev"))
        val dupW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("sha"))
        val marked = batch
          .withColumn("sha", md5(col("text")))
          .withColumn("__rk", row_number().over(dupW))
          .filter(col("__rk") === 1)
          .join(accepted, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("sha"),
            when(col("sha_prev").isNull, "added")
              .when(col("sha_prev") =!= col("sha"), "changed")
              .otherwise("unchanged").as("status"),
            lit(batchId).as("batch_id"))
          .persist()
        try {
          onBatch(marked)
          marked.filter(col("status") =!= "unchanged")
            .select(col("doc_id"), col("sha"))
            .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
        } finally marked.unpersist()
        ()
      }
      .start()
  }

  /** R19/T4 — streaming IVF-PQ index MAINTENANCE, the vector path's
    * ingest twin (the corpus path has streaming twins of every batch
    * operator; this is the index build's): arriving (vec_id, v) vectors
    * are assigned their home cell and PQ-encoded per-row against the
    * broadcast index artifacts — coarse centroids + codebook built ONCE
    * from a fixed SEED corpus (`SimilarityQueries.pqIndexBuild`; pinning
    * artifacts to a reference corpus is how production keeps codes
    * comparable across arrivals — retraining re-encodes the index, a
    * batch job, not an ingest stage) — and the slim (vec_id, cell,
    * pq_code) rows are appended to the batch-partitioned codes table.
    * Per-batch overwrite commits are idempotent, there is no cross-batch
    * probe at all (pure append), so replay trivially rewrites identical
    * state. `SimilarityQueries.pqIndexServe` then answers ADC top-k
    * straight from the stored codes — the IncrementalVectorIndexSpec
    * proves serve-over-stored-state ≡ the composed `v_ivfpq_search` plan
    * on the same corpus. 100 TB: per-row work against broadcast
    * artifacts, 16-ish bytes of state per vector, and at serve time the
    * cell column is the partition-pruning key.
    */
  def startIncrementalVectorIndex(vectors: DataFrame, seedVectors: DataFrame,
                                  codesDir: String, checkpointDir: String,
                                  onBatch: DataFrame => Unit,
                                  centroidStride: Int = 13)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.VectorFunctions.l2Norm
    val seed = seedVectors.select(col("vec_id"), col("v"))
      .withColumn("nrm", l2Norm(col("v")))
    graft.plans.GraftFunctions.register(vectors.sparkSession)
    // built ONCE from the fixed seed corpus, as the scaladoc promises —
    // these used to be rebuilt inside every foreachBatch, re-running the
    // seed scan + centroid/codebook aggregations per micro-batch
    // (code-review r17). The artifacts are index-sized one-row frames;
    // persisted so each batch's annotate re-broadcasts from cache. They
    // stay cached for the query's lifetime (freed with the session).
    val (centArr, cb) =
      graft.operators.SimilarityQueries.pqIndexBuild(seed, centroidStride)
    centArr.persist()
    cb.persist()
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val annotated = graft.operators.SimilarityQueries
          .pqIndexAnnotate(batch, centArr, cb)
          .persist()
        try {
          onBatch(annotated)
          annotated.write.mode("overwrite").parquet(s"$codesDir/batch=$batchId")
        } finally annotated.unpersist()
        ()
      }
      .start()
  }
}
