package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Registered queries over the `events` log — the batch twin of the
  * reference's message stream (SURVEY.md §2.1-2.2; FIXTURES.md §B).
  * `event_id` plays the broker ordinal, `unix_millis(ts)` the broker
  * timestamp, `props` the message body.
  *
  * Every query ends in a deterministic ORDER BY on a unique key so the
  * DuckDB-oracle hash compare is order-stable; Catalyst's EliminateSorts
  * drops these sorts under Bench's count() so they cost nothing there.
  */
object EventQueries {
  import Replay._

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  private def tsMs = unix_millis(col("ts"))

  val queries: Seq[QueryDef] = Seq(
    // P2+P3+P4 — format dispatch + JSON parse + enrichment, relational form
    // (reference/app/app.py:469-489).
    QueryDef("p_enrich_json", (s, d) =>
      ev(s, d)
        .filter(Envelope.isJson(col("props")))
        .select(
          col("event_id").as("ess_ordinal"),
          tsMs.as("ess_timestamp"),
          col("event_type").as("message_type"),
          Envelope.jsonField(col("props"), "$.k").as("k"))
        .orderBy("ess_ordinal"),
      """SELECT event_id AS ess_ordinal, epoch_ms(ts) AS ess_timestamp,
         event_type AS message_type, json_extract_string(props, '$.k') AS k
         FROM events WHERE substring(props, 1, 1) = '{' ORDER BY ess_ordinal"""),

    // P4 — the enriched JSON WIRE string itself, verified byte-for-byte:
    // enrichment is a pure string splice, so the oracle reconstructs the
    // exact same bytes and the hash compare proves unknown-key preservation
    // on the full corpus (reference/app/app.py:486-489).
    QueryDef("p_enrich_json_wire", (s, d) =>
      ev(s, d)
        .filter(Envelope.isJson(col("props")))
        .select(col("event_id"),
          Envelope.enrichJson(col("props"), col("event_id"), tsMs).as("wire"))
        .orderBy("event_id"),
      """SELECT event_id,
                CASE WHEN length(trim(props)) = 2
                     THEN '{"ess_ordinal": ' || CAST(event_id AS VARCHAR)
                          || ', "ess_timestamp": ' || CAST(epoch_ms(ts) AS VARCHAR) || '}'
                     ELSE '{"ess_ordinal": ' || CAST(event_id AS VARCHAR)
                          || ', "ess_timestamp": ' || CAST(epoch_ms(ts) AS VARCHAR)
                          || ', ' || substring(props, 2)
                END AS wire
         FROM events WHERE substring(props, 1, 1) = '{' ORDER BY event_id"""),

    // P5 — protobuf-text enrichment wire format |ordinal: N|timestamp: M
    // (reference/app/app.py:490-494, README.md:137-145).
    QueryDef("p_enrich_prototext", (s, d) =>
      ev(s, d)
        .select(
          col("event_id"),
          Envelope.enrichProtoText(
            concat(col("event_type"), lit("|"), col("props")),
            col("event_id"), tsMs).as("wire"))
        .orderBy("event_id"),
      """SELECT event_id,
         event_type || '|' || props || '|ordinal: ' || CAST(event_id AS VARCHAR)
           || '|timestamp: ' || CAST(epoch_ms(ts) AS VARCHAR) AS wire
         FROM events ORDER BY event_id"""),

    // R22 — json_tuple multi-field extraction (generator form of the JSON
    // path surface; reference parses whole payloads, app.py:473).
    QueryDef("p_json_tuple", (s, d) =>
      ev(s, d)
        .select(col("event_id"), json_tuple(col("props"), "k").as("k"))
        .withColumn("k_num", col("k").cast("long"))
        .orderBy("event_id"),
      """SELECT event_id, json_extract_string(props, '$.k') AS k,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
         FROM events ORDER BY event_id"""),

    // P9 typed — the A2 MerchantCharge decode: build the reference
    // producer's protobuf-text body (ampq_publisher.py:38-52) from event
    // columns, then recover TYPED fields with Envelope.protoTextField —
    // quoted strings unquoted, numerics cast (FIXTURES.md §A2). Proves the
    // wire→typed-columns path the reference's ws_listener only does
    // stringly (ws_listener.py:61-72).
    QueryDef("p_merchant_decode", (s, d) => {
      val body = concat(
        lit("merchant_kind: \""), upper(col("event_type")),
        lit("\" merchant_name: \"squonk\" merchant_id: "), col("user_id").cast("string"),
        lit(" operation: OPERATION_ENUM_PROCESSING auth_code: "),
        (col("event_id") % 900000 + 100000).cast("string"),
        lit(" value: \""), floorRound(col("value"), 2).cast("string"),
        lit("\" sqn: "), col("event_id").cast("string"))
      ev(s, d)
        .select(col("event_id"), body.as("body"))
        .select(
          col("event_id"),
          Envelope.protoTextField(col("body"), "merchant_kind").as("merchant_kind"),
          Envelope.protoTextField(col("body"), "merchant_id").cast("long").as("merchant_id"),
          Envelope.protoTextField(col("body"), "auth_code").cast("long").as("auth_code"),
          Envelope.protoTextField(col("body"), "value").as("value_str"),
          Envelope.protoTextField(col("body"), "sqn").cast("long").as("sqn"),
          Envelope.protoTextField(col("body"), "missing_field").as("absent"))
        .orderBy("event_id")
    },
      """WITH b AS (
           SELECT event_id,
                  'merchant_kind: "' || upper(event_type) || '" merchant_name: "squonk" merchant_id: '
                  || CAST(user_id AS VARCHAR) || ' operation: OPERATION_ENUM_PROCESSING auth_code: '
                  || CAST(event_id % 900000 + 100000 AS VARCHAR) || ' value: "'
                  || CAST(floor(value * 100 + 0.5) / 100 AS VARCHAR) || '" sqn: '
                  || CAST(event_id AS VARCHAR) AS body
           FROM events)
         SELECT event_id,
                regexp_replace(nullif(regexp_extract(body, '(?:^|[\s|])merchant_kind:\s*("[^"]*"|[^\s|]+)', 1), ''), '^"|"$', '', 'g') AS merchant_kind,
                CAST(regexp_replace(nullif(regexp_extract(body, '(?:^|[\s|])merchant_id:\s*("[^"]*"|[^\s|]+)', 1), ''), '^"|"$', '', 'g') AS BIGINT) AS merchant_id,
                CAST(regexp_replace(nullif(regexp_extract(body, '(?:^|[\s|])auth_code:\s*("[^"]*"|[^\s|]+)', 1), ''), '^"|"$', '', 'g') AS BIGINT) AS auth_code,
                regexp_replace(nullif(regexp_extract(body, '(?:^|[\s|])value:\s*("[^"]*"|[^\s|]+)', 1), ''), '^"|"$', '', 'g') AS value_str,
                CAST(regexp_replace(nullif(regexp_extract(body, '(?:^|[\s|])sqn:\s*("[^"]*"|[^\s|]+)', 1), ''), '^"|"$', '', 'g') AS BIGINT) AS sqn,
                regexp_replace(nullif(regexp_extract(body, '(?:^|[\s|])missing_field:\s*("[^"]*"|[^\s|]+)', 1), ''), '^"|"$', '', 'g') AS absent
         FROM b ORDER BY event_id"""),

    // P6+P7 — POISON/empty guard composed with a type filter
    // (reference/app/app.py:463-468).
    QueryDef("p_forward_filter", (s, d) =>
      ev(s, d)
        .filter(Envelope.forwardable(col("props")) && col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type FROM events
         WHERE props IS NOT NULL AND length(props) > 0 AND props <> 'POISON'
           AND event_type <> 'error' ORDER BY event_id"""),

    // S3 — seek by ordinal: first message with ordinal >= n (README.md:200-203).
    QueryDef("s_seek_ordinal", (s, d) =>
      seek(ev(s, d), FromOrdinal(100L), col("event_id"), tsMs)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id"),
      """SELECT event_id, event_type, value FROM events
         WHERE event_id >= 100 ORDER BY event_id"""),

    // S4 — seek by broker timestamp >= epoch-millis (reference/app/app.py:256-266).
    QueryDef("s_seek_timestamp", (s, d) =>
      seek(ev(s, d), FromTimestamp(1705276800000L), col("event_id"), tsMs)
        .select(col("event_id"), tsMs.as("ts_ms"), col("event_type"))
        .orderBy("event_id"),
      """SELECT event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
         WHERE epoch_ms(ts) >= 1705276800000 ORDER BY event_id"""),

    // S5 — seek by flexible datetime string, naive ⇒ UTC (reference/app/app.py:230-244).
    QueryDef("s_seek_datetime", (s, d) =>
      seek(ev(s, d), FromDatetime("2024-01-20 06:30:00"), col("event_id"), tsMs)
        .select(col("event_id"), tsMs.as("ts_ms"))
        .orderBy("event_id"),
      """SELECT event_id, epoch_ms(ts) AS ts_ms FROM events
         WHERE epoch_ms(ts) >= epoch_ms(TIMESTAMP '2024-01-20 06:30:00')
         ORDER BY event_id"""),

    // R6 — latest event per user (as-of semantics, README.md:196-198).
    QueryDef("r_latest_per_user", (s, d) =>
      Replay.latestPerKey(ev(s, d), col("user_id"), col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id"),
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id"""),

    // R11 — gap detection over the purchase sub-stream (README.md:229-233),
    // via the windowless join-based Replay.gapStats: no single-partition
    // window anywhere in the plan, so the same query survives a 100 TB
    // stream (the round-3 lag-window form was flagged as a scale-killer).
    QueryDef("r_gap_detect", (s, d) =>
      Replay.gapStats(ev(s, d).filter(col("event_type") === "purchase"), "event_id"),
      """SELECT CAST(count(*) AS BIGINT) AS n_gaps,
                CAST(coalesce(sum(gap), 0) AS BIGINT) AS lost
         FROM (SELECT event_id - lag(event_id) OVER (ORDER BY event_id) - 1 AS gap
               FROM events WHERE event_type = 'purchase')
         WHERE gap > 0"""),

    // R11 per stream — the reference's ordinals are per-routing-key, so the
    // production audit is one gap row per stream: run starts via the
    // (key, ordinal+1) anti-join shuffle, spans via a keyed aggregate.
    QueryDef("r_gap_detect_per_stream", (s, d) =>
      Replay.gapStats(ev(s, d), "event_id", Seq("event_type"))
        .orderBy("event_type"),
      // independent formulation (lag window per key) checks the join-based
      // runs/span algebra in Replay.gapStats
      """SELECT event_type,
                CAST(count(CASE WHEN gap > 0 THEN 1 END) AS BIGINT) AS n_gaps,
                CAST(coalesce(sum(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) AS lost
         FROM (SELECT event_type,
                      event_id - lag(event_id) OVER (PARTITION BY event_type
                        ORDER BY event_id) - 1 AS gap
               FROM events)
         GROUP BY event_type ORDER BY event_type"""),

    // R12 — windowed stats every N messages: the reference logs counters every
    // 800 messages (reference/app/app.py:93,515-518); batch twin = bucket by
    // floor(ordinal/800).
    QueryDef("r_stats_every_800", (s, d) =>
      ev(s, d)
        .groupBy(floor(col("event_id") / 800).cast(LongType).as("bucket"))
        .agg(
          count(lit(1)).as("received"),
          count(when(col("event_type") =!= "error", 1)).as("sent"))
        .orderBy("bucket"),
      """SELECT CAST(floor(event_id / 800) AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS received,
                CAST(count(CASE WHEN event_type <> 'error' THEN 1 END) AS BIGINT) AS sent
         FROM events GROUP BY 1 ORDER BY bucket"""),

    // T3/R4 — the BATCH twin of StreamingAggs.correlateStreams (r10): the
    // same key-equality + event-time-bound correlation, run over the
    // archived log — each click paired with the FIRST purchase by the
    // same user inside a 10-minute horizon. One user-keyed equi-join
    // carries the interval predicate; the first-match pick is a
    // min-struct aggregate whose grouping (user, click) is already
    // clustered by the join's user_id partitioning, so no second
    // exchange. This is the query a consumer of the live join replays
    // over retention history — identical semantics, verifiable in DuckDB
    // (the streaming spec proves the live side converges to the same
    // pairs).
    QueryDef("r_correlate_attrib", (s, d) => {
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_millis(col("ts")).as("t_click"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_millis(col("ts")).as("t_buy"))
      clicks.join(buys, Seq("user_id"))
        .filter(col("t_buy") >= col("t_click") &&
          col("t_buy") <= col("t_click") + lit(600000L))
        .groupBy(col("user_id"), col("click_id"), col("t_click"))
        .agg(min(struct(col("t_buy"), col("purchase_id"))).as("m"))
        .select(col("user_id"), col("click_id"),
          col("m.purchase_id").as("purchase_id"),
          (col("m.t_buy") - col("t_click")).as("lag_ms"))
        .orderBy("click_id")
    },
      """WITH c AS (
           SELECT user_id, event_id AS click_id, epoch_ms(ts) AS t_click
           FROM events WHERE event_type = 'click'),
         p AS (
           SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS t_buy
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT c.user_id, c.click_id, c.t_click, p.purchase_id, p.t_buy
           FROM c JOIN p ON p.user_id = c.user_id
            AND p.t_buy >= c.t_click AND p.t_buy <= c.t_click + 600000)
         SELECT user_id, click_id, purchase_id, lag_ms FROM (
           SELECT user_id, click_id, purchase_id, t_buy - t_click AS lag_ms,
                  row_number() OVER (PARTITION BY click_id
                                     ORDER BY t_buy, purchase_id) AS rk
           FROM j) WHERE rk = 1 ORDER BY click_id"""),

    // S9+R3+P10 — registry join: a tiny stream registry (id, routing_key,
    // location) derived from the distinct routing keys, broadcast-joined back
    // to the traffic (reference/app/app.py:127,282-291,104-108). At 100 TB the
    // registry stays a broadcast build side — no shuffle of the big table.
    QueryDef("s_registry_join", (s, d) => {
      val e = ev(s, d)
      val registry = e.select(col("event_type").as("routing_key")).distinct()
        .withColumn("id",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy().orderBy(col("routing_key"))).cast(LongType))
        .withColumn("location", Envelope.location(col("routing_key")))
      e.join(broadcast(registry), e("event_type") === registry("routing_key"))
        .groupBy(col("id"), col("routing_key"), col("location"))
        .agg(count(lit(1)).as("n"), floorRound(sum(col("value")), 2).as("total_value"))
        .orderBy("id")
    },
      """WITH registry AS (
           SELECT routing_key,
                  CAST(row_number() OVER (ORDER BY routing_key) AS BIGINT) AS id,
                  'ws://localhost/event-stream/' || routing_key AS location
           FROM (SELECT DISTINCT event_type AS routing_key FROM events))
         SELECT id, routing_key, location, CAST(count(*) AS BIGINT) AS n,
                floor((sum(value)) * 100 + 0.5) / 100 AS total_value
         FROM events e JOIN registry r ON e.event_type = r.routing_key
         GROUP BY id, routing_key, location ORDER BY id""")
  )
}
