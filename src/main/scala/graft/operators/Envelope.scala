package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference's per-message data plane, re-expressed as columnar Spark
  * operators (SURVEY.md §2.2).
  *
  * The reference processes one AMQP message at a time in an async callback
  * (reference/app/app.py:393-526): decode bytes → guard empty/POISON →
  * dispatch on first char → parse/enrich → forward. Here every step is a
  * codegen'd Catalyst expression over a DataFrame with the canonical
  * envelope columns:
  *
  *   - `body: String`      — decoded message text
  *   - `ordinal: Long`     — broker-assigned 1-based offset (reference/app/app.py:404-407)
  *   - `ess_timestamp: Long` — broker epoch-millis (reference/app/app.py:408-409)
  *
  * Batch twin of the stream: the `events` table, where `event_id` plays the
  * ordinal and `unix_millis(ts)` the broker timestamp (FIXTURES.md §B).
  *
  * Scale note: every operator here is a stateless per-row projection/filter —
  * embarrassingly parallel, no shuffle, fully inside whole-stage codegen. At
  * 100 TB these run at scan speed.
  */
object Envelope {

  /** P1 — bytes→UTF-8 decode (reference/app/app.py:428-443).
    * The reference drops undecodable messages (skip-and-log); Spark 4's
    * `decode` THROWS on malformed input (MALFORMED_CHARACTER_CODING), so
    * validate first and null out invalid bodies for callers to filter.
    */
  def decodeUtf8(raw: Column): Column =
    when(is_valid_utf8(raw), raw.cast(StringType)).otherwise(lit(null).cast(StringType))

  /** P7 + P6 — empty-message guard and POISON sentinel
    * (reference/app/app.py:463-468). POISON additionally stops the consumer;
    * that control-plane effect lives in graft.streaming.EventStreamPipeline.
    */
  val Poison = "POISON"
  def forwardable(body: Column): Column =
    body.isNotNull && length(body) > 0 && body =!= Poison

  /** P2 — format dispatch on first character '{' (reference/app/app.py:469,490). */
  def isJson(body: Column): Column = substring(body, 1, 1) === "{"

  /** P4 — JSON enrichment (reference/app/app.py:486-489, README.md:146-158):
    * add `ess_ordinal` + `ess_timestamp` keys, preserving every payload key.
    * String-level merge (inject the two keys after the opening brace) so
    * unknown payload keys survive untouched — `from_json` with a fixed
    * schema would silently drop them (SURVEY.md §7 risk list).
    */
  def enrichJson(body: Column, ordinal: Column, tsMillis: Column): Column = {
    val prefix = concat(
      lit("{\"ess_ordinal\": "), ordinal.cast(StringType),
      lit(", \"ess_timestamp\": "), tsMillis.cast(StringType))
    val rest = body.substr(lit(2), length(body)) // payload minus opening brace
    // Empty-object test must see "{ }" (interior whitespace) as empty, or
    // the splice would emit a trailing comma — strip braces/whitespace and
    // check nothing remains. Precondition per the reference's contract:
    // payloads do not carry ess_-prefixed keys themselves (the prefix is
    // reserved for the service, app.py:470-471); the reference overwrites
    // such keys, this splice would duplicate them.
    val isEmptyObject = regexp_replace(body, "[{}\\s]", "") === ""
    when(isEmptyObject, concat(prefix, lit("}")))
      .otherwise(concat(prefix, lit(", "), rest))
  }

  /** P3 — JSON validity test for the drop-malformed contract
    * (reference/app/app.py:472-485): `get_json_object(body, '$')` is null
    * exactly when the body does not parse.
    */
  def isValidJson(body: Column): Column = get_json_object(body, "$").isNotNull

  /** P5 — protobuf-text enrichment (reference/app/app.py:490-494,
    * README.md:137-145): append `|ordinal: N|timestamp: M` to the raw
    * pipe-delimited string.
    */
  def enrichProtoText(body: Column, ordinal: Column, tsMillis: Column): Column =
    concat(
      body,
      lit("|ordinal: "), ordinal.cast(StringType),
      lit("|timestamp: "), tsMillis.cast(StringType)
    )

  /** P9 — client-side protobuf-text split (reference/ws_listener.py:61-72):
    * `split('|')` → [message_class, body_text, "ordinal: N", "timestamp: M"].
    */
  def splitProtoText(wire: Column): Column = split(wire, "\\|")

  /** P3 — JSON parse with drop-malformed (reference/app/app.py:472-485):
    * `get_json_object` returns null on malformed input; callers filter.
    */
  def jsonField(body: Column, path: String): Column = get_json_object(body, path)

  /** P9 typed — extract one named field from a protobuf-text body
    * (reference fixture A2, producer reference/ampq_publisher.py:38-52:
    * `name: value` pairs, strings double-quoted, numbers bare). Returns the
    * unquoted string value, null when the field is absent; callers cast to
    * the typed column (`ampq_publisher.py` field types in FIXTURES.md §A2).
    */
  def protoTextField(body: Column, field: String): Column = {
    // Left-anchored ((?:^|[\s|])) and literal-quoted so a field that is a
    // suffix of another never matches the wrong pair ("id" must not hit
    // "merchant_id") — real protobuf-text field semantics, mirrored
    // verbatim in the p_merchant_decode oracle SQL. '|' is in the anchor
    // class because the enriched wire format is pipe-delimited
    // (enrichProtoText appends "|ordinal: N|timestamp: M"), so fields
    // directly after a separator must still be found.
    val raw = regexp_extract(
      body,
      """(?:^|[\s|])""" + java.util.regex.Pattern.quote(field) + """:\s*("[^"]*"|[^\s|]+)""",
      1)
    when(raw === "", lit(null).cast(StringType))
      .otherwise(regexp_replace(raw, "^\"|\"$", ""))
  }

  /** P10 — uuid → ws location (reference/app/app.py:104-108). */
  def location(uuid: Column, secure: Boolean = false, host: String = "localhost"): Column =
    concat(lit(if (secure) "wss://" else "ws://"), lit(host), lit("/event-stream/"), uuid)
}
