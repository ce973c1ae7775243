package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Shared pieces of the two benchmark processes: the run configuration
  * written by run.py, JSON output, percentiles, the message pool and the
  * in-memory span recorder.
  */
object Common {
  val mapper = new ObjectMapper()

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  /** Write JSON via a temp file + rename, so a polling reader never sees
    * a half-written file.
    */
  def writeJson(p: Path, node: JsonNode): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def obj(): ObjectNode = mapper.createObjectNode()

  def awaitFile(p: Path, timeoutMs: Long, what: String): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(p)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  /** Nearest-rank percentile; NaN for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Run configuration (run.py writes it; both processes read it). */
  final class Config(val node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def dbl(k: String): Double = node.get(k).asDouble()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
    def dbls(k: String): Seq[Double] = node.get(k).elements().asScala.map(_.asDouble()).toSeq
    val runDir: Path = Paths.get(str("run_dir"))
    val trace: Boolean = bool("trace")
    def logDir(key: String): String = runDir.resolve("logs").resolve(key).toString
  }

  def config(path: String): Config = new Config(readJson(Paths.get(path)))

  /** One message body of the pool: `kind` is json, proto, empty or
    * malformed; only json and proto bodies are forwardable.
    */
  final case class Msg(kind: String, body: String) {
    def forwardable: Boolean = kind == "json" || kind == "proto"
    /** The parsed body of a json message, parsed once per pool entry. */
    lazy val tree: ObjectNode = mapper.readTree(body).asInstanceOf[ObjectNode]
  }

  def loadPool(path: String): IndexedSeq[Msg] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toIndexedSeq.map { l =>
      val t = l.indexOf('\t')
      Msg(l.substring(0, t), l.substring(t + 1))
    }

  /** Segment line framing of the GraftLog format (`ordinal \t ts \t body`).
    * Pool bodies carry no tab, newline or backslash, so no escaping is
    * needed.
    */
  def segmentText(rows: Seq[(Long, Long, String)]): String =
    rows.map { case (o, ts, b) => s"$o\t$ts\t$b" }.mkString("\n")

  /** Publish one segment atomically: write it under a non-`.log` name,
    * then rename it to the sink's `.o<min>-<max>.log` bounds-marked name,
    * so a reader never lists a torn segment.
    */
  def publishSegment(dir: String, seq: Long, rows: Seq[(Long, Long, String)]): Unit = {
    val d = Paths.get(dir)
    val tmp = d.resolve(f".pub-$seq%08d.tmp")
    Files.write(tmp, segmentText(rows).getBytes(UTF_8))
    val name = f"seg-$seq%08d.o${rows.head._1}-${rows.last._1}.log"
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The frame a consumer must receive for a forwardable message, checked
    * independently of the program's envelope code: a JSON body keeps all
    * of its keys and gains `ess_ordinal` and `ess_timestamp`; a
    * protobuf-text body gains `|ordinal: N|timestamp: M`.
    */
  def frameMatches(m: Msg, ordinal: Long, ts: Long, frame: String): Boolean =
    m.kind match {
      case "proto" => frame == s"${m.body}|ordinal: $ordinal|timestamp: $ts"
      case "json" =>
        try {
          val want = m.tree.deepCopy()
          want.put("ess_ordinal", ordinal).put("ess_timestamp", ts)
          want.equals(NumericEquality, mapper.readTree(frame))
        } catch { case _: Exception => false }
      case _ => false
    }

  /** JSON equality that compares numbers by value, so `5` parsed as an
    * int equals `5L` put as a long.
    */
  private object NumericEquality extends java.util.Comparator[JsonNode] {
    override def compare(a: JsonNode, b: JsonNode): Int =
      if (a.isNumber && b.isNumber) a.decimalValue().compareTo(b.decimalValue())
      else if (a == b) 0 else 1
  }

  /** The ordinal a frame carries, from either wire shape; -1 if none. It
    * only locates the message: `frameMatches` then checks the whole frame,
    * `ess_ordinal` included, so a JSON frame is scanned, not parsed.
    */
  def frameOrdinal(frame: String): Long =
    try {
      if (frame.startsWith("{")) {
        val k = frame.indexOf("\"ess_ordinal\"")
        if (k < 0) -1L
        else {
          var i = frame.indexOf(':', k) + 1
          while (frame.charAt(i) == ' ') i += 1
          var j = i
          while (j < frame.length && frame.charAt(j).isDigit) j += 1
          frame.substring(i, j).toLong
        }
      } else {
        val i = frame.lastIndexOf("|ordinal: ")
        val j = frame.lastIndexOf("|timestamp: ")
        if (i < 0 || j < i) -1L else frame.substring(i + 10, j).toLong
      }
    } catch { case _: Exception => -1L }

  /** A traced interval. `requestId` is the query name, `key:ordinal` or
    * the batch id; times are epoch milliseconds.
    */
  final case class Span(name: String, startMs: Double, endMs: Double,
                        parent: String, requestId: String)

  /** Spans stay in memory and are written out once, when the run ends. */
  final class SpanLog(enabled: Boolean) {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    def add(s: => Span): Unit = if (enabled) buf.add(s)
    def all: Seq[Span] = buf.asScala.toSeq
    def dump(p: Path): Unit = {
      val arr = mapper.createArrayNode()
      all.foreach { s =>
        arr.addObject().put("name", s.name).put("start_ms", s.startMs)
          .put("end_ms", s.endMs).put("parent", s.parent).put("request_id", s.requestId)
      }
      writeJson(p, arr)
    }
  }

  def nowMs: Double = System.currentTimeMillis().toDouble
}
