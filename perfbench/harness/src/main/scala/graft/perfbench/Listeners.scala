package graft.perfbench

import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The traced run's listeners. Registered only when tracing is on. */
object Listeners {

  /** Local property naming the suite query that submitted a job. */
  val QueryProp = "perfbench.query"

  /** Every `StreamingQueryProgress`, reduced to what the per-layer
    * metrics need: phase durations, offset range, input rows, the
    * `ess_stats` observed metrics and the state operators.
    */
  final class Batches extends StreamingQueryListener {
    private val rows = new ConcurrentLinkedQueue[com.fasterxml.jackson.databind.JsonNode]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val o = Common.obj()
      o.put("name", p.name).put("batch_id", p.batchId)
        .put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
        .put("input_rows", p.numInputRows)
      val d = o.putObject("duration_ms")
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue()) }
      p.sources.headOption.foreach { s =>
        o.put("start_offset", Option(s.startOffset).getOrElse(""))
          .put("end_offset", Option(s.endOffset).getOrElse(""))
      }
      Option(p.observedMetrics).flatMap(m => Option(m.get("ess_stats"))).foreach { r =>
        o.put("received", r.getAs[Long]("received"))
          .put("sent", if (r.isNullAt(r.fieldIndex("sent"))) 0L else r.getAs[Long]("sent"))
      }
      val st = o.putArray("state")
      p.stateOperators.foreach { s =>
        st.addObject().put("rows_total", s.numRowsTotal).put("memory_bytes", s.memoryUsedBytes)
          .put("commit_ms", s.commitTimeMs).put("dropped_by_watermark", s.numRowsDroppedByWatermark)
      }
      rows.add(o)
    }
    def dump(): ArrayNode = {
      val a = Common.mapper.createArrayNode(); rows.asScala.foreach(a.add); a
    }
  }

  final class Counts {
    val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite = new AtomicLong(0)
  }

  /** Jobs, stages, tasks, executor run/CPU time and shuffle bytes per
    * suite query, attributed through the job's [[QueryProp]].
    */
  final class Tasks extends SparkListener {
    val byQuery = TrieMap.empty[String, Counts]
    private val stageQuery = TrieMap.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryProp))).foreach { q =>
        byQuery.getOrElseUpdate(q, new Counts).jobs.incrementAndGet()
        e.stageIds.foreach(s => stageQuery.put(s, q))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageQuery.get(e.stageInfo.stageId).foreach(q => byQuery(q).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageQuery.get(e.stageId).foreach { q =>
        val c = byQuery(q)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.runMs.addAndGet(m.executorRunTime); c.cpuNs.addAndGet(m.executorCpuTime)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }
}
