package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scheduler and streaming counts, attributed to harness spans.
  *
  * The harness sets the local property [[Probe.SpanKey]] to the id of
  * the span it is about to enter; each job carries that property in
  * its start event, and every stage and task of the job is charged to
  * the span the job started in. Jobs started without the property
  * (threads the engine created before the span was set) are charged
  * to [[Probe.Unattributed]].
  *
  * Streaming-query events reach every `SparkListener` through
  * `onOtherEvent`, whichever session started the query, so one
  * listener sees the audits' replay sessions too. They are charged to
  * the row that was running when they arrived ([[Probe.currentRow]]).
  */
final class Probe extends SparkListener {
  import Probe._

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counts    = new ConcurrentHashMap[String, Counts]()

  @volatile var currentRow: String = Unattributed
  private val streams   = new ConcurrentHashMap[String, StreamCounts]()
  private val started   = new ConcurrentHashMap[java.util.UUID, Long]()

  private def at(span: String): Counts = counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span  = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(Unattributed)
    e.stageIds.foreach(stageSpan.put(_, span))
    // a job whose call site (the stage name) is the engine's table
    // loader is the schema-inference read `Tables.t` pays per
    // `spark.read.parquet`
    val tableRead = e.stageInfos.exists(_.name.contains("Tables.scala"))
    val c = at(span)
    c.synchronized {
      c.jobs += 1
      if (tableRead) c.tableReads += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = at(stageSpan.getOrDefault(e.stageInfo.stageId, Unattributed))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = at(stageSpan.getOrDefault(e.stageId, Unattributed))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent =>
      started.put(s.runId, Instant.parse(s.timestamp).toEpochMilli)
      val c = stream(currentRow)
      c.synchronized(c.queries += 1)
    case p: StreamingQueryListener.QueryProgressEvent =>
      val c = stream(currentRow)
      val t0 = Option(started.remove(p.progress.runId))
      c.synchronized {
        c.batches += 1
        t0.foreach(t => c.startMs += (Instant.parse(p.progress.timestamp).toEpochMilli - t).toDouble)
      }
    case _ =>
  }

  private def stream(row: String): StreamCounts =
    streams.computeIfAbsent(row, _ => new StreamCounts)

  def spanCounts: Map[String, Counts] = counts.asScala.toMap
  def streamCounts: Map[String, StreamCounts] = streams.asScala.toMap
}

object Probe {
  val SpanKey      = "perfbench.span"
  val Unattributed = "unattributed"

  final class Counts {
    var jobs, tableReads, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "table_reads" -> tableReads, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill" -> spill)
  }

  final class StreamCounts {
    var queries, batches = 0L
    /** Query start to first batch, one entry per query. */
    val startMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def toMap: Map[String, Any] =
      Map("queries" -> queries, "batches" -> batches, "start_ms" -> startMs.toList)
  }
}
