package c360bench

import scala.collection.mutable

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the run. `parent` is the id of the span that
  * caused it (0 for the run itself). Spans stay in memory and are written
  * out when the run ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    var endNs: Long = 0L, attrs: mutable.LinkedHashMap[String, Any] =
      mutable.LinkedHashMap.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans at the benchmark's own call boundaries. Disabled, `span` only
  * runs its body, so untimed passes and untraced runs pay nothing. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  var enabled = false
  private var stack = List(0)
  private var nextId = 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.head, name, System.nanoTime())
      nextId += 1
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def current: Option[Span] =
    if (enabled) spans.find(_.id == stack.head) else None

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Per-operation counters from Spark's listeners. Jobs attach to the
  * operation through the job group the client sets; jobs started by a
  * streaming query's own thread carry that query's group instead, and
  * attach to the operation in flight (one operation runs at a time). */
final class OpCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskWaitMs, taskDurMs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillDisk, spillMem, peakMem = 0L
  var rowsIn, bytesIn = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  var streamBatches, streamEmpty = 0L
  var streamBatchMs = 0L
  var stateRows = 0L

  /** Wall time inside [t0, t1] (ms) covered by no job. */
  def driverGapMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    jobSpans.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, reach)
      val hi = math.min(b, t1)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, t1 - t0 - covered)
  }
}

final class Meter extends SparkListener {
  @volatile var inFlight: String = ""
  private val byGroup = mutable.HashMap[String, OpCounters]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageSubmit = mutable.HashMap[Int, Long]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  var peakBlockBytes = 0L

  def counters(group: String): OpCounters =
    synchronized(byGroup.getOrElseUpdate(group, new OpCounters))

  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g.startsWith(Main.GroupPrefix)) g else inFlight
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      counters(g).jobSpans += ((t0, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val g = stageGroup.getOrElse(e.stageInfo.stageId, inFlight)
      counters(g).stages += 1
      e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, inFlight))
    val info = e.taskInfo
    c.tasks += 1
    if (info.failed || info.killed) c.failedTasks += 1
    c.taskDurMs += info.duration
    stageSubmit.get(e.stageId).foreach(s =>
      c.taskWaitMs += math.max(0L, info.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillDisk += m.diskBytesSpilled
      c.spillMem += m.memoryBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      c.rowsIn += m.inputMetrics.recordsRead
      c.bytesIn += m.inputMetrics.bytesRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = b.memSize + b.diskSize
        blockBytes += now - blocks.getOrElse(b.blockId.name, 0L)
        if (now == 0L) blocks.remove(b.blockId.name)
        else blocks(b.blockId.name) = now
        peakBlockBytes = math.max(peakBlockBytes, blockBytes)
      }
    }

  /** Streaming progress, attached to the operation in flight. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized {
        val p = e.progress
        val c = counters(inFlight)
        c.streamBatches += 1
        if (p.numInputRows == 0) c.streamEmpty += 1
        c.streamBatchMs += Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        c.stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
  }
}

/** Whole-stage codegen compile times, read from the code generator's own
  * "Code generated in N ms" log line while a traced pass runs. */
final class CodegenTap extends AbstractAppender("c360bench-codegen", null,
    null, true, Property.EMPTY_ARRAY) {
  @volatile var classes = 0L
  @volatile var compileMs = 0.0
  private val Pat = """Code generated in ([0-9.]+) ms""".r.unanchored
  override def append(e: LogEvent): Unit =
    e.getMessage.getFormattedMessage match {
      case Pat(ms) => synchronized { classes += 1; compileMs += ms.toDouble }
      case _ => ()
    }
}

object CodegenTap {
  private val Logger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def attach(): CodegenTap = {
    val tap = new CodegenTap
    tap.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Configurator.setLevel(Logger, Level.INFO)
    val cfg = ctx.getConfiguration.getLoggerConfig(Logger)
    cfg.setAdditive(false)
    cfg.addAppender(tap, Level.INFO, null)
    ctx.updateLoggers()
    tap
  }
}
