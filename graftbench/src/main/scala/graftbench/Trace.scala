package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed region: `op` is the op id every span of one op shares,
  * `parent` the index of the enclosing span, times in nanoseconds. */
final case class Span(id: Int, name: String, op: String, parent: Option[Int],
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest per thread; they are kept until
  * the run ends and written out then. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var next = 0

  def apply[T](name: String, op: String)(body: => T): T = {
    val id = synchronized { next += 1; next }
    val parent = open.get.headOption
    open.set(id :: open.get)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      open.set(open.get.tail)
      synchronized { done += Span(id, name, op, parent, start, end) }
    }
  }

  /** Run `body` as a span and also return its duration in seconds. */
  def timed[T](name: String, op: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = apply(name, op)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def all: Seq[Span] = synchronized(done.sortBy(_.start).toList)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sorted = all
    val lines = sorted.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent.getOrElse(-1), "start_ns" -> s.start,
        "end_ns" -> s.end, "self_s" -> Spans.selfSeconds(s, sorted))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Spans {
  /** Length covered by the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time: the span minus the part its direct children cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent.contains(s.id)).map(k => (k.start, k.end))
    (s.end - s.start - covered(kids, s.start, s.end)) / 1e9
  }
}

/** Per-op totals gathered by [[Collector]]. */
final class OpExec {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var taskGcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
}

/** Counts jobs' tasks per op and the streaming triggers of every run,
  * traced or not. It keeps nothing per task, so it is registered in
  * both modes; its counts feed the plan-change check across passes. */
final class OpCounts extends SparkListener {
  private val stageOp = mutable.Map.empty[Int, String]
  private val tasks = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val triggers = mutable.ArrayBuffer.empty[Long]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Collector.OpKey)))
      .foreach(op => e.stageIds.foreach(stageOp(_) = op))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stageOp.get(e.stageId).foreach(op => tasks(op) += 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      events += 1
      triggers += java.time.Instant.parse(p.progress.timestamp).toEpochMilli
    }
    case _ =>
  }

  def tasksOf(op: String): Long = synchronized(tasks(op))

  /** Triggers that started inside [startMs, endMs]. */
  def triggersIn(startMs: Long, endMs: Long): Int =
    synchronized(triggers.count(t => t >= startMs && t <= endMs))

  def drain(): Unit = Collector.drain(events)
}

/** Outside-in collectors for a traced run, built on public Spark
  * listener APIs only.
  *
  *  - Jobs are attributed to ops through the `graftbench.op` local
  *    property the runner sets before each op (streaming micro-batch
  *    threads inherit it from the thread that started the query).
  *  - Stages and tasks follow their job.
  *  - Streaming progress arrives through `onOtherEvent`, so the
  *    dedicated streaming session the program uses is seen too; it is
  *    attributed by trigger timestamp to the op window it falls in.
  *  - Catalyst phase times come from a `QueryExecutionListener`
  *    (`tracker.phases`), attributed by the analysis start time, and
  *    from [[analyzed]] for DataFrames analyzed before their action.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector.OpKey

  private val byOp = mutable.Map.empty[String, OpExec]
  private val stageOp = mutable.Map.empty[Int, String]
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val pendingPhases = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val pendingProgress =
    mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile var events = 0L

  private def exec(op: String): OpExec = byOp.getOrElseUpdate(op, new OpExec)

  /** The runner's record of when each op ran (wall-clock ms). */
  def window(op: String, startMs: Long, endMs: Long): Unit =
    synchronized { windows += ((op, startMs, endMs)) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val x = exec(op)
      x.jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stageOp.get(e.stageInfo.stageId).foreach(op => exec(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val x = exec(op)
      x.tasks += 1
      x.taskCpuNs += m.executorCpuTime
      x.taskRunMs += m.executorRunTime
      x.taskGcMs += m.jvmGCTime
      x.inputBytes += m.inputMetrics.bytesRead
      x.inputRecords += m.inputMetrics.recordsRead
      x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      x.outputBytes += m.outputMetrics.bytesWritten
      x.peakExecMem = x.peakExecMem max m.peakExecutionMemory
      x.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized { events += 1; pendingProgress += p.progress }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val at = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    synchronized {
      events += 1
      pendingPhases += ((at, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The analysis phase of a DataFrame built before its action: the
    * action's own execution reports only the already-analyzed plan. It
    * counts only when it falls in a traced op's window. */
  def analyzed(qe: QueryExecution): Unit = qe.tracker.phases.get("analysis").foreach { p =>
    synchronized { pendingPhases += ((p.startTimeMs, p.endTimeMs - p.startTimeMs, 0L, 0L)) }
  }

  private def opAt(ms: Long): Option[String] =
    windows.find { case (_, a, b) => ms >= a && ms <= b }.map(_._1)

  /** Attribute time-stamped events to op windows; call once the
    * listener bus has drained. */
  def settle(): Map[String, OpExec] = synchronized {
    pendingPhases.foreach { case (at, a, o, p) =>
      opAt(at).foreach { op =>
        val x = exec(op)
        x.analysisMs += a; x.optimizationMs += o; x.planningMs += p
      }
    }
    pendingPhases.clear()
    pendingProgress.foreach { p =>
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      opAt(at).foreach(op => exec(op).progress += p)
    }
    pendingProgress.clear()
    byOp.toMap
  }

  def drain(): Unit = Collector.drain(events)
}

object Collector {
  /** The local property that names the op a job belongs to. */
  val OpKey = "graftbench.op"

  /** Wait until `events` has not moved for `quietMs`: the listener bus
    * delivers asynchronously. */
  def drain(events: => Long, quietMs: Long = 400, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = events
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(50)
      if (events != last) { last = events; quietSince = System.currentTimeMillis() }
    }
  }
}
