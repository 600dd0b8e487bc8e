package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval recorded by the benchmark thread around a call into
  * a layer. `op` groups the spans of one operation; `parent` is the id of
  * the enclosing span, or -1. Times are epoch microseconds on one clock. */
final case class Span(id: Int, name: String, layer: String, op: Int,
    parent: Int, startUs: Long, endUs: Long) {
  def secs: Double = (endUs - startUs) / 1e6
  def contains(us: Long): Boolean = us >= startUs && us <= endUs
}

/** In-memory span recorder, used only from the benchmark thread. */
final class Spans {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, layer: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = nowUs
    try body
    finally {
      all += Span(id, name, layer, op, parent, start, nowUs)
      stack = stack.tail
    }
  }

  /** Self time of `s`: its duration minus the part its children cover. */
  def selfSecs(s: Span): Double =
    s.secs - all.filter(_.parent == s.id).map(_.secs).sum
}

/** Task-level totals of one stage, summed from task-end events. */
final class StageAgg {
  var tasks = 0
  var runMs, cpuNs, deserMs, gcMs, resultBytes = 0L
  var shuffleWriteBytes, shuffleRecords, spillBytes, inputBytes = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Job, stage and broadcast recorder for the traced run. Events arrive on
  * Spark's listener thread; readers call [[drain]] first. */
final class JobTrace extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  /** (receive time in epoch ms, serialized bytes) per broadcast piece. */
  val broadcasts = mutable.ArrayBuffer.empty[(Long, Long)]
  private val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    jobs += JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet()
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.deserMs += m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.resultBytes += m.resultSize
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    events.incrementAndGet()
    val info = e.blockUpdatedInfo
    if (info.blockId.isBroadcast && info.blockId.name.contains("_piece") &&
        info.storageLevel.isValid)
      broadcasts += ((System.currentTimeMillis(), info.memSize + info.diskSize))
  }

  /** Wait until every started job has ended and no event arrived for
    * 300 ms, so the totals cover the work already run. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (last != events.get() || synchronized(jobs.exists(_.endMs < 0)))) {
      last = events.get()
      Thread.sleep(300)
    }
  }
}

/** One micro-batch's progress, as reported to a StreamingQueryListener. */
final case class Progress(startMs: Long, inputRows: Long,
    durationMs: Map[String, Long], stateCommitMs: Long, stateRows: Long,
    stateBytes: Long)

/** Records every micro-batch's progress. Registered in every run: each
  * replay's micro-batch count is checked, and the listener is the public
  * way to observe it. */
final class ProgressTrace extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Progress]
  private val events = new AtomicLong(0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    events.incrementAndGet()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    events.incrementAndGet()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
    events.incrementAndGet()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val d = p.durationMs
    val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue()).toMap
    val rec = Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, durations, ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    synchronized(batches += rec)
    events.incrementAndGet()
  }

  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    var last = -1L
    while (System.currentTimeMillis() < deadline && last != events.get()) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  def within(s: Span): Seq[Progress] =
    synchronized(batches.filter(b => s.contains(b.startMs * 1000L)).toSeq)
}
