package graft.metrics

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Work done by a set of completed stages. */
final case class Work(stages: Int = 0, tasks: Long = 0L, cpuNs: Long = 0L,
    shuffleReadBytes: Long = 0L, shuffleReadRecords: Long = 0L,
    shuffleWriteBytes: Long = 0L, shuffleWriteRecords: Long = 0L) {
  def +(o: Work): Work = Work(stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleReadRecords + o.shuffleReadRecords,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleWriteRecords + o.shuffleWriteRecords)
}

object Work {
  def of(s: StageInfo): Work = {
    val m = s.taskMetrics
    Work(1, s.numTasks.toLong, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten)
  }
}

/** One finished Spark job: `callSite` names the action that ran it (e.g.
  * `collect at GraphAnalytics.scala:412`), `engineFrames` the innermost
  * engine (`graft.`) frames of the action's stack, innermost first (e.g.
  * `Spread.scala:39`, `GraphAnalytics.scala:412`), `streaming` whether a
  * structured-streaming micro-batch ran it, `work` the stages it ran. */
final case class JobRow(id: Int, callSite: String, engineFrames: Seq[String],
    wallMs: Long, streaming: Boolean, work: Work)

/** What [[JobProbe.measure]] saw while its body ran: jobs finished, the
  * work of every stage completed, and one row per job it saw start and
  * end. */
final case class Probed[A](result: A, jobs: Int, work: Work,
    jobRows: Seq[JobRow]) {
  /** Work of the micro-batch jobs only, without the batch actions around
    * a stream (staging writes, sink read-backs). */
  def streamingWork: Work =
    jobRows.filter(_.streaming).map(_.work).foldLeft(Work())(_ + _)
}

/** The engine's one Spark listener: counts jobs and stage work and
  * attributes each completed stage to the first job that listed it. A
  * job's call site is its final stage's name, except in a batch SQL
  * execution: AQE submits query-stage jobs from a pool thread whose stage
  * names read `... at CompletableFuture.java`, so those jobs take the
  * call site of the action that started the execution (a micro-batch's
  * execution is described by its query and batch ids instead, so stream
  * jobs keep the stage name: the `start` call). The listener bus delivers
  * events on one thread; reads come from another, hence the locking. */
final class JobProbe private () extends SparkListener {
  private var jobs = 0
  private var work = Work()
  private val started = mutable.Map.empty[Int, SparkListenerJobStart]
  private val owner = mutable.Map.empty[Int, Int]
  private val workOf = mutable.Map.empty[Int, Work]
  private val rows = mutable.ArrayBuffer.empty[JobRow]
  private val executionSite = mutable.Map.empty[String, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionSite(x.executionId.toString) = (x.description, x.details)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = e
    e.stageIds.foreach(s => if (!owner.contains(s)) owner(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val w = Work.of(e.stageInfo)
      work += w
      owner.get(e.stageInfo.stageId).foreach { j =>
        workOf(j) = workOf.getOrElse(j, Work()) + w
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    started.remove(e.jobId).foreach { s =>
      def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
      val streaming = prop(JobProbe.StreamingQueryId).isDefined
      val stageSite = s.stageInfos.maxByOption(_.stageId)
        .fold(("", ""))(st => (st.name, st.details))
      val (site, stack) = if (streaming) stageSite
        else prop(JobProbe.SqlExecutionId).flatMap(executionSite.get).getOrElse(stageSite)
      rows += JobRow(e.jobId, site, JobProbe.engineFrames(stack),
        e.time - s.time, streaming, workOf.remove(e.jobId).getOrElse(Work()))
    }
  }

  private def snapshot: (Int, Work) = synchronized((jobs, work))

  private def probed[A](result: A): Probed[A] =
    synchronized(Probed(result, jobs, work, rows.sortBy(_.id).toSeq))
}

object JobProbe {
  /** Local property structured streaming sets on its micro-batch jobs. */
  val StreamingQueryId = "sql.streaming.queryId"

  /** Local property Spark SQL sets on the jobs of one execution. */
  val SqlExecutionId = "spark.sql.execution.id"

  private val EngineFrame = """^graft\.[^(]*\(([^)]+)\)""".r

  /** `File.scala:line` of the first three `graft.` frames of a long-form
    * call site (one frame per line). */
  private def engineFrames(stack: String): Seq[String] =
    stack.linesIterator.flatMap(l => EngineFrame.findFirstMatchIn(l.trim))
      .map(_.group(1)).take(3).toSeq

  /** Runs `body` under a fresh probe and returns its result with the
    * counts, once the listener bus has delivered the body's events. */
  def measure[A](spark: SparkSession)(body: => A): Probed[A] = {
    val p = new JobProbe
    spark.sparkContext.addSparkListener(p)
    try {
      val result = body
      untilQuiet(p.snapshot)
      p.probed(result)
    } finally spark.sparkContext.removeSparkListener(p)
  }

  /** The listener bus is asynchronous: read `state` every 100 ms until two
    * reads agree (at most 100 reads), and return the last read. */
  def untilQuiet[S](state: => S): S = {
    var last: Option[S] = None
    var cur = state
    var i = 0
    while (!last.contains(cur) && i < 100) {
      Thread.sleep(100); last = Some(cur); cur = state; i += 1
    }
    cur
  }
}
