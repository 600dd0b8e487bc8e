package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.metrics.{JobProbe, Work}

/** Profiles registered queries on the path they really run: each run
  * builds `SparkEntry.queries(name)` and writes every column to the
  * `noop` sink, under [[JobProbe]]. Per run it prints the wall time, the
  * probe's totals and one line per job (call site and its engine frames,
  * seconds, executor CPU, shuffle bytes); for a stream query also each micro-batch's phase
  * durations and state commit time; then the asset hits, builds and build
  * seconds of the kinds the run touched, staged or memoized, with a memo
  * kind's resident bytes ([[graft.Assets]]). `--plan` prints the formatted
  * physical plan of the first run. An untimed `q1_agg` warms the session
  * first, and query-scoped caches are released after every run.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query>... [--runs n] [--plan]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val runsAt = args.indexOf("--runs")
    val runs = if (runsAt >= 0) args(runsAt + 1).toInt else 1
    val positional = args.zipWithIndex.collect {
      case (a, i) if a != "--plan" && (runsAt < 0 || i < runsAt || i > runsAt + 1) => a
    }
    require(positional.length >= 2,
      "usage: Profile <sfDir> <query>... [--runs n] [--plan]")
    val spark = graft.GraftSession.builder().getOrCreate()
    try run(spark, positional.head, positional.tail.toSeq, runs,
      args.contains("--plan"))(println)
    finally spark.stop()
  }

  /** Every column computed, nothing collected: `count()` would let
    * Catalyst prune the projections. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private final class Batches extends StreamingQueryListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      seen.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def mb(bytes: Long): String = f"${bytes / 1048576.0}%.2f MB"

  private def shuffle(w: Work): String =
    s"shuffle read ${mb(w.shuffleReadBytes)}/${w.shuffleReadRecords} rec, " +
      s"write ${mb(w.shuffleWriteBytes)}/${w.shuffleWriteRecords} rec"

  def run(spark: SparkSession, sfDir: String, queries: Seq[String], runs: Int,
      plan: Boolean)(out: String => Unit): Unit = {
    val registry = graft.SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
    materialize(registry("q1_agg")(spark, sfDir))
    graft.CacheScope.releaseAll()
    val batches = new Batches
    spark.streams.addListener(batches)
    try for (name <- queries; r <- 1 to runs) {
      batches.seen.clear()
      val assetsBefore = graft.Assets.snapshot
      val p = JobProbe.measure(spark) {
        val t0 = System.nanoTime()
        val df = registry(name)(spark, sfDir)
        materialize(df)
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val (df, wall) = p.result
      val w = p.work
      out(f"[profile] $name run $r: $wall%.2f s wall, ${p.jobs} jobs, " +
        f"${w.stages} stages, ${w.tasks} tasks, cpu ${w.cpuNs / 1e9}%.2f s, " +
        shuffle(w))
      p.jobRows.foreach { j =>
        out(f"[profile]   job ${j.id}%d ${j.callSite} " +
          s"[${j.engineFrames.mkString(" < ")}]: " +
          f"${j.wallMs / 1e3}%.2f s, " +
          f"cpu ${j.work.cpuNs / 1e9}%.2f s, ${shuffle(j.work)}" +
          (if (j.streaming) " [stream]" else ""))
      }
      JobProbe.untilQuiet(batches.seen.size)
      batches.seen.asScala.foreach { b =>
        val phases = b.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val commitMs = b.stateOperators.map(_.commitTimeMs).sum
        out(s"[profile]   batch ${b.batchId} ${b.name}: ${b.numInputRows} rows, " +
          s"$phases ms, state commit $commitMs ms")
      }
      val moved = graft.Assets.snapshot.toSeq.sortBy(_._1).flatMap { case (kind, a) =>
        val b = assetsBefore.getOrElse(kind, graft.Assets.Stats())
        if (a == b) None
        else Some(f"$kind hits=${a.hits - b.hits} builds=${a.builds - b.builds} " +
          f"build=${a.buildSecs - b.buildSecs}%.2f s" +
          (if (a.residentBytes > 0) s" resident=${mb(a.residentBytes)}" else ""))
      }
      out(s"[profile]   assets: ${if (moved.isEmpty) "none" else moved.mkString(", ")}")
      if (plan && r == 1)
        out(df.queryExecution.explainString(FormattedMode))
      graft.CacheScope.releaseAll()
    } finally spark.streams.removeListener(batches)
  }
}
