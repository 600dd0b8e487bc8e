package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, spans: String)

/** One benchmark run in a fresh JVM: set up the workload, run its ops in a
  * closed loop from this one thread for `--seconds`, and print one result
  * line (`GRAFTBENCH <json>`) holding every op's timing and output hash;
  * `run.py` turns it into metrics and checks the hashes.
  *
  * Usage: BenchMain --workload <transe|queries>
  *   --seed <n> --seconds <s> --trace <0|1> [--data <dir>] [--spans <file>]
  */
object BenchMain {
  /** Writes the result line and the spans: maps, sequences and options as
    * JSON objects, arrays and values. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("data", ""),
      kv.getOrElse("spans", ""))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftKryo.configure(SparkSession.builder()
      .master(s"local[$cores]"))
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val run = new Run(spark, o, cores)
    val result = try o.workload match {
      case "transe" => TransEWorkload.run(run)
      case "queries" => QueryWorkload.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally run.stopListeners()
    if (o.trace && o.spans.nonEmpty) run.writeSpans(o.spans)
    println("GRAFTBENCH " + json.writeValueAsString(result + ("cores" -> cores)))
    spark.stop()
  }
}

/** State shared by one run's workload: the session, the span recorder, the
  * listeners of a traced run, and the JVM counters. */
final class Run(val spark: SparkSession, val opts: Opts, val cores: Int) {
  val spans = new Spans
  val progress = new ProgressTrace
  spark.streams.addListener(progress)
  val jobs: Option[JobTrace] =
    if (opts.trace) {
      val t = new JobTrace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

  /** Seconds from JVM start to now. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def gcSecs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Tag the jobs an op fires (traced runs only). */
  def tag(op: Int, name: String, layer: String): Unit =
    if (opts.trace) spark.sparkContext.setJobGroup(s"op$op:$name", layer)

  def untag(): Unit = if (opts.trace) spark.sparkContext.clearJobGroup()

  def drain(): Unit = {
    jobs.foreach(_.drain())
    progress.drain()
  }

  def stopListeners(): Unit = {
    spark.streams.removeListener(progress)
    jobs.foreach(spark.sparkContext.removeSparkListener)
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.all.sortBy(_.id).map { s =>
      BenchMain.json.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_s" -> spans.selfSecs(s)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  // ------------------------------------------------ traced aggregation

  /** Jobs whose submission falls inside `s`. */
  def jobsIn(s: Span): Seq[JobRec] =
    jobs.map(_.jobs.filter(j => s.contains(j.startMs * 1000L)).toSeq).getOrElse(Nil)

  def stageAggs(js: Seq[JobRec]): Seq[StageAgg] =
    jobs.map(t => js.flatMap(_.stages).distinct.flatMap(t.stages.get)).getOrElse(Nil)

  def broadcastBytesIn(fromUs: Long, toUs: Long): Long =
    jobs.map(_.broadcasts.collect {
      case (ms, b) if ms * 1000L >= fromUs && ms * 1000L <= toUs => b
    }.sum).getOrElse(0L)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
