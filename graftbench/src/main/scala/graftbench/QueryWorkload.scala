package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `queries`: fixed-order passes over registered `graft.SparkEntry`
  * queries, the batch queries first, then the stream replays. One op
  * builds the query's DataFrame (a stream query replays the whole
  * `events` table while it is built) and then materializes every output
  * column through an order-insensitive content hash, so Catalyst cannot
  * prune any operator's projection the way a `count()` lets it. Two
  * untimed passes in set-up fill the memo and staged-asset builds and
  * warm the JIT; the first records each query's hash, and every later
  * op must reproduce it. */
object QueryWorkload {

  /** The Catalyst batch path, one or two queries per family: relational
    * (window, cube, scalar subquery), dedup, text, ann, sketch, sample and
    * events.
    * Left out: stream and TransE queries (other workloads), members of the
    * memoized families whose cost lands on whichever member runs first,
    * and queries whose warm op takes seconds (`graph_components` 10 s,
    * `graph_similar_suppliers` 3.5 s), which would hold a pass longer than
    * a run's window. */
  val batch: Seq[String] = Seq(
    "q6_window_rank", "q20_cube", "q24_scalar_subquery", "dedup_exact",
    "text_pii_scrub", "text_quality", "ann_topk", "sketch_cms_topk",
    "sample_stratified", "events_cohort_retention")

  /** Stream replays that re-run the whole stream on every call (no staged
    * sink read-back): keyed-state dedup and as-of, and the 4-micro-batch
    * session windows whose near-empty sentinel batches carry the
    * per-batch fixed cost. */
  val stream: Seq[String] = Seq("stream_dedup", "stream_asof", "stream_sessionize")

  val all: Seq[String] = batch ++ stream

  /** Warm-up passes in set-up: after a single one, the second timed pass
    * still ran 10-15% faster than the first. */
  val warmPasses = 2

  /** Normalize a value for hashing: floating point values are rendered at
    * 10 (double) or 6 (float) significant digits, so a result whose last
    * bits depend on the order partial aggregates merge in still hashes
    * the same; maps become key-sorted entry arrays. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9e", c)
    case FloatType => format_string("%.5e", c)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType if st.nonEmpty =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** (row count, sum of per-row xxhash64 over every column). */
  def hashFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType)): _*)
    named.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val registry = graft.SparkEntry.queries
    val opSpan = mutable.LinkedHashMap.empty[Int, Span]

    def op(name: String): mutable.Map[String, Any] = {
      val id = opSpan.size
      val layer = if (stream.contains(name)) "stream" else "query"
      val rec = mutable.LinkedHashMap[String, Any]("op" -> id, "name" -> name, "layer" -> layer)
      r.tag(id, name, layer)
      try {
        r.spans(name, layer, id) {
          val df = r.spans("build", layer, id)(registry(name)(spark, r.opts.data))
          val hdf = hashFrame(df)
          val row = r.spans("exec", "exec", id)(hdf.collect().head)
          rec("rows") = row.getLong(0)
          rec("hash") = s"${row.getLong(0)}:${Option(row.getDecimal(1)).getOrElse(0)}"
          rec("plan_ms") = hdf.queryExecution.tracker.phases.values.map(_.durationMs).sum
        }
        rec("ok") = true
      } catch {
        case e: Throwable =>
          rec("ok") = false
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally {
        r.untag()
        graft.CacheScope.releaseAll()
      }
      opSpan(id) = r.spans.all.last
      rec("secs") = opSpan(id).secs
      rec
    }

    val warm = Seq.fill(warmPasses)(all.map(op)).flatten
    val setupS = r.sinceJvmStart
    val firstTimed = opSpan.size
    val gc0 = r.gcSecs
    val t0 = r.spans.nowUs
    // whole passes, so every query weighs the same in each run's medians
    val timed = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    while (r.spans.nowUs - t0 < r.opts.seconds * 1e6) timed ++= all.map(op)
    val gcS = r.gcSecs - gc0
    r.drain()

    (warm ++ timed).foreach { rec =>
      rec("batches") = r.progress.within(opSpan(rec("op").asInstanceOf[Int])).length
    }
    val opSpans = opSpan.values.filter(_.op >= firstTimed).toSeq
    val layers = if (r.opts.trace) traced(r, opSpans, timed.toSeq) else Map.empty[String, Double]
    Map("setup_s" -> setupS, "warm" -> warm,
      "ops" -> timed, "layers" -> (layers ++ Map("jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> r.heapPeakMb)))
  }

  private def traced(r: Run, opSpans: Seq[Span],
      recs: Seq[mutable.Map[String, Any]]): Map[String, Double] = {
    import Stats._
    def child(s: Span, name: String): Option[Span] =
      r.spans.all.find(c => c.parent == s.id && c.name == name)
    val (replays, batchOps) = opSpans.partition(_.layer == "stream")
    val builds = batchOps.flatMap(child(_, "build"))
    val execs = opSpans.flatMap(child(_, "exec"))
    def per(spans: Seq[Span])(f: Seq[StageAgg] => Double): Seq[Double] =
      spans.map(s => f(r.stageAggs(r.jobsIn(s))))
    val execTaskS = execs.map(s => r.stageAggs(r.jobsIn(s)).map(_.runMs).sum / 1e3).sum
    val batches = replays.map(r.progress.within)
    val all = batches.flatten
    def dur(k: String): Double = median(all.map(_.durationMs.getOrElse(k, 0L).toDouble))
    Map(
      "query.build_s" -> median(builds.map(_.secs)),
      "query.build_jobs" -> mean(builds.map(r.jobsIn(_).length.toDouble)),
      "query.plan_ms" -> median(recs.flatMap(_.get("plan_ms")).map(_.toString.toDouble)),
      "exec.s" -> median(execs.map(_.secs)),
      "exec.jobs" -> mean(execs.map(r.jobsIn(_).length.toDouble)),
      "exec.stages" -> mean(per(execs)(_.length.toDouble)),
      "exec.tasks" -> mean(per(execs)(_.map(_.tasks).sum.toDouble)),
      "exec.task_cpu_s" -> median(per(execs)(_.map(_.cpuNs).sum / 1e9)),
      "exec.gc_s" -> median(per(execs)(_.map(_.gcMs).sum / 1e3)),
      "exec.core_busy_share" ->
        (if (execs.isEmpty) 0.0 else execTaskS / (execs.map(_.secs).sum * r.cores)),
      "exec.shuffle_write_bytes" -> mean(per(execs)(_.map(_.shuffleWriteBytes).sum.toDouble)),
      "exec.shuffle_records" -> mean(per(execs)(_.map(_.shuffleRecords).sum.toDouble)),
      "exec.spill_bytes" -> mean(per(execs)(_.map(_.spillBytes).sum.toDouble)),
      "exec.input_bytes" -> mean(per(execs)(_.map(_.inputBytes).sum.toDouble)),
      "stream.batches" -> mean(batches.map(_.length.toDouble)),
      "stream.empty_batch_share" ->
        (if (all.isEmpty) 0.0 else all.count(_.inputRows <= 2).toDouble / all.length),
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.state_commit_ms" -> median(all.map(_.stateCommitMs.toDouble)),
      "stream.state_rows" -> mean(batches.filter(_.nonEmpty).map(_.map(_.stateRows).max.toDouble)),
      "stream.state_bytes" -> mean(batches.filter(_.nonEmpty).map(_.map(_.stateBytes).max.toDouble)))
  }
}
