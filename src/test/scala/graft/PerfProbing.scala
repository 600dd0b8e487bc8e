package graft

/** Shared probe for STRUCTURAL perf gates (jobs scheduled, shuffle
  * bytes/records) — wall seconds cannot police iterative workloads under
  * host CPU throttling (r9/r10: graph + streaming mins swung ±37% on
  * untouched code), so the specs pin the SHAPE of the work instead. */
trait PerfProbing { self: SparkSpec =>

  /** Run `body` under [[graft.metrics.JobProbe]]; returns (jobs,
    * shuffleReadBytes, shuffleWriteRecords). */
  def probeJobs(body: => Unit): (Int, Long, Long) = {
    val p = graft.metrics.JobProbe.measure(spark)(body)
    (p.jobs, p.work.shuffleReadBytes, p.work.shuffleWriteRecords)
  }
}
