package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM,
  ShuffleExchangeLike}

/** Scale-adaptive CPU spread for gram/hash-heavy NARROW stages (guide
  * §2: derive partitioning from the input, never a constant tuned to one
  * deployment). A small corpus arrives as ONE parquet split — file
  * splitting floors `maxSplitBytes` at `openCostInBytes` (4 MB), so any
  * file below it is one task — and then a per-row md5/shingle pipeline
  * runs on a single core no matter the session's parallelism (measured
  * sf0.1, 32 cores: winnowing 2.9 → 0.5 s, bigram coverage 2.9 → 0.8 s,
  * decontaminate 2.9 → 1.1 s once spread; the 8-vs-32-core bench ratios
  * of ~1.0 for this family were THIS, not Amdahl). The repartition is
  * conditional on the scan actually under-splitting, so at 100 TB —
  * where the scan yields orders of magnitude more splits than cores —
  * it is a strict no-op: nothing is coalesced, nothing shuffles.
  *
  * Deciding runs nothing: the split count comes from [[plannedSplits]],
  * never from `df.rdd` of a plan with exchanges, which under AQE would
  * execute the upstream shuffles while the plan is being built. */
object Spread {
  def cpuSpread[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (plannedSplits(ds) < p) ds.repartition(p) else ds
  }

  /** The partition count `ds` will run with, read without running
    * anything; 0 when it is not fixed until run time.
    *  - Adaptive plans: AQE may coalesce any shuffle except a
    *    `repartition(n)`'s, so the count is the plan's output partitioning
    *    only when every shuffle in it is one of those, else 0.
    *  - Plans with no exchange and no subquery: the split count of their
    *    scans. Split planning runs no job.
    *  - Other plans (AQE off): the static output partitioning. Building
    *    their RDD could run a broadcast, a subquery or a range-partition
    *    sample. */
  private def plannedSplits(ds: Dataset[_]): Int = ds.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec =>
      val fixed = a.executedPlan.collect { case s: ShuffleExchangeLike => s.shuffleOrigin }
        .forall(_ == REPARTITION_BY_NUM)
      if (fixed) a.executedPlan.outputPartitioning.numPartitions else 0
    case plan if plan.find(_.isInstanceOf[Exchange]).isEmpty && plan.subqueriesAll.isEmpty =>
      ds.queryExecution.toRdd.getNumPartitions
    case plan => plan.outputPartitioning.numPartitions
  }

  /** Spread a SMALL input that feeds a heavy per-row scan (test triples
    * ranked against every entity) over all cores. Its split count says
    * nothing about how evenly its rows lie: a filter over a cached union
    * can hold every match in one split of many. So only a driver-built
    * block is scanned in place: a `LocalTableScanExec` of at least
    * `defaultParallelism` rows, which Spark slices evenly into that many
    * splits and runs in one job with no shuffle. Every other input is
    * repartitioned to `defaultParallelism`. Deciding runs nothing. */
  def rowSpread[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    ds.queryExecution.executedPlan match {
      case scan: LocalTableScanExec if scan.rows.length >= p => ds
      case _ => ds.repartition(p)
    }
  }

  /** Spread the input of a HIGH-FAN-OUT generator (an explode that
    * multiplies row count by ~d² — pair generation from postings).
    * AQE's partition coalescing is BYTES-based on the generator's INPUT
    * and blind to its output volume: a few MB of posting arrays coalesce
    * to one or two partitions, and the multi-million-row explode then
    * runs on that many cores (measured sf0.1: neighborSimilarity's 9.3M
    * pair rows on ~1 core, the operator's single ~4 s job). At cluster
    * scale the same blindness turns ~64 MB coalesced inputs into
    * multi-GB generator outputs per task — a straggler/spill risk (§2.5,
    * §5), so the explicit exchange is correct there too, not just
    * locally: it moves |input| rows to protect a ×fan-out stage, and AQE
    * honors a user repartition instead of re-coalescing it. Partition
    * count: never below the session's parallelism, never below what the
    * plan already has. The plan's count is read from its physical output
    * partitioning (under AQE, that of the adaptive plan's current physical
    * plan), which runs nothing: `df.rdd` would, under AQE, execute the
    * upstream shuffles while the plan is being built, and the terminal
    * action would then run them again. */
  def fanoutSpread(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val p = math.max(df.sparkSession.sparkContext.defaultParallelism,
      plan.outputPartitioning.numPartitions)
    df.repartition(p)
  }
}
