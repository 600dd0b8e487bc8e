package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Dev-side audit of repeated base-table scans across the registered
  * query surface: for every SparkEntry query, count FileSourceScanExec
  * leaves per source table in the FINAL physical plan (AQE off so
  * exchange reuse is applied and visible as ReusedExchangeExec leaves;
  * cached subtrees counted through their InMemoryRelation once). A table
  * scanned N > 1 times in one plan is an N-fold read amplification at
  * 100 TB — the shape VERDICT r11 #1 banned for the text family.
  *
  * The remaining intentional MULTI classes (semantic self-joins / two
  * distinct slices; persist-then-release pipelines whose final plan
  * shows lineage the run never re-executed; the deliberate lazy-funnel
  * teaching twin) are catalogued in SCALE.md §Read-amplification audit.
  *
  * Usage: runMain graft.tools.ScanAudit [sfDir]
  */
object ScanAudit {

  def tableOf(path: String): String = {
    val base = path.replaceAll(".*/", "")
    val m = ".*/([a-z_]+)\\.parquet.*".r
    path match { case m(t) => t; case _ => base }
  }

  /** Source-table name per scan leaf, cache-aware (cached subtrees
    * counted through their InMemoryRelation exactly once). Shared with
    * PlanSpec's repo-wide scan-count gate. */
  def scans(plan: SparkPlan): Seq[String] = {
    val inline = plan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(p => tableOf(p.toString))
    }.flatten
    val cached = plan.collect { case m: InMemoryTableScanExec =>
      m.relation.cacheBuilder.cachedPlan
    }.distinct.flatMap(scans)
    inline ++ cached
  }

  /** Base-table multi-scan counts for one query plan: table -> scan
    * count, restricted to counts > 1. */
  def multiScans(plan: SparkPlan): Map[String, Int] =
    scans(plan).groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > 1).toMap

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder()
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        val counts = multiScans(df.queryExecution.executedPlan)
        if (counts.nonEmpty)
          println(s"MULTI $name ${counts.toSeq.sortBy(_._1).mkString(", ")}")
      } catch {
        case e: Throwable => println(s"ERR $name ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
