package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.SummaryRewrite

/** Staged materialized rollups + their [[SummaryRewrite]] registrations
  * — the maintenance side of the MV story (the rule is the query side).
  *
  * The daily events rollup: one row per (event_type, day) with
  * cnt = COUNT(1). Staged once per (events.parquet path, mtime) like
  * every other staged asset (PartitionedSink discipline), registered
  * against the [[eventsWithDay]] view plan. In production this table is
  * maintained incrementally (the stream_upsert pattern); here staging
  * rebuilds it whenever the source file changes, which keeps the
  * freshness contract honest for the sweep. */
object Summaries {

  /** The registered VIEW: events with the event-day alongside — the
    * canonical-plan key queries must aggregate over to be rewritten. */
  def eventsWithDay(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).withColumn("day", to_date(col("ts")))

  /** Build + register the (event_type, day) count rollup; returns the
    * summary path. Idempotent per (source, mtime). */
  def ensureEventsDailySummary(spark: SparkSession, sfDir: String): String = {
    val dir = graft.Assets.staged("evsum", Seq(Paths.get(sfDir, "events.parquet")), "") { d =>
      eventsWithDay(spark, sfDir)
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(d.toString)
    }
    SummaryRewrite.register(eventsWithDay(spark, sfDir),
      SummaryRewrite.Entry(dir.toString, Seq("event_type", "day"),
        cntCol = "cnt", sums = Map.empty))
    dir.toString
  }

  /** The dashboard query, written NATURALLY over the raw view — per-type
    * event totals. With the extension installed, [[SummaryRewrite]]
    * redirects it to the staged rollup (re-aggregating SUM(cnt) over
    * days); without it, the same code computes from raw events. Both
    * produce identical integers, which is exactly what the oracle
    * checks. PlanSpec asserts the redirect actually fired. */
  def eventTypeTotals(spark: SparkSession, sfDir: String): DataFrame = {
    ensureEventsDailySummary(spark, sfDir)
    eventsWithDay(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
  }

  def eventTypeTotalsSql: String =
    """SELECT event_type, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
}
