package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Partitioned-parquet sink + partition-pruned scan.
  *
  * The reference's only sink is a driver-local pickle (`utils.py:44-49`);
  * a Spark-native engine's bulk sink is hive-style partitioned parquet,
  * and the matching scan-side capability — PLANNING-time partition
  * pruning — is the single biggest scan-cost lever at 100 TB: a filter on
  * the partition column means non-matching directories are never even
  * listed, where ordinary predicate pushdown still has to touch every
  * file's footer. With ~100 TB of events partitioned by type (or, in
  * production, by date), a one-type query reads only that type's share.
  *
  * Scale notes:
  *  - the write is a narrow re-encode (no shuffle): each input partition
  *    writes its own rows into per-value subdirectories. Partition column
  *    cardinality must stay modest (here: 5 event types); high-cardinality
  *    keys → bucketing instead (BucketingSpec covers that path).
  *  - the read side must show `PartitionFilters` in the scan (asserted in
  *    PlanSpec) — the filter is consumed by the file index, not executed
  *    per row, and the partition column is absent from `ReadSchema`.
  */
object PartitionedSink {

  /** Write-once staging: events re-written partitioned by event_type as
    * a staged asset keyed by (source path, mtime) — re-runs and
    * concurrent suites reuse the finished write. */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("part", Seq(Paths.get(sfDir, "events.parquet")), "") { dir =>
      Tables.events(spark, sfDir)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(dir.toString)
    }.toString

  /** Daily aggregate of ONE event type read through the partitioned
    * layout: the event_type predicate prunes at planning time. */
  def prunedDailyAgg(spark: SparkSession, sfDir: String,
      eventType: String = "purchase"): DataFrame =
    spark.read.parquet(stagedDir(spark, sfDir))
      .filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("day").cast("string").as("day"), col("n_events"), col("sum_value"))
      .orderBy("day")

  /** Oracle: same aggregate straight off the events table — the
    * partitioned round-trip must be lossless. value carries <= 2
    * fractional digits in testdata, so DECIMAL(18,2) is the exact
    * carrier (the q1 discipline). */
  def prunedDailyAggSql(eventType: String = "purchase"): String =
    s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM events WHERE event_type = '$eventType'
       |GROUP BY 1 ORDER BY day""".stripMargin

  /** DYNAMIC partition overwrite — the incremental-load pattern (and the
    * classic footgun this query pins down): rewriting one day's / one
    * type's worth of rows must replace ONLY the partitions present in the
    * incoming batch. The DEFAULT `partitionOverwriteMode=static` wipes
    * the whole table on `mode(overwrite)`; `dynamic` (set session-locally
    * here via `newSession`, never leaking into other queries) limits the
    * overwrite to touched partitions — the behavior an incremental
    * pipeline needs. The query stages the event_type-partitioned table,
    * overwrites the 'click' partition with redacted rows (value zeroed),
    * and returns a per-type summary of the WHOLE table: untouched
    * partitions must survive byte-exact, the touched one must show the
    * rewrite — both provable by the batch oracle.
    *
    * Staged once per (source, mtime); idempotent across invocations
    * like the other staged sinks. */
  def dynamicOverwriteSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val dir = graft.Assets.staged("dynow", Seq(Paths.get(sfDir, "events.parquet")), "") { d =>
      val events = Tables.events(s, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("value"))
      events.write.mode("overwrite").partitionBy("event_type")
        .parquet(d.toString)
      // the incremental batch: clicks redacted (value -> 0); with
      // dynamic mode this replaces ONLY event_type=click
      events.filter(col("event_type") === "click")
        .withColumn("value", lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"))
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(d.toString)
    }
    s.read.parquet(dir.toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Oracle: every type keeps its original mass except clicks, zeroed by
    * the partition-scoped overwrite. */
  val dynamicOverwriteSummarySql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(CASE WHEN event_type = 'click' THEN 0
      |    ELSE SUM(CAST(value AS DECIMAL(18,2))) END AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
}
