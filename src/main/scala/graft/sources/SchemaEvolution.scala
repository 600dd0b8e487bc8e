package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Schema-evolved parquet directory read — the ingestion reality of any
  * long-lived dataset: a column added mid-stream means old files lack it
  * and new files carry it, in ONE logical table. A plain
  * `spark.read.parquet(dir)` picks one file's footer as THE schema
  * (which file is nondeterministic) and silently drops or crashes on the
  * others; `mergeSchema` unions the footers so old files surface the new
  * column as NULL — the correct semantics, made explicit here and sealed
  * with a sentinel so no downstream NULL-handling is implicit.
  *
  * Scale notes:
  *  - `mergeSchema` reads every file FOOTER at planning time (metadata,
  *    not data — cheap relative to the scan, but at millions of files
  *    the production form is a table format's tracked schema; this
  *    operator is the no-catalog spelling);
  *  - per-file column absence is handled by the parquet reader's
  *    missing-column-as-null path — no rewrite of old files, the whole
  *    point of additive evolution;
  *  - the output pins dtypes (sentinel -1 for pre-evolution rows) so the
  *    evolved column is BIGINT on both engines, not a nullable mix.
  *
  * The staged fixture derives deterministically from the events table:
  * v1 files hold days < `splitDay` as (day_id, n_events); v2 files hold
  * the rest with the added n_users column — both engines replay the
  * construction, so the merged read is fully hash-oracled.
  */
object SchemaEvolution {

  val splitDay = 19738L

  /** Write-once staging: one directory holding v1 (2-column) and v2
    * (3-column) parquet parts, keyed by (source path, mtime). */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("schemaevo", Seq(Paths.get(sfDir, "events.parquet")), "") { dir =>
      val daily = Tables.events(spark, sfDir)
        .select(expr("unix_micros(ts) DIV 1000000 DIV 86400").as("day_id"),
          col("user_id"))
        .groupBy("day_id")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
      daily.filter(col("day_id") < splitDay)
        .select("day_id", "n_events") // v1: before the column existed
        .write.mode("overwrite").parquet(s"$dir/v1")
      daily.filter(col("day_id") >= splitDay)
        .select("day_id", "n_events", "n_users") // v2: evolved
        .write.mode("overwrite").parquet(s"$dir/v2")
    }.toString

  /** The merged read: old rows surface n_users as the -1 sentinel. */
  def evolvedRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedDir(spark, sfDir)
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
      .select(col("day_id"), col("n_events"),
        coalesce(col("n_users"), lit(-1L)).as("n_users"))
  }

  /** DuckDB replay of the construction + merge semantics from raw. */
  def evolvedReadSql: String =
    s"""SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_id,
       |  COUNT(*) AS n_events,
       |  CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400 < $splitDay
       |       THEN -1 ELSE COUNT(DISTINCT user_id) END AS n_users
       |FROM events
       |GROUP BY 1 ORDER BY day_id""".stripMargin
}
