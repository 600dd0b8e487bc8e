package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Quarantine ingest — the PERMISSIVE counterpart to [[JsonLines]]'s
  * FAILFAST stance, for feeds where some corruption is a FACT of the
  * source (third-party crawls, lossy transports) and "fail the 100 TB
  * job on line 3 billion" is not an option. The production pattern:
  *
  *  - read PERMISSIVE with an explicit `_corrupt_record` column: a
  *    malformed line parses to all-null fields plus the raw line in the
  *    corrupt column — the scan stays splittable and single-pass;
  *  - ROUTE on `_corrupt_record IS NULL`: clean rows flow to the real
  *    table, corrupt raw lines land in a quarantine table for offline
  *    repair — nothing is silently dropped, nothing poisons aggregates;
  *  - the accounting output (clean/quarantined counts + clean-side
  *    content checksum) is what a pipeline owner alerts on: quarantine
  *    RATE is the data-contract health metric.
  *
  * The staged fixture corrupts every doc_id % 37 == 0 line by chopping
  * its closing brace — deterministic, so the DuckDB oracle replays the
  * full routing decision off the raw table without parsing anything.
  *
  * Spark gotcha pinned by the spec: referencing `_corrupt_record`
  * requires materializing the parsed rows first (Spark forbids a filter
  * on the corrupt column directly over the scan — SPARK-21610); the
  * cache + count below is that materialization, sized by the batch, not
  * the corpus (at scale: route in foreachBatch increments, never a
  * global cache).
  */
object JsonQuarantine {

  private val CorruptEvery = 37

  val readSchema: StructType = StructType(
    JsonLines.documentsSchema.fields :+ StructField("_corrupt_record", StringType))

  /** Write-once staging: documents as JSONL with deterministically
    * corrupted lines (closing brace chopped on doc_id % 37 == 0). */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("jsonq", Seq(Paths.get(sfDir, "documents.parquet")), "v1") { dir =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), to_json(struct(
          col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))).as("j"))
        .select(
          when(col("doc_id") % CorruptEvery === 0,
            expr("substring(j, 1, length(j) - 1)"))
            .otherwise(col("j")).as("value"))
        .write.mode("overwrite").text(dir.toString)
    }.toString

  /** PERMISSIVE read + routing split. Returns (clean, quarantine,
    * release): both frames read through a cached parse (the SPARK-21610
    * materialization), and the corpus-sized cache would otherwise
    * outlive the routing — the CALLER invokes `release()` after its
    * last action over the routed frames. */
  def route(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, () => Unit) = {
    val parsed = spark.read
      .schema(readSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stagedDir(spark, sfDir))
      .cache()
    parsed.count() // SPARK-21610: materialize before filtering on _corrupt_record
    val clean = parsed.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantine, () => { parsed.unpersist(); () })
  }

  /** The accounting the pipeline owner alerts on: one row per status
    * with count and (clean-side) content checksum. Quarantined lines
    * checksum as NULL — their content is engine-serialization-specific
    * (Spark's to_json spelling), while the ROUTING decision is not. */
  def quarantineReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (clean, quarantine, release) = route(spark, sfDir)
    // aggregate to DRIVER VALUES first so the corpus-sized parse cache
    // can be released before the (2-row) result leaves this method
    val c = clean.agg(
      count(lit(1)).as("n_rows"),
      sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .as("content_sum")).head()
    val qn = quarantine.count()
    release()
    import spark.implicits._
    Seq(("clean", c.getLong(0), Option(c.get(1)).map(_ => c.getLong(1))),
      ("quarantined", qn, None: Option[Long]))
      .toDF("status", "n_rows", "content_sum")
  }

  /** Oracle: the routing decision replayed off the raw table — corrupt
    * lines are exactly the doc_id % 37 == 0 rows. */
  def quarantineReportSql: String = {
    val hv = graft.operators.OracleSql.hexVal("md5(text)", 1, 8)
    s"""SELECT 'clean' AS status, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST($hv AS BIGINT)) AS BIGINT) AS content_sum
       |FROM documents WHERE doc_id % $CorruptEvery <> 0
       |UNION ALL
       |SELECT 'quarantined', COUNT(*), CAST(NULL AS BIGINT)
       |FROM documents WHERE doc_id % $CorruptEvery = 0
       |ORDER BY status""".stripMargin
  }
}
