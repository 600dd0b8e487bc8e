package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** JSON-lines source/sink round-trip — the other bulk text format an
  * engine user expects next to TSV (`transe/TripleReader`) and parquet
  * (everything else).
  *
  * Scale discipline:
  *  - the read ALWAYS carries an explicit schema. Schema inference is a
  *    full extra pass over the data (at 100 TB: a second 100 TB scan
  *    before the first real one), and inferred types drift with content;
  *    a checked `StructType` fails fast instead;
  *  - JSONL is splittable (newline-delimited), so the scan parallelizes
  *    per HDFS block like any text source; fields not referenced are
  *    pruned by Catalyst before parse where possible;
  *  - corrupt records: PERMISSIVE would null out fields silently —
  *    `FAILFAST` surfaces bad input instead of corrupting aggregates
  *    (the same malformed-input stance as TripleReader's checked drop,
  *    but JSONL carries enough structure to make errors loud).
  */
object JsonLines {

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write-once staging of the documents table as JSONL, keyed by
    * (source path, mtime) like PartitionedSink. */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("jsonl", Seq(Paths.get(sfDir, "documents.parquet")), "") { dir =>
      Tables.documents(spark, sfDir).write.mode("overwrite").json(dir.toString)
    }.toString

  /** Round-trip proof: documents -> JSONL -> explicit-schema read ->
    * per-(lang, source) aggregate including an md5-derived content
    * checksum — any JSON escaping loss (newlines, quotes, unicode) would
    * move `content_sum`. Oracle computes the same off the raw table. */
  def roundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read
      .schema(documentsSchema)
      .option("mode", "FAILFAST")
      .json(stagedDir(spark, sfDir))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
      .orderBy("lang", "source")

  def roundTripAggSql: String = {
    val hv = graft.operators.OracleSql.hexVal("md5(text)", 1, 8)
    // CAST the SUMs to BIGINT: DuckDB SUM(<int>) is HUGEINT -> pandas
    // float64 -> driver dtype-hash mismatch despite equal values
    s"""SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CAST($hv AS BIGINT)) AS BIGINT) AS content_sum
       |FROM documents
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }
}
