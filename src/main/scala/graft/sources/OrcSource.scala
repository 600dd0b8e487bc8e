package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** ORC source/sink round-trip — the OTHER columnar format an engine user
  * brings data in as (Hive shops are ORC shops). Unlike the text formats
  * ([[JsonLines]], [[CsvLines]]) ORC is self-describing and typed, so
  * the explicit schema is a CHECK, not a parse instruction: a file whose
  * physical types drifted from the contract fails the analysis instead
  * of silently casting. Columnar + striped means the scan gets the same
  * treatment parquet does — column pruning and predicate pushdown reach
  * the reader, splits follow stripes. */
object OrcSource {

  /** Write-once staging of the documents table as ORC, keyed by
    * (source path, mtime) like the other staged sources. */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("orc", Seq(Paths.get(sfDir, "documents.parquet")), "") { dir =>
      Tables.documents(spark, sfDir).write.mode("overwrite").orc(dir.toString)
    }.toString

  /** Round-trip proof with the same output contract (and therefore the
    * same oracle) as the JSONL and CSV round trips: any encode/decode
    * loss moves the md5-derived content checksum. */
  def roundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read
      .schema(JsonLines.documentsSchema)
      .orc(stagedDir(spark, sfDir))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
      .orderBy("lang", "source")

  def roundTripAggSql: String = JsonLines.roundTripAggSql
}
