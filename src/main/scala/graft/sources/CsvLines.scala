package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** CSV source/sink round-trip — the third bulk text format next to JSONL
  * ([[JsonLines]]) and TSV (`transe/TripleReader`). Same scale
  * discipline as JSONL:
  *
  *  - explicit schema ALWAYS (CSV inference is a full extra pass AND
  *    type-drifts with content — a 100 TB corpus must never be scanned
  *    twice to learn what it already knows);
  *  - `FAILFAST` over PERMISSIVE: malformed rows fail loudly instead of
  *    silently nulling fields into a corrupted aggregate;
  *  - `header=true` + quote-all-off defaults: the writer quotes only
  *    when needed, the md5 content checksum in the round-trip aggregate
  *    catches ANY quoting/escaping loss (commas, quotes, newlines);
  *  - CSV without embedded newlines is splittable like JSONL, so the
  *    scan parallelizes per block (`multiLine` stays false — multiLine
  *    CSV is NOT splittable and serializes the scan; if documents could
  *    contain newlines the right call is JSONL or parquet, not CSV).
  */
object CsvLines {

  /** Write-once staging of the documents table as CSV, keyed by
    * (source path, mtime) like [[JsonLines.stagedDir]]. */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("csv", Seq(Paths.get(sfDir, "documents.parquet")), "v3") { dir =>
      // the WRITE path defaults ignoreLeading/TrailingWhiteSpace to TRUE
      // (silent field trimming — a lossy default the checksum would catch
      // only on data that HAS edge whitespace); pin both off explicitly
      // CSV's classic lossiness is the empty-vs-null ambiguity: with the
      // defaults an empty STRING and a NULL both serialize to an empty
      // field and both read back as NULL. Pin an explicit null token so
      // the round trip is a bijection (the md5 checksum caught this on
      // the adversarial fixture — '' docs came back NULL)
      Tables.documents(spark, sfDir).write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", "\\N")
        .option("emptyValue", "\"\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(dir.toString)
    }.toString

  /** Round-trip proof: documents -> CSV -> explicit-schema FAILFAST read
    * -> per-(lang, source) aggregate with an md5-derived content
    * checksum. Identical output contract to [[JsonLines.roundTripAgg]],
    * so any CSV quoting/escaping loss diverges from the shared oracle. */
  def roundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read
      .schema(JsonLines.documentsSchema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      .csv(stagedDir(spark, sfDir))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
      .orderBy("lang", "source")

  /** Same ground truth as the JSONL round trip: the oracle reads the raw
    * parquet — a lossless round trip through EITHER format must match. */
  def roundTripAggSql: String = JsonLines.roundTripAggSql
}
