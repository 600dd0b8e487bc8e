package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** `binaryFile` source — the ingestion format of the multimodal family:
  * a directory of opaque media blobs (images/audio/video) becomes a
  * DataFrame of (path, modificationTime, length, content BINARY) rows
  * that the codec seam ([[graft.operators.Multimodal]]) consumes.
  *
  * Scale discipline:
  *  - one ROW per file, never split: media files are decode-atomic, and
  *    the source parallelizes across files (the unit that matters for an
  *    image corpus); `maxPartitionBytes` packs small files per task;
  *  - column pruning reaches the reader: a query not selecting `content`
  *    never reads file BYTES, only filesystem metadata — the cheap
  *    manifest pass before a decode job;
  *  - `pathGlobFilter` prunes non-media droppings at LISTING time.
  *
  * The staged fixture derives deterministically from the documents
  * table (every 5th doc's UTF-8 text bytes as `doc_<id>.bin`, written
  * once per (sf, mtime) from executors — the driver never holds file
  * contents), so the DuckDB oracle replays the whole contract from the
  * raw table: one row per staged doc, file length = strlen(text),
  * content hash = md5(text) — byte drift anywhere in write/list/read
  * moves the hash.
  */
object BinaryFiles {

  /** Which docs stage as binary files (bounded fixture at any sf). */
  private val Stride = 5

  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    // v2 = staging rule version (empty/null blobs excluded): a rule
    // change must bust the stage or a reused dir silently diverges
    graft.Assets.staged("binfiles", Seq(Paths.get(sfDir, "documents.parquet")), "v2") { dir =>
      val dirStr = dir.toString
      // executor-side writes (local-FS staging; a cluster points this at
      // DFS) — one file per row, names carry the key so reruns are moot
      // zero-byte blobs are not ingestible assets — Spark's file listing
      // plans no split for an empty file, so staging one would make the
      // manifest silently shorter than the oracle; null text cannot
      // stage at all. Both predicates replay in the oracle.
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % Stride === 0 &&
          col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val p = Paths.get(dirStr, s"doc_${r.getLong(0)}.bin")
            Files.write(p, r.getString(1).getBytes("UTF-8"))
          }
        }
    }.toString

  /** The source contract: list + read the staged blob directory, emit
    * one (name, bytes, content_hash) row per file. `length` comes from
    * the listing, the hash from the read bytes — both must match what
    * the raw table predicts. */
  def binaryManifest(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(stagedDir(spark, sfDir))
      .select(
        regexp_extract(col("path"), "(doc_\\d+)\\.bin$", 1).as("name"),
        col("length").as("bytes"),
        conv(substring(md5(col("content")), 1, 8), 16, 10).cast("long").as("h"))

  def binaryManifestSql: String = {
    val hv = graft.operators.OracleSql.hexVal("md5(text)", 1, 8)
    s"""SELECT 'doc_' || doc_id AS name,
       |  CAST(strlen(text) AS BIGINT) AS bytes,
       |  CAST($hv AS BIGINT) AS h
       |FROM documents
       |WHERE doc_id % $Stride = 0 AND text IS NOT NULL AND strlen(text) > 0
       |ORDER BY name""".stripMargin
  }
}
