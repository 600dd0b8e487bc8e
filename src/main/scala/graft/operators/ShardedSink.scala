package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-shard writer — the OUTPUT stage of the data pipeline: the
  * cleaned corpus leaves the engine as N content-hash-balanced shard
  * directories that a training job streams independently.
  *
  * Shard assignment is `pmod(md5-hash64(text), nShards)`: content-keyed
  * (stable under retries, re-partitioning, and re-runs — the same
  * argument as sample_hash's content-keyed Bernoulli; a `rand()` or
  * round-robin assignment would reshuffle every run), and balanced by
  * the hash's uniformity, not by any data property.
  *
  * Scale shape: ONE shuffle keyed by the shard id (`repartition(n,
  * shard)`) so each shard directory is written by the tasks owning that
  * shard — at 100 TB, nShards is sized so a shard is a few hundred GB
  * and the write parallelism is nShards-wide; the `partitionBy` re-encode
  * itself is narrow. The emitted MANIFEST (per-shard doc count, char
  * mass, md5-derived content checksum) is what the training job consumes
  * to plan epochs; its checksum is computed from the RE-READ files, so
  * the oracle comparison proves the written bytes, not the plan.
  */
object ShardedSink {

  /** Write-once staged shard directories keyed by (source, mtime). */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String, nShards: Int): String =
    graft.Assets.staged("shards", Seq(Paths.get(sfDir, "documents.parquet")), s"$nShards") { dir =>
      Tables.documents(spark, sfDir)
        .withColumn("shard", pmod(Dedup.hash64Col(col("text")), lit(nShards)))
        .repartition(nShards, col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(dir.toString)
    }.toString

  /** The shard manifest, computed from the RE-READ shard files:
    * (shard, n_docs, sum_chars, content_sum) — full hash oracle
    * ([[manifestSql]] replays the assignment off the raw table; equality
    * proves the written shards partition the corpus exactly). */
  def manifest(spark: SparkSession, sfDir: String, nShards: Int = 16): DataFrame =
    spark.read.parquet(stagedDir(spark, sfDir, nShards))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
      .orderBy("shard")

  /** FILE-LEVEL PROVENANCE through Spark's hidden `_metadata` struct:
    * the shard id is derived from each row's PHYSICAL FILE PATH
    * (`_metadata.file_path`), deliberately ignoring the hive partition
    * column — then checked against the content-derived assignment
    * (pmod of the text hash) by sharing [[manifestSql]]'s oracle.
    * Equality proves two things the manifest alone cannot: the
    * `_metadata` provenance column is trustworthy row-by-row, and every
    * file physically contains exactly the rows its path claims — the
    * audit a lineage-tracking pipeline runs before trusting
    * path-encoded metadata at 100 TB. Reading `_metadata` costs
    * nothing: it is populated from the split, not the file bytes. */
  def provenance(spark: SparkSession, sfDir: String, nShards: Int = 16): DataFrame =
    spark.read.parquet(stagedDir(spark, sfDir, nShards))
      .select(col("text"), col("n_chars"),
        // null-text rows hash to a NULL shard and land in the Hive
        // default partition — no digits in the path, so the extract
        // yields '' and must become a NULL shard (matching the oracle's
        // md5(NULL) group), not an ANSI cast failure
        nullif(regexp_extract(col("_metadata").getField("file_path"),
          "shard=(\\d+)/", 1), lit("")).cast("long").as("shard"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))

  def manifestSql(nShards: Int = 16): String = {
    val h = OracleSql.hex64Signed("md5(text)")
    val hv = OracleSql.hexVal("md5(text)", 1, 8)
    // DuckDB % follows the dividend's sign; pmod is ((h % n) + n) % n
    s"""SELECT CAST((($h % $nShards) + $nShards) % $nShards AS BIGINT) AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CAST($hv AS BIGINT)) AS BIGINT) AS content_sum
       |FROM documents
       |GROUP BY 1 ORDER BY shard""".stripMargin
  }
}
