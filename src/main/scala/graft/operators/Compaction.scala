package graft.operators

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Small-file compaction — the operational lever every long-lived lake
  * needs. Streaming sinks, partitioned writes, and incremental batches
  * leave directories of tiny files; every reader then pays per-file
  * open + footer-parse + scheduling cost (at 100 TB: millions of files
  * can cost more in metadata than in bytes). Compaction rewrites a
  * directory into ~targetBytes-sized files.
  *
  * Scale shape:
  *  - file sizing comes from the FILESYSTEM listing (FileSystem.listStatus
  *    — works the same on HDFS/S3A), not from reading the data twice;
  *  - the default rewrite is `coalesce(n)` — merges input partitions with
  *    NO shuffle: each output task reads a set of small files and streams
  *    one big one. File sizes track input skew; for evenly-sized output
  *    (or when n must exceed the input partition count) use
  *    `even = true` -> `repartition(n)`, paying one round-robin shuffle;
  *  - compaction is layout-only: the row set must be byte-identical
  *    before and after — which is exactly what the registered query's
  *    oracle certifies (content checksum computed off the COMPACTED
  *    copy, compared against DuckDB reading the RAW table).
  *
  * Beyond-reference surface: the reference has no bulk sink at all
  * (driver pickle only, `utils.py:44-49`).
  */
object Compaction {

  /** Rewrite `inDir` (parquet) into `outDir` with ~targetBytes files.
    * Returns (input file count, output file count). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, even: Boolean = false): (Int, Int) = {
    val inPath = new Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outQualified = fs.makeQualified(new Path(outDir))
    // overwrite-mode write into the directory we are lazily reading would
    // destroy the input before the read plan materializes
    require(fs.makeQualified(inPath) != outQualified,
      s"compact: outDir must differ from inDir ($outQualified)")
    // size from a RECURSIVE walk: hive-partitioned inputs keep their data
    // files in subdirectories, and a top-level-only listing would see
    // total=0 and silently coalesce the whole dataset into one file
    val files = {
      val it = fs.listFiles(inPath, /* recursive = */ true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toArray
    }
    val total = files.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    val out = if (even) df.repartition(n) else df.coalesce(n)
    out.write.mode("overwrite").parquet(outDir)
    val written = fs.listStatus(new Path(outDir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, written)
  }

  /** Write-once staging: the documents table deliberately fragmented
    * into 64 files, then compacted; keyed by (source path, mtime) like
    * PartitionedSink so re-runs and concurrent suites reuse it. */
  private[graft] def stagedCompactedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("comp", Seq(Paths.get(sfDir, "documents.parquet")), "") { dir =>
      Tables.documents(spark, sfDir)
        .repartition(64) // the small-file problem, manufactured
        .write.mode("overwrite").parquet(dir.resolve("frag").toString)
      compact(spark, dir.resolve("frag").toString, dir.resolve("out").toString,
        targetBytes = 256L << 20)
    }.resolve("out").toString

  /** Round-trip proof through fragment -> compact: per-(lang, source)
    * counts + md5-derived content checksum computed off the COMPACTED
    * copy; the oracle computes the same off the raw table, so any row
    * lost, duplicated, or mutated by the rewrite moves the hash. */
  def roundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(stagedCompactedDir(spark, sfDir))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
      .orderBy("lang", "source")

  /** OPTIMIZE: compaction and Z-ORDER clustering in ONE rewrite — the
    * Delta/Iceberg `OPTIMIZE ... ZORDER BY` maintenance job as a plain
    * parquet operation. Sizing comes from the recursive listing (like
    * [[compact]]); the layout comes from [[Layout.zOrdered]]
    * (repartitionByRange on the interleaved key + sort-within), so one
    * pass fixes BOTH small files and scan locality: each output file
    * covers a tight (colA, colB) rectangle, which is what lets min/max
    * row-group pruning cut multi-dimensional scans after the rewrite.
    * Same read-cost as compaction alone plus the range shuffle — at
    * 100 TB you were rewriting the bytes anyway; clustering them while
    * they move is free locality. Returns (files in, files out). */
  def optimize(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, colA: String, colB: String): (Int, Int) = {
    val inPath = new Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.makeQualified(inPath) != fs.makeQualified(new Path(outDir)),
      s"optimize: outDir must differ from inDir")
    val files = {
      val it = fs.listFiles(inPath, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toArray
    }
    val total = files.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    Layout.zOrdered(spark.read.parquet(inDir), colA, colB, n)
      .write.mode("overwrite").parquet(outDir)
    val written = fs.listStatus(new Path(outDir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, written)
  }

  /** Staged fixture: lineitem keys deliberately fragmented into 64
    * randomly-laid-out files, then OPTIMIZEd (compact + z-order on
    * (l_partkey, l_suppkey)). */
  private[graft] def stagedOptimizedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("opt", Seq(Paths.get(sfDir, "lineitem.parquet")), "") { dir =>
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .repartition(64)
        .write.mode("overwrite").parquet(dir.resolve("frag").toString)
      optimize(spark, dir.resolve("frag").toString, dir.resolve("out").toString,
        targetBytes = 256L << 20, colA = "l_partkey", colB = "l_suppkey")
    }.resolve("out").toString

  /** Round-trip proof through fragment -> OPTIMIZE: whole-content
    * checksum off the rewritten copy; the z-order clustering itself is
    * a layout property asserted in CompactionSpec (per-file key-span
    * tightness), which no SQL replay can see. */
  def optimizeAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(stagedOptimizedDir(spark, sfDir))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_orderkey").cast("long")).as("okey_sum"),
        sum(conv(substring(md5(concat_ws("|", col("l_orderkey"),
          col("l_partkey"), col("l_suppkey"))), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))

  def optimizeAggSql: String = {
    val hv = OracleSql.hexVal(
      "md5(l_orderkey || '|' || l_partkey || '|' || l_suppkey)", 1, 8)
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS okey_sum,
       |  CAST(SUM(CAST($hv AS BIGINT)) AS BIGINT) AS content_sum
       |FROM lineitem""".stripMargin
  }

  def roundTripAggSql: String = {
    val hv = OracleSql.hexVal("md5(text)", 1, 8)
    // CAST the SUMs: DuckDB SUM(<int>) types as HUGEINT, which pandas
    // fetches as float64 and the driver's dtype-sensitive hash rejects
    // even when every value matches (CORRECTNESS_r02).
    s"""SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CAST($hv AS BIGINT)) AS BIGINT) AS content_sum
       |FROM documents
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }
}
