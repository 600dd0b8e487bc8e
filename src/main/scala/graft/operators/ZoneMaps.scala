package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** File-level zone maps (min/max data skipping) — the lakehouse index
  * class BETWEEN hive partitioning and bucketing: partition dirs prune
  * CATEGORICAL predicates at planning time ([[PartitionedSink]]), zone
  * maps prune RANGE predicates over a clustering column without
  * moving rows into per-value directories.
  *
  * Mechanics, exactly the Delta/Iceberg data-skipping shape:
  *  - the table is written range-clustered on the skip column
  *    (`repartitionByRange` + `sortWithinPartitions`) so each file covers
  *    a narrow value band — zone maps over random layout prune nothing;
  *  - the manifest is built from parquet FOOTER STATISTICS only
  *    (O(files) metadata reads, zero data IO) — min/max per file for the
  *    clustering column, persisted next to the data as a tiny JSON asset;
  *  - a range query consults the manifest FIRST and hands Spark only the
  *    surviving files — planning-time skipping the engine's row-group
  *    filter then refines further. At 100 TB / 128 MB files the manifest
  *    is ~800k rows of (path, lo, hi): driver-trivial, and the file-list
  *    scan constructor is exactly how table formats feed their planners.
  *
  * The residual predicate stays on the scan (zone maps are a superset
  * admission test, never an answer), so a manifest bug can only cost
  * performance on the admitted side — the ZoneMapSpec pruning assertion
  * plus the shared-oracle equality is what catches a manifest that
  * drops a file it must admit.
  */
object ZoneMaps {

  private val SkipCol = "ts_us"
  private val NFiles = 16

  /** Range-clustered staging of the events table: `ts_us` (event-time
    * epoch micros, the clustering key) + the analysis columns, written
    * once per (source file, mtime) as [[NFiles]] range-disjoint files
    * with a footer-derived manifest alongside. */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("zonemap", Seq(Paths.get(sfDir, "events.parquet")), "v1") { dir =>
      Tables.events(spark, sfDir)
        .select(expr("unix_micros(ts)").as(SkipCol),
          col("event_type"), col("value"))
        .repartitionByRange(NFiles, col(SkipCol))
        .sortWithinPartitions(SkipCol)
        .write.mode("overwrite").parquet(dir.toString)
      val entries = footerManifest(spark, dir.toString)
      val json = entries.map { case (f, lo, hi) =>
        s"""{"file":"$f","min":$lo,"max":$hi}"""
      }.mkString("[", ",", "]")
      Files.writeString(dir.resolve("_MANIFEST.json"), json)
    }.toString

  /** (fileName, min, max) for the skip column, from parquet footer
    * statistics only — no row is read. Multi-row-group files fold their
    * per-block stats; a chunk with unusable stats poisons the file to
    * (MinValue, MaxValue), i.e. "always admit" (skipping must fail open). */
  /** Overlapping-band count under a RUNNING max-hi sweep over the
    * lo-sorted bands — not the immediate predecessor's hi: one wide band
    * that blankets many later disjoint bands must count once PER band it
    * covers, or a broken layout stays under the majority threshold the
    * clustering-defect guard uses (ADVICE r10). */
  private[graft] def overlapCount(bands: Seq[(Long, Long)]): Int = {
    var maxHi = Long.MinValue
    var n = 0
    bands.sorted.foreach { case (lo, hi) =>
      if (maxHi != Long.MinValue && lo < maxHi) n += 1
      if (hi > maxHi) maxHi = hi
    }
    n
  }

  private[graft] def footerManifest(spark: SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    val conf: Configuration = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
        try {
          var lo = Long.MaxValue
          var hi = Long.MinValue
          reader.getFooter.getBlocks.forEach { block =>
            block.getColumns.forEach { chunk =>
              if (chunk.getPath.toDotString == SkipCol) {
                val st = chunk.getStatistics
                if (st != null && !st.isEmpty && st.hasNonNullValue) {
                  (st.genericGetMin, st.genericGetMax) match {
                    case (mn: java.lang.Long, mx: java.lang.Long) =>
                      lo = math.min(lo, mn.longValue)
                      hi = math.max(hi, mx.longValue)
                    case _ => lo = Long.MinValue; hi = Long.MaxValue
                  }
                } else { lo = Long.MinValue; hi = Long.MaxValue }
              }
            }
          }
          (s.getPath.getName, lo, hi)
        } finally reader.close()
      }
  }

  private def readManifest(dir: String): Seq[(String, Long, Long)] = {
    val json = Files.readString(Paths.get(dir, "_MANIFEST.json"))
    // the writer controls the format (no nesting, no escapes), so a
    // regex scan is a faithful parser for this asset
    val entry = """\{"file":"([^"]+)","min":(-?\d+),"max":(-?\d+)\}""".r
    entry.findAllMatchIn(json)
      .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
  }

  /** Scan `[loUs, hiUs]` through the zone-mapped layout: manifest admits
    * files whose band intersects the range, Spark reads ONLY those, the
    * residual predicate stays on the scan. Returns (scan, admitted,
    * total) so callers/tests can assert real skipping happened. */
  def skipScan(spark: SparkSession, sfDir: String,
      loUs: Long, hiUs: Long): (DataFrame, Int, Int) = {
    val dir = stagedDir(spark, sfDir)
    val manifest = readManifest(dir)
    val admitted = manifest.collect {
      case (f, lo, hi) if hi >= loUs && lo <= hiUs => s"$dir/$f"
    }
    val scan =
      if (admitted.isEmpty) // empty range: schema-correct empty frame
        spark.read.parquet(dir).limit(0)
      else spark.read.parquet(admitted: _*)
    (scan.filter(col(SkipCol).between(loUs, hiUs)), admitted.size, manifest.size)
  }

  /** Registered query: per-type count+sum over a 2-day window placed
    * [2d, 4d) after the corpus's first event — answered through the
    * zone-mapped layout, where the manifest admits ~2/30ths of the
    * files instead of all of them. The window derives from MIN(ts) so
    * the same literal-free spelling holds at every scale factor (the
    * oracle computes it identically in SQL). */
  def windowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val day = 86400000000L // micros
    // t0 from the MANIFEST, not a raw-table scan: the footer stats are
    // exact INT64 minima over the same rows, so min(lo) IS min(ts_us) —
    // the metadata-only discipline the operator exists to demonstrate.
    // Poisoned entries (unusable stats => MinValue) fall back to a scan.
    val dir = stagedDir(spark, sfDir)
    val manifest = readManifest(dir)
    val los = manifest.map(_._2)
    // ANY poisoned entry forces the raw-table fallback: the one file with
    // unusable footer stats could be exactly the file holding the true
    // minimum, and a silently-too-large t0 would shift the whole window.
    val t0 =
      if (los.nonEmpty && los.forall(_ != Long.MinValue)) los.min
      else Tables.events(spark, sfDir)
        .agg(min(expr("unix_micros(ts)"))).head.getLong(0)
    val (scan, _, total) = skipScan(spark, sfDir, t0 + 2 * day, t0 + 4 * day - 1)
    // Clustering-defect guard (fail LOUD, not open). Under range
    // clustering the per-file [lo,hi] bands are pairwise disjoint up to
    // boundary ties, NO MATTER how skewed the timestamp distribution is —
    // outlier timestamps stretch some band wide but never make bands
    // overlap, while a broken (random) layout overlaps nearly every
    // consecutive pair. The r8/r9 span-vs-window guard false-positived on
    // exactly the skew case (ADVICE r9 #5); band overlap is the invariant
    // that survives it, and it needs no reference to the query window.
    // A poisoned manifest (unusable footer stats) fails OPEN by design, so
    // it must never trip this guard either.
    val clean = los.forall(_ != Long.MinValue) &&
      manifest.map(_._3).forall(_ != Long.MaxValue)
    val overlaps = ZoneMaps.overlapCount(
      manifest.map { case (_, lo, hi) => (lo, hi) })
    if (clean && total > 1 && overlaps > (total - 1) / 2)
      throw new IllegalStateException(
        s"zone map layout defect: $overlaps of ${total - 1} lo-sorted bands " +
          "start inside the running max-hi of earlier bands — range " +
          "clustering broken (random layout prunes nothing)")
    scan.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Oracle: the same window straight off the raw events table — the
    * zone-mapped route must be invisible to the answer. */
  def windowAggSql: String =
    """WITH t0 AS (SELECT MIN(CAST(epoch_us(ts) AS BIGINT)) AS lo FROM events)
      |SELECT event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events, t0
      |WHERE CAST(epoch_us(ts) AS BIGINT) >= t0.lo + 2*86400000000
      |  AND CAST(epoch_us(ts) AS BIGINT) <  t0.lo + 4*86400000000
      |GROUP BY event_type""".stripMargin
}
