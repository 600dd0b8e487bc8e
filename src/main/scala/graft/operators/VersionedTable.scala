package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Snapshot versioning with time travel — the "poor man's Delta log":
  * a versioned table is a directory of immutable `v=<n>/` snapshot dirs
  * plus a `_current` pointer file written atomically (temp + move).
  * Every merge writes a NEW version instead of swapping in place, so
  *  - readers never observe a partial table (the pointer flips after
  *    the version dir is complete — crash-safe without the two-rename
  *    dance the in-place swap needs),
  *  - any retained version stays readable (time travel: audits,
  *    reproductions, rollback = pointer rewrite),
  *  - retention is a deletion policy, not a correctness concern.
  *
  * At 100 TB this is exactly the commit protocol of the table formats
  * (Delta/Iceberg) minus file-level manifests: versions share no files
  * here (full rewrite per merge — the [[Upsert]] cost model), where the
  * formats share unchanged files; the READ protocol (pointer, immutable
  * snapshots) is identical, which is what the queries exercise.
  *
  * The staged fixture applies the repo's standard order-CDC batches
  * (update / delete / insert, the stream_upsert construction) as three
  * commits over the orders snapshot: v0..v3, all retained. Both
  * registered queries are full hash oracles — DuckDB replays the
  * cumulative change application per version. */
object VersionedTable {

  // ------------------------------------------------------ table protocol
  def currentVersion(base: Path): Int = {
    val p = base.resolve("_current")
    if (Files.exists(p)) Files.readString(p).trim.toInt else -1
  }

  /** Write `df` as the next version; returns its number. The pointer
    * flips only after the snapshot dir is fully written. */
  def commit(base: Path, df: DataFrame, retain: Int = Int.MaxValue): Int = {
    val next = currentVersion(base) + 1
    df.write.mode("overwrite").parquet(base.resolve(s"v=$next").toString)
    val tmp = Files.createTempFile(base, "_current", ".tmp")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, base.resolve("_current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    // retention: drop versions older than the newest `retain`
    (0 to next - retain).foreach { v =>
      val dir = base.resolve(s"v=$v")
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
        finally walk.close()
      }
    }
    next
  }

  def read(spark: SparkSession, base: Path, version: Int): DataFrame = {
    require(Files.exists(base.resolve(s"v=$version")),
      s"version $version not retained under $base")
    spark.read.parquet(base.resolve(s"v=$version").toString)
  }

  def readCurrent(spark: SparkSession, base: Path): DataFrame =
    read(spark, base, currentVersion(base))

  // ------------------------------------------------------ staged fixture
  private def orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_orderpriority")

  /** v0 = orders snapshot; v1..v3 = after the update / delete / insert
    * CDC batches (the stream_upsert construction, one commit each). */
  private[graft] def stagedBase(spark: SparkSession, sfDir: String): Path =
    graft.Assets.staged("vtable", Seq(Paths.get(sfDir, "orders.parquet")), "") { base =>
      val snap = Tables.orders(spark, sfDir)
        .select(orderCols.map(col): _*)
      commit(base, snap)
      val updates = snap.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderpriority", lit("MERGED"))
        .withColumn("op", lit("update"))
      val deletes = snap
        .filter(col("o_orderkey") % 17 === 3 && col("o_orderkey") % 13 =!= 0)
        .withColumn("op", lit("delete"))
      val inserts = snap.filter(col("o_orderkey") % 19 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000000L))
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("o_orderpriority", lit("5-LOW"))
        .withColumn("op", lit("insert"))
      Seq(updates, deletes, inserts).foreach { changes =>
        val merged = Upsert.applyChanges(
          readCurrent(spark, base), changes, "o_orderkey")
        commit(base, merged)
      }
    }

  // ---------------------------------------------------------- queries
  private def rowHash = conv(substring(md5(concat_ws("|",
    col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_orderpriority"))), 1, 8), 16, 10).cast("long")

  /** Time travel: every retained version read back — row count, key
    * sum, and a whole-content checksum per version. */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val base = stagedBase(spark, sfDir)
    (0 to currentVersion(base)).map { v =>
      read(spark, base, v).agg(
        lit(v.toLong).as("version"),
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(rowHash).as("content_sum"))
        .select("version", "n_rows", "key_sum", "content_sum")
    }.reduce(_ unionByName _)
  }

  /** Generic two-version diff, computed RELATIONALLY from the stored
    * snapshots (not by replaying the change feed): full outer join on
    * the key, classify insert / delete / update-by-content. One keyed
    * shuffle per side; at 100 TB both sides bucket by the key. */
  def diff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = stagedBase(spark, sfDir)
    val a = read(spark, base, 0).withColumn("h", rowHash)
      .select(col("o_orderkey"), col("h").as("h_a"))
    val b = readCurrent(spark, base).withColumn("h", rowHash)
      .select(col("o_orderkey"), col("h").as("h_b"))
    a.join(b, Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when(col("h_a").isNull, "insert")
          .when(col("h_b").isNull, "delete")
          .when(col("h_a") =!= col("h_b"), "update"))
      .filter(col("op").isNotNull)
      .select(col("o_orderkey"), col("op"))
  }

  // ------------------------------------------------------------ oracles
  private val rowHashSqlV = OracleSql.hexVal(
    "md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' || o_orderpriority)",
    1, 8)

  private val versionsCte =
    """v0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders),
      |c1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |         'MERGED' AS o_orderpriority FROM v0 WHERE o_orderkey % 13 = 0),
      |v1 AS (SELECT * FROM v0 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM c1)
      |       UNION ALL SELECT * FROM c1),
      |v2 AS (SELECT * FROM v1
      |       WHERE NOT (o_orderkey % 17 = 3 AND o_orderkey % 13 <> 0)),
      |c3 AS (SELECT o_orderkey + 1000000000000 AS o_orderkey, o_custkey,
      |         'N' AS o_orderstatus, '5-LOW' AS o_orderpriority
      |       FROM v0 WHERE o_orderkey % 19 = 1),
      |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM c3)""".stripMargin

  def timeTravelSql: String = {
    def agg(v: Int) =
      s"""SELECT CAST($v AS BIGINT) AS version, COUNT(*) AS n_rows,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(SUM(CAST($rowHashSqlV AS BIGINT)) AS BIGINT) AS content_sum
         |FROM v$v""".stripMargin
    s"""WITH $versionsCte
       |${(0 to 3).map(agg).mkString("\nUNION ALL\n")}
       |ORDER BY version""".stripMargin
  }

  def diffSql: String =
    s"""WITH $versionsCte,
       |a AS (SELECT o_orderkey, CAST($rowHashSqlV AS BIGINT) AS h_a FROM v0),
       |b AS (SELECT o_orderkey, CAST($rowHashSqlV AS BIGINT) AS h_b FROM v3)
       |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       |  CASE WHEN a.o_orderkey IS NULL THEN 'insert'
       |       WHEN b.o_orderkey IS NULL THEN 'delete'
       |       WHEN h_a <> h_b THEN 'update' END AS op
       |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
       |WHERE CASE WHEN a.o_orderkey IS NULL THEN 'insert'
       |           WHEN b.o_orderkey IS NULL THEN 'delete'
       |           WHEN h_a <> h_b THEN 'update' END IS NOT NULL
       |ORDER BY o_orderkey""".stripMargin
}
