package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Bucketed-table sink + co-located join — the ONE-TIME-shuffle lever
  * for a join that repeats: `bucketBy(n, key)` pre-shuffles both fact
  * tables at WRITE time, so every subsequent join on the bucket key
  * plans with ZERO exchanges on either side — the scan itself carries
  * the hash distribution (BucketingSpec proves the bare-join plan
  * property; PlanSpec asserts it through this registered query). At
  * 100 TB this converts the dominant recurring fact-fact shuffle
  * (lineitem x orders here) into a one-time cost paid while landing
  * the data.
  *
  * Mechanics: both tables are staged write-once per (sf dir, mtime)
  * into catalog tables backed by EXPLICIT paths under
  * [[graft.Assets.root]] — never the session warehouse, because the
  * driver session's default warehouse is the working directory. Bucket
  * metadata lives in the catalog (not the files), so staging re-runs
  * once per JVM but reuses within one.
  * The query runs in a cloned session (`newSession`) with broadcast
  * disabled — the at-scale regime where neither fact side fits the
  * driver's broadcast budget — and aggregates to a tiny priority
  * table. Bucketing is semantically transparent, so the ORACLE is the
  * plain parquet join.
  */
object BucketedSink {

  private def stage(s: SparkSession, sfDir: String, table: String,
      df: DataFrame, key: String, buckets: Int): String = {
    val path = graft.Assets.dirOf(s"b_$table", Seq(Paths.get(sfDir, s"$table.parquet")), "")
    val name = path.getFileName.toString
    if (!s.catalog.tableExists(name)) {
      df.write.mode("overwrite")
        .option("path", path.toString)
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(name)
    }
    name
  }

  /** (o_orderpriority, n_items, sum_qty) off the bucketed pair. */
  def bucketedJoin(spark: SparkSession, sfDir: String,
      buckets: Int = 8): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val liName = stage(s, sfDir, "lineitem",
      Tables.lineitem(s, sfDir).select(col("l_orderkey"),
        col("l_quantity").cast("decimal(18,2)").as("qty")),
      "l_orderkey", buckets)
    val ordName = stage(s, sfDir, "orders",
      Tables.orders(s, sfDir).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", buckets)
    val li = s.table(liName)
    val o = s.table(ordName)
    val out = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("qty")).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
    out.queryExecution.optimizedPlan // plan now, under the no-broadcast conf
    out
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
}
