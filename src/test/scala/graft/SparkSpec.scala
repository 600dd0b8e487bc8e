package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM session built the way
  * deployments build theirs ([[GraftSession]]; analyzer-injected rules
  * such as SummaryRewrite have no per-session attach). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.builder(8)
    // managed-table warehouse in tmp (BucketingSpec writes bucketed
    // tables) — never inside the repo
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
