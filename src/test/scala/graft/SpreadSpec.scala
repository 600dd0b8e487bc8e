package graft

import org.apache.spark.sql.functions._

import graft.operators.Spread

/** Pins the two scale-adaptive repartition helpers the r15 optimizations
  * lean on: both must preserve the row SET exactly (they are pure
  * layout), cpuSpread must be a strict no-op once the input already has
  * at least session parallelism, and fanoutSpread must never go below
  * the session's parallelism nor below the plan's existing count. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private val p = spark.sparkContext.defaultParallelism

  test("cpuSpread: spreads a starved input, preserves rows") {
    val starved = (1L to 1000L).toDF("v").coalesce(1)
    assert(starved.rdd.getNumPartitions == 1)
    val out = Spread.cpuSpread(starved)
    assert(out.rdd.getNumPartitions == p)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L to 1000L))
  }

  test("cpuSpread: no-op when the input already has enough partitions") {
    val wide = (1L to 1000L).toDF("v").repartition(p + 3)
    val out = Spread.cpuSpread(wide)
    // strict no-op: the SAME plan object comes back, nothing is inserted
    assert(out eq wide)
  }

  test("fanoutSpread: never below parallelism, never below the plan") {
    val narrow = (1L to 500L).toDF("v").coalesce(1)
    val outN = Spread.fanoutSpread(narrow)
    assert(outN.rdd.getNumPartitions == p)
    assert(outN.collect().map(_.getLong(0)).sorted.toSeq == (1L to 500L))

    val wide = (1L to 500L).toDF("v").repartition(p + 5)
    val outW = Spread.fanoutSpread(wide)
    assert(outW.rdd.getNumPartitions == p + 5)
    assert(outW.collect().map(_.getLong(0)).sorted.toSeq == (1L to 500L))
  }

  test("fanoutSpread: building it over a grouped frame runs no job") {
    val grouped = (1L to 500L).toDF("v").groupBy(col("v") % 7).count()
    val probed = graft.metrics.JobProbe.measure(spark)(Spread.fanoutSpread(grouped))
    assert(probed.jobs == 0, s"plan building ran ${probed.jobRows.map(_.callSite)}")
    assert(probed.result.collect().map(_.getLong(1)).sum == 500L)
  }

  test("fanoutSpread: duplicate rows survive (set semantics not imposed)") {
    val dups = Seq(1L, 1L, 2L).toDF("v").coalesce(1)
    val out = Spread.fanoutSpread(dups).collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 1L, 2L))
  }
}
