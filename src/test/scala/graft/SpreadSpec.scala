package graft

import org.apache.spark.sql.functions._

import graft.operators.Spread

/** Pins the scale-adaptive repartition helpers: each must preserve the
  * row SET exactly (they are pure layout), cpuSpread must be a strict
  * no-op once the input already has at least session parallelism,
  * rowSpread may keep only a driver-built block of at least that many
  * rows in place, none may run a job while the plan is being built, and
  * fanoutSpread must never go below the session's parallelism nor below
  * the plan's existing count. */
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

  test("cpuSpread: building it over a grouped frame runs no job") {
    // AQE could coalesce the grouping's shuffle at run time, so the
    // adaptive plan is spread without reading its partition count
    val grouped = (1L to 500L).toDF("v").groupBy(col("v") % 7).count()
    val probed = graft.metrics.JobProbe.measure(spark)(Spread.cpuSpread(grouped))
    assert(probed.jobs == 0, s"plan building ran ${probed.jobRows.map(_.callSite)}")
    assert(probed.result ne grouped, "an adaptive input was not spread")
    assert(probed.result.collect().map(_.getLong(1)).sum == 500L)
  }

  test("rowSpread: only a driver-built block of >= parallelism rows stays in place") {
    val block = (1L to 500L).map(v => (v, v % 3)).toDF("v", "g")
    assert(Spread.rowSpread(block) eq block)
    val small = block.limit(p - 1)
    assert(Spread.rowSpread(small) ne small)
    // a filter over a cached frame of many splits, whose matches all sit
    // in one of them: its split count would keep it in place, skewed
    val cached = block.repartition(p + 3, col("g")).persist()
    try {
      cached.count()
      val skewed = cached.filter(col("g") === 1)
      val probed = graft.metrics.JobProbe.measure(spark)(Spread.rowSpread(skewed))
      assert(probed.jobs == 0, s"plan building ran ${probed.jobRows.map(_.callSite)}")
      assert(probed.result ne skewed)
      assert(probed.result.rdd.getNumPartitions == p)
      assert(probed.result.collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 500L).filter(_ % 3 == 1))
    } finally cached.unpersist()
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
