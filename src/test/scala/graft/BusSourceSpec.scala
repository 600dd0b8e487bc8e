package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.BusSource
import graft.streaming.{EventStreams, StreamRun}

/** The custom DSv2 bus connector (offset-tracked, admission-controlled,
  * out-of-order): restart recovery, generator parity, and the
  * source-seam claim. */
class BusSourceSpec extends SparkSpec {

  private def busStream(rows: Long, batchRows: Long) =
    spark.readStream.format(classOf[BusSource].getName)
      .option("rows", rows.toString)
      .option("batchrows", batchRows.toString)
      .load()

  test("offsets recover across a mid-stream restart: exactly-once output") {
    // phase 1: stop the query mid-stream (after >= 2 of 4 data batches);
    // phase 2: a NEW query on the same checkpoint resumes from the
    // committed offset. Any offset loss duplicates a whole batch, any
    // premature commit drops one — either breaks the exact row census.
    // batchRows is deliberately NOT a multiple of Block (1000): every
    // committed offset then lands MID-BLOCK, where the serving frontier
    // leaves the four lanes at genuinely different positions — so the
    // restart resumes from a SKEWED per-lane offset vector, the
    // Kafka-shaped recovery case the vector exists for.
    val rows = 40000L
    val batchRows = 10700L
    val out = Files.createTempDirectory("graft_bus_out").toString
    val chk = Files.createTempDirectory("graft_bus_chk").toString
    def writer() = busStream(rows, batchRows).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", chk)
      .outputMode(OutputMode.Append())

    val q1 = writer().start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (q1.recentProgress.length < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(q1.recentProgress.length >= 2, "first run made no progress")
    } finally q1.stop()

    StreamRun.drain(spark, writer())

    val got = spark.read.parquet(out)
    assert(got.count() == rows + 2, s"row census: ${got.count()} != ${rows + 2}")
    assert(got.select("event_id").distinct().count() == rows + 2,
      "duplicate event_ids — offset recovery re-served a batch")
    assert(got.filter(col("user_id") < 0).count() == 2,
      "expected exactly the two sentinel rows")
  }

  test("Trigger.AvailableNow drains the whole bus (engine ReadLimit honored)") {
    // the source supports AvailableNow itself, so the engine keeps its
    // admission control: batchRows per trigger, then one sentinel per
    // trigger. A source without that support falls back to one batch of
    // everything, and a source that under-admits comes up short
    val rows = 30000L
    val out = Files.createTempDirectory("graft_bus_an_out").toString
    val chk = Files.createTempDirectory("graft_bus_an_chk").toString
    val q = busStream(rows, 7000L).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append()).start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (q.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(!q.isActive, "AvailableNow query did not terminate")
    } finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == rows + 2,
      s"AvailableNow under-drained: ${got.count()} != ${rows + 2}")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 5 + 2, s"$batches batches: 5 of 7000 rows, then 2 sentinels")
  }

  test("lane frontier: conservation, per-lane bounds, monotone, block-ordered") {
    // the pure math under the per-lane offset vector (ADVICE r9 #1):
    // frontier(t) must (a) conserve rows — sum == min(t, realRows);
    // (b) respect per-lane capacity; (c) be monotone in t lane-wise;
    // (d) never start block g+1 before block g is fully served — the
    // invariant that keeps event-time lateness within one block span.
    val lanes = BusSource.DefaultLanes
    val chunk = BusSource.Block / lanes
    for (realRows <- Seq(1L, 999L, 1000L, 10700L, 40000L)) {
      var prev = new Array[Long](lanes)
      for (t <- 0L to math.min(realRows + 500, 45000L) by 137L) {
        val f = BusSource.frontier(t, realRows, lanes)
        assert(f.sum == math.min(t, realRows),
          s"conservation broke at t=$t realRows=$realRows: ${f.mkString(",")}")
        f.zipWithIndex.foreach { case (p, l) =>
          assert(p >= 0 && p <= BusSource.laneRows(realRows, lanes, l),
            s"lane $l out of bounds at t=$t: $p")
        }
        prev.zip(f).foreach { case (a, b) => assert(a <= b, s"non-monotone at t=$t") }
        prev = f
        // block ordering: if any lane has entered block g (pos > g*chunk),
        // every lane must have FINISHED block g-1 (pos >= g*chunk capped
        // by lane capacity)
        val maxBlock = f.map(p => (p + chunk - 1) / chunk).max
        if (maxBlock > 0) f.zipWithIndex.foreach { case (p, l) =>
          val owed = math.min((maxBlock - 1) * chunk,
            BusSource.laneRows(realRows, lanes, l))
          assert(p >= owed,
            s"lane $l at $p lags block ${maxBlock - 1} (owed $owed) at t=$t")
        }
      }
    }
  }

  test("mid-block frontier is SKEWED and plans one concurrent task per lane") {
    // drive the MicroBatchStream engine-side by hand: a batch boundary
    // inside a block leaves lanes at different positions (highest lane
    // drains first), and planInputPartitions must emit one partition per
    // lane with unserved rows — the parallel-drain shape (VERDICT r9 #4)
    val rows = 5000L
    val stream = new graft.sources.BusMicroBatchStream(rows, 64, 1300L,
      BusSource.DefaultLanes)
    val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(1300L)
    var start = stream.initialOffset().asInstanceOf[graft.sources.BusOffset]
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    var batches = 0
    var sawSkew = false
    var done = false
    while (!done) {
      val end = stream.latestOffset(start, limit)
        .asInstanceOf[graft.sources.BusOffset]
      if (end.json() == start.json()) done = true
      else {
        batches += 1
        val parts = stream.planInputPartitions(start, end)
        // mid-block boundary (1300 % 1000 != 0): lanes sit at >= 2 distinct
        // positions, and every lane with unserved rows gets its OWN task
        val laneParts = parts.collect { case p: graft.sources.BusLanePartition => p }
        if (end.served < rows && end.served % BusSource.Block != 0) {
          assert(end.lanePos.distinct.length >= 2,
            s"frontier not skewed mid-block: ${end.json()}")
          assert(laneParts.length >= 2,
            s"skewed backlog planned ${laneParts.length} concurrent tasks")
        }
        val factory = stream.createReaderFactory()
        parts.foreach { p =>
          val r = factory.createReader(p)
          while (r.next()) seen += r.get().getLong(0)
          r.close()
        }
        sawSkew ||= end.lanePos.distinct.length >= 2
        start = end
      }
    }
    assert(sawSkew, "no batch ever left a skewed frontier")
    assert(batches >= 4, s"expected multiple admission-controlled batches, got $batches")
    // exactly-once, no gaps: all real rows + both sentinels, each once
    assert(seen.sorted == (0L until rows + 2).toVector,
      s"coverage broke: ${seen.length} rows, dupes=${seen.groupBy(identity).count(_._2.length > 1)}")
  }

  test("foreign checkpoint offsets fail with a descriptive error, not a MatchError") {
    import graft.sources.BusOffset
    // round trip of the current format first
    val ok = BusOffset.parse("3,5,0,2|1", expectedLanes = 4)
    assert(ok.lanePos.toSeq == Seq(3L, 5L, 0L, 2L) && ok.sent == 1)
    // an old scalar-offset checkpoint must NAME the expected format
    val e1 = intercept[IllegalArgumentException](BusOffset.parse("12345"))
    assert(e1.getMessage.contains("p0,...,pk|sent"), e1.getMessage)
    // a lane-count change across restart must name both counts
    val e2 = intercept[IllegalArgumentException](
      BusOffset.parse("1,2|0", expectedLanes = 4))
    assert(e2.getMessage.contains("2 lanes") &&
      e2.getMessage.contains("4"), e2.getMessage)
    // garbage positions fail descriptively too
    val e3 = intercept[IllegalArgumentException](BusOffset.parse("a,b|0"))
    assert(e3.getMessage.contains("non-numeric"), e3.getMessage)
  }

  test("bus rows equal the integer-arithmetic generator (disorder is bounded)") {
    import spark.implicits._
    val rows = 20000L
    // stream the bus to completion through a stateless passthrough
    val sink = EventStreams.runToCompletionForTest(
      busStream(rows, 5000L), OutputMode.Append())
    val streamed = sink.filter(col("user_id") >= 0)
      .select(col("event_id"), unix_micros(col("ts")).as("tsm"),
        col("user_id"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)].collect().sortBy(_._1)
    assert(streamed.length == rows)
    streamed.foreach { case (i, tsm, u, t, v) =>
      assert(tsm == BusSource.tsMicros(i, rows), s"ts drift at $i")
      assert(u == i % 64, s"user drift at $i")
      assert(t == BusSource.Types((i % 4).toInt), s"type drift at $i")
      assert(v == BusSource.value(i), s"value drift at $i")
    }
    // disorder is REAL and BOUNDED: within the arrival order (event_id),
    // event time regresses somewhere (the permutation scrambled it), but
    // never by more than one block span
    val regressions = streamed.sliding(2).count {
      case Array(a, b) => b._2 < a._2
      case _ => false
    }
    assert(regressions > 0, "bus delivered in-order — disorder fixture broken")
    streamed.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 - b._2 <= BusSource.Block.toLong * BusSource.StepMicros,
          s"lateness exceeded one block span at ${b._1}")
      case _ =>
    }
  }

  test("buffered PIT features over the bus equal the relational window replay") {
    // the capstone composition: the offset-tracked OOO connector feeding
    // the watermark-buffered fold must equal the batch window spelling
    // computed from the same integer generator
    import org.apache.spark.sql.expressions.Window
    val rows = 50000L
    val streamRes = EventStreams.busPitFeatures(spark, rows).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val ev = spark.range(rows).toDF("i").selectExpr(
      "i AS event_id",
      s"(${BusSource.Epoch0Micros}L + ((i div ${BusSource.Block}) * ${BusSource.Block} " +
        s"+ ((i % ${BusSource.Block}) * ${BusSource.Mult}L) % ${BusSource.Block}) " +
        s"* ${BusSource.StepMicros}L) AS tsm",
      "i % 64 AS user_id",
      "CASE CAST(i % 4 AS INT) WHEN 0 THEN 'view' WHEN 1 THEN 'click' " +
        "WHEN 2 THEN 'purchase' ELSE 'error' END AS event_type",
      "(i * 37) % 10000 AS cents")
    val w = Window.partitionBy("user_id").orderBy("tsm", "event_id")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    val batch = ev
      .withColumn("n_prior", count(lit(1)).over(prior))
      .withColumn("n_prior_views", coalesce(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(prior), lit(0L)))
      .withColumn("sum_prior_cents", coalesce(sum("cents").over(prior), lit(0L)))
      .withColumn("sec_since_prev", coalesce(
        floor((col("tsm") - lag("tsm", 1).over(w)) / 1000000L).cast("long"), lit(-1L)))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "tsm", "n_prior", "n_prior_views",
        "sum_prior_cents", "sec_since_prev")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamRes.nonEmpty && streamRes == batch,
      s"stream-only=${(streamRes -- batch).take(3)} batch-only=${(batch -- streamRes).take(3)}")
  }

  test("windowed counts over the bus equal the batch aggregate (seam claim)") {
    // the same aggregation computed from a batch range() with the same
    // integer formulas — the in-JVM twin of the DuckDB oracle
    val rows = 100000L
    val streamRes = EventStreams.busWindowedCounts(spark, rows).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = spark.range(rows).toDF("i").selectExpr(
      s"(${BusSource.Epoch0Micros}L + ((i div ${BusSource.Block}) * ${BusSource.Block} " +
        s"+ ((i % ${BusSource.Block}) * ${BusSource.Mult}L) % ${BusSource.Block}) " +
        s"* ${BusSource.StepMicros}L) AS tsm",
      "CASE CAST(i % 4 AS INT) WHEN 0 THEN 'view' WHEN 1 THEN 'click' " +
        "WHEN 2 THEN 'purchase' ELSE 'error' END AS event_type",
      "((i * 37) % 10000) / 100.0 AS value")
      .groupBy(expr("(tsm div 3600000000L) * 3600").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamRes.nonEmpty && streamRes == batch,
      s"stream-only=${(streamRes -- batch).take(3)} batch-only=${(batch -- streamRes).take(3)}")
  }
}
