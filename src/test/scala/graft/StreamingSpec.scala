package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("streaming windowed counts equal the batch aggregation") {
    val streamed = EventStreams.windowedCounts(spark, sf).collect()
    val batch = queries.Relational.q10TimeBucket(spark, sf).collect()
    assert(streamed.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("append-mode windowed counts equal the batch aggregation (watermark eviction)") {
    // the production unbounded spelling: Append emits each window once
    // when the watermark passes its end — the staged sentinels must
    // close EVERY real window for the replay to equal batch
    val streamed = EventStreams.windowedCountsAppend(spark, sf).collect()
    val batch = queries.Relational.q10TimeBucket(spark, sf).collect()
    assert(streamed.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("batch and stream agree on the source for BOTH ts physical types") {
    // round-4 regression class: events.parquet was regenerated with ts as
    // TIMESTAMP(MICROS) while the stream reader assumed nanos-as-long.
    // Stage the same rows in both physical layouts and require the stream
    // (incl. the sentinel-flushed Append path) to equal batch on each.
    import java.nio.file.Files
    import spark.implicits._
    val base = Seq(
      // (event_id, epoch_micros, user_id, event_type, value, props) —
      // three users, events spread over 5 hours so windows/sessions are
      // unit-sensitive (a mis-scaled read collapses them into one bucket)
      (1L, 1700000000000000L, 1L, "click", 1.0, ""),
      (2L, 1700003600000000L, 1L, "purchase", 2.5, ""),
      (3L, 1700007200000000L, 2L, "click", 0.5, ""),
      (4L, 1700010800000000L, 2L, "error", 0.0, ""),
      (5L, 1700014400000000L, 3L, "view", 4.0, ""),
      (6L, 1700018000000000L, 3L, "click", 1.5, ""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    def stage(asNanosLong: Boolean): String = {
      val dir = Files.createTempDirectory("graft_tsfmt")
      // the micros layout is written as TIMESTAMP_NTZ — pyarrow writes
      // timestamp[us] with isAdjustedToUTC=false, which Spark surfaces as
      // TimestampNTZType (the exact round-4 drift)
      val ts = if (asNanosLong) col("us") * 1000L
        else timestamp_micros(col("us"))
          .cast(org.apache.spark.sql.types.TimestampNTZType)
      val tmp = Files.createTempDirectory("graft_tsfmt_w")
      base.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = { val l = Files.list(tmp); try l.filter(_.toString.endsWith(".parquet"))
        .findFirst().get() finally l.close() }
      Files.move(part, dir.resolve("events.parquet"))
      dir.toString
    }
    val micros = stage(asNanosLong = false)
    val nanos = stage(asNanosLong = true)
    // batch readers agree across layouts
    val spanOf = (d: String) => Tables.events(spark, d)
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .head()
    assert(spanOf(micros) == spanOf(nanos))
    // stream equals batch on each layout — complete-mode agg AND the
    // sentinel-staged Append path (sentinel files must match the file's unit)
    Seq(micros, nanos).foreach { d =>
      val batch = queries.Relational.q10TimeBucket(spark, d).collect().toSeq
      assert(EventStreams.windowedCounts(spark, d).collect().toSeq == batch,
        s"complete-mode stream != batch for $d")
      assert(EventStreams.windowedCountsAppend(spark, d).collect().toSeq == batch,
        s"append-mode stream != batch for $d")
    }
  }

  test("ts-span canary: stream sees the batch span exactly") {
    val got = EventStreams.tsSpanCanary(spark, sf).collect().head
    val want = Tables.events(spark, sf)
      .agg(min(unix_timestamp(col("ts"))).as("min_sec"),
        max(unix_timestamp(col("ts"))).as("max_sec"),
        count(lit(1)).as("n_events")).collect().head
    assert(got == want)
  }

  test("stream-static enrichment equals the batch dimension join") {
    val streamed = EventStreams.streamingEnrich(spark, sf).collect()
    val dim = Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment"))
    val batch = Tables.events(spark, sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("c_mktsegment", "event_type")
      .collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("checkpointed restart recovers dedup state + offsets exactly-once") {
    val got = EventStreams.restartRecoveryDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly-once: a state-recovery failure re-emits keys seen before
    // the kill; an offset-recovery failure replays whole files
    assert(got.length == got.distinct.length,
      "restart re-emitted already-seen keys (state not recovered)")
    val batch = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.toSet == batch,
      "recovered stream's key set diverged from batch DISTINCT")
  }

  test("CDC apply: overlapping keys resolve last-batch-wins in file order") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cdc_seq")
    val (src, table, chk) =
      (base.resolve("src"), base.resolve("table"), base.resolve("chk"))
    Files.createDirectories(src)
    Seq((1L, 10L, "O", "BASE"), (2L, 20L, "O", "BASE"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").parquet(table.toString)
    // batch0 updates key 1 to FIRST; batch1 updates key 1 to SECOND and
    // deletes key 2 — the final table must reflect batch1 (file order)
    def stage(i: Int, rows: Seq[(Long, Long, String, String, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_cdc_seq_w")
      rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "op")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = { val l = Files.list(tmp)
        try l.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally l.close() }
      val dest = src.resolve(s"batch$i.parquet")
      Files.move(part, dest)
      // explicit mtimes: the file source processes in modification-time
      // order, and sub-millisecond writes could otherwise tie
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 10000L))
    }
    stage(0, Seq((1L, 10L, "O", "FIRST", "update")))
    stage(1, Seq((1L, 10L, "O", "SECOND", "update"), (2L, 20L, "O", "BASE", "delete")))
    EventStreams.applyCdc(spark, src, table, chk)
    val got = spark.read.parquet(table.toString)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(got == Map(1L -> "SECOND"), s"got $got")
  }

  test("streaming dedup emits exactly the distinct key set") {
    val streamed = EventStreams.streamingDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
  }

  test("watermark-bounded dedup equals plain dedup on the replay, state carried") {
    val bounded = EventStreams.streamingDedupWatermark(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the within-watermark spelling is a stateful operator (evictable
    // keyed state) — it must report state rows, and on the single-batch
    // replay emit exactly the distinct key set
    assert(EventStreams.lastStateRowsPeak.get() > 0,
      "dropDuplicatesWithinWatermark reported no state")
    val batch = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bounded == batch)
  }

  test("streaming HLL registers yield exactly the batch sketch estimates") {
    val streamed = EventStreams.streamingHllDistinct(spark, sf).collect()
    val batch = operators.Sketches
      .hllDistinct(Tables.events(spark, sf), "event_type", "user_id").collect()
    assert(streamed.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("streaming top users equal the batch window ranking") {
    import org.apache.spark.sql.expressions.Window
    val streamed = EventStreams.streamingTopUsers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w = Window.partitionBy("bucket")
      .orderBy(col("n_events").desc, col("user_id").asc)
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("user_id"), col("n_events"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("bucket", "rn", "user_id", "n_events")
      .orderBy("bucket", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("streaming sessions EQUAL batch sessions (sentinel flushes final state)") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val streamed = key(EventStreams.sessionize(spark, sf))
    val batch = key(EventStreams.sessionizeBatch(Tables.events(spark, sf)))
    assert(streamed.nonEmpty, "no sessions emitted by the stream")
    assert(streamed == batch,
      s"stream != batch: missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("sentinel replay staging: a repeat readEventStream call runs no job") {
    val gap = Some(30L * 60 * 1000)
    EventStreams.readEventStream(spark, sf, gap)
    val p = metrics.JobProbe.measure(spark)(EventStreams.readEventStream(spark, sf, gap))
    assert(p.jobs == 0, p.jobRows.mkString("\n"))
  }

  test("session_window absorbs the out-of-order replay (same sessions as batch)") {
    // the declarative late-data story: swapped-slice delivery + a
    // lateness-covering watermark must still equal the batch answer
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val ooo = key(EventStreams.sessionizeNativeOoo(spark, sf))
    val batch = key(EventStreams.sessionizeBatch(Tables.events(spark, sf)))
    assert(ooo.nonEmpty && ooo == batch,
      s"missing=${(batch -- ooo).take(3)} extra=${(ooo -- batch).take(3)}")
  }

  test("native session_window sessions EQUAL the custom-state sessions") {
    val native = EventStreams.sessionizeNative(spark, sf).collect()
    val custom = EventStreams.sessionize(spark, sf).collect()
    assert(native.map(_.toString).sorted.sameElements(custom.map(_.toString).sorted),
      s"native=${native.length} custom=${custom.length} rows")
  }

  test("RocksDB state store: sessionize + interval join answers unchanged, state carried") {
    // VERDICT r5 #5: exercise the at-scale state-store lever. The HDFS-
    // backed default keeps state on the heap; RocksDB spills to native
    // memory + local disk, the configuration for keyed state larger than
    // heap. Same oracle answers required, and the state-row metric must
    // show the provider actually carried the operator state.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val native = EventStreams.sessionizeNative(spark, sf).collect()
      assert(EventStreams.lastStateRowsPeak.get() > 0,
        "session_window under RocksDB reported no state rows")
      val batch = EventStreams.sessionizeBatch(Tables.events(spark, sf)).collect()
      assert(native.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted),
        s"RocksDB sessionize diverged: ${native.length} vs ${batch.length} rows")

      val joined = EventStreams.streamingIntervalJoin(spark, sf).collect()
      assert(EventStreams.lastStateRowsPeak.get() > 0,
        "stream-stream join under RocksDB reported no state rows")
      assert(joined.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("rate source: windowedCounts transform is source-agnostic (VERDICT r5 #7)") {
    // the same transform the oracle-checked file-replay query uses, fed
    // by the unbounded built-in rate source (the Kafka-shaped stand-in):
    // it must plan, run, and emit windows — nothing in the transform may
    // depend on the file-replay harness.
    val src = EventStreams.RateEventSource(rowsPerSecond = 500).load(spark)
    val agg = EventStreams.windowedCountsTransform(src)
    val q = agg.writeStream.format("memory").queryName("graft_rate_sink")
      .outputMode("complete").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var rows = 0L
      while (rows == 0 && System.nanoTime() < deadline) {
        Thread.sleep(250)
        rows = spark.table("graft_rate_sink").count()
      }
      assert(rows > 0, "rate-source windowed counts emitted nothing in 30 s")
      val row = spark.table("graft_rate_sink")
        .select("event_type", "n_events", "sum_value").collect().head
      assert(Set("view", "click", "purchase", "error").contains(row.getString(0)))
      assert(row.getLong(1) > 0)
    } finally {
      q.stop()
      spark.catalog.dropTempView("graft_rate_sink")
    }
  }

  test("streaming as-of EQUALS the batch as-of join") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "matched_click", "gap_sec").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    val streamed = key(EventStreams.streamingAsOf(spark, sf))
    val batch = key(graft.operators.AsOfJoin.errorToLastClick(Tables.events(spark, sf)))
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("stream-stream interval join equals the batch self-join") {
    val streamed = EventStreams.streamingIntervalJoin(spark, sf).collect()
    val e = Tables.events(spark, sf)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val batch = p.join(c, col("pu") === col("cu") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 120 MINUTES"))
      .select(col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("gap_sec"))
      .collect()
    assert(streamed.nonEmpty, "expected at least one joined pair")
    assert(streamed.map(_.toString).sorted.sameElements(batch.map(_.toString).sorted))
  }

  test("batch sessionization: gaps respected, events conserved") {
    val events = Tables.events(spark, sf)
    val sessions = EventStreams.sessionizeBatch(events)
    val totalEvents = sessions.agg(sum("n_events")).collect().head.getLong(0)
    assert(totalEvents == events.count())
    val bad = sessions
      .filter(col("session_end") - col("session_start") < 0)
      .count()
    assert(bad == 0)
  }

  test("streaming CMS grid yields exactly the batch heavy-hitter estimates") {
    val streamed = EventStreams.streamingCmsHeavyUsers(spark, sf).collect()
    assert(streamed.nonEmpty)
    // CMS property holds through the streamed grid: est >= exact always
    streamed.foreach { r =>
      assert(r.getAs[Long]("est_count") >= r.getAs[Long]("exact_count"))
    }
  }

  test("RangeJoinRewrite: strict bounds and extra conjuncts survive verbatim") {
    import spark.implicits._
    graft.plans.RangeJoinRewrite.ensureInstalled(spark)
    val points = (0L until 200L).map(i => (i, i * 7 % 97)).toDF("pid", "t")
    val ivals = (0L until 50L).map(i => (i, i * 2, i * 2 + 30)).toDF("iid", "lo", "hi")
    // strict bounds + an extra cross-side inequality kept as residual
    val cond = col("t") > col("lo") && col("t") < col("hi") &&
      col("pid") =!= col("iid")
    val auto = points.join(ivals, cond)
      .select("pid", "iid").collect().map(_.toString).sorted
    val naive = points.collect().flatMap { p =>
      ivals.collect().collect {
        case r if p.getLong(1) > r.getLong(1) && p.getLong(1) < r.getLong(2) &&
          p.getLong(0) != r.getLong(0) => s"[${p.getLong(0)},${r.getLong(0)}]"
      }
    }.sorted
    assert(auto.nonEmpty && auto.sameElements(naive))
  }

  test("auto-rewritten range join equals the hand-bucketed one") {
    val events = Tables.events(spark, sf)
    val auto = operators.RangeJoin.concurrentSessionsAuto(events).collect()
    val hand = operators.RangeJoin.concurrentSessions(events).collect()
    assert(auto.nonEmpty)
    assert(auto.map(_.toString).sameElements(hand.map(_.toString)))
  }

  test("range join: bucketed result equals the naive range join, any bin width") {
    import graft.operators.RangeJoin
    val events = Tables.events(spark, sf)
    def collected(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("n_concurrent"))).toSet

    // naive spelling: raw range predicate (the BNLJ plan — fine at test size)
    val sessions = EventStreams.sessionizeBatch(events)
      .select("user_id", "session_start", "session_end")
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), unix_timestamp(col("ts")).as("t"))
    val naive = errors.join(sessions,
        col("t") >= col("session_start") && col("t") <= col("session_end"))
      .groupBy("event_id").agg(count(lit(1)).as("n_concurrent"))
    val want = collected(naive)

    assert(collected(RangeJoin.concurrentSessions(events)) == want)
    // bin-width invariance: matches come from coverage + residual filter,
    // so any bucket size must give the identical result
    assert(collected(RangeJoin.concurrentSessions(events, binSeconds = 137L)) == want)
    // every error is inside its own user's session
    assert(want.forall(_._2 >= 1L))
  }

  test("streaming HDR quantiles equal the batch hdr_quantile aggregate") {
    val streamed = EventStreams.streamingQuantileHist(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // batch twin: the native aggregate over the identical cents mapping
    graft.functions.VectorFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions._
    def p(q: Double, name: String) = call_function("hdr_quantile",
      greatest(floor(col("value") * 100).cast("long"), lit(0L)), lit(q)).as(name)
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        p(0.5, "p50"), p(0.9, "p90"), p(0.99, "p99"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    // sketch-state bound: the streamed state is the bucket table, whose
    // cardinality is capped by groups x NBuckets regardless of volume
    assert(streamed.nonEmpty &&
      streamed.map(_._2).sum == Tables.events(spark, sf).count())
  }

  test("streaming KMV sketch equals the batch kmv_sketch aggregate") {
    // the CUSTOM TypedImperativeAggregate as streaming keyed state: the
    // bottom-k buffer serializes to the state store per micro-batch and
    // the completed sketch must land on the batch answer exactly
    // (retention = clipped set union, order-insensitive)
    val streamed = EventStreams.streamingKmvDistinct(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Sketches.kmvDistinct(
      graft.operators.Sketches.withUserDay(Tables.events(spark, sf)))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    assert(streamed.nonEmpty)
  }

  test("outer interval join: unmatched purchases emit at watermark eviction") {
    val outer = EventStreams.streamingIntervalJoinOuter(spark, sf).collect()
    val inner = EventStreams.streamingIntervalJoin(spark, sf).collect()
    val matched = outer.filter(_.getBoolean(3))
    val unmatched = outer.filter(!_.getBoolean(3))
    // the matched subset IS the inner join (same pairs, same gaps)
    assert(matched.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      inner.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // null-emission actually fired: purchases with no prior click exist
    // in this data and surface exactly once with the -1 sentinels
    assert(unmatched.nonEmpty, "no unmatched purchases — eviction untested")
    assert(unmatched.forall(r => r.getLong(1) == -1L && r.getLong(2) == -1L))
    // every purchase with at least one event emitted (matched or not):
    // the outer join's defining property
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(outer.map(_.getLong(0)).distinct.length == purchases)
  }

  test("online PIT features equal the offline training features exactly") {
    // the training-serving-skew property: the streaming state fold and
    // the batch strictly-prior window frames must produce IDENTICAL
    // feature vectors for every label row
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    val online = EventStreams.streamingPitFeatures(spark, sf)
      .collect().map(key).toSet
    val offline = graft.operators.EventAnalytics
      .pointInTimeFeatures(Tables.events(spark, sf))
      .collect().map(key).toSet
    assert(online.nonEmpty)
    assert(online == offline,
      s"skew detected: ${(online -- offline).take(3)} vs ${(offline -- online).take(3)}")
  }

  test("buffered PIT features absorb an out-of-order replay exactly") {
    // VERDICT r7 #1: the staged replay delivers adjacent time slices
    // SWAPPED (late batches) — the strict-order twin would throw on this
    // source; the watermark-buffered fold must instead reorder per user
    // and still equal the offline training features bit-for-bit
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    val online = EventStreams.streamingPitFeaturesBuffered(spark, sf)
      .collect().map(key).toSet
    val offline = graft.operators.EventAnalytics
      .pointInTimeFeatures(Tables.events(spark, sf))
      .collect().map(key).toSet
    assert(online.nonEmpty)
    assert(online == offline,
      s"skew detected: ${(online -- offline).take(3)} vs ${(offline -- online).take(3)}")
  }

  test("incrementally maintained rollup equals the one-shot summary build") {
    // the two halves of the MV story meet: the foreachBatch-maintained
    // (event_type, day) rollup must hold exactly the table
    // Summaries.ensureEventsDailySummary builds in one shot — which is
    // the precondition for a SummaryRewrite registration over the
    // maintained table staying truthful between rebuilds
    import org.apache.spark.sql.functions._
    val maintained = EventStreams.streamingMvMaintenance(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = spark.read.parquet(
      graft.operators.Summaries.ensureEventsDailySummary(spark, sf))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
        col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(maintained == oneShot,
      s"maintained and one-shot rollups diverge: ${maintained.size} vs ${oneShot.size}")
    assert(maintained.values.sum == Tables.events(spark, sf).count())
  }

  test("streaming incremental dedup equals the one-shot batch probe") {
    // micro-batch chopping must be invisible: each arrival's verdict is a
    // function of (that doc, corpus index) alone, so the 4-micro-batch
    // stream must reproduce the one-shot probe row-for-row
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val streamed = graft.streaming.CorpusStreams
      .streamingIncrementalDedup(spark, sf)
      .collect().map(_.toString).sorted
    val oneShot = graft.operators.IncrementalDedup.flagBatchStaged(
      spark, sf,
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(oneShot),
      s"stream/batch divergence: ${streamed.length} vs ${oneShot.length} rows")
  }

  test("txn append sink swallows a forged engine replay (exactly-once)") {
    // streamingTxnAppend deletes the newest streaming commit between its
    // two phases, so the restarted query RE-DELIVERS that batch with the
    // same batchId; the per-batch transaction log must skip it — the
    // GROUP BY equality below fails on any double-append, and the skip
    // counter proves the replay actually happened (a silently-absent
    // replay would make this test vacuous)
    val result = EventStreams.streamingTxnAppend(spark, sf)
    val streamed = result
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(pmod(col("event_id"), lit(4)).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"append duplicated or lost rows: ${streamed.size} vs ${batch.size} groups")
    // persistent replay evidence: the staged run writes _replayed_* when
    // the txn log skipped the re-delivered batch — it must exist, or the
    // forged replay never happened and the equality above is vacuous
    val dataDir = java.nio.file.Paths.get(
      result.inputFiles.head.stripPrefix("file:")).getParent.getParent
    val replayed = { val l = java.nio.file.Files.list(dataDir)
      try l.filter(_.getFileName.toString.startsWith("_replayed_")).count()
      finally l.close() }
    assert(replayed > 0, s"no replay marker under $dataDir — test vacuous")
  }

  test("txnAppend adopts a crash-orphaned slot instead of duplicating it") {
    // the crash window INSIDE the sink: previous attempt moved the slot
    // into place but died before writing the marker — the retry must
    // adopt the completed slot (staging moves are atomic) and only mark
    import java.nio.file.Files
    val data = Files.createTempDirectory("graft_txn_unit")
    var writes = 0
    def write(p: java.nio.file.Path): Unit = {
      writes += 1
      Files.createDirectories(p)
      Files.writeString(p.resolve("payload"), s"attempt$writes")
    }
    // simulate the orphan: slot b7 exists with attempt1's payload, no marker
    assert(EventStreams.txnAppend(data, 7L)(write))
    Files.delete(data.resolve("_committed_7"))
    // retry re-runs the write (attempt2 lands in staging) but must NOT
    // replace the completed slot
    assert(EventStreams.txnAppend(data, 7L)(write))
    assert(writes == 2)
    assert(Files.readString(data.resolve("b7").resolve("payload")) == "attempt1",
      "retry replaced a completed slot instead of adopting it")
    assert(Files.exists(data.resolve("_committed_7")))
    // the adopt path discards the retry's staging dir instead of leaking it
    val leaked = { val l = Files.list(data.getParent)
      try l.filter(_.getFileName.toString ==
        data.getFileName.toString + "_staging_7").count()
      finally l.close() }
    assert(leaked == 0, "adopt path leaked the retry's staging directory")
    // a marked batch is a pure no-op: no write at all
    assert(!EventStreams.txnAppend(data, 7L)(write))
    assert(writes == 2)
  }

  test("streaming ANN probe equals the one-shot batch probe") {
    // per-query results are functions of (query vector, corpus index)
    // alone, so micro-batch chopping must be invisible — the serving
    // stream reproduces the batch index-build/probe split row-for-row
    val streamed = graft.streaming.CorpusStreams.streamingAnnProbe(spark, sf)
      .collect().map(_.toString).sorted
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val oneShot = graft.operators.IvfAnn.topKAgainst(
      emb.filter(col("vec_id") % 10 =!= 7),
      emb.filter(col("vec_id") % 10 === 7))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(oneShot),
      s"stream/batch ANN divergence: ${streamed.length} vs ${oneShot.length} rows")
  }

  test("streaming DSIR scoring equals the one-shot serving scores") {
    // scores are per-doc functions of (doc, standing bucket model), and
    // the model covers every bucket — so micro-batch chopping must be
    // invisible, including for arrival tokens the corpus never saw
    import graft.operators.ImportanceSampling
    val streamed = graft.streaming.CorpusStreams.streamingDsirScore(spark, sf)
      .collect().map(_.toString).sorted
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val oneShot = ImportanceSampling.scoreAgainst(
      ImportanceSampling.bucketModel(
        docs.filter(col("doc_id") % 10 =!= 7), "src1"),
      docs.filter(col("doc_id") % 10 === 7))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(oneShot),
      s"stream/batch DSIR divergence: ${streamed.length} vs ${oneShot.length} rows")
  }

  test("streaming decontamination equals the one-shot admission verdicts") {
    // verdicts are per-doc functions of (doc, standing eval-gram set) —
    // arrivals never compare to each other — so micro-batch chopping
    // must be invisible; the stream must also emit a CLEAN verdict row
    // (zero) for every uncontaminated arrival, not just report hits
    import graft.operators.Decontaminate
    val streamed = graft.streaming.CorpusStreams
      .streamingDecontaminate(spark, sf)
      .collect().map(_.toString).sorted
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val (evalDocs, train) = Decontaminate.evalSplit(docs)
    val arrivals = train.filter(col("doc_id") % 10 === 7)
    val oneShot = Decontaminate.probeGrams(
        Decontaminate.evalGramSet(evalDocs), arrivals, keepClean = true)
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(oneShot),
      s"stream/batch decontamination divergence: ${streamed.length} vs " +
        s"${oneShot.length} rows")
    assert(streamed.length.toLong == arrivals.count(),
      "every arrival must receive a verdict row")
  }

  test("streaming search-index maintenance equals the full-corpus search") {
    // r14: postings are a pure per-document function, so the streamed
    // delta UNION the sliced base index must equal the from-scratch
    // index over the whole corpus — pinned by comparing the maintained
    // conjunctive search to the direct full-table search, for the
    // registered terms AND a term set whose matches include arrivals
    import graft.operators.Search
    import graft.queries.PipelineQueries
    val docs = Tables.documents(spark, sf)
    def direct(terms: Seq[String]): Seq[Long] =
      Search.keywordSearch(docs, terms).collect().map(_.getLong(0)).sorted.toSeq
    val streamed = graft.streaming.CorpusStreams
      .streamingSearchMaintained(spark, sf, PipelineQueries.searchTerms)
      .collect().map(_.getLong(0)).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == direct(PipelineQueries.searchTerms),
      "maintained-index search diverges from the full-corpus search")
    // the maintained result must actually CONTAIN arrival docs (else the
    // delta could be silently empty and the assert above vacuous for the
    // arrival slice)
    val single = graft.streaming.CorpusStreams
      .streamingSearchMaintained(spark, sf, Seq("scan"))
      .collect().map(_.getLong(0)).toSeq
    assert(single == direct(Seq("scan")))
    assert(single.exists(_ % 10 == 7),
      "no arrival doc in the maintained search result — delta not probed")
    // bucket pruning reaches BOTH sides: every postings scan in the probe
    // plan carries a partition filter on the bucket column (the delta dir
    // is the committed one of the memoized run above — derivation shared
    // with the producer, so the key cannot drift)
    val deltaDir = graft.streaming.CorpusStreams.searchMaintainedBase(sf)
      .resolve("delta").toString
    // AQE-off clone for the plan walk (the PlanSpec discipline —
    // AdaptiveSparkPlan hides its scans from collect until execution)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = Search.keywordSearchMaintained(s2,
      Search.stagedDirSlice(s2, sf, Some("doc_id % 10 != 7")),
      deltaDir, PipelineQueries.searchTerms).queryExecution.executedPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length >= 2, s"expected base+delta scans:\n$plan")
    scans.foreach(f => assert(
      f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
      s"postings scan without bucket partition pruning:\n$f"))
  }

  test("search-index compaction: single-source probe, bounded layout") {
    // r14: the compacted index is a LAYOUT rewrite, not a semantics
    // change — the merged single-source asset must answer exactly like
    // the maintained base∪delta probe and the direct full-corpus search
    import graft.operators.Search
    import graft.queries.PipelineQueries
    val docs = Tables.documents(spark, sf)
    val terms = PipelineQueries.searchTerms
    val compacted = graft.streaming.CorpusStreams
      .streamingSearchCompacted(spark, sf, terms)
      .collect().map(_.getLong(0)).toSeq
    assert(compacted.nonEmpty)
    assert(compacted == Search.keywordSearch(docs, terms)
      .collect().map(_.getLong(0)).sorted.toSeq,
      "compacted-index search diverges from the full-corpus search")
    // arrival docs survive the merge (delta content folded in, not lost)
    val single = graft.streaming.CorpusStreams
      .streamingSearchCompacted(spark, sf, Seq("scan"))
      .collect().map(_.getLong(0)).toSeq
    assert(single.exists(_ % 10 == 7),
      "no arrival doc in the compacted search result — delta lost in merge")
    // the probe is SINGLE-source: every file scan reads the compacted
    // dir (no base, no delta, no corpus), each bucket-pruned
    val cdir = graft.streaming.CorpusStreams.searchMaintainedBase(sf)
      .resolve("compacted")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = Search.keywordSearchOver(s2, cdir.toString, terms)
      .queryExecution.executedPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"no file scans in compacted probe:\n$plan")
    scans.foreach { f =>
      assert(f.relation.location.rootPaths.forall(
        _.toString.contains("compacted")),
        s"compacted probe reads outside the compacted asset:\n$f")
      assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"compacted scan without bucket partition pruning:\n$f")
    }
    // layout bound: compaction writes exactly ONE parquet file per
    // bucket dir (the repartition-by-bucket contract — file counts must
    // not grow with how arrivals were chopped into micro-batches)
    import scala.jdk.CollectionConverters._
    // Files.list holds a directory handle until closed — drain eagerly
    // under Using so 64+ bucket listings don't accumulate open handles
    def ls(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      scala.util.Using.resource(java.nio.file.Files.list(dir))(
        _.iterator().asScala.toList)
    val bucketDirs = ls(cdir.resolve("postings"))
      .filter(_.getFileName.toString.startsWith("bucket="))
    assert(bucketDirs.nonEmpty, "no bucket dirs in compacted postings")
    bucketDirs.foreach { b =>
      val files = ls(b).filter(_.getFileName.toString.endsWith(".parquet"))
      assert(files.length == 1,
        s"bucket dir $b holds ${files.length} files — compaction must " +
          "bound layout at one file per bucket")
    }
  }

  test("deletion: tombstoned probe and purged asset forget takedown docs") {
    // r14: the data-governance half of the index lifecycle — takedown
    // requests stream in as tombstones; the LOGICAL claim is that a
    // tombstoned doc stops being served immediately (anti join at probe
    // time), the PHYSICAL claim is that purge compaction leaves no
    // trace of it in the committed asset; both probes must equal the
    // from-scratch search over documents minus the takedown slice
    import graft.operators.Search
    import graft.queries.PipelineQueries
    val docs = Tables.documents(spark, sf)
    val kept = docs.filter(!(col("doc_id") % 20 === 2))
    val terms = PipelineQueries.searchTerms
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val direct = ids(Search.keywordSearch(kept, terms))
    assert(direct.nonEmpty)
    assert(ids(graft.streaming.CorpusStreams
        .streamingSearchTombstoned(spark, sf, terms)) == direct,
      "tombstoned probe diverges from the search over kept docs")
    assert(ids(graft.streaming.CorpusStreams
        .streamingSearchPurged(spark, sf, terms)) == direct,
      "purged-asset probe diverges from the search over kept docs")
    // non-vacuity + physical erasure, independent of term luck: the
    // takedown slice is nonempty, the purged doclen forgot EXACTLY that
    // many docs, the purged postings contain NO tombstoned doc_id, and
    // the purged stats re-rolled from the purged doclen
    val tombIds = docs.filter(col("doc_id") % 20 === 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty, "takedown slice empty — deletion untested")
    val pdir = graft.streaming.CorpusStreams.ensureSearchPurged(spark, sf)
    val pDoclen = spark.read.parquet(s"$pdir/doclen")
    assert(pDoclen.count() == docs.count() - tombIds.size,
      "purged doclen count does not reflect the takedowns")
    val survivors = spark.read.parquet(s"$pdir/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(survivors.intersect(tombIds).isEmpty,
      "tombstoned doc_ids physically present in the purged postings")
    val pStats = spark.read.parquet(s"$pdir/stats").head
    assert(pStats.getLong(0) == docs.count() - tombIds.size,
      "purged stats n_docs not re-rolled from the purged doclen")
    // the ranked ladder serves correctly from the purged statistics
    // (scores depend on n_docs/sum_dl/dl — a stale stat breaks this)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows(Search.bm25SearchOver(spark, pdir.toString, terms)) ==
      rows(Search.bm25Search(kept, terms)),
      "purged-asset BM25 diverges from the ladder over kept docs")
  }

  test("streaming ANN ingest equals the one-shot frozen-quantizer index") {
    // r14: the vector twin of search-index maintenance — the FROZEN
    // base quantizer assigns each arriving micro-batch to its nearest
    // cell (ingest cost |batch| x nCells, index untouched); assignment
    // to fixed centroids is a pure per-vector function, so base ∪ delta
    // must equal the one-shot assignment over base ∪ arrivals and the
    // held-out queries must rank identically — micro-batch chopping
    // invisible by construction
    import graft.operators.IvfAnn
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val baseSlice = emb.filter(col("vec_id") % 10 =!= 7 &&
      col("vec_id") % 10 =!= 5)
    val arrivals = emb.filter(col("vec_id") % 10 === 5)
    val queries = emb.filter(col("vec_id") % 10 === 7)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val streamed = rows(
      graft.streaming.CorpusStreams.streamingAnnMaintained(spark, sf))
    assert(streamed.nonEmpty)
    val cents = IvfAnn.trainCentroids(baseSlice, 16, 2)
    val oneShot = rows(IvfAnn.probeAssigned(
        IvfAnn.assign(baseSlice.unionByName(arrivals), cents),
        cents, queries, 4, 5)
      .orderBy("query_id", "rank"))
    assert(streamed == oneShot,
      "maintained ANN index diverges from the one-shot frozen-quantizer twin")
    // arrivals actually LAND in served results (else the delta union
    // could be silently empty and the equality above vacuous for it)
    assert(streamed.exists(_._3 % 10 == 5),
      "no arrival vector in any top-k — delta not probed")
  }

  test("maintained statistics: ranked retrieval equals the from-scratch ladder") {
    // r14: BM25 scores depend on EVERY doc's length and the corpus
    // constants (n_docs, sum_dl) — serving them from the maintained
    // index (base stats + additive delta rollup) and from the compacted
    // full asset must reproduce the direct full-corpus ladder EXACTLY,
    // scores included; a lost delta doclen row or a stale stats table
    // shifts avgdl/idf and breaks this, so the equality is the
    // statistics-maintenance proof, not just a row-set check
    import graft.operators.Search
    import graft.queries.PipelineQueries
    val docs = Tables.documents(spark, sf)
    val terms = PipelineQueries.searchTerms
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val direct = rows(Search.bm25Search(docs, terms))
    assert(direct.nonEmpty)
    assert(rows(graft.streaming.CorpusStreams
        .streamingSearchBm25Maintained(spark, sf, terms)) == direct,
      "maintained-index BM25 diverges from the from-scratch ladder")
    assert(rows(graft.streaming.CorpusStreams
        .streamingSearchBm25Compacted(spark, sf, terms)) == direct,
      "compacted-asset BM25 diverges from the from-scratch ladder")
    // positions survive the merge: the compacted asset answers PHRASE
    // queries (adjacency needs exact per-token positions) identically
    // to the direct positional spelling
    val cdir = graft.streaming.CorpusStreams.searchMaintainedBase(sf)
      .resolve("compacted")
    val phrase = PipelineQueries.phraseTerms
    assert(Search.phraseSearchOver(spark, cdir.toString, phrase)
        .collect().map(_.toSeq.toList).toSet ==
      Search.phraseSearch(docs, phrase)
        .collect().map(_.toSeq.toList).toSet,
      "compacted-asset phrase search diverges — positions lost in merge")
  }

  test("structural state gate: interval-join state stays watermark-bounded") {
    // the streaming twin of the graph family's record-count gates
    // (VERDICT r9 #2): interval-join seconds are throttle-dominated, so
    // the eviction claim gets a STATE-ROWS invariant — peak buffered rows
    // must stay well under the total input (a broken watermark buffers
    // everything and blows straight past it)
    val n = Tables.events(spark, sf).count()
    EventStreams.streamingIntervalJoin(spark, sf).collect()
    val peak = EventStreams.lastStateRowsPeak.get()
    info(s"interval-join state peak: $peak rows over $n input events")
    assert(peak > 0, "no state reported")
    // measured 412/1000 at sf0.001; 0.7n leaves headroom while a broken
    // watermark (buffers both sides whole) lands at ~2n
    assert(peak < (n * 7) / 10,
      s"state peak $peak vs input $n — watermark eviction regressed")
  }

  // ------------- structural perf gates for the sessionize family
  // (VERDICT r10 #2): stream_sessionize regressed 37% on UNTOUCHED code —
  // pure environmental throttle — so the family gets the same
  // shape-not-seconds treatment as the graph iterations and the
  // interval join: state-rows peak, micro-batch count, and shuffle
  // records per run are invariants of the plan, immune to CPU throttle.

  // shuffle records count the micro-batch jobs only, not the sink
  // read-back around them
  private def probeStream(body: => Unit): (Long, Long, Long, Long) = {
    val probed = graft.metrics.JobProbe.measure(spark)(body)
    (EventStreams.lastStateRowsPeak.get(),
      EventStreams.lastMicroBatchCount.get(),
      probed.streamingWork.shuffleWriteRecords,
      EventStreams.lastStateRowsFinal.get())
  }

  test("structural gate: sessionize state is user-bounded, shuffle input-sized") {
    val events = Tables.events(spark, sf)
    val n = events.count()
    val users = events.select("user_id").distinct().count()
    val (peak, batches, shuffled, fin) =
      probeStream(EventStreams.sessionize(spark, sf).collect())
    info(s"sessionize: statePeak=$peak final=$fin users=$users " +
      s"batches=$batches shuffled=$shuffled input=$n")
    assert(peak > 0, "no state reported")
    // EXACT structural bound: flatMapGroupsWithState holds at most ONE
    // open SessionState per user; sentinel groups hold none. A state
    // leak (timeout not firing, sessions never closed-and-removed)
    // accumulates closed sessions and blows past the user count.
    assert(peak <= users,
      s"state peak $peak exceeds $users users — session state leaking")
    // the final sentinel times every open session out: state must drain
    assert(fin == 0, s"$fin session states survived the final watermark")
    assert(batches >= 2, s"replay collapsed to $batches micro-batches")
    // every input row crosses the groupByKey exchange ONCE per batch it
    // arrives in; a plan that re-shuffles the whole corpus per batch
    // lands at ~batches x n. 3n headroom covers sentinels + AQE stats.
    assert(shuffled >= 0 && shuffled < 3 * n,
      s"shuffled $shuffled records for $n input rows over $batches " +
        "batches — corpus is being re-shuffled per micro-batch")
  }

  test("structural gate: native session_window state stays watermark-evicted") {
    val nSessions = EventStreams.sessionizeBatch(Tables.events(spark, sf)).count()
    val n = Tables.events(spark, sf).count()
    val (peak, batches, shuffled, fin) =
      probeStream(EventStreams.sessionizeNative(spark, sf).collect())
    info(s"sessionize_native: statePeak=$peak final=$fin sessions=$nSessions " +
      s"batches=$batches shuffled=$shuffled input=$n")
    assert(peak > 0, "no state reported")
    // On this short replay ALL sessions legitimately buffer before the
    // sentinel flush (measured peak == nSessions over 3 batches), so the
    // peak can only bound the LEAK class (duplicated/unmerged windows):
    assert(peak <= nSessions + 2,
      s"state peak $peak exceeds $nSessions sessions — window state leaking")
    // …and EVICTION is gated on the final batch: once the sentinel
    // watermark passes every session end, the store must drain. A broken
    // watermark leaves all $nSessions rows here.
    assert(fin <= 2, s"$fin session windows survived the final watermark " +
      s"(of $nSessions) — eviction regressed")
    assert(batches >= 2, s"replay collapsed to $batches micro-batches")
    assert(shuffled >= 0 && shuffled < 3 * n,
      s"shuffled $shuffled records for $n inputs — re-shuffling corpus")
  }

  test("structural gate: out-of-order sessionize buffers only the lateness bound") {
    val nSessions = EventStreams.sessionizeBatch(Tables.events(spark, sf)).count()
    val n = Tables.events(spark, sf).count()
    val (peak, batches, shuffled, fin) =
      probeStream(EventStreams.sessionizeNativeOoo(spark, sf).collect())
    info(s"sessionize_ooo: statePeak=$peak final=$fin sessions=$nSessions " +
      s"batches=$batches shuffled=$shuffled input=$n")
    assert(peak > 0, "no state reported")
    // the OOO replay spreads arrivals over enough micro-batches
    // (measured 8) for MID-STREAM eviction to show: peak must stay
    // strictly under the full session count (measured 555/946 = 0.59;
    // 0.8 leaves drift headroom while broken eviction lands at 1.0)
    assert(peak < (nSessions * 8) / 10,
      s"state peak $peak vs $nSessions total sessions — nothing evicted " +
        "mid-stream")
    assert(fin <= 2, s"$fin session windows survived the final watermark")
    assert(batches >= 2, s"replay collapsed to $batches micro-batches")
    assert(shuffled >= 0 && shuffled < 3 * n,
      s"shuffled $shuffled records for $n inputs — re-shuffling corpus")
  }

  test("structural gate: append windowed counts hold only open windows") {
    val nGroups = queries.Relational.q10TimeBucket(spark, sf).count()
    val n = Tables.events(spark, sf).count()
    val (peak, batches, shuffled, fin) =
      probeStream(EventStreams.windowedCountsAppend(spark, sf).collect())
    info(s"windowed_counts_append: statePeak=$peak final=$fin " +
      s"groups=$nGroups batches=$batches shuffled=$shuffled input=$n")
    assert(peak > 0, "no state reported")
    // On this short replay every (window x type) group legitimately
    // buffers before the sentinel flush (measured peak == 868 = nGroups
    // over 3 batches), so peak bounds only the LEAK class (sentinel
    // groups = 2 windows at most):
    assert(peak <= nGroups + 4,
      s"state peak $peak exceeds $nGroups groups — group state leaking")
    // eviction is the FINAL count: after the sentinel watermark passes
    // every real window end, only the sentinels' own windows (nothing
    // ever closes them) may remain
    assert(fin <= 4, s"$fin window groups survived the final watermark " +
      s"(of $nGroups) — Append-mode eviction regressed")
    assert(batches >= 2, s"replay collapsed to $batches micro-batches")
    // aggregation shuffles map-side PARTIALS (<= groups x partitions per
    // batch), never raw events
    assert(shuffled >= 0 && shuffled < 3 * n,
      s"shuffled $shuffled records for $n inputs — partial agg lost")
  }

  test("streaming continual trainer: ids stable, new region learned, old region kept") {
    // The TransESpec continual contract, STREAMED (VERDICT r10 #3): the
    // chain KG's old corpus trains once, then the new region arrives as
    // two micro-batches and the foreachBatch trainer must (a) keep every
    // old dictionary id verbatim, (b) learn the new region to
    // reference-grade ranks, (c) not forget the old region (the 5%
    // replay slice anchors it).
    import spark.implicits._
    import graft.transe._
    def chain(lo: Int, hi: Int): Seq[RawTriple] =
      (lo until hi - 1).map(i => RawTriple(s"e$i", "next", s"e${i + 1}")) ++
        (lo until hi - 2).map(i => RawTriple(s"e$i", "skip2", s"e${i + 2}"))
    val oldRaw = spark.createDataset(chain(0, 500))
    val arriving = chain(480, 600).filterNot(_.h.drop(1).toInt < 498)
    // replay: a deterministic slice of the old corpus rides along with
    // every arriving batch
    val replay = spark.createDataset(chain(0, 500).filter(_.h.hashCode % 8 == 0))
    val base = java.nio.file.Files.createTempDirectory("graft_contchain")
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    arriving.grouped((arriving.size + 1) / 2).zipWithIndex.foreach {
      case (part, k) =>
        val tmp = base.resolve(s"tmp$k")
        spark.createDataset(part).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val f = {
          val s = java.nio.file.Files.list(tmp)
          try s.filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          finally s.close()
        }
        val dst = src.resolve(f"b$k%03d.parquet")
        java.nio.file.Files.copy(f, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
    }
    val p = TransEParams(epochs = 40, batches = 2, margin = 1.0f, lr = 0.05f,
      dim = 32, distance = L2Squared, seed = 42L)
    val (oldEnts, _) = DictionaryEncoder.buildDictionaries(oldRaw)
    val outcome = graft.streaming.VocabStreams.runContinualStream(spark,
      src.toString, base.resolve("chk").toString, oldRaw, replay, p,
      batchEpochs = 15)
    // (a) id stability under micro-batch chopping
    val extMap = outcome.entities.as[(String, Int)].collect().toMap
    val oldMap = oldEnts.as[(String, Int)].collect().toMap
    oldMap.foreach { case (n, i) =>
      assert(extMap(n) == i, s"stream rewired old id: $n $i -> ${extMap(n)}")
    }
    assert(extMap.size == 600 && extMap("e599") >= oldMap.size)
    // stage rows: init + 2 batches, vocab monotone
    val ks = outcome.stages.map(_._1)
    assert(ks == Seq(-1L, 0L, 1L), s"stage rows: $ks")
    assert(outcome.stages.map(_._2) == outcome.stages.map(_._2).sorted,
      "vocabulary shrank across micro-batches")
    // (b) new region learned to reference-grade ranks
    val nEnt = extMap.size
    val random = nEnt / 2.0
    val probes = spark.createDataset((500 until 590 by 7)
      .map(i => RawTriple(s"e$i", "next", s"e${i + 1}")))
    val probeEnc = DictionaryEncoder.encode(probes,
      outcome.entities, outcome.labels)
    val row = LinkPrediction.evaluate(probeEnc, outcome.model, hitsK = 10)
      .collect().head
    val (nh, nt) = (row.getDouble(1), row.getDouble(2))
    info(f"streamed new-region ranks: head=$nh%.1f tail=$nt%.1f")
    assert(nh < random / 10 && nt < random / 10,
      s"new region not learned in-stream: head=$nh tail=$nt (random $random)")
    // (c) old region not forgotten (replay anchored it)
    val oldProbes = spark.createDataset((10 until 470 by 31)
      .map(i => RawTriple(s"e$i", "next", s"e${i + 1}")))
    val oldEnc = DictionaryEncoder.encode(oldProbes,
      outcome.entities, outcome.labels)
    val oldRow = LinkPrediction.evaluate(oldEnc, outcome.model, hitsK = 10)
      .collect().head
    val (oh, ot) = (oldRow.getDouble(1), oldRow.getDouble(2))
    info(f"streamed old-region ranks: head=$oh%.1f tail=$ot%.1f")
    assert(oh < random / 10 && ot < random / 10,
      s"old region forgotten in-stream: head=$oh tail=$ot (random $random)")
    outcome.entities.unpersist(); outcome.labels.unpersist()
  }

  test("continual eval: quantized ranks over the streamed checkpoint are sane and deterministic") {
    // VERDICT r12 #4: the hash-oracled surface for the continual trainer.
    // Sanity here (ranks in-range, full sample, re-run identical); the
    // cross-engine bit-exactness is the driver's DuckDB compare.
    val r1 = graft.streaming.VocabStreams
      .streamingContinualEval(spark, sf).collect()
    assert(r1.length == graft.transe.QuantizedEval.SampleN,
      s"expected a full ${graft.transe.QuantizedEval.SampleN}-triple sample")
    val nEnt = graft.streaming.VocabStreams
      .streamingContinualTrain(spark, sf)
      .agg(org.apache.spark.sql.functions.max("n_entities"))
      .collect().head.getLong(0)
    r1.foreach { row =>
      val (rh, rt) = (row.getLong(3), row.getLong(4))
      assert(rh >= 1 && rh <= nEnt && rt >= 1 && rt <= nEnt,
        s"rank out of range: $row (nEnt=$nEnt)")
    }
    // trained, not random: mean rank across both directions beats the
    // uniform-ranking expectation by a wide margin
    val meanRank = r1.map(r => (r.getLong(3) + r.getLong(4)) / 2.0).sum / r1.length
    info(f"continual-eval mean rank: $meanRank%.1f of $nEnt entities")
    assert(meanRank < nEnt / 2.5,
      s"continually-trained checkpoint ranks no better than random: $meanRank")
    val r2 = graft.streaming.VocabStreams
      .streamingContinualEval(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq,
      "continual eval is not deterministic across invocations")
  }

  test("continual trainer restart: resume + replay are bit-identical to uninterrupted") {
    // Kill-and-restart exactly-once for TRAINING STATE (the txnAppend
    // discipline applied to SGD): a restart must LOAD the committed
    // state, not refit (at 100 TB the old corpus is cold storage), and a
    // replayed batch (crash between state commit and streaming commit)
    // must be skipped, not retrained — proven by bit-identity of the
    // final model against an uninterrupted run.
    import spark.implicits._
    import graft.transe._
    import java.nio.file.{Files => F}
    def chain(lo: Int, hi: Int): Seq[RawTriple] =
      (lo until hi - 1).map(i => RawTriple(s"e$i", "next", s"e${i + 1}"))
    val oldRaw = spark.createDataset(chain(0, 200))
    val replay = spark.createDataset(chain(0, 200).filter(_.h.hashCode % 8 == 0))
    val arriving = chain(198, 280)
    val files = arriving.grouped((arriving.size + 1) / 2).toSeq
    def stage(dir: java.nio.file.Path, upTo: Int): Unit = {
      F.createDirectories(dir)
      files.take(upTo).zipWithIndex.foreach { case (part, k) =>
        val dst = dir.resolve(f"b$k%03d.parquet")
        if (!F.exists(dst)) {
          val tmp = dir.getParent.resolve(s"tmp$k")
          spark.createDataset(part).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val f = {
            val s = F.list(tmp)
            try s.filter(_.getFileName.toString.endsWith(".parquet"))
              .findFirst().get()
            finally s.close()
          }
          F.copy(f, dst)
          F.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(
              1700000000000L + k * 60000L))
        }
      }
    }
    val p = TransEParams(epochs = 6, batches = 2, margin = 1.0f, lr = 0.05f,
      dim = 16, distance = L2Squared, seed = 42L)

    // A: uninterrupted — both files visible from the start
    val baseA = F.createTempDirectory("graft_cont_a")
    stage(baseA.resolve("src"), 2)
    val a = graft.streaming.VocabStreams.runContinualStream(spark,
      baseA.resolve("src").toString, baseA.resolve("chk").toString,
      oldRaw, replay, p, batchEpochs = 3)

    // B: killed after batch 0, restarted with durable state
    val baseB = F.createTempDirectory("graft_cont_b")
    val stateB = baseB.resolve("state")
    stage(baseB.resolve("src"), 1)
    val b1 = graft.streaming.VocabStreams.runContinualStream(spark,
      baseB.resolve("src").toString, baseB.resolve("chk").toString,
      oldRaw, replay, p, batchEpochs = 3, stateDir = Some(stateB))
    b1.entities.unpersist(); b1.labels.unpersist()
    stage(baseB.resolve("src"), 2) // the second file arrives after the kill
    val b2 = graft.streaming.VocabStreams.runContinualStream(spark,
      baseB.resolve("src").toString, baseB.resolve("chk").toString,
      oldRaw, replay, p, batchEpochs = 3, stateDir = Some(stateB))
    def dictMap(d: org.apache.spark.sql.DataFrame) =
      d.as[(String, Int)].collect().toMap
    assert(dictMap(b2.entities) == dictMap(a.entities),
      "restarted dictionary diverged from the uninterrupted run")
    def bitEqual(x: TransEModel, y: TransEModel): Boolean =
      x.entity.length == y.entity.length &&
        x.entity.indices.forall(i => x.entity(i).sameElements(y.entity(i))) &&
        x.label.indices.forall(i => x.label(i).sameElements(y.label(i)))
    assert(bitEqual(b2.model, a.model),
      "restarted model is not bit-identical to the uninterrupted run")

    // C: simulate a crash BETWEEN state commit and streaming commit by
    // deleting the engine's commit marker for the last batch — the
    // restart replays batch 1 and the skip guard must fire
    val lastCommit = baseB.resolve("chk").resolve("commits").resolve("1")
    assert(F.exists(lastCommit), s"checkpoint layout changed: $lastCommit")
    F.delete(lastCommit)
    // the local checksum FS keeps a .crc sibling; deleting only the
    // marker makes the engine's re-commit rename fail on the stale crc
    F.deleteIfExists(baseB.resolve("chk").resolve("commits").resolve(".1.crc"))
    val skipsBefore = graft.streaming.VocabStreams.continualSkips.get()
    b2.entities.unpersist(); b2.labels.unpersist()
    val c = graft.streaming.VocabStreams.runContinualStream(spark,
      baseB.resolve("src").toString, baseB.resolve("chk").toString,
      oldRaw, replay, p, batchEpochs = 3, stateDir = Some(stateB))
    assert(graft.streaming.VocabStreams.continualSkips.get() == skipsBefore + 1,
      "replayed batch was not skipped — training effects duplicated")
    assert(bitEqual(c.model, a.model),
      "replay-recovered model is not bit-identical to the uninterrupted run")
    assert(c.stages == b2.stages, "stage rows drifted across the replay")
    a.entities.unpersist(); a.labels.unpersist()
    c.entities.unpersist(); c.labels.unpersist()
  }

  test("streaming vocab growth: old ids verbatim, ids dense, same vocabulary as one-shot") {
    import spark.implicits._
    val streamed = graft.streaming.VocabStreams.streamingVocabGrowth(spark, sf)
      .as[(String, Long)].collect()
    // dense 0..n-1 (ids index an embedding matrix)
    assert(streamed.map(_._2).sorted.sameElements(streamed.indices.map(_.toLong)),
      "streamed dictionary ids not dense")
    // the one-shot extension covers the SAME vocabulary (ids may differ
    // for NEW names: the stream assigns per arrival batch, the one-shot
    // sorts all new names together — both are valid continual histories)
    val oneShot = graft.queries.TransEQueries.kgEncodeIncremental(spark, sf)
      .as[(String, Long)].collect()
    assert(streamed.map(_._1).toSet == oneShot.map(_._1).toSet,
      "stream and one-shot extension disagree on the vocabulary")
    // old-corpus names (ids below the old count in the one-shot run,
    // which keeps them verbatim) carry the SAME ids in the stream — the
    // id-stability contract under micro-batch chopping
    val streamMap = streamed.toMap
    val newNames = graft.queries.TransEQueries.kgTriples(spark, sf)
      .selectExpr("h", "l", "t",
        "conv(substring(md5(concat_ws('|', h, l, t)), 1, 6), 16, 10) % 10 AS b")
      .filter(col("b") < 9)
    val oldVocab = newNames.select(col("h").as("name"))
      .unionAll(newNames.select(col("t").as("name")))
      .distinct().as[String].collect().toSet
    oneShot.filter(n => oldVocab.contains(n._1)).foreach { case (n, i) =>
      assert(streamMap(n) == i, s"old id moved in the stream: $n $i -> ${streamMap(n)}")
    }
  }
}
