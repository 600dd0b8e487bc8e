package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product/event analytics over the events stream's batch view — the
  * engagement-side counterpart to the funnel query (CorpusPipeline.funnel):
  * classic cohort retention, the "week 0..N" triangle every analytics
  * stack computes over its event log.
  *
  * Determinism contract: activity buckets are pure integer arithmetic on
  * epoch seconds (`unix_micros DIV 1e6 DIV bucketSec`) — no date_trunc /
  * calendar semantics to drift between engines — and every output is a
  * BIGINT count, so the DuckDB oracle replays hash-exactly.
  *
  * Scale design: ONE wide shuffle, keyed on user_id, aggregating each
  * user's distinct activity buckets as a set (collect_set — bounded by
  * the timeline length in buckets, ~tens to hundreds, NOT by event
  * count); cohort (= min bucket) and per-bucket offsets then derive
  * narrowly from the set (array_min + explode), and the final
  * (cohort, offset) cells aggregate is over cardinality
  * O(timeline^2 / 2) — tiny at any corpus size. The naive spelling
  * (distinct -> self-join activity to cohort -> re-aggregate) is three
  * wide shuffles of event-scale data; this is one.
  */
object EventAnalytics {

  /** Retention triangle: for each cohort (bucket of first activity) and
    * offset (buckets since first activity), the number of distinct users
    * active. `bucketSec` defaults to daily cohorts. */
  def cohortRetention(events: DataFrame, bucketSec: Long = 86400L): DataFrame = {
    val byUser = events
      .select(col("user_id"),
        expr(s"unix_micros(ts) DIV 1000000 DIV $bucketSec").as("bk"))
      .groupBy("user_id")
      .agg(collect_set(col("bk")).as("bks"))
    byUser
      .select(array_min(col("bks")).as("cohort_day"),
        explode(col("bks")).as("bk"))
      .groupBy(col("cohort_day"),
        (col("bk") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered time-window funnel (view → click → purchase within
    * `windowSec` of the first view): for each user, the first step-1
    * event anchors the window; each later step must occur strictly after
    * the previous step's chosen event and inside the anchor window.
    * Output: one row per step with the number of users reaching it — the
    * conversion funnel every product-analytics engine ships as a
    * primitive (match_recognize / windowFunnel elsewhere).
    *
    * Semantics are the deterministic "first qualifying event" chain (not
    * any-chain-exists): t1 = min ts of step 1; t2 = min ts of step 2 in
    * (t1, t1+W]; t3 = min ts of step 3 in (t2, t1+W]. All comparisons in
    * integer epoch-micros — exact in any engine.
    *
    * Scale shape: one pass per step — each pass filters events to one
    * type and equi-joins the previous step's per-user anchor table
    * (|users| rows, partial-aggregated map-side) — no window functions
    * over raw events, no per-user event collection, so per-user event
    * counts are never materialized. Step count is the funnel length (3),
    * fixed and small. */
  def funnelSteps(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      windowSec: Long = 3600L): DataFrame = {
    require(steps.nonEmpty)
    val w = windowSec * 1000000L
    val base = events.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("tus"))
    val s1 = base.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("tus").as("t1"), min("tus").as("tprev"))
    val chain = steps.zipWithIndex.drop(1).scanLeft(s1) {
      case (prev, (step, _)) =>
        base.filter(col("event_type") === step)
          .join(prev, "user_id")
          .filter(col("tus") > col("tprev") && col("tus") <= col("t1") + lit(w))
          .groupBy("user_id")
          .agg(min("t1").as("t1"), min("tus").as("tprev"))
    }
    val spark = events.sparkSession
    import spark.implicits._
    chain.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(steps(i)).as("step_name"),
          col("n_users"))
    }.reduce(_.unionAll(_))
  }

  def funnelStepsSql(steps: Seq[String] = Seq("view", "click", "purchase"),
      windowSec: Long = 3600L): String = {
    val w = windowSec * 1000000L
    val ctes = new StringBuilder(
      s"""WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         |s1 AS (SELECT user_id, MIN(tus) AS t1, MIN(tus) AS tprev
         |       FROM base WHERE event_type = '${steps.head}' GROUP BY 1)""".stripMargin)
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      ctes.append(
        s""",
           |s${i + 1} AS (SELECT b.user_id, MIN(p.t1) AS t1, MIN(b.tus) AS tprev
           |       FROM base b JOIN s$i p USING (user_id)
           |       WHERE b.event_type = '$step' AND b.tus > p.tprev
           |         AND b.tus <= p.t1 + $w GROUP BY 1)""".stripMargin)
    }
    val selects = steps.zipWithIndex.map { case (step, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$step' AS step_name, " +
        s"(SELECT COUNT(*) FROM s${i + 1}) AS n_users"
    }
    ctes.append("\n" + selects.mkString("\nUNION ALL\n") + "\nORDER BY step")
    ctes.toString
  }

  /** Time-series gap fill: per-user daily event counts with the missing
    * days BETWEEN each user's first and last active day emitted as
    * explicit zero rows — the densification step before any
    * rolling-window / forecasting consumer (sparse activity tables make
    * window frames silently skip calendar days).
    *
    * Spark shape: aggregate to (user, day) counts, derive each user's
    * [min,max] span from the AGGREGATED rows (tiny), generate the dense
    * day axis with `sequence` + `explode` (a Generator — rows are
    * produced lazily per user, never materialized as one driver list),
    * then left-join the real counts back. The explode and join operate
    * on |users| * span rows — already reduced from raw events by the
    * first aggregate — and the span is bounded by the data's calendar
    * extent, so the blow-up factor is known and capped. At 100 TB the
    * only full-data shuffle is the first groupBy; everything after runs
    * on the small dense grid. */
  def gapFillDaily(events: DataFrame, bucketSec: Long = 86400L): DataFrame = {
    // persisted: the span derivation and the back-join both consume the
    // reduced (user, day) table — unpersisted lineage re-ran the events
    // scan + aggregate per branch (r12 scan audit); |users| x timeline
    // rows, nothing like event volume
    val counts = events
      .select(col("user_id"),
        expr(s"unix_micros(ts) DIV 1000000 DIV $bucketSec").as("day_id"))
      .groupBy("user_id", "day_id")
      .agg(count(lit(1)).as("n_events"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val axis = counts.groupBy("user_id")
      .agg(min("day_id").as("d0"), max("day_id").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1)")).as("day_id"))
    axis.join(counts, Seq("user_id", "day_id"), "left")
      .select(col("user_id"), col("day_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  def gapFillDailySql(bucketSec: Long = 86400L): String =
    s"""WITH counts AS (
       |  SELECT user_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec AS day_id,
       |    COUNT(*) AS n_events
       |  FROM events GROUP BY 1, 2
       |), axis AS (
       |  SELECT user_id, unnest(generate_series(MIN(day_id), MAX(day_id))) AS day_id
       |  FROM counts GROUP BY user_id
       |)
       |SELECT a.user_id, a.day_id, COALESCE(c.n_events, 0) AS n_events
       |FROM axis a LEFT JOIN counts c USING (user_id, day_id)
       |ORDER BY user_id, day_id""".stripMargin

  /** DuckDB replay of [[cohortRetention]] — the readable
    * distinct/join/re-aggregate spelling of the same contract. */
  def cohortRetentionSql(bucketSec: Long = 86400L): String =
    s"""WITH act AS (
       |  SELECT DISTINCT user_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec AS bk
       |  FROM events
       |), coh AS (
       |  SELECT user_id, MIN(bk) AS cohort_day FROM act GROUP BY user_id
       |)
       |SELECT c.cohort_day, a.bk - c.cohort_day AS day_offset,
       |  COUNT(*) AS n_users
       |FROM act a JOIN coh c USING (user_id)
       |GROUP BY 1, 2
       |ORDER BY cohort_day, day_offset""".stripMargin

  // ------------------------------------------------------- ewmaDaily
  /** Exponentially-weighted trailing activity per user-day, with an
    * integer spike flag — the rolling consumer [[gapFillDaily]] exists
    * for (a decayed baseline is meaningless over a series with silent
    * holes: a lag over missing days would compare against the wrong
    * calendar positions).
    *
    * Integer contract: the decayed PAST-ONLY baseline is
    * Σ_{j=1..13} n_{t-j} * 2^(13-j) (half-life one day; today excluded —
    * a baseline containing today's own count can never be exceeded by
    * it) — exact BIGINT, weights depend only on the lag offset (never an
    * absolute-day exponent, which would overflow past day 62). Spelled
    * as 13 LAG terms over ONE window spec, so Spark evaluates a single
    * pass per partition and DuckDB replays the identical expression.
    * Spike: today exceeds twice the decayed per-day mean plus a +2
    * noise floor — n_t * 8191 > 2 * baseline + 2 * 8191 with
    * Σ weights = 2^13 - 1 = 8191, all integers.
    *
    * Scale: inherits gap-fill's one corpus shuffle; the window partitions
    * by user (bounded by timeline length in days) — never global. */
  def ewmaDaily(events: DataFrame, bucketSec: Long = 86400L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("day_id")
    val lags = (1 to 13).map(j =>
      coalesce(lag(col("n_events"), j).over(w), lit(0L)) * lit(1L << (13 - j)))
    gapFillDaily(events, bucketSec)
      .withColumn("ewma_num", lags.reduce(_ + _))
      .withColumn("is_spike",
        (col("n_events") * lit(8191L) > col("ewma_num") * 2L + lit(16382L))
          .cast("long"))
  }

  def ewmaDailySql(bucketSec: Long = 86400L): String = {
    val lags = (1 to 13).map(j =>
      s"COALESCE(LAG(n_events, $j) OVER w, 0) * ${1L << (13 - j)}").mkString(" + ")
    s"""WITH counts AS (
       |  SELECT user_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec AS day_id,
       |    COUNT(*) AS n_events
       |  FROM events GROUP BY 1, 2
       |), axis AS (
       |  SELECT user_id, unnest(generate_series(MIN(day_id), MAX(day_id))) AS day_id
       |  FROM counts GROUP BY user_id
       |), filled AS (
       |  SELECT a.user_id, a.day_id, COALESCE(c.n_events, 0) AS n_events
       |  FROM axis a LEFT JOIN counts c USING (user_id, day_id)
       |)
       |SELECT user_id, day_id, n_events, $lags AS ewma_num,
       |  CAST(n_events * 8191 > ($lags) * 2 + 16382 AS BIGINT) AS is_spike
       |FROM filled
       |WINDOW w AS (PARTITION BY user_id ORDER BY day_id)
       |ORDER BY user_id, day_id""".stripMargin
  }

  // ------------------------------------------------- point-in-time features
  /** Point-in-time-correct training features — the feature-store
    * correctness primitive: for every LABEL row (here: each purchase),
    * per-user aggregates computed over STRICTLY EARLIER events only.
    * Computing features over the whole history and joining them back is
    * the classic target-leakage bug (the feature peeks at the future);
    * the cure is frames ending at `1 PRECEDING` on a total
    * per-user order, so a model trained on these rows sees exactly what
    * was knowable at prediction time. The leakage theme's temporal twin
    * to [[DedupComponents.groupedSplit]]'s content leakage.
    *
    * Features: prior event count, prior view count, prior value sum
    * (exact cents), seconds since the previous event (-1 for the first).
    * All integers; order is (ts_micros, event_id) — total, so frames are
    * deterministic and DuckDB replays hash-exactly.
    *
    * Scale: one shuffle keyed by user; window partitions are bounded by
    * per-user history. A pathological power-user key concentrates its
    * history in one task — inherent to exact cumulative features; the
    * production levers are history truncation (bounded trailing frames)
    * or session-scoped features, both expressible in this same shape. */
  def pointInTimeFeatures(events: DataFrame,
      labelType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col("event_id"), col("user_id"),
      col("event_type"), expr("unix_micros(ts)").as("tsm"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("user_id").orderBy("tsm", "event_id")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("n_prior", count(lit(1)).over(prior))
      .withColumn("n_prior_views",
        coalesce(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .over(prior), lit(0L)))
      .withColumn("sum_prior_cents",
        coalesce(sum(col("cents")).over(prior), lit(0L)))
      .withColumn("prev_tsm", lag(col("tsm"), 1).over(w))
      .withColumn("sec_since_prev",
        when(col("prev_tsm").isNull, lit(-1L))
          .otherwise(expr("(tsm - prev_tsm) div 1000000")))
      .filter(col("event_type") === labelType)
      .select("event_id", "user_id", "tsm", "n_prior", "n_prior_views",
        "sum_prior_cents", "sec_since_prev")
  }

  def pointInTimeFeaturesSql(labelType: String = "purchase"): String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type,
       |    CAST(epoch_us(ts) AS BIGINT) AS tsm,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events
       |), feat AS (
       |  SELECT event_id, user_id, event_type, tsm,
       |    COUNT(*) OVER prior AS n_prior,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |      OVER prior, 0) AS BIGINT) AS n_prior_views,
       |    CAST(COALESCE(SUM(cents) OVER prior, 0) AS BIGINT) AS sum_prior_cents,
       |    COALESCE((tsm - LAG(tsm) OVER w) // 1000000, -1) AS sec_since_prev
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id),
       |    prior AS (PARTITION BY user_id ORDER BY tsm, event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |)
       |SELECT event_id, user_id, tsm, n_prior, n_prior_views,
       |  sum_prior_cents, sec_since_prev
       |FROM feat WHERE event_type = '$labelType'
       |ORDER BY event_id""".stripMargin

  // --------------------------------------------- sliding distinct users
  /** Trailing-7-day active users per day (WAU curve) — sliding-window
    * DISTINCT, which has no direct window-function spelling (COUNT
    * (DISTINCT) over a frame is unsupported in both engines). The
    * scale spelling: distinct (user, activity day) — ONE corpus shuffle,
    * bounded by |users| * timeline — then each activity day EXPLODES to
    * the <= 7 window-ends it contributes to (constant fanout), distinct
    * (user, window_end) dedups multi-active users, and a tiny count per
    * window_end finishes. Window-ends past the last observed day are
    * dropped (partial future windows), via the 1-row max-day broadcast.
    */
  def activeUsers7d(events: DataFrame, windowDays: Int = 7,
      bucketSec: Long = 86400L): DataFrame = {
    // persisted: the max-day bound and the window explode both consume
    // the distinct activity table — unpersisted lineage re-ran the
    // events scan + distinct per branch (r12 scan audit)
    val act = events
      .select(col("user_id"),
        expr(s"unix_micros(ts) DIV 1000000 DIV $bucketSec").as("day_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    val maxDay = act.select(max("day_id").as("max_day"))
    act
      .select(col("user_id"),
        explode(expr(s"sequence(day_id, day_id + ${windowDays - 1})")).as("window_end"))
      .distinct()
      .join(broadcast(maxDay))
      .filter(col("window_end") <= col("max_day"))
      .groupBy("window_end")
      .agg(count(lit(1)).as("active_users"))
  }

  def activeUsers7dSql(windowDays: Int = 7, bucketSec: Long = 86400L): String =
    s"""WITH act AS (
       |  SELECT DISTINCT user_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec AS day_id
       |  FROM events
       |), win AS (
       |  SELECT DISTINCT user_id,
       |    unnest(generate_series(day_id, day_id + ${windowDays - 1})) AS window_end
       |  FROM act
       |)
       |SELECT window_end, COUNT(*) AS active_users FROM win
       |WHERE window_end <= (SELECT MAX(day_id) FROM act)
       |GROUP BY window_end ORDER BY window_end""".stripMargin

  // ------------------------------------------------------- typeDrift
  /** Two-sample distribution-drift report: the event-type mix BEFORE vs
    * AFTER a boundary day, with an integer chi-square-style score per
    * category — the monitoring check that catches an upstream pipeline
    * change (a source added/dropped, a tracking bug) shifting the event
    * mix between two time slices. The same shape applies to corpus
    * snapshots (language mix, source mix) — the slices are parameters.
    *
    * Integer contract (this codebase's standing oracle discipline):
    * shares are exact ppm (count * 1e6 DIV slice_total), the per-cell
    * drift score is delta_ppm^2 DIV (p_a + p_b + 1) — a scaled Pearson
    * residual whose +1 floor avoids division by zero for categories
    * absent from both slices. No doubles cross the engine boundary.
    * (A textbook chi-square needs no transcendentals either, but its
    * products overflow BIGINT at 100 TB counts; ppm shares stay < 1e6
    * so every intermediate fits comfortably.)
    *
    * Scale shape: ONE map-side-combinable conditional-count aggregate
    * over the events scan (|types| rows out); the slice totals are a
    * 1-row aggregate over that tiny cells table, broadcast back onto it
    * (the cells exchange is reused, not recomputed) — nothing
    * corpus-sized shuffles twice. */
  def typeDrift(events: DataFrame, boundaryDay: Long = 19738L,
      bucketSec: Long = 86400L): DataFrame = {
    val dayId = expr(s"unix_micros(ts) DIV 1000000 DIV $bucketSec")
    val cells = events
      .select(col("event_type"), (dayId < lit(boundaryDay)).as("in_a"))
      .groupBy("event_type")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("c_b"))
    val totals = cells.agg(sum("c_a").as("t_a"), sum("c_b").as("t_b"))
    cells
      .crossJoin(broadcast(totals))
      .select(col("event_type"), col("c_a"), col("c_b"),
        expr("c_a * 1000000L div t_a").as("p_a_ppm"),
        expr("c_b * 1000000L div t_b").as("p_b_ppm"))
      .withColumn("delta_ppm", col("p_b_ppm") - col("p_a_ppm"))
      .withColumn("drift_score",
        expr("delta_ppm * delta_ppm div (p_a_ppm + p_b_ppm + 1L)"))
  }

  def typeDriftSql(boundaryDay: Long = 19738L, bucketSec: Long = 86400L): String =
    s"""WITH cells AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec < $boundaryDay
       |             THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       |    CAST(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec < $boundaryDay
       |             THEN 0 ELSE 1 END) AS BIGINT) AS c_b
       |  FROM events GROUP BY event_type
       |), shares AS (
       |  SELECT event_type, c_a, c_b,
       |    c_a * 1000000 // CAST(SUM(c_a) OVER () AS BIGINT) AS p_a_ppm,
       |    c_b * 1000000 // CAST(SUM(c_b) OVER () AS BIGINT) AS p_b_ppm
       |  FROM cells
       |)
       |SELECT event_type, c_a, c_b, p_a_ppm, p_b_ppm,
       |  p_b_ppm - p_a_ppm AS delta_ppm,
       |  (p_b_ppm - p_a_ppm) * (p_b_ppm - p_a_ppm) // (p_a_ppm + p_b_ppm + 1)
       |    AS drift_score
       |FROM shares ORDER BY event_type""".stripMargin
}
