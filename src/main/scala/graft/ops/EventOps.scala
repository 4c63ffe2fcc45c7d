package graft.ops

import graft.GraftCache.GraftCachedOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time processing over the `events` table — the streaming-style
  * capability the reference lacks (SURVEY.md §2.6: no streaming, no
  * windows). All four queries run the *batch* forms of Spark's event-time
  * primitives (`window`, `session_window`, as-of ordering), which share
  * semantics with their Structured Streaming counterparts in
  * [[graft.streaming.EventStream]]; batch keeps them DuckDB-oracle-checkable.
  *
  * Timestamps are emitted as `unix_micros` BIGINTs: integer event-time
  * microseconds are exactly representable on both engines, so no
  * tz/precision skew can enter the hash compare.
  *
  * Scale: every query shuffles once on a bounded or high-cardinality key
  * (window bucket, user_id); session windows use Spark's native
  * SessionWindow node (sort within user partition), not a driver-side loop.
  */
object EventOps {
  import graft.Tables._

  /** Tumbling 1-hour event-time windows: count + sum per (window, type). */
  def qEventsTumbling(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("ws"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  /** Sliding windows (1 hour long, every 30 minutes): each event lands in
    * exactly two windows.
    */
  def qEventsSliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("ws"), col("n"), col("sum_value"))
      .orderBy(col("ws"))

  /** Session windows per user with a 1-hour inactivity gap. A new session
    * starts when the gap from the previous event is >= the gap duration
    * (Spark session window is [start, last_event + gap)).
    */
  def qEventsSession(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start"),
              col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Inter-arrival analysis: per-user event gaps via event-time lag, then
    * per-user mean/max gap seconds — the sessionization precursor stat.
    */
  def qEventsInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc)
    events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_s", (unix_micros(col("ts")) - col("prev_us")).cast("double") / 1e6)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
           round(avg(col("gap_s")), 2).as("avg_gap_s"),
           round(max(col("gap_s")), 2).as("max_gap_s"))
      .orderBy(col("user_id"))
  }

  /** As-of join: for each 'error' event, the most recent 'click' by the
    * same user at-or-before it. Implemented scalably as a union + single
    * per-user event-time sort with a running `last(click_ts)` — one shuffle
    * on user_id, no per-row probe. (`kind` orders clicks before errors at
    * equal timestamps, matching ASOF's ts_click <= ts_error.)
    */
  def qEventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
              lit(null).cast("long").as("event_id"), col("ts").as("click_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
              col("event_id"), lit(null).cast("timestamp").as("click_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Running max == most recent click (ts ascending within the frame);
    // max is incrementally maintained, unlike last(_, ignoreNulls).
    clicks.unionByName(errors)
      .withColumn("last_click", max(col("click_ts")).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
              coalesce(unix_micros(col("last_click")), lit(-1L)).as("click_ts_us"))
      .orderBy(col("event_id"))
  }

  /** Trailing time-RANGE window: per-user rolling count and exact
    * centi-unit sum over the preceding hour of EVENT TIME (a value-offset
    * frame, not a row-count frame — the feature-engineering primitive
    * "activity in the last hour at each event"). The window partitions on
    * user_id (high cardinality, skew-free) and the frame bound is integer
    * microseconds, so peers and bounds are engine-independent.
    */
  def qEventsTimeRange(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, 0)
    events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_c_1h", sum(col("value_c")).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
              col("n_1h"), col("sum_c_1h"))
      .orderBy(col("event_id"))
  }

  /** SCD Type-2 history build: treat each user's event_type as a
    * slowly-changing attribute and reconstruct the versioned dimension —
    * change detection via `lag`, validity intervals via `lead`, an
    * open-ended current row per user. This is the nightly
    * dimension-maintenance shape of a warehouse pipeline. All three
    * window functions share ONE partitioning (user_id) and ONE sort
    * order (ts_us, event_id), so Catalyst plans a single exchange + sort
    * for the whole query — at 100 TB that is one linear shuffle on a
    * high-cardinality skew-free key.
    */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_type").as("attr"))
      .withColumn("prev", lag(col("attr"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("attr"))
      .withColumn("version", row_number().over(w))
      .withColumn("to_us", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("version"), col("attr"),
              col("ts_us").as("from_us"), col("to_us"),
              col("to_us").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Gap-filled hourly resample per event type: densify the hourly series
    * so silent hours appear as explicit zero rows — the shape every
    * downstream time-series consumer (anomaly detection, forecasting)
    * needs. The dense grid comes from `sequence` + `explode` over per-type
    * [min, max] HOUR INDEXES (span-bounded: grid size = types × hours, a
    * few thousand rows regardless of event volume), then a left join back
    * to the hourly aggregate. At 100 TB the events side partial-aggregates
    * to one row per (type, hour) before any shuffle; the grid side is
    * broadcast-sized by construction. Sums are exact centi-units.
    */
  def qEventsResample(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events(spark, dir)
      .select(col("event_type"), expr(s"unix_micros(ts) div $hourUs").as("h"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("value_c"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
              explode(sequence(col("h0"), col("h1"))).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), (col("h") * hourUs).as("hb"),
              coalesce(col("n"), lit(0L)).as("n"),
              coalesce(col("value_c"), lit(0L)).as("value_c"))
      .orderBy(col("event_type"), col("hb"))
  }

  /** Daily audience growth: new users per day (first-seen attribution) and
    * the cumulative distinct-user count — "running COUNT(DISTINCT)" made
    * scalable by decomposition: min-aggregate per user (linear, partial
    * combine), day-aggregate (one row per day), then a running sum over
    * the DAY-level relation only. The unbounded window sorts ~hundreds of
    * rows, never the fact table — the aggregate-then-rank pattern.
    */
  def qNewUsersDaily(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val daily = events(spark, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    daily
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))))
      .select((col("day") * dayUs).as("db"), col("new_users"), col("cum_users"))
      .orderBy(col("db"))
  }

  /** Exact distributed median per event type, no interpolation ambiguity:
    * the median of n values is the mean of order statistics k1 = (n+1)/2
    * and k2 = (n+2)/2 (integer div), computed in centi-units so `med2_c`
    * (= 2 × median in centi-units) is an exact integer on both engines —
    * percentile() interpolation conventions never enter. One per-type
    * partitioned sort (rank and count share the partitioning); at 100 TB
    * with few types the same statistic runs off the q_value_histogram
    * bucket counts (median bucket by cumulative count, then one narrow
    * in-bucket pass).
    */
  /** Parameterized core of [[qGroupMedian]]: per-`key` exact median of
    * integer `value` (tie-broken by `tie` for a total order), reported as
    * `med2` = the sum of the two middle order statistics (= 2 × median).
    */
  def groupMedian(df: DataFrame, key: String, value: String,
                  tie: String): DataFrame = {
    val wRank = Window.partitionBy(col(key)).orderBy(col(value), col(tie))
    val wAll = Window.partitionBy(col(key))
    df
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === expr("(n + 1) div 2") ||
              col("rn") === expr("(n + 2) div 2"))
      .groupBy(col(key))
      .agg(max(col("n")).as("n"),
           // One row when n is odd (k1 == k2): double it; two when even.
           when(count(lit(1)) === 1, sum(col(value)) * 2)
             .otherwise(sum(col(value))).as("med2_c"))
      .orderBy(col(key))
  }

  /** Exact multi-quantile bands per event type in ONE window pass: the
    * p25/p50/p75/p90/p99 order statistics at rank max(1, floor(q·n)) —
    * the floor-based convention (p50 over n=10 is the 5th, lower-middle,
    * order statistic), value-exact and interpolation-free — collected as
    * conditional MIN/MAX aggregates over the ranked rows; the DuckDB
    * oracle implements the identical floor rule, so no percentile()
    * engine conventions anywhere. Same single per-key sort as the
    * median; the bands pivot out as columns.
    */
  def qPercentileBands(spark: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("value_c"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    def band(pNum: Int, pDen: Int): Column =
      // Value at rank max(1, floor(n·pNum/pDen)) — the max over ranks
      // <= cut, with rank 1 as the floor so tiny groups never go null.
      max(when(col("rn") * pDen <= col("n") * pNum || col("rn") === 1,
               col("value_c")))
    events(spark, dir)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
           min(col("value_c")).as("p0"),
           band(1, 4).as("p25"), band(1, 2).as("p50"), band(3, 4).as("p75"),
           band(9, 10).as("p90"), band(99, 100).as("p99"),
           max(col("value_c")).as("p100"))
      .orderBy(col("event_type"))
  }

  def qGroupMedian(spark: SparkSession, dir: String): DataFrame =
    groupMedian(
      events(spark, dir)
        .select(col("event_type"), col("event_id"),
                expr("cast(round(value * 100) as bigint)").as("value_c")),
      "event_type", "value_c", "event_id")

  /** Last-touch attribution via fill-forward: every purchase is attributed
    * to the user's most recent PRECEDING click (the marketing-analytics
    * join that is neither equi nor as-of-able without a generated key).
    * The carried click timestamp is `max(click ts)` over the preceding
    * frame — equivalent to last_value(ignoreNulls) because ts is the sort
    * key, and portable to any engine. One per-user window sort; the
    * summary row is exact-integer latency mass. At 100 TB: one linear
    * shuffle on user_id.
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_purchases"),
           count(col("last_click_us")).as("n_attr_any"),
           count(when(col("ts_us") - col("last_click_us") <= hourUs, lit(1)))
             .as("n_attr_1h"),
           sum(when(col("ts_us") - col("last_click_us") <= hourUs,
                    col("ts_us") - col("last_click_us"))).as("latency_sum_us"),
           min(col("ts_us") - col("last_click_us")).as("latency_min_us"))
  }

  /** Time-weighted value integral per user: each event's centi-value holds
    * until the user's next event (piecewise-constant signal); the integral
    * Σ value_c·Δt and the active span are exact integers. Reported as the
    * top-10 users by integral (deterministic tie-break) — the
    * "engagement-weighted" ranking. One per-user window sort, then
    * TakeOrdered over the per-user aggregate.
    */
  def qTimeWeighted(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("value_c") * (col("next_us") - col("ts_us")))
             .as("integral_cus"),
           (max(col("next_us")) - min(col("ts_us"))).as("span_us"),
           (count(lit(1)) + 1).as("n_events"))
      .orderBy(col("integral_cus").desc, col("user_id"))
      .limit(10)
  }

  /** Peak concurrency via sweep line: per-user sessions (1-hour-gap
    * islands, interval [first, last+gap)) become ±1 boundary events; a
    * running sum over the (t, d)-ordered boundaries gives the live
    * session count, whose max is the capacity-planning answer. The
    * running sum is fully distributed — see [[peakConcurrency]]; ends
    * sort before starts at equal timestamps (d = −1 < +1), so touching
    * intervals don't double-count.
    */
  /** Gaps-and-islands sessionization core: `(key, ts)` rows → one
    * interval [first, last + gap) per session.
    */
  def sessionIntervals(df: DataFrame, key: String, ts: String,
                       gapUs: Long): DataFrame = {
    val wu = Window.partitionBy(col(key)).orderBy(col(ts))
    df
      .withColumn("prev_us", lag(col(ts), 1).over(wu))
      .withColumn("ns",
        when(col("prev_us").isNull ||
             col(ts) - col("prev_us") >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(key), col("sid"))
      .agg(min(col(ts)).as("s"), (max(col(ts)) + gapUs).as("e"))
  }

  /** Sweep-line core: peak number of simultaneously live `[s, e)`
    * intervals, with the first timestamp attaining the peak.
    *
    * DISTRIBUTED and SKEW-IMMUNE: the running sum over the ±1 boundary
    * relation is a two-phase prefix sum over a RANGE partitioning of
    * (t, d) — every partition holds a contiguous, equal-SIZE run of the
    * boundary order (range exchange + within-partition sort fix the
    * order; the partition index read off monotonically_increasing_id),
    * the running sum is a pid-partitioned window (parallel), and the
    * cross-partition carry-in is the exclusive prefix sum of per-pid ±1
    * totals via the hierarchical [[TextOps.exclusiveOffsets]] machinery.
    * Sessions at 100 TB are billions of rows; a `Window.orderBy(t, d)`
    * funnels all of them through ONE task, and fixed-width TIME buckets
    * (the obvious alternative) degrade the same way whenever load
    * concentrates in a few hot hours — range partitioning balances by
    * row count no matter how the time axis is distributed (the
    * `peak_conc_skew` probe in ROUND5_NOTES: 2M sessions, 90 % inside
    * one hour, 3.2 s). Ends still sort
    * before starts at equal t (d = −1 < +1), so touching intervals don't
    * double-count; equal (t, d) rows split across a partition boundary
    * carry equal deltas, so every prefix value is order-independent. The
    * peak and its first timestamp fall out of one `max(struct(live,
    * -t))` aggregate — map-side partial, no second pass, no self-join
    * on the run relation.
    */
  def peakConcurrency(intervals: DataFrame): DataFrame = {
    val bounds = intervals.select(col("s").as("t"), lit(1).as("d"))
      .unionByName(intervals.select(col("e").as("t"), lit(-1).as("d")))
    // localCheckpoint for the same reason as AnalyticsOps.globalRank:
    // `parts` feeds both the windowed-prefix branch and the offsets
    // branch, and range boundaries are sampled per evaluation — both
    // consumers must read ONE materialized partitioning.
    val parts = bounds
      .repartitionByRange(AnalyticsOps.rankParallelism(intervals),
                          col("t"), col("d"))
      .sortWithinPartitions(col("t"), col("d"))
      .withColumn("pid", expr("monotonically_increasing_id() div 8589934592"))
      .localCheckpoint()
    val wb = Window.partitionBy(col("pid")).orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = TextOps.exclusiveOffsets(
        parts.groupBy(col("pid")).agg(sum(col("d")).as("tot"))
          .select(col("pid").as("key"), col("tot")), 256, 2,
        reuseInput = false) // totals are one agg over the checkpoint
      .select(col("key").as("pid"), col("offset"))
    val live = parts.withColumn("pfx", sum(col("d")).over(wb))
      .join(offs, Seq("pid"))
      .select(col("t"), (col("offset") + col("pfx")).as("live"))
    val peak = live
      .agg(max(struct(col("live"), (-col("t")).as("nt"))).as("p"))
      .select(col("p.live").as("peak"), (-col("p.nt")).as("peak_ts_us"))
    peak.crossJoin(broadcast(intervals.agg(count(lit(1)).as("n_sessions"))))
      .select(col("n_sessions"), col("peak"), col("peak_ts_us"))
  }

  def qPeakConcurrency(spark: SparkSession, dir: String): DataFrame =
    peakConcurrency(sessionIntervals(
      events(spark, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", 3600000000L))

  /** Interval-union mass (coverage): every event projects a half-hour
    * activity block [ts, ts+30m); overlapping blocks per user merge into
    * islands (new island iff start > running max of previous ends), and
    * the answer is exact covered time — the "billable active time" /
    * uptime-coverage operator. One per-user window sort; the island
    * reduction is a running max + conditional sum, all integers. Summary:
    * users, merged islands, total raw vs covered mass (overlap removed).
    */
  def qIntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val blockUs = 1800000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
    val prevMaxE = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val iv = events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("s"),
              (unix_micros(col("ts")) + blockUs).as("e"))
    iv.withColumn("ns", when(prevMaxE.isNull || col("s") > prevMaxE, 1)
          .otherwise(0))
      .withColumn("iid", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("iid"))
      .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_islands"),
           sum(col("ie") - col("is")).as("covered_us"))
      .crossJoin(broadcast(iv.agg((count(lit(1)) * blockUs).as("raw_us"))))
      .select(col("n_users"), col("n_islands"), col("covered_us"),
              col("raw_us"))
  }

  /** First-order Markov transition statistics over each user's event
    * sequence: exact counts and 6dp conditional probabilities
    * p(next_type | current_type) — the session-behavior LM (the event-
    * stream analog of [[graft.ops.TextOps.bigramLm]]). The lead() window
    * partitions on user_id (high-cardinality, skew-free — never global)
    * and orders by the RAW nano timestamp + event_id, a total order both
    * engines share bit-for-bit (ordering by the derived microsecond
    * timestamp could disagree with the oracle's nano order on sub-µs
    * neighbors). Counts partial-aggregate map-side; the only float is
    * the final rounded division.
    */
  def qMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_nanos"), col("event_id"))
    val tr = eventsWithRawTs(spark, dir)
      .select(col("user_id"), col("ts_nanos"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val c2 = tr.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val c1 = c2.groupBy(col("from_type")).agg(sum(col("n_trans")).as("n_from"))
    c2.join(c1, "from_type")
      .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
              round(col("n_trans").cast("double") / col("n_from"), 6).as("p_cond"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Per-event-type z-score outliers: flag events whose value sits ≥ 3σ
    * from the type mean. The moments come from EXACT integer micro-unit
    * sums (S1 as BIGINT; S2 as DECIMAL(38,0) — vm² reaches 10¹⁸ and a
    * corpus-level BIGINT sum would overflow), so mean/variance are
    * order-independent under any partial-aggregation schedule; z is one
    * shared IEEE expression over the exact components, rounded to 3dp.
    * One linear moments pass (partial-aggregated, |event_type| result
    * rows broadcast back) + one filter pass — no windows, no sort; the
    * shape survives any corpus size.
    */
  /** M4 downsampling (Jugel et al., VLDB 2014) — the error-free
    * line-chart reduction: per series and fixed TIME bucket (the pixel
    * column), keep the first, last, minimum and maximum points; a line
    * chart of the ≤4W surviving points renders pixel-identically to
    * the full series at width W. One hash aggregate over the corpus —
    * bucket id is `(ts − min_ts)·W div span` arithmetic off a
    * broadcast single-row extent, each extreme an arg-min/max with a
    * FULL lexicographic tie-break struct ((value, ts, id) for the
    * value extremes, (ts, id) for the endpoints) so both engines pick
    * identical points. All BIGINT; n_points counts the bucket's raw
    * rows (the compression evidence).
    */
  def m4Downsample(events: DataFrame, width: Int = 32): DataFrame = {
    val ev = events.select(col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      expr("cast(round(value * 100) as bigint)").as("value_c"))
    val extent = ev.agg(min(col("ts_us")).as("t0"),
      (max(col("ts_us")) - min(col("ts_us")) + 1).as("span"))
    ev.crossJoin(broadcast(extent))
      .withColumn("bucket", expr(s"(ts_us - t0) * $width div span"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        count(lit(1)).as("n_points"),
        min_by(struct(col("ts_us"), col("value_c")),
               struct(col("ts_us"), col("event_id"))).as("p_first"),
        max_by(struct(col("ts_us"), col("value_c")),
               struct(col("ts_us"), col("event_id"))).as("p_last"),
        min_by(struct(col("ts_us"), col("value_c")),
               struct(col("value_c"), col("ts_us"), col("event_id"))).as("p_min"),
        max_by(struct(col("ts_us"), col("value_c")),
               struct(col("value_c"), col("ts_us"), col("event_id"))).as("p_max"))
      .select(col("event_type"), col("bucket"), col("n_points"),
        col("p_first.ts_us").as("t_first"), col("p_first.value_c").as("v_first"),
        col("p_last.ts_us").as("t_last"), col("p_last.value_c").as("v_last"),
        col("p_min.ts_us").as("t_min"), col("p_min.value_c").as("v_min"),
        col("p_max.ts_us").as("t_max"), col("p_max.value_c").as("v_max"))
      .orderBy(col("event_type"), col("bucket"))
  }

  def qM4Downsample(spark: SparkSession, dir: String): DataFrame =
    m4Downsample(events(spark, dir))

  /** Temporal train/val/test split — the leakage-safe protocol for
    * time-ordered data (a hash split like [[TextOps.trainSplit]] leaks
    * the future into training whenever the task is forecasting).
    * Boundaries are EXACT 70/15/15 RANK cuts over (ts, event_id) —
    * `grank·100 ≤ n·70` integer comparisons on the distributed
    * [[AnalyticsOps.globalRank]], not an approximate timestamp
    * quantile — so every engine and every cluster size draws the
    * identical boundary even through duplicate timestamps (the
    * event_id tie-break totalizes the order). Output: per-split
    * profile; time-disjointness (max train ts ≤ min val ts ≤ …) holds
    * by construction and is spec-pinned.
    */
  def qTemporalSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      expr("cast(round(value * 100) as bigint)").as("value_c"))
    AnalyticsOps.globalRank(ev, Seq(col("ts_us"), col("event_id")))
      .withColumn("split",
        when(col("grank") * 100 <= col("n") * 70, "train")
          .when(col("grank") * 100 <= col("n") * 85, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_us")).as("min_ts_us"),
           max(col("ts_us")).as("max_ts_us"),
           sum(col("value_c")).as("sum_value_c"))
      .orderBy(col("split"))
  }

  def qAnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"),
              expr("cast(round(value * 1000000.0) as bigint)").as("vm"))
    val moments = ev.groupBy(col("event_type"))
      .agg(count(col("vm")).as("n"), sum(col("vm")).as("s1"),
           sum(expr("cast(vm as decimal(38,0)) * vm")).as("s2"))
    ev.join(broadcast(moments), "event_type")
      .withColumn("z", expr(
        "round((cast(vm as double) - cast(s1 as double) / n) / " +
          "sqrt(cast(s2 as double) / n - (cast(s1 as double) / n) * (cast(s1 as double) / n)), 3)"))
      .filter(abs(col("z")) >= 3.0)
      .select(col("event_type"), col("event_id"), col("vm"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Per-user exponentially-weighted moving average (α = 1/2) of event
    * values over the trailing 8 events — the streaming-feature smoothing
    * pass of a training pipeline, computed EXACTLY: α = 1/2 makes every
    * weight a power of two, so the weighted numerator Σ value_c·2^(7-j)
    * and the weight mass Σ 2^(7-j) are plain BIGINTs (value_c is integer
    * cents; no float enters until never — the output keeps num/den
    * separate plus one truncating integer division both engines share).
    * The window is the standard unrolled-lag form: 8 `lag()`s over ONE
    * per-user event-time sort (ts, event_id total order), so the plan is
    * a single hash exchange on user_id + an in-partition sort — per-user
    * history lengths are bounded by user activity, not corpus size, and
    * the 8-lag frame is O(1) state per row at any scale.
    */
  /** Supervised training-example construction from the event log: one
    * example per event, features = per-type counts over the trailing
    * 5-event window (current row inclusive), label = the NEXT event's
    * type — the "next-action prediction" dataset builder. One hash
    * exchange on user_id feeds every per-type `count` AND the `lead`
    * label off the same in-partition sort (Catalyst collapses the six
    * window functions into one Window node over one sort); rows with no
    * successor are dropped, as a sequence-model dataset requires. The
    * per-user frame is O(1) state per row — corpus size never enters.
    */
  def qNextEventExamples(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val frame = order.rowsBetween(-4, 0)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val feats = types.map(t =>
      count(when(col("event_type") === t, lit(1))).over(frame).as(s"f_$t"))
    val base = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
    base
      .select(col("user_id") +: col("event_id") +: col("ts_us") +: feats :+
              lead(col("event_type"), 1).over(order).as("label"): _*)
      .filter(col("label").isNotNull)
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  def qEwmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val lagged = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
    val (num, den) = (0 to 7).map { j =>
      val v = if (j == 0) col("value_c") else lag(col("value_c"), j).over(w)
      val wgt = 1L << (7 - j)
      (coalesce(v, lit(0L)) * wgt, when(v.isNotNull, lit(wgt)).otherwise(lit(0L)))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    lagged
      .withColumn("ewma_num", num)
      .withColumn("ewma_den", den)
      .select(col("user_id"), col("event_id"), col("ts_us"),
              col("value_c"), col("ewma_num"), col("ewma_den"),
              expr("ewma_num div ewma_den").as("ewma_c"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** Top user-journey paths: the first ≤3 event types of each 30-minute
    * gap session, counted corpus-wide — the "what do users actually do"
    * report. Sessionization is the lag + cumulative-flag rule (one
    * per-user window pass); the path string comes from an in-row
    * `array_sort` of the collected (ts, id, type) structs, so the
    * result is independent of collect order (Spark does not define it).
    * The path aggregate shuffles one row per session; top-20 is
    * TakeOrdered with a full tie-break.
    */
  def qSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type"))
    ev
      .withColumn("ns",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(expr(
        "array_join(transform(slice(array_sort(" +
        "collect_list(struct(ts_us, event_id, event_type))), 1, 3), " +
        "x -> x.event_type), '>')").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Funnel latency percentiles: time from first view to the ordered
    * funnel's first purchase, p25/50/75/90/max over completing users —
    * the "how long does conversion take" report beside [[AnalyticsOps
    * .qFunnel]]'s counts. Stage times are the same chained conditional
    * min-aggregates; the percentile read-out uses the floor-rank rule
    * over [[AnalyticsOps.globalRank]]'s distributed rank (range exchange
    * + offsets), never an unpartitioned window — the user-level latency
    * relation is 10⁸+ rows at 100 TB.
    */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_us") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_us") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_purchase"))
    val lat = p.join(v, Seq("user_id"))
      .select(col("user_id"), (col("t_purchase") - col("t_view")).as("lat_us"))
    def band(pct: Int) =
      max(when(expr(s"grank * 100 <= n * $pct") || col("grank") === 1,
               col("lat_us"))).as(s"p${pct}_us")
    AnalyticsOps.globalRank(lat, Seq(col("lat_us").asc, col("user_id").asc))
      .agg(max(col("n")).as("n_users"), band(25), band(50), band(75),
           band(90), max(col("lat_us")).as("max_us"))
  }

  /** Point-in-time-correct feature join — the feature-store primitive:
    * every event joins the dimension version VALID AT ITS EVENT TIME,
    * never a later one (no training-serving leakage). The dimension here
    * is a loyalty tier derived from the user's cumulative purchase count
    * (a new version starts at each purchase; `(from, to]` validity with
    * STRICT `ts > from`, so an event never sees a feature computed at its
    * own instant). The join is an equi-join on user_id with the interval
    * residual — per-user versions are bounded and intervals disjoint, so
    * it stays a co-partitioned SMJ with ≤1 match per event at any scale.
    */
  def qPitJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val dim = ev.filter(col("event_type") === "purchase")
      .withColumn("np", row_number().over(w))
      .withColumn("tier", expr(
        "CASE WHEN np >= 8 THEN 'gold' WHEN np >= 3 THEN 'silver' " +
        "ELSE 'bronze' END"))
      .withColumn("to_us",
        coalesce(lead(col("ts_us"), 1).over(w), lit(Long.MaxValue)))
      .select(col("user_id").as("d_user"), col("tier"),
              col("ts_us").as("from_us"), col("to_us"))
    ev.join(dim,
            col("user_id") === col("d_user") &&
              col("ts_us") > col("from_us") && col("ts_us") <= col("to_us"),
            "left")
      .select(col("event_id"), col("user_id"), col("ts_us"),
              coalesce(col("tier"), lit("none")).as("tier"))
      .orderBy(col("event_id"))
  }

  /** Cohort LTV curves: cumulative per-user spend by (first-purchase-week
    * cohort, age in weeks) — the revenue-payback report behind
    * acquisition decisions. The running sum's window input is the
    * (cohort, age) aggregate — bounded by weeks², never by event volume —
    * and per-user LTV is an exact milli-cent integer division by the
    * cohort size.
    */
  def qCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    val p = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
    val first = p.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t0"))
      .select(col("user_id"), expr(s"t0 div $weekUs").as("cohort_week"))
      // Persisted (one row per purchasing user): feeds cohort sizes AND
      // the age join — un-persisted, the purchase scan re-ran per ref.
      .graftCached
    val sizes = first.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val curve = p.join(first, Seq("user_id"))
      .select(col("cohort_week"),
              (expr(s"ts_us div $weekUs") - col("cohort_week")).as("age_weeks"),
              col("value_c"))
      .groupBy(col("cohort_week"), col("age_weeks"))
      .agg(sum(col("value_c")).as("spend_c"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks"))
    curve
      .withColumn("cum_spend_c", sum(col("spend_c")).over(w))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("age_weeks"), col("spend_c"),
              col("cum_spend_c"), col("n_users"),
              expr("cum_spend_c * 1000 div n_users").as("ltv_mc"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  /** PSI (population stability index) drift report between two halves of
    * the event stream (even vs odd epoch-day — a deterministic split both
    * engines share): per value-bucket contribution (p−q)·ln(p/q) in
    * micro-nats, the score that gates model retraining. Counts are exact;
    * p and q are each ONE division of exact integers, and the single
    * rounding happens per bucket (the PMI determinism rule). Buckets seen
    * on only one side are reported with a NULL psi (ln undefined) so the
    * report never silently drops mass. Two linear aggregates + a tiny
    * full-outer join on the bucket key.
    */
  def qPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val bucketed = events(spark, dir)
      .select(floor(col("value") / 10.0).cast("long").as("bucket"),
              expr(s"unix_micros(ts) div $dayUs % 2").as("half"))
      .groupBy(col("bucket"), col("half"))
      .agg(count(lit(1)).as("c"))
      // Persisted (|buckets|·2 rows): both halves and both totals read
      // it — un-persisted, 4 event scans (round-9 audit).
      .graftCached
    val a = bucketed.filter(col("half") === 0)
      .select(col("bucket"), col("c").as("c_a"))
    val b = bucketed.filter(col("half") === 1)
      .select(col("bucket"), col("c").as("c_b"))
    val na = a.agg(sum(col("c_a")).as("n_a"))
    val nb = b.agg(sum(col("c_b")).as("n_b"))
    a.join(b, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("bucket"),
              coalesce(col("c_a"), lit(0L)).as("c_a"),
              coalesce(col("c_b"), lit(0L)).as("c_b"),
              expr(
                "cast(case when c_a > 0 and c_b > 0 then " +
                "round((cast(c_a as double) / n_a - " +
                "cast(c_b as double) / n_b) * " +
                "ln((cast(c_a as double) / n_a) / " +
                "(cast(c_b as double) / n_b)) * 1000000) end as bigint)")
                .as("psi_micronat"))
      .orderBy(col("bucket"))
  }

  /** Two-proportion A/B test over hash-assigned variants: users split by
    * `hash60(user_id) % 2` (the deterministic assignment an experiment
    * platform actually uses — stable under replays and joins), conversion
    * = "has ≥1 purchase", and the pooled two-proportion z statistic in
    * exact-derived milli-units. All counts are exact integers off two
    * linear aggregates (per-user collapse, then per-variant); the z
    * expression is one shared IEEE formula over those integers.
    */
  def qAbTest(spark: SparkSession, dir: String): DataFrame = {
    val users = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("converted"))
      .withColumn("variant",
        pmod(TextFns.hash60(col("user_id").cast("string")), lit(2L)))
    val v = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val wide = v.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
      .crossJoin(broadcast(v.filter(col("variant") === 1)
        .select(col("n").as("n_b"), col("conv").as("conv_b"))))
    wide.select(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      expr("conv_a * 1000000L div n_a").as("rate_a_ppm"),
      expr("conv_b * 1000000L div n_b").as("rate_b_ppm"),
      // Degenerate pooled rates (0% or 100% conversion) have zero
      // variance — z is undefined there, reported NULL, never a throw.
      expr(
        "cast(case when conv_a + conv_b > 0 and conv_a + conv_b < n_a + n_b " +
        "then round((cast(conv_a as double) / n_a - " +
        "cast(conv_b as double) / n_b) / " +
        "sqrt((cast(conv_a + conv_b as double) / (n_a + n_b)) * " +
        "(1.0 - cast(conv_a + conv_b as double) / (n_a + n_b)) * " +
        "(1.0 / n_a + 1.0 / n_b)) * 1000) end as bigint)").as("z_milli"))
  }

  /** Poisson-bootstrap confidence intervals for the per-type mean event
    * value — THE scalable bootstrap: instead of resampling rows (which
    * cannot distribute), every row draws an independent Poisson(1) weight
    * per replica, and each replica's weighted mean approximates one
    * classical bootstrap resample. B=64 replicas; the weight is the
    * Poisson(1) inverse CDF on the md5 surrogate
    * `hash60(event_id:b) % 1000` (368/736/920/981/996/999 thresholds) —
    * fully deterministic and oracle-reproducible, never a seeded RNG.
    * Replica means are exact integer milli-cents (one truncating division
    * per (type, replica)); the CI bounds are the floor-rank order
    * statistics (p5/p50/p95 over 64 means = ranks 3/32/60). Scale shape:
    * the explode fans out B× but partial-aggregates to |types|·B rows
    * before the only shuffle; the rank window runs over 64 rows per type.
    */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val B = 64
    val ev = events(spark, dir)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
    val means = ev
      .select(col("event_type"), col("event_id"), col("value_c"),
              explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .withColumn("u", pmod(TextFns.hash60(
        concat(col("event_id").cast("string"), lit(":"), col("b").cast("string"))),
        lit(1000L)))
      .withColumn("w", expr(
        "CASE WHEN u < 368 THEN 0L WHEN u < 736 THEN 1L WHEN u < 920 THEN 2L " +
        "WHEN u < 981 THEN 3L WHEN u < 996 THEN 4L WHEN u < 999 THEN 5L " +
        "ELSE 6L END"))
      .groupBy(col("event_type"), col("b"))
      .agg(expr("sum(w * value_c) * 1000 div sum(w)").as("mean_mc"))
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(col("mean_mc"), col("b"))
    val bands = means.withColumn("rn", row_number().over(wr))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === 3, col("mean_mc"))).as("ci_lo"),
           max(when(col("rn") === 32, col("mean_mc"))).as("ci_med"),
           max(when(col("rn") === 60, col("mean_mc"))).as("ci_hi"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           expr("sum(value_c) * 1000 div count(1)").as("mean_mc_point"))
      .join(bands, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  /** CUSUM changepoint detection per event type: the day whose cumulative
    * deviation from the series mean is largest in magnitude — the classic
    * level-shift locator. Deviations are kept EXACT by scaling out the
    * mean's division: dev_d = n_days·c_d − total (BIGINT), so the running
    * sum and the argmax are float-free and order-independent. The window
    * runs over the per-(type, day) aggregate — bounded by types × calendar
    * days, never by event volume — and the argmax is a `max_by` over a
    * lexicographic (|cusum|, −day) struct: largest deviation, ties to the
    * EARLIEST day, deterministic at any parallelism.
    */
  def qCusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val daily = events(spark, dir)
      .select(col("event_type"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("n_days"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("cusum", sum(col("c") * col("n_days") - col("total")).over(w))
      .groupBy(col("event_type"))
      .agg(max_by(struct(col("day"), col("cusum")),
                  struct(abs(col("cusum")), -col("day"))).as("cp"),
           max(col("n_days")).as("n_days"), max(col("total")).as("total"))
      .select(col("event_type"), col("cp.day").as("cp_day"),
              col("cp.cusum").as("cusum"), col("n_days"), col("total"))
      .orderBy(col("event_type"))
  }

  /** Day-of-week × hour-of-day activity heatmap: the seasonality profile
    * behind load forecasting. Both axes are pure integer arithmetic on
    * epoch microseconds (1970-01-01 was a Thursday, hence the +4 shift —
    * no calendar/timezone functions, so both engines agree on every
    * bucket). One projection, one ≤168-row aggregate.
    */
  def qDowHourHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val hourUs = 3600000000L
    events(spark, dir)
      .select(expr(s"(unix_micros(ts) div $dayUs + 4) % 7").as("dow"),
              expr(s"(unix_micros(ts) div $hourUs) % 24").as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("dow"), col("hour"))
  }

  /** Seasonal-naive forecast backtest: forecast(day) = count(day − 7),
    * scored as per-type MAE over every day with a 7-back predecessor —
    * the baseline every forecasting pipeline must beat, and the backtest
    * harness that scores it, in exact integers (|err| sums, one
    * truncating milli division). The lag runs on the per-(type, day)
    * aggregate — bounded by types × calendar days — via a 7-day
    * self-join on the day key (equi-join, no window needed).
    */
  def qSnaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val daily = events(spark, dir)
      .select(col("event_type"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val lag7 = daily.select(col("event_type"), (col("day") + 7).as("day"),
                            col("c").as("forecast"))
    daily.join(lag7, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("c"), col("forecast"),
              abs(col("c") - col("forecast")).as("abs_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           sum(col("abs_err")).as("sum_abs_err"))
      .select(col("event_type"), col("n_days"), col("sum_abs_err"),
              expr("sum_abs_err * 1000 div n_days").as("mae_milli"))
      .orderBy(col("event_type"))
  }

  /** Trailing-5 rolling median of purchase values per user — the robust
    * smoother (median filter) beside [[qEwmaSmooth]]'s linear one. The
    * window collects ≤5 values, sorts them INSIDE the row
    * (`array_sort` — deterministic regardless of the collect order, which
    * Spark does not define), and reads the two middle order statistics;
    * `med2_c` keeps the even-window case exact-integer. One per-user
    * window sort over the purchase relation; all frame work is O(w log w)
    * per row with w = 5.
    */
  def qRollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-4, 0)
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
      .withColumn("win", array_sort(collect_list(col("value_c")).over(w)))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value_c"),
              size(col("win")).cast("long").as("n_win"),
              (element_at(col("win"), expr("cast((size(win) + 1) div 2 as int)")) +
                element_at(col("win"), expr("cast((size(win) + 2) div 2 as int)")))
                .as("med2_c"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** Robust location/spread per event type: exact median and MAD (median
    * absolute deviation) in integer cents, both through the floor-rank
    * order-statistic rule of [[groupMedian]]. To stay integer-exact the
    * median is carried doubled (`med2_c` = two middle order statistics
    * summed) and the MAD quadrupled (`mad4_c` = 2 × median of
    * |2x − med2|): |2x − med2| = 2|x − median| is exact in BIGINT even
    * when the median falls between values. Two per-type rank passes over
    * the event relation — each one linear shuffle on the type key.
    */
  def qMadRobust(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("value_c"))
    val med = groupMedian(ev, "event_type", "value_c", "event_id")
      // Persisted (per-type rows): broadcast into the deviation pass and
      // joined in the report — the first median's rank passes would
      // otherwise run twice.
      .graftCached
    val dev = ev
      .join(broadcast(med.select(col("event_type"), col("med2_c"))),
            Seq("event_type"))
      .select(col("event_type"), col("event_id"),
              abs(col("value_c") * 2 - col("med2_c")).as("adev2_c"))
    val mad = groupMedian(dev, "event_type", "adev2_c", "event_id")
      .select(col("event_type"), col("med2_c").as("mad4_c"))
    med.select(col("event_type"), col("n"), col("med2_c"))
      .join(mad, Seq("event_type"))
      .orderBy(col("event_type"))
  }
}
