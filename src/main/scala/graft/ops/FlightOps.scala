package graft.ops

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, TimestampNTZType}
import graft.functions.DateFunctions.wallClockDate
import graft.functions.JsonFunctions.flatJsonIntegral

/** Reproduction layer: the reference's full operator surface re-expressed as
  * declarative Spark plans over the `events` fixture (flight-analog mapping in
  * FIXTURES.md §3: carrier→event_type, month→month(ts), delay→value,
  * cancelled/diverted→predicates on the `props` JSON field `k`). `k` is
  * read by [[graft.functions.JsonFunctions.flatJsonIntegral]]: a byte scan
  * for flat objects, with `get_json_object(props, "$.k")` as the fallback
  * for every string the scan leaves undecided, so the value is always the
  * one `get_json_object(..).cast("int")` gives.
  *
  * Reference semantics reproduced (citations into /root/reference/):
  *  - Year-equality filter: `HCompute/src/main/java/org/northeastern/Main.java:109-111`
  *  - Successful-flight filter (not cancelled AND not diverted, float-parse
  *    then int-cast): `HCompute/...Main.java:118-120`
  *  - Group-by carrier+month with SUM/COUNT accumulators:
  *    `HCompute/...Main.java:131-142`
  *  - Non-standard rounding `Math.round(sum/count + 0.5f)` == floor(avg)+1,
  *    empty month → 0: `HCompute/...Main.java:143-146`
  *  - Month pivot into one row per carrier: `HCompute/...Main.java:132-148`
  *  - `AIR-<carrier> TAB , (1,d1)…(12,d12)` report format:
  *    `HCompute/...Main.java:151-161`
  *  - Explicit 10-way hash partitioning + key sort (Secondary module):
  *    `Secondary/src/main/java/org/northeastern/Main.java:196-198,42-60`
  *  - HBase populate stage (UUID row key, blob store, read-back):
  *    `HPopulate/src/main/java/org/northeastern/Main.java:54-73,97-100`
  *
  * Scale notes: each query is a pure Catalyst plan — filters and column
  * pruning reach the parquet scan; every aggregate runs as partial
  * (map-side) HashAggregate → single shuffle on the group keys → final
  * HashAggregate, which is strictly better than the reference's
  * combiner-less MapReduce (full shuffle volume, SURVEY.md §4). Secondary
  * too combines before any exchange: its 10-way carrier partitioning
  * applies to the aggregated rows, not to the scan.
  *
  * A result bounded by the carrier count (or carriers × 12) is sorted in
  * ONE partition ([[sortedSmall]]) instead of by `orderBy`: its rows are
  * a few hundred at any input scale, so one task holds and sorts them
  * all, while `orderBy`'s range exchange costs a sampling job (which
  * re-runs the whole post-shuffle stage) plus a map stage. Only the
  * row-level [[qFilterYear]] keeps `orderBy`.
  */
object FlightOps {
  val TargetYear = 2024 // fixture analog of TARGET_YEAR=2008 (HCompute/...Main.java:75)

  /** Flight-analog projection of `events` (FIXTURES.md §3). `k` is extracted
    * from the JSON `props` (byte scan, `get_json_object` fallback);
    * cancelled-analog = k%7==0, diverted-analog = k%11==0 — deterministic
    * stand-ins for the "1.00"-flag columns.
    *
    * `year`/`month` are those of the session-zone `ts`. Where
    * [[wallClockDates]] holds they are read from `ts_raw` as a wall-clock
    * DATE instead ([[graft.functions.DateFunctions.wallClockDate]], one
    * integer division), which is the same value without the per-row NTZ →
    * session-zone cast and its zone-rule lookups; every other form keeps
    * the cast path.
    *
    * Every query over these rows keeps only [[TargetYear]] (its
    * [[tsRawInYear]] range), so the read takes that year's wall-clock
    * range: where `ts` is TIMESTAMP_NTZ, the files whose footer `ts`
    * statistics miss it are not listed at all ([[graft.Tables.footerPlan]]).
    * The other forms prune row groups through the pushed range instead.
    */
  private[graft] def flights(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.eventsWithRawTs(spark, dir, Some(wallClockYear(spark, TargetYear)))
    val date = if (wallClockDates(spark, events)) wallClockDate(col("ts_raw")) else col("ts")
    events.select(
      col("event_type").as("carrier"),
      year(date).as("year"),
      month(date).as("month"),
      col("value").as("delay"),
      flatJsonIntegral(col("props"), "k", IntegerType).as("k"),
      col("ts_raw"))
  }

  private def sessionZone(spark: SparkSession): java.time.ZoneId =
    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))

  private def startOf(spark: SparkSession, year: Int): java.time.ZonedDateTime =
    java.time.LocalDate.of(year, 1, 1).atStartOfDay(sessionZone(spark))

  /** Year `y` of the session zone as a wall-clock `[lo, hi)` range: the
    * bounds [[tsRawInYear]] gives a TIMESTAMP_NTZ `ts_raw`. */
  private def wallClockYear(spark: SparkSession, y: Int): (LocalDateTime, LocalDateTime) =
    (startOf(spark, y).toLocalDateTime, startOf(spark, y + 1).toLocalDateTime)

  /** True when `ts_raw` is TIMESTAMP_NTZ and the session zone is a fixed
    * offset (UTC in every graft session). The NTZ → timestamp cast then
    * shifts each wall-clock value by one constant offset that reading it
    * back in the same zone undoes, so the date parts of `ts` are the
    * wall-clock date parts of `ts_raw`, and [[tsRawInYear]] is exactly
    * `year(ts) = y`. A zone with DST rules can move a wall-clock time
    * that falls in a gap across midnight, so it keeps the cast.
    */
  private def wallClockDates(spark: SparkSession, df: DataFrame): Boolean =
    df.schema("ts_raw").dataType == TimestampNTZType &&
      sessionZone(spark).getRules.isFixedOffset

  /** Pushable twin of `year = y`: `year()` over the derived timestamp
    * cannot reach the parquet scan, but a range on the PHYSICAL column
    * (`ts_raw`, whatever representation this fixture generation shipped)
    * does — it shows in the scan's PushedFilters in every generation.
    * What actually PRUNES depends on the form: Spark's parquet filter
    * conversion handles INT64 (the nanos-as-long form) and instant
    * TIMESTAMP(MICROS), where row-group min/max statistics skip other
    * years; it has no case for TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * the form of the sf fixtures, so there the scan reads every row
    * group of the files it lists and the range filters rows after the
    * read; [[flights]] lists only the files whose footer statistics meet
    * the same range ([[wallClockYear]]). Bounds derive from the SESSION
    * timezone (the same zone `year(ts)` evaluates in) and are emitted as
    * literals of the matching physical type (epoch-nano long / naive local
    * datetime / instant) so the predicate stays a PushedFilter.
    */
  private def tsRawInYear(spark: SparkSession, df: DataFrame, y: Int): Column = {
    import org.apache.spark.sql.types._
    df.schema("ts_raw").dataType match {
      case LongType =>
        col("ts_raw") >= startOf(spark, y).toEpochSecond * 1000000000L &&
          col("ts_raw") < startOf(spark, y + 1).toEpochSecond * 1000000000L
      case TimestampNTZType =>
        val (lo, hi) = wallClockYear(spark, y)
        col("ts_raw") >= lit(lo) && col("ts_raw") < lit(hi)
      case _ =>
        col("ts_raw") >= lit(java.sql.Timestamp.from(startOf(spark, y).toInstant)) &&
          col("ts_raw") < lit(java.sql.Timestamp.from(startOf(spark, y + 1).toInstant))
    }
  }

  /** Residues mod 77 of the cancelled- or diverted-analog `k`s: k is
    * divisible by 7 or by 11 iff `pmod(k, 77)` is one of these. */
  private val CancelledOrDivertedMod77: Seq[Int] =
    (0 until 77).filter(r => r % 7 == 0 || r % 11 == 0)

  /** Year filter plus successful-flight filter (not cancelled AND not
    * diverted). The year filter is the `ts_raw` range alone where that
    * range is exactly `year(ts) = y` (see [[inTargetYear]]), so the sf
    * fixtures' scan evaluates no date part for it. `k` is written ONCE
    * in the predicate: Catalyst inlines the `k` alias (the byte scan,
    * with `get_json_object` behind it) into every reference, and the
    * filter does no common-subexpression elimination, so the plain
    * `k % 7 != 0 AND k % 11 != 0` would scan the JSON twice per row, and
    * parse it twice wherever the scan falls back. One `pmod(k, 77)`
    * set-membership test has the same answer, including null `k` (the
    * row is dropped).
    */
  private def successful(spark: SparkSession, df: DataFrame): DataFrame =
    df.filter(inTargetYear(spark, df) &&
      !pmod(col("k"), lit(77)).isin(CancelledOrDivertedMod77: _*))

  /** `year = TargetYear` over [[flights]]: the pushable [[tsRawInYear]]
    * range, plus the `year` test wherever the range is not exactly it
    * (every form but the [[wallClockDates]] one).
    */
  private def inTargetYear(spark: SparkSession, df: DataFrame): Column = {
    val range = tsRawInYear(spark, df, TargetYear)
    if (wallClockDates(spark, df)) range else range && col("year") === TargetYear
  }

  /** A result of at most carriers × 12 rows, sorted in one partition:
    * the final aggregate and the sort run in one task, with no range
    * exchange and so no sampling job. That task reads every map task's
    * partial rows (map tasks × groups: a few hundred on the fixtures);
    * where that grows large, `repartition(1)` after the final aggregate
    * keeps the aggregate parallel for the price of one more map stage.
    */
  private def sortedSmall(df: DataFrame, keys: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys: _*)

  /** A4 rounding: floor(avg)+1 (exact equivalent of the reference's
    * `Math.round(sum/count + 0.5f)` for finite averages — SURVEY.md §2.4).
    */
  private def roundedAvg(c: Column): Column = (floor(avg(c)) + 1).cast("int")

  /** Flagship query (M0): filtered scan → per-carrier single-pass
    * conditional aggregation (12 month-sliced `avg` columns with floor+1
    * rounding, empty month → 0) → formatted `AIR-…` report line.
    *
    * Deliberately NOT `groupBy(carrier, month).agg(...).pivot(...)`: the
    * pivot form costs two exchanges ((carrier,month) then carrier); the
    * conditional-aggregate form computes all 12 months in ONE partial →
    * exchange → final pass over the scan — half the shuffle stages, and
    * the map-side partial rows are a single 12-slot record per carrier,
    * which is exactly the reference reducer's accumulator layout
    * (`HCompute/...Main.java:132-141`) done Spark-natively.
    */
  def qFlightReport(spark: SparkSession, dir: String): DataFrame =
    reportOf(successful(spark, flights(spark, dir)))

  /** Report body over an already-filtered flights relation with columns
    * (carrier, month, delay) — shared by the parquet path above and the
    * wide positional CSV path ([[SourceSinkOps.qWideCsvReport]]); the two
    * must produce identical results (WideCsvSpec golden). One row per
    * carrier, so the final aggregate and its sort share one task
    * ([[sortedSmall]]).
    */
  private[ops] def reportOf(flights: DataFrame): DataFrame = {
    val monthCols = (1 to 12).map { m =>
      coalesce(roundedAvg(when(col("month") === m, col("delay"))), lit(0)).as(s"m$m")
    }
    val monthParts = (1 to 12).map(m =>
      format_string(", (%d,%d)", lit(m), col(s"m$m")))
    sortedSmall(
      flights
        .groupBy(col("carrier"))
        .agg(monthCols.head, monthCols.tail: _*)
        .withColumn("report",
          concat(concat(lit("AIR-"), col("carrier"), lit("\t")) +: monthParts: _*)),
      col("carrier"))
  }

  /** Populate stage (S3/S4/S7): events → surrogate `uuid()` row key →
    * parquet table (the keyed blob store, minus HBase's per-record RPC
    * bottleneck — `HPopulate/...Main.java:100`) → read back and count.
    * The nondeterministic key is excluded from the verified output
    * (SURVEY.md §7.4).
    */
  def qPopulate(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${System.getProperty("java.io.tmpdir")}/graft_populate_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    graft.Tables.events(spark, dir)
      .withColumn("row_key", expr("uuid()"))
      .write.mode("overwrite").parquet(target)
    val back = spark.read.parquet(target)
    back.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("row_key")).as("n_keys"),
      round(sum(col("value")), 2).as("sum_value"))
  }

  /** Secondary module: identical aggregation but with the explicit 10-way
    * hash partitioning on the carrier key + within-partition key sort
    * (`Secondary/...Main.java:198` numReduceTasks(10); key sort from the
    * WritableComparable contract, `:42-47`). Long-format output.
    *
    * The (carrier, month) aggregate comes first, so its partial half
    * combines map-side and only the per-task partial rows cross the
    * first exchange; the 10-way carrier exchange then moves the
    * ≤ carriers × 12 aggregated rows. The reference's within-partition
    * key order follows from [[sortedSmall]]'s key sort of the single
    * partition, so no `sortWithinPartitions` is written before it
    * (Catalyst's EliminateSorts drops one below a coalesce anyway).
    */
  def qSecondary(spark: SparkSession, dir: String): DataFrame =
    sortedSmall(
      successful(spark, flights(spark, dir))
        .groupBy(col("carrier"), col("month"))
        .agg(roundedAvg(col("delay")).as("d"))
        .repartition(10, col("carrier")),
      col("carrier"), col("month"))

  /** F1 in isolation: year-equality filter (`HCompute/...Main.java:109-111`). */
  def qFilterYear(spark: SparkSession, dir: String): DataFrame =
    { val f = flights(spark, dir); f.filter(inTargetYear(spark, f)) }
      .select(col("carrier"), col("month"), col("delay"))
      .orderBy(col("carrier"), col("month"), col("delay"))

  /** F2 in isolation: successful-flight conjunction
    * (`HCompute/...Main.java:118-120`): keeps records whose flag-analogs are
    * both != the "1" value (values like 2 pass, as in the reference).
    */
  def qFilterSuccessful(spark: SparkSession, dir: String): DataFrame =
    sortedSmall(
      successful(spark, flights(spark, dir))
        .groupBy(col("carrier"))
        .agg(count(lit(1)).as("n"), round(sum(col("delay")), 2).as("total_delay")),
      col("carrier"))

  /** The 12-slot reducer as a typed Aggregator (SURVEY.md §7.2 M4): same
    * result as [[qSecondary]] but computed by
    * [[graft.functions.FlightDelayAgg]] — a custom partial-merge aggregate
    * with the reference's accumulator layout (`HCompute/...Main.java:131-146`),
    * emitting all 12 months including empty → 0.
    */
  def qFlightAggregator(spark: SparkSession, dir: String): DataFrame = {
    val agg = udaf(graft.functions.FlightDelayAgg)
    sortedSmall(
      successful(spark, flights(spark, dir))
        .groupBy(col("carrier"))
        .agg(agg(col("month"), col("delay")).as("ds"))
        .select(col("carrier"), posexplode(col("ds")))
        .select(col("carrier"), (col("pos") + 1).cast("int").as("month"),
                col("col").cast("int").as("d")),
      col("carrier"), col("month"))
  }

  /** A2/A3 in isolation: per-(carrier,month) SUM and COUNT — the reference's
    * twin 12-slot accumulators (`HCompute/...Main.java:132-142`).
    */
  def qGroupMonthSumCount(spark: SparkSession, dir: String): DataFrame =
    sortedSmall(
      successful(spark, flights(spark, dir))
        .groupBy(col("carrier"), col("month"))
        .agg(round(sum(col("delay")), 2).as("sum_delay"),
             count(lit(1)).as("n_flights")),
      col("carrier"), col("month"))
}
