package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver fixture tables (see FIXTURES.md §2).
  *
  * All queries read parquet relations so Catalyst gets vectorized scans,
  * predicate pushdown into row-group/page skipping, and column pruning for
  * free. At 100 TB the same code holds: the parquet datasource splits by
  * row group across executors; nothing here is driver-side.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Every query path reads its fixture input through here: apply the
    // engine's byte-based AQE coalescing profile (see Graft.tuneExecution)
    // exactly once per session-conf view. Runtime-settable confs, same
    // defensive pattern as the nanosAsLong set in [[events]].
    Graft.tuneExecution(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in three physical forms across fixture
    * generations: parquet TIMESTAMP(NANOS) (readable only as a long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (Spark reads TIMESTAMP_NTZ), and plain
    * instant TIMESTAMP. Normalize all three to session-zone TimestampType
    * here so downstream operators are representation-independent. The
    * NTZ→LTZ cast interprets the wall-clock value in the session timezone
    * (UTC everywhere in this repo), which is exactly how DuckDB's
    * `epoch_us(ts)` reads the same naive column — the two engines agree
    * on every derived microsecond value.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Defensive: a caller-built session (e.g. the driver's smoke harness)
    // may lack the flag; it is runtime-settable and required to read a
    // TIMESTAMP(NANOS) column at all (harmless for micros fixtures).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integer `div`, NOT `/`: epoch nanos (~1.7e18) exceed double's 2^53
        // integer range, so float division is off by ±1 microsecond.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  /** Like [[events]] but also exposes the event time as `ts_nanos: LONG`
    * (epoch nanoseconds) and keeps the PHYSICAL column under `ts_raw`.
    * Range predicates built by [[graft.ops.FlightOps]] target `ts_raw`
    * with literals of the matching type, so they reach the parquet scan
    * as PushedFilters in every fixture generation — `year(ts)` over the
    * derived timestamp can never do that. Row-group min/max pruning
    * follows only where Spark's parquet filter conversion supports the
    * physical type: the nanos (INT64) and instant forms, not the
    * TIMESTAMP_NTZ form (TIMESTAMP(MICROS), isAdjustedToUTC=false) the
    * sf fixtures ship, whose scans read every row group. Callers project
    * `ts_raw`/`ts_nanos` away after filtering.
    */
  def eventsWithRawTs(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts_nanos", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_nanos", unix_micros(col("ts")) * lit(1000L))
      case _ =>
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts_nanos", expr("unix_micros(ts) * 1000"))
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
