package graft

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Exactness guard for the flight queries' wall-clock date parts: under a
  * fixed-offset session zone `FlightOps.flights` reads `year`/`month` of a
  * TIMESTAMP_NTZ `ts_raw` from its wall-clock day number, with no zone
  * rules; any zone with DST rules keeps the NTZ → timestamp cast.
  */
class FlightDatePartsSpec extends AnyFunSuite {
  import TestSpark._

  private val Zone = "spark.sql.session.timeZone"

  private def timestampCasts(df: org.apache.spark.sql.DataFrame): Seq[Cast] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case c: Cast if c.dataType == TimestampType => c })

  test("under UTC, year/month of the wall-clock ts_raw equal those of the " +
       "session-zone ts on every sf0.001 events row") {
    assert(spark.conf.get(Zone) == "UTC")
    val events = Tables.eventsWithRawTs(spark, Sf)
    assert(events.schema("ts_raw").dataType == TimestampNTZType)
    val date = col("ts_raw").cast(DateType)
    val ts = col("ts_raw").cast(TimestampType)
    val n = events.count()
    val differ = events.filter(!(year(date) <=> year(ts) && month(date) <=> month(ts))).count()
    assert(n > 0 && differ == 0, s"$differ of $n rows differ")
    assert(timestampCasts(ops.FlightOps.flights(spark, Sf)).isEmpty)
  }

  test("the wall-clock day number equals the DATE cast on every sf0.001 " +
       "row and on pre-epoch and day-boundary values") {
    import functions.DateFunctions.wallClockDate
    val day = wallClockDate(col("ts_raw"))
    val cast = col("ts_raw").cast(DateType)
    val events = Tables.eventsWithRawTs(spark, Sf)
    assert(events.filter(!(day <=> cast)).count() == 0)
    val perDay = 86400000000L
    val edges = Seq(0L, -1L, 1L, perDay - 1, perDay, -perDay, -perDay - 1, -perDay + 1,
      -62135596800000000L, // 0001-01-01T00:00
      253402300799999999L, // 9999-12-31T23:59:59.999999
      1709251199999999L, 1709251200000000L, // the end of 2024-02-29
      Long.MinValue, Long.MaxValue)
    edges.foreach { m =>
      assert(functions.DateFunctions.days(m) ==
        org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToDays(m, java.time.ZoneOffset.UTC), m)
    }
    // Through a plan: the local relation is evaluated interpreted, the
    // RDD one by generated code.
    import spark.implicits._
    val local = edges.map(Option(_)) :+ None
    val ntz = timestamp_micros(col("m")).cast(TimestampNTZType)
    Seq(local.toDF("m"), spark.sparkContext.parallelize(local, 2).toDF("m")).foreach { df =>
      val t = df.select(ntz.as("ts_raw"))
      assert(t.filter(!(day <=> cast)).count() == 0)
      assert(t.select(day).collect().length == local.size)
    }
  }

  test("a session zone with midnight DST gaps keeps the timestamp cast path") {
    val utc = ops.FlightOps.qGroupMonthSumCount(spark, Sf).collect().toSeq
    GraftSession.scoped(spark, Zone -> "America/Sao_Paulo") { s =>
      val flights = ops.FlightOps.flights(s, Sf)
      assert(timestampCasts(flights).nonEmpty, flights.queryExecution.optimizedPlan.toString)
      // The fixture's wall-clock times sit in no gap, so both paths agree.
      assert(ops.FlightOps.qGroupMonthSumCount(s, Sf).collect().toSeq == utc)
    }
  }
}
