package graft

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Exactness guard for the flight queries' wall-clock date parts: under a
  * fixed-offset session zone `FlightOps.flights` reads `year`/`month` of a
  * TIMESTAMP_NTZ `ts_raw` as a DATE cast with no zone rules; any zone with
  * DST rules keeps the NTZ → timestamp cast.
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
