package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType}

/** Native Catalyst expression: the wall-clock DATE of a TIMESTAMP_NTZ,
  * `floorDiv(micros, 86,400,000,000)` days since the epoch. That is the
  * value of `cast(ts as date)`, which Spark computes as
  * `microsToDays(micros, UTC)` through an `Instant`, a `ZonedDateTime`
  * and a `LocalDate` per row; this is one integer division and stays
  * inside whole-stage codegen. FlightDatePartsSpec pins the equality.
  */
case class WallClockDate(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == TimestampNTZType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wall_clock_date requires a TIMESTAMP_NTZ argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = DateType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wall_clock_date"

  override def nullSafeEval(v: Any): Any = DateFunctions.days(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DateFunctions.days($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DateFunctions {
  final val MicrosPerDay = 86400000000L

  /** Days since 1970-01-01 of a wall-clock microsecond value. Called
    * from generated code. */
  def days(micros: Long): Int = Math.floorDiv(micros, MicrosPerDay).toInt

  /** The wall-clock DATE of a TIMESTAMP_NTZ column ([[WallClockDate]]).
    * Registers nothing: usable without `GraftExtensions`. */
  def wallClockDate(ts: Column): Column =
    GraftColumnBridge.column(WallClockDate(GraftColumnBridge.expression(ts)))
}
