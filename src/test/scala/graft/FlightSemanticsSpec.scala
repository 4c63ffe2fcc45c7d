package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-semantics unit tests (SURVEY.md §5.2-4, FIXTURES.md §4):
  * A4 rounding goldens, float-flag parsing (F2), empty-month → 0, report
  * format, Secondary's explicit 10-way partitioning (X1).
  */
class FlightSemanticsSpec extends AnyFunSuite {
  import TestSpark._

  test("A4 rounding: floor(avg)+1 equals reference Math.round(avg + 0.5f) on goldens") {
    // JVM-verified goldens from SURVEY.md §2.4 / FIXTURES.md §4.
    val goldens = Seq(3.0f -> 4, 3.2f -> 4, 3.5f -> 4, 3.999f -> 4, 4.0f -> 5,
                      -2.2f -> -2, -2.5f -> -2, 0.0f -> 1)
    goldens.foreach { case (avg, want) =>
      assert(Math.round(avg + 0.5f) == want, s"reference formula on $avg")
      assert((math.floor(avg.toDouble) + 1).toInt == want, s"our formula on $avg")
    }
    // NaN (empty month) → 0 in the reference (HCompute/...Main.java:145).
    assert(Math.round(Float.NaN + 0.5f) == 0)
  }

  test("A4 rounding property: floor+1 == Math.round(x+0.5f) for finite float averages") {
    val rnd = new scala.util.Random(42)
    (1 to 10000).foreach { _ =>
      val x = (rnd.nextFloat() - 0.5f) * 2000f
      assert(Math.round(x + 0.5f) == (math.floor(x.toDouble) + 1).toInt, s"x=$x")
    }
  }

  test("F2 flag parsing: float-string flags, only ==1 after int cast excluded") {
    import spark.implicits._
    // Cancelled/Diverted arrive as float strings; reference keeps "2.00"
    // (HCompute/...Main.java:118-120: (int)Float.parseFloat(f) != 1).
    val df = Seq(("A", "0.00", "0.00"), ("B", "1.00", "0.00"),
                 ("C", "0.00", "1.00"), ("D", "2.00", "0.00"))
      .toDF("carrier", "cancelled", "diverted")
    val kept = df.filter(col("cancelled").cast("float").cast("int") =!= 1 &&
                         col("diverted").cast("float").cast("int") =!= 1)
      .select("carrier").as[String].collect().sorted
    assert(kept.toSeq == Seq("A", "D"))
  }

  test("flagship report: AIR- format, empty months print 0") {
    val rows = ops.FlightOps.qFlightReport(spark, Sf).collect()
    assert(rows.nonEmpty)
    val re = """AIR-\w+\t(, \(\d+,-?\d+\)){12}""".r
    rows.foreach { r =>
      val report = r.getAs[String]("report")
      assert(re.matches(report), s"malformed report line: $report")
    }
    // Fixture events all fall in 2024-01 → months 2..12 must be 0-filled.
    rows.foreach { r => (2 to 12).foreach(m => assert(r.getAs[Int](s"m$m") == 0)) }
    assert(rows.exists(_.getAs[Int]("m1") != 0))
  }

  test("X1: secondary repartitions by carrier into exactly 10 partitions") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    val df = ops.FlightOps.qSecondary(spark, Sf)
    df.collect() // materialize so AQE finalizes the plan and its stages
    val plan = df.queryExecution.executedPlan
    val byCarrier = planNodes(plan).collect {
      case s: ShuffleQueryStageExec if (s.shuffle.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "carrier"
        case _ => false
      }) => s
    }
    assert(byCarrier.size == 1, plan.toString.take(3000))
    assert(byCarrier.head.shuffle.numPartitions == 10, plan.toString.take(3000))
    assert(byCarrier.head.mapStats.map(_.bytesByPartitionId.length).contains(10))
  }

  test("typed Aggregator (double) matches built-in floor(avg)+1 per month") {
    val fromAgg = ops.FlightOps.qFlightAggregator(spark, Sf)
      .filter(col("d") =!= 0)
      .select("carrier", "month", "d").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val fromBuiltin = ops.FlightOps.qSecondary(spark, Sf)
      .select("carrier", "month", "d").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(fromAgg == fromBuiltin)
  }

  test("float32-faithful Aggregator: bit-exact reference math incl. NaN month") {
    import graft.functions.{FlightDelayAggF32, MonthDelay}
    val b = FlightDelayAggF32.zero
    // month 1: avg exactly 4.0f → Math.round(4.0+0.5) = 5 (the carry case)
    Seq(3.0, 5.0).foreach(d => FlightDelayAggF32.reduce(b, MonthDelay(1, d)))
    // month 2: avg 3.2f → 4
    Seq(3.2, 3.2).foreach(d => FlightDelayAggF32.reduce(b, MonthDelay(2, d)))
    val out = FlightDelayAggF32.finish(b)
    assert(out(0) == 5)
    assert(out(1) == 4)
    (3 to 12).foreach(m => assert(out(m - 1) == 0, s"empty month $m must be 0"))
  }
}
