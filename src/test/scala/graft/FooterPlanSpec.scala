package graft

import java.nio.file.{Files, Path => JPath}
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The footer-planned fixture read ([[Tables.footerPlan]]): the schema it
  * takes from the footers is the one Spark infers, every case Spark plans
  * differently falls back to the plain read, and the files a `ts` range
  * skips change no flight answer.
  */
class FooterPlanSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  /** One parquet-mr file `<table>.parquet` in `d` (no Spark metadata, as
    * the fixtures ship) with an int64 `ts` of the given annotation. */
  private def writeTs(d: JPath, table: String, annotation: String, ts: Seq[Option[Long]],
                      statistics: Boolean = true): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message $table { required int64 event_id; optional int64 ts ($annotation); }")
    val w = ExampleParquetWriter.builder(new Path(d.resolve(s"$table.parquet").toString))
      .withType(schema).withStatisticsEnabled(statistics).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      val g = rows.newGroup().append("event_id", i.toLong)
      t.foreach(g.append("ts", _))
      w.write(g)
    } finally w.close()
  }

  private def plan(s: SparkSession, path: JPath, range: Option[(LocalDateTime, LocalDateTime)] = None) =
    Tables.footerPlan(s, path.toString, range)

  private val Year2024 = Some((LocalDateTime.of(2024, 1, 1, 0, 0), LocalDateTime.of(2025, 1, 1, 0, 0)))
  private val Micros2023 = 1672531200000000L // 2023-01-01T00:00 wall clock

  test("the footer schema is Spark's inferred schema for every events.ts form") {
    val forms = Seq(
      "nanos" -> "TIMESTAMP(NANOS,true)",
      "ntz" -> "TIMESTAMP(MICROS,false)",
      "instant" -> "TIMESTAMP(MICROS,true)")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val tsTypes = forms.map { case (form, annotation) =>
      val d = tempDir(s"form_$form")
      writeTs(d, "events", annotation, Seq(Some(Micros2023), None, Some(Micros2023 + 1)))
      val p = plan(spark, d.resolve("events.parquet")).get
      val inferred = spark.read.parquet(d.resolve("events.parquet").toString)
      assert(p.schema == inferred.schema, form)
      val planned = Tables.table(spark, d.toString, "events")
      assert(planned.schema == inferred.schema, form)
      assert(planned.collect().toSeq == inferred.collect().toSeq, form)
      form -> inferred.schema("ts").dataType
    }
    assert(tsTypes.toMap == Map("nanos" -> LongType, "ntz" -> TimestampNTZType, "instant" -> TimestampType))
    // The fixture tables, written by another engine.
    Seq("events", "orders", "lineitem", "documents", "embeddings").foreach { t =>
      assert(Tables.schemaOf(spark, Sf, t) == spark.read.parquet(s"$Sf/$t.parquet").schema, t)
    }
  }

  test("a footer-planned read runs no Spark job; the plain read runs one") {
    assert(jobsOf(Tables.table(spark, Sf, "events")) == 0)
    assert(jobsOf(Tables.schemaOf(spark, Sf, "documents")) == 0)
    assert(jobsOf(spark.read.parquet(s"$Sf/events.parquet")) >= 1)
  }

  test("every case Spark plans differently falls back to the plain read") {
    val flat = tempDir("flat")
    spark.range(0, 30, 1, 3).selectExpr("id", "id * 2 as v")
      .write.mode("overwrite").parquet(flat.resolve("t.parquet").toString)
    assert(plan(spark, flat.resolve("t.parquet")).map(_.files.size).contains(3))

    val parted = tempDir("parted")
    spark.range(0, 30, 1, 3).selectExpr("id", "id % 2 as p")
      .write.mode("overwrite").partitionBy("p").parquet(parted.resolve("t.parquet").toString)
    assert(plan(spark, parted.resolve("t.parquet")).isEmpty, "partition subdirectories")
    assert(Tables.table(spark, parted.toString, "t").schema ==
      spark.read.parquet(parted.resolve("t.parquet").toString).schema)

    val summary = tempDir("summary")
    spark.range(0, 30, 1, 3).write.mode("overwrite").parquet(summary.resolve("t.parquet").toString)
    Files.write(summary.resolve("t.parquet/_common_metadata"), Array.emptyByteArray)
    assert(plan(spark, summary.resolve("t.parquet")).isEmpty, "summary file")

    GraftSession.scoped(spark, "spark.sql.parquet.mergeSchema" -> "true") { s =>
      assert(plan(s, flat.resolve("t.parquet")).isEmpty, "schema merging")
    }

    val mixed = tempDir("mixed")
    spark.range(0, 10).selectExpr("id").write.parquet(mixed.resolve("t.parquet").toString)
    spark.range(0, 10).selectExpr("id", "id as w").write.mode("append")
      .parquet(mixed.resolve("t.parquet").toString)
    assert(plan(spark, mixed.resolve("t.parquet")).isEmpty, "two footer schemas")
    assert(Tables.table(spark, mixed.toString, "t").schema ==
      spark.read.parquet(mixed.resolve("t.parquet").toString).schema)

    GraftSession.scoped(spark, "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2") { s =>
      assert(plan(s, flat.resolve("t.parquet")).isEmpty, "more files than the threshold")
    }
  }

  /** Eight files of flights in `ts` order over 2023-2025 (NTZ `ts`), so
    * files 0, 1, 6 and 7 lie wholly outside 2024. */
  private lazy val threeYears: String = {
    val d = tempDir("three_years")
    spark.range(0, 6000, 1, 8).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(Micros2023 / 1000000L) + col("id") * 15768).cast(TimestampNTZType).as("ts"),
      (col("id") % 50).as("user_id"),
      element_at(array(Seq("AA", "DL", "UA", "WN", "B6").map(lit): _*),
        (pmod(col("id") * 7, lit(5)) + 1).cast("int")).as("event_type"),
      pmod(col("id") * 13, lit(97)).cast("double").as("value"),
      concat(lit("""{"k":"""), pmod(col("id") * 31, lit(1000)).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  test("the 2024 range skips the files outside it and changes no flight answer") {
    val p = Tables.footerPlan(spark, s"$threeYears/events.parquet", Year2024).get
    assert(p.files.size == 4, p)
    assert(ops.FlightOps.flights(spark, threeYears).inputFiles.length == 4)
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "qFlightReport" -> ops.FlightOps.qFlightReport,
      "qSecondary" -> ops.FlightOps.qSecondary,
      "qFilterYear" -> ops.FlightOps.qFilterYear,
      "qFilterSuccessful" -> ops.FlightOps.qFilterSuccessful,
      "qFlightAggregator" -> ops.FlightOps.qFlightAggregator,
      "qGroupMonthSumCount" -> ops.FlightOps.qGroupMonthSumCount)
    // Schema merging makes the read the plain one, which skips nothing.
    GraftSession.scoped(spark, "spark.sql.parquet.mergeSchema" -> "true") { all =>
      assert(ops.FlightOps.flights(all, threeYears).inputFiles.length == 8)
      queries.foreach { case (name, q) =>
        val want = q(all, threeYears).collect().toSeq
        assert(want.nonEmpty, name)
        assert(q(spark, threeYears).collect().toSeq == want, name)
      }
    }
  }

  test("a file without ts statistics, or with only null ts, is kept") {
    val outside = Seq(Some(Micros2023), Some(Micros2023 + 1))
    val d = tempDir("stats")
    writeTs(d, "with_stats", "TIMESTAMP(MICROS,false)", outside)
    writeTs(d, "no_stats", "TIMESTAMP(MICROS,false)", outside, statistics = false)
    writeTs(d, "all_null", "TIMESTAMP(MICROS,false)", Seq(None, None))
    writeTs(d, "instant", "TIMESTAMP(MICROS,true)", outside)
    assert(plan(spark, d.resolve("with_stats.parquet"), Year2024).get.files.isEmpty)
    Seq("no_stats", "all_null", "instant").foreach { t =>
      val p = plan(spark, d.resolve(s"$t.parquet"), Year2024).get
      assert(p.files.size == 1, t)
    }
    // A read whose range misses every file is empty, with the same schema.
    val none = Tables.eventsWithRawTs(spark, threeYears,
      Some((LocalDateTime.of(1990, 1, 1, 0, 0), LocalDateTime.of(1991, 1, 1, 0, 0))))
    assert(none.inputFiles.isEmpty && none.count() == 0)
    assert(none.schema == Tables.eventsWithRawTs(spark, threeYears).schema)
  }
}
