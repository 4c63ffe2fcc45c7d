package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout behaviors: partition pruning on Hive-style layouts and
  * small-files compaction — the table-maintenance side of 100 TB scans.
  */
class LayoutSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  test("partitioned write + filtered read prunes to the selected partitions") {
    val df = ops.SourceSinkOps.partitionedRoundTrip(spark, Sf, Seq("click", "error"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
           plan.contains("event_type#") , plan.take(3000))
    // only the two requested partitions survive
    val types = df.collect().map(_.getString(0)).toSet
    assert(types == Set("click", "error"))
    // and counts match an unpartitioned aggregation
    val expect = graft.Tables.events(spark, Sf)
      .filter(col("event_type").isin("click", "error"))
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expect)
  }

  test("morton_interleave matches a driver-side bit-interleave reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextLong().abs % (1L << 21), rnd.nextLong().abs % (1L << 21)))
    val got = pairs.toDF("a", "b")
      .select(graft.functions.LayoutFunctions.mortonInterleave(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    val want = pairs.map { case (a, b) =>
      (0 until 21).foldLeft(0L) { (z, j) =>
        z | (((a >> j) & 1L) << (2 * j)) | (((b >> j) & 1L) << (2 * j + 1))
      }
    }
    assert(got == want)
  }

  test("z-order sort clusters BOTH dimensions; single-column sort only one") {
    val rows = graft.Tables.events(spark, Sf)
      .selectExpr("pmod(user_id, 1024) as u",
                  "pmod(cast(floor(value) as bigint), 1024) as w")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def morton(a: Long, b: Long): Long =
      (0 until 21).foldLeft(0L) { (z, j) =>
        z | (((a >> j) & 1L) << (2 * j)) | (((b >> j) & 1L) << (2 * j + 1))
      }
    // mean per-chunk span of each dimension for a given ordering = the
    // min-max range a row group would carry under that layout
    def meanSpans(sorted: Seq[(Long, Long)]): (Double, Double) = {
      val chunks = sorted.grouped(64).filter(_.size > 1).toSeq
      (chunks.map(c => (c.map(_._1).max - c.map(_._1).min).toDouble).sum / chunks.size,
       chunks.map(c => (c.map(_._2).max - c.map(_._2).min).toDouble).sum / chunks.size)
    }
    val (zu, zw) = meanSpans(rows.sortBy { case (u, w) => morton(u, w) }.toSeq)
    val (su, sw) = meanSpans(rows.sortBy(_._1).toSeq)
    assert(su < zu, "single-column sort should cluster its own dimension tightest")
    assert(zw < sw * 0.6, s"z-order must shrink the second dimension's span: $zw vs $sw")
    assert(zu < 1024 * 0.6, s"z-order must still cluster the first dimension: $zu")
  }

  test("compaction rewrites many small files into the target file count") {
    val base = tempDir("graft_compact").toString
    val fragmented = s"$base/in"
    val compacted = s"$base/out"
    graft.Tables.events(spark, Sf)
      .repartition(32).write.mode("overwrite").parquet(fragmented)
    def parquetFiles(d: String): Int =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(fragmented) == 32)
    ops.SourceSinkOps.compact(spark, fragmented, compacted, targetFiles = 4, sortCol = "ts")
    assert(parquetFiles(compacted) == 4)
    assert(spark.read.parquet(compacted).count() ==
           spark.read.parquet(fragmented).count())
  }
}
