package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the 100 TB co-located join strategy: both fact tables
  * pre-partitioned on the join key at write time, so the join needs NO
  * exchange at read time (the reference's equivalent would be aligning
  * HBase regions — it never does).
  */
class BucketedJoinSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed orders ⋈ lineitem joins without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    graft.Tables.orders(spark, Sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    graft.Tables.lineitem(spark, Sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    try GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val joined = s.table("b_orders")
        .join(s.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // SMJ present, but no exchange feeding it: bucketing provides the
      // hash distribution on both sides.
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      // No exchange on either JOIN key (the group-by exchange above the
      // join is expected and unrelated).
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
             !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join still shuffles:\n${plan.take(3000)}")
      // and the result matches the unbucketed join
      val expect = graft.Tables.orders(s, Sf)
        .join(graft.Tables.lineitem(s, Sf), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
