package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settings every graft session shares ([[GraftSession.local]]),
  * read back from the suite's own session. */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("the shared session carries the GraftSession settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    // GraftExtensions is installed: its SQL function resolves
    assert(spark.sql("SELECT cosine_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) == 11.0)
    assert(spark.sparkContext.getConf.get("spark.sql.warehouse.dir")
      .contains("graft_warehouse"))
  }
}
