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

  test("the execution profile keeps a setting the caller made before the first table read") {
    // A new session shares the SparkContext but not the runtime conf, so
    // the profile has not run on it yet.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    assert(s.conf.getOption("spark.graft.execution.tuned").isEmpty)
    Tables.events(s, Sf)
    assert(s.conf.get("spark.graft.execution.tuned") == "true")
    assert(s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "1m")
    // The settings the caller left alone still get the profile.
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(s.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    // Without the caller's setting the profile's own advisory size applies.
    val fresh = spark.newSession()
    Tables.events(fresh, Sf)
    assert(fresh.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") ==
      sys.env.getOrElse("GRAFT_ADVISORY_PARTITION_BYTES", "4m"))
  }
}
