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
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
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

  test("qSkewAqeJoin as a session's first table read leaves the caller's conf untouched") {
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def confOf(x: org.apache.spark.sql.SparkSession) = x.sessionState.conf.getAllConfs
    val s = spark.newSession()
    val before = confOf(s)
    ops.SourceSinkOps.qSkewAqeJoin(s, Sf)
    // The join's settings and the profile it applied stay in its scoped
    // session: nothing is set, unset or pinned to a registered default.
    assert(confOf(s) == before)
    // The caller's own first table read still gets the profile.
    Tables.events(s, Sf)
    assert(s.conf.get(advisory) ==
      sys.env.getOrElse("GRAFT_ADVISORY_PARTITION_BYTES", "4m"))
    val c = spark.newSession()
    c.conf.set(advisory, "2m")
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", "1m")
    ops.SourceSinkOps.qSkewAqeJoin(c, Sf)
    assert(c.conf.get(advisory) == "2m")
    assert(c.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1m")
  }

  test("reading events keeps the caller's nanosAsLong setting") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // The sf0.001 fixture ships the micros form, so the read succeeds
    // with the flag off.
    GraftSession.scoped(spark, key -> "false") { s =>
      assert(Tables.events(s, Sf).count() > 0)
      Tables.eventsWithRawTs(s, Sf).count()
      assert(s.conf.get(key) == "false")
    }
    // A session without the flag gets it from the execution profile.
    val fresh = spark.newSession()
    fresh.conf.unset(key)
    Tables.events(fresh, Sf)
    assert(fresh.conf.get(key) == "true")
  }

  test("scoped runs on a clone: the caller's conf is never written") {
    val key = "spark.sql.shuffle.partitions"
    val c = org.apache.spark.sql.GraftSessionBridge.cloneSession(spark)
    c.conf.set("spark.graft.spec.marker", "kept")
    val seen = GraftSession.scoped(c, key -> "3") { s =>
      assert(s ne c)
      // The clone keeps the caller's runtime conf, unlike newSession().
      assert(s.conf.get("spark.graft.spec.marker") == "kept")
      assert(c.conf.get(key) == "4")
      s.conf.get(key)
    }
    assert(seen == "3")
    assert(c.conf.get(key) == "4")
  }
}
