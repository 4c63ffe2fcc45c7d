package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming rows run on a scoped session ([[streaming.Drain]]):
  * their state-partition setting reaches the stream but never the
  * caller's session, and their per-batch caches do not outlive the call.
  */
class StreamScopeSpec extends AnyFunSuite {
  import TestSpark._

  test("a stream and a keyed upsert on one session: the caller never sees the " +
       "stream's partition setting, and every state stage runs 4 tasks") {
    val key = "spark.sql.shuffle.partitions"
    val caller = org.apache.spark.sql.GraftSessionBridge.cloneSession(spark)
    caller.conf.set(key, "7")
    val store = "graft_stream_scope_spec"
    ops.KeyedStore.drop(caller, store)
    locally {
      import caller.implicits._
      ops.KeyedStore.create(caller, store,
        (0L until 200L).map(k => (k, s"v$k")).toDF("k", "v"), "k", 50)
    }

    val stateTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "StateStoreRDD"))
          stateTasks.add(e.stageInfo.numTasks)
    }
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var polling = true
    val poller = new Thread(() => while (polling) { seen.add(caller.conf.get(key)); Thread.sleep(1) })
    @volatile var upsertErr: Throwable = null
    val upserter = new Thread(() =>
      try {
        import caller.implicits._
        ops.KeyedStore.upsert(caller, store, "k",
          Seq((5L, "U", "v5b")).toDF("k", "op", "v"))
      } catch { case t: Throwable => upsertErr = t })

    spark.sparkContext.addSparkListener(listener)
    poller.start()
    try {
      upserter.start()
      val rows = streaming.EventStream.qStreamWindow(caller, Sf).collect()
      upserter.join(300000)
      assert(rows.nonEmpty)
    } finally {
      polling = false
      poller.join()
    }
    // Stage events arrive on the listener bus asynchronously.
    val deadline = System.currentTimeMillis() + 10000
    while (stateTasks.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)

    assert(upsertErr == null, String.valueOf(upsertErr))
    assert(seen.size == 1 && seen.contains("7"), seen)
    assert(caller.conf.get(key) == "7")
    assert(!stateTasks.isEmpty, "no StateStoreRDD stage observed")
    assert(stateTasks.stream().allMatch(_ == 4), stateTasks)
    val got = ops.KeyedStore.get(caller, store, "k", Seq(5L)).collect()
    assert(got.map(_.getAs[String]("v")).toSeq == Seq("v5b"))
    ops.KeyedStore.drop(caller, store)
  }

  test("qStreamAnnIndex leaves no cache entry and no tracked session behind " +
       "after releaseCaches") {
    def entries = org.apache.spark.sql.GraftTestBridge.cachedEntries(spark)
    Graft.releaseCaches(spark, blocking = true)
    val sessions = GraftCache.trackedSessions
    val before = entries
    assert(streaming.VectorStream.qStreamAnnIndex(spark, Sf).collect().nonEmpty)
    Graft.releaseCaches(spark, blocking = true)
    assert(GraftCache.trackedSessions == sessions)
    assert(entries == before)
  }
}
