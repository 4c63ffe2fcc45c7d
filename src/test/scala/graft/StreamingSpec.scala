package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming twins must converge to the batch results once the
  * bounded source is drained (Trigger.AvailableNow).
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  test("streaming tumbling windows == batch qEventsTumbling") {
    val streamed = EventStream.runToMemory(
      spark, EventStream.tumblingCounts(spark, Sf), "t_tumbling")
      .select("ws", "event_type", "n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = ops.EventOps.qEventsTumbling(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming corpus ingest (quality + digest dedup) == batch twin") {
    val streamed = EventStream.runToMemory(
      spark, EventStream.docQualityCounts(spark, Sf), "t_docs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = EventStream.docQualityCountsOf(
      graft.Tables.documents(spark, Sf))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("driver-checked ingest drain == batch twin (exact-integer stats)") {
    val streamed = streaming.EventStream.qStreamIngest(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = streaming.EventStream.ingestStatsOf(graft.Tables.documents(spark, Sf))
      .orderBy(col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup-by-id preserves per-type counts (ids unique in fixture)") {
    val streamed = EventStream.runToMemory(
      spark, EventStream.dedupedCounts(spark, Sf), "t_dedup",
      OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = graft.Tables.events(spark, Sf)
      .dropDuplicates("event_id")
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessions == batch session_window (closed sessions)") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamed = EventStream.runToMemory(
      spark, EventStream.userSessions(spark, Sf).toDF(), "t_sessions",
      OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // Driver-side replay of the emission contract: a session emits if a
    // newer session superseded it, or if its event-time timeout (end+gap)
    // is at or before the final watermark (max ts - 2h).
    val GapUs = 3600000000L
    val events = graft.Tables.events(spark, Sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wmUs = events.map(_._2).max - 7200000000L
    val expected = events.groupBy(_._1).flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[(Long, Long, Long)]) { // (start, end, n)
        case ((s, e, n) :: tail, t) if t < e + GapUs => (s, math.max(e, t), n + 1) :: tail
        case (acc, t) => (t, t, 1L) :: acc
      }.reverse
      val emitted = sessions.dropRight(1) ++ // superseded
        sessions.lastOption.filter { case (_, e, _) => e + GapUs <= wmUs } // timed out
      emitted.map { case (s, _, n) => (u, s, n) }
    }.toSet
    assert(streamed == expected)
    assert(expected.nonEmpty, "fixture should emit at least one session")
  }

  test("stream-static broadcast join == batch join after drain") {
    val streamed = EventStream.runToMemory(
      spark, EventStream.enrichedCounts(spark, Sf), "t_enriched",
      OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSet
    val ev = graft.Tables.events(spark, Sf)
    val profile = ev.groupBy("user_id").agg(avg("value").as("user_mean"))
    val batch = ev.join(profile, Seq("user_id"))
      .withColumn("above_mean", col("value") > col("user_mean"))
      .groupBy("event_type", "above_mean").count()
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("checkpoint resume: a restarted query processes only new files, state persists") {
    import org.apache.spark.sql.streaming.Trigger
    val base = tempDir("graft_ckpt")
    val srcDir = base.resolve("src"); java.nio.file.Files.createDirectory(srcDir)
    val ckpt = base.resolve("ckpt").toString
    val fixture = java.nio.file.Paths.get(s"$Sf/events.parquet")
    java.nio.file.Files.copy(fixture, srcDir.resolve("f1.parquet"))

    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    def run(name: String): Map[String, Long] = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
        .groupBy("event_type").count()
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(name).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    val first = run("t_ckpt1")
    // add a second copy of the data; the restart must process ONLY it,
    // merging with checkpointed state to double every count.
    java.nio.file.Files.copy(fixture, srcDir.resolve("f2.parquet"))
    val second = run("t_ckpt2")
    assert(first.nonEmpty)
    assert(second == first.map { case (k, v) => k -> v * 2 },
      s"expected doubled counts, got first=$first second=$second")
  }

  test("doubled-stream dedup drain == single-copy batch aggregate") {
    // qStreamDedup unions TWO copies of the stream, so every event_id
    // arrives twice; equality with the single-copy batch aggregate proves
    // each duplicate died in the dropDuplicatesWithinWatermark state.
    val streamed = EventStream.qStreamDedup(spark, Sf)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.Tables.events(spark, Sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(expr("cast(round(value * 100) as bigint)")).as("value_c"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("RocksDB state store provider: windowed drain matches default-store drain") {
    // The production state backend at 100 TB is RocksDB (bounded heap,
    // state spills to local SSD + checkpoint). Same query, same results,
    // only the provider differs — proves the pipeline is portable to the
    // prod backend, not coupled to the in-memory HDFS-backed default.
    GraftSession.scoped(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { s =>
      val rocks = EventStream.runToMemory(
        s, EventStream.tumblingCounts(s, Sf), "t_rocks")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.ops.EventOps.qEventsTumbling(s, Sf)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(rocks == batch && rocks.nonEmpty)
    }
  }

  test("foreachBatch upsert drain == batch per-user argmax") {
    // Multi-batch (maxFilesPerTrigger=1 over a 4-file split): the keyed
    // store must converge to the same per-user latest row as the batch
    // argmax regardless of micro-batch order.
    val streamed = EventStream.qStreamUpsert(spark, Sf)
      .collect().map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))).toMap
    val batch = graft.Tables.events(spark, Sf)
      .groupBy(col("user_id"))
      .agg(max(struct(unix_micros(col("ts")).as("ts_us"), col("event_id"))).as("s"))
      .collect().map(r => (r.getAs[Long]("user_id"),
        (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("frozen-weight streaming quality gate drain == batch classifier " +
       "aggregate (model frozen before the first batch)") {
    val streamed = streaming.DocStream.qStreamQualityGate(spark, Sf)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = ops.TextOps.qQualityClassify(spark, Sf)
      .join(graft.Tables.documents(spark, Sf).select("doc_id", "lang"),
        Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality_pass"), 1L).otherwise(0L)).as("n_pass"),
        coalesce(sum(when(col("quality_pass"), col("score"))), lit(0L))
          .as("passed_score"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch && streamed.nonEmpty)
    // the gate is non-degenerate on the fixture
    assert(streamed.values.exists(v => v._2 > 0 && v._2 < v._1))
  }

  test("incremental upsert store rewrites only touched regions (others byte-identical)") {
    // The 100 TB contract of the stream sink, now on the region-
    // partitioned catalog store: a micro-batch touching two keys must
    // leave every region not holding them byte-identical on disk —
    // O(changed regions) work per batch, never O(store), with region
    // size bounded by the create target as the table grows.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val store = "graft_spec_stream_store"
    ops.KeyedStore.drop(spark, store)
    def run(rows: Seq[(Long, Long, Long, String, Long)]): Unit =
      EventStream.upsertBatchIntoStore(spark, store,
        rows.toDF("event_id", "user_id", "ts_us", "event_type", "value_c"),
        targetRowsPerRegion = 4)
    run((0L until 16L).map(u => (u, u, 100L, "a", 1L)))
    def digests(): Map[String, String] = {
      val root = ops.KeyedStore.location(spark, store)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          java.util.Arrays.toString(java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))))
        .toMap
      finally s.close()
    }
    val before = digests()
    val rm = ops.KeyedStore.readRegions(spark, store)
    assert(rm.regions.size >= 3, s"want several regions, got ${rm.regions.size}")
    // User 1 (update) and user 17 (insert beyond the max boundary — lands
    // in the last region): exactly those two regions are touched.
    run(Seq((100L, 1L, 200L, "b", 2L), (101L, 17L, 200L, "b", 2L)))
    val touched = Set(1L, 17L).map(k => s"kr=${rm.regions(rm.coverageIdx(k)).kr}")
    val after = digests()
    val untouched = before.keySet.filterNot(p => touched.exists(p.startsWith))
    assert(untouched.nonEmpty && untouched.subsetOf(after.keySet))
    untouched.foreach(k => assert(after(k) == before(k), s"$k was rewritten"))
    val merged = spark.table(store)
    assert(merged.filter(col("user_id") === 1L).select("ts_us").head.getLong(0) == 200L)
    assert(merged.filter(col("user_id") === 17L).count() == 1)
    assert(merged.count() == 17)
    ops.KeyedStore.drop(spark, store)
  }

  test("additive count sink: replaying a micro-batch is a no-op (at-least-once fence)") {
    // foreachBatch is at-least-once: a crash between the store merge and
    // the checkpoint commit re-runs the batch. Addition is not idempotent,
    // so the sink fences with a per-key (batch id, contribution) slot that
    // rides in the row — applying ANY batch twice (including batch 0,
    // whose first application is the CTAS) must leave counts unchanged.
    import spark.implicits._
    val store = "graft_spec_topk_replay"
    ops.KeyedStore.drop(spark, store)
    def apply(rows: Seq[(Long, Long)], id: Long): Unit =
      EventStream.addCountsIntoStore(spark, store,
        rows.toDF("event_id", "user_id"), id, targetRowsPerRegion = 4)
    def counts(): Map[Long, Long] = spark.table(store)
      .select(col("user_id"), col("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, 10L), (2L, 10L), (3L, 20L))
    val b1 = Seq((4L, 10L), (5L, 30L))
    apply(b0, 0L)
    apply(b0, 0L) // replayed create-batch: merge path must back out its own prior add
    assert(counts() == Map(10L -> 2L, 20L -> 1L), "batch-0 replay double-counted")
    apply(b1, 1L)
    assert(counts() == Map(10L -> 3L, 20L -> 1L, 30L -> 1L))
    apply(b1, 1L)
    apply(b1, 1L) // double replay: still a no-op
    assert(counts() == Map(10L -> 3L, 20L -> 1L, 30L -> 1L),
      "batch-1 replay double-counted")
    ops.KeyedStore.drop(spark, store)
  }

  test("fault injection: crash AFTER a committed additive merge, restart " +
       "from checkpoint — the in-row fence makes the replayed batch " +
       "exactly-once") {
    // The real at-least-once window: the foreachBatch sink commits its
    // store merge, then the query dies BEFORE the checkpoint commit.
    // On restart Spark replans the same batch from the offset WAL and
    // re-runs the sink; without the (bid, bn) fence the counts would
    // double. This exercises the fence through an actual query failure
    // + checkpoint restart, not an in-process double-apply.
    val store = "graft_crash_fence_store"
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash_fence")
    val srcDir = tmp.resolve("src").toString
    val ev = graft.Tables.events(spark, Sf).select(col("event_id"), col("user_id"))
    ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    ops.KeyedStore.drop(spark, store)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          EventStream.addCountsIntoStore(spark, store, batch.toDF(), id,
            targetRowsPerRegion = 64)
          // crash after the store commit, before the checkpoint commit
          if (id == 1 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after store commit")
        }
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        assert(q.awaitTermination(180000), "stream did not drain in 180 s")
      } finally if (q.isActive) q.stop()
    }
    try {
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .take(8).exists(t => String.valueOf(t.getMessage).contains("injected crash")),
        s"failure was not the injected crash: $ex")
      assert(crashed.get(), "injection never fired")
      run() // restart from the same checkpoint: batch 1 replays onto its committed merge
      val got = spark.table(store).select(col("user_id"), col("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, "replayed batch double-counted after crash-restart")
    } finally {
      ops.KeyedStore.drop(spark, store)
      EventStream.deleteRecursively(tmp)
    }
  }

  test("fault injection: crash AFTER a committed PQ index append, restart " +
       "from checkpoint — pure-function posting rows make the replay a " +
       "content no-op (no fence needed)") {
    import graft.streaming.VectorStream
    val name = "graft_crash_pq_index"
    val clean = "graft_crash_pq_clean"
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash_pq")
    val srcDir = tmp.resolve("src").toString
    val embs = graft.Tables.embeddings(spark, Sf)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    delta.repartition(2).write.mode("overwrite").parquet(srcDir)
    ops.KeyedStore.drop(spark, name)
    ops.KeyedStore.drop(spark, clean)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (!batch.isEmpty)
            ops.AnnIndexOps.appendPqBatch(spark, name, batch.toDF())
          if (id == 0 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after index append")
        }
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        assert(q.awaitTermination(180000), "stream did not drain in 180 s")
      } finally if (q.isActive) q.stop()
    }
    try {
      ops.AnnIndexOps.buildPqIndex(spark, name, base)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
      assert(crashed.get(), "injection never fired")
      run() // restart: batch 0 replays, re-inserting byte-identical posting rows
      // Ground truth: the same build + ONE clean batch append, no stream.
      ops.AnnIndexOps.buildPqIndex(spark, clean, base)
      ops.AnnIndexOps.appendPqBatch(spark, clean, delta)
      def postings(n: String) = ops.KeyedStore.scan(spark, n, "row_key", "c", "cz")
        .select(col("row_key"), col("c_id"), col("m_id"),
          col("pqc").cast("string"), col("rnrm_u"))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val crashRestart = postings(name)
      assert(crashRestart == postings(clean),
        "crash-restart postings diverge from the clean one-shot append")
      // no duplicate keys survived the replay
      assert(crashRestart.map(_.head).distinct.size == crashRestart.size)
    } finally {
      ops.KeyedStore.drop(spark, name)
      ops.KeyedStore.drop(spark, clean)
      EventStream.deleteRecursively(tmp)
    }
  }

  test("mapGroupsWithState user totals == batch groupBy after drain") {
    val streamed = EventStream.runToMemory(
      spark, EventStream.userTotals(spark, Sf).toDF(), "t_user_totals",
      OutputMode.Update())
      .groupBy("user_id").agg(max("n").as("n")) // last update per user
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.Tables.events(spark, Sf)
      .groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }
}
