package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog-backed keyed table ([[graft.ops.KeyedStore]]): the
  * HBase-connector substitution as one surface, now with HBase's actual
  * region model (key-range partitions). Pins the scale contracts — GETs
  * prune to the holding regions and push the key list into the scan,
  * range SCANs prune to exactly the intersecting regions and push the
  * range predicate, a 1-key upsert rewrites exactly one region
  * (byte-identical siblings), and create is idempotent across "JVMs"
  * (stale warehouse location with no catalog entry).
  */
class KeyedStoreSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import ops.KeyedStore

  private def mkRows(n: Long) = {
    import spark.implicits._
    (0L until n).map(i => (i, s"v$i")).toDF("k", "v")
  }

  private def digests(name: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val root = KeyedStore.location(spark, name)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString ->
        java.util.Arrays.toString(java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p))))
      .toMap
    finally s.close()
  }

  test("get prunes to holding regions and pushes the key IN-list") {
    val name = "graft_keyed_spec_get"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.size >= 8, s"want many regions, got ${rm.regions.size}")
    val got = KeyedStore.get(spark, name, "k", Seq(5L, 77L))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((5L, "v5"), (77L, "v77")))
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("kr#"), p.take(3000))
    assert(p.contains("PushedFilters: [In(k,"), p.take(3000))
  }

  test("range scan prunes to intersecting regions; range predicate pushed") {
    val name = "graft_keyed_spec_scan"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    val scanned = KeyedStore.scan(spark, name, "k", 50L, 80L)
    assert(scanned.collect().map(_.getLong(0)).sorted.toSeq == (50L to 80L))
    // Driver-side prune list covers the range but far from the table.
    val selected = rm.rangeIdx(50L, 80L)
    assert(selected.nonEmpty && selected.size < rm.regions.size / 2,
      s"expected a small prune list, got $selected of ${rm.regions.size}")
    val p = scanned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("kr#"), p.take(3000))
    assert(p.contains("GreaterThanOrEqual(k,50)") &&
      p.contains("LessThanOrEqual(k,80)"), p.take(3000))
  }

  test("scanMulti: N ranges in ONE scan, pruned to the union of regions") {
    val name = "graft_keyed_spec_multi"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    val ranges = Seq[(Any, Any)]((10L, 20L), (95L, 105L), (180L, 185L))
    val scanned = KeyedStore.scanMulti(spark, name, "k", ranges)
    assert(scanned.collect().map(_.getLong(0)).sorted.toSeq ==
      ((10L to 20L) ++ (95L to 105L) ++ (180L to 185L)))
    // Union prune list: covers all three ranges, far from the table.
    val selected = ranges.flatMap { case (f, t) => rm.rangeIdx(f, t) }.distinct
    assert(selected.size < rm.regions.size / 2,
      s"expected a small union prune list, got $selected of ${rm.regions.size}")
    val p = scanned.queryExecution.executedPlan.toString
    // ONE file scan (a per-range union would have three), partition-pruned,
    // with the OR-of-ranges pushed down.
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(3000))
    assert(p.contains("PartitionFilters: [") && p.contains("kr#"), p.take(3000))
    assert(p.contains("Or(And(GreaterThanOrEqual(k,10)"), p.take(3000))
  }

  test("a 1-key upsert rewrites exactly one region; siblings byte-identical") {
    import spark.implicits._
    val name = "graft_keyed_spec_one"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val before = digests(name)
    KeyedStore.upsert(spark, name, "k", Seq((5L, "U", "v5b")).toDF("k", "op", "v"))
    val after = digests(name)
    val changed = before.keySet.filter(p => after.get(p) != before.get(p))
    val changedDirs = changed.map(_.split("/")(0))
    assert(changedDirs.size == 1, s"expected 1 rewritten region, got $changedDirs")
    val rm = KeyedStore.readRegions(spark, name)
    assert(changedDirs.head ==
      s"kr=${rm.regions(rm.coverageIdx(5L)).kr}")
    (before.keySet -- changed).foreach(p =>
      assert(after(p) == before(p), s"$p was rewritten"))
  }

  test("upsert U/D/I across regions; untouched regions byte-identical") {
    import spark.implicits._
    val name = "graft_keyed_spec_upsert"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val before = digests(name)
    assert(before.nonEmpty)
    // One update, one delete, one insert beyond the max boundary (lands
    // in the last region); every other region's files must not move.
    val changes = Seq((5L, "U", "v5b"), (7L, "D", "x"), (1000L, "I", "v1000"))
      .toDF("k", "op", "v")
    val after = KeyedStore.upsert(spark, name, "k", changes)
    val rows = after.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows(5L) == "v5b" && rows(1000L) == "v1000" && !rows.contains(7L))
    assert(rows.size == 200) // 200 - 1 delete + 1 insert
    val rm = KeyedStore.readRegions(spark, name)
    val touched = Set(5L, 7L, 1000L)
      .map(k => s"kr=${rm.regions(rm.coverageIdx(k)).kr}")
    val afterD = digests(name)
    val untouched = before.keySet.filterNot(p => touched.exists(p.startsWith))
    assert(untouched.nonEmpty && untouched.subsetOf(afterD.keySet))
    untouched.foreach(p => assert(afterD(p) == before(p), s"$p was rewritten"))
    // GET still resolves through the (unchanged) region sidecar.
    assert(KeyedStore.get(spark, name, "k", Seq(1000L))
      .collect().map(_.getString(1)).toSeq == Seq("v1000"))
  }

  test("string keys: get resolves regions over the lexicographic sidecar") {
    import spark.implicits._
    val name = "graft_keyed_spec_str"
    val rows = (0 until 128).map(i => (f"key$i%03d", i)).toDF("rk", "n")
    KeyedStore.create(spark, name, rows, "rk", targetRowsPerRegion = 16)
    val got = KeyedStore.get(spark, name, "rk", Seq("key007", "key100"))
    assert(got.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("key007", 7), ("key100", 100)))
  }

  test("auto split: an insert-heavy boundary region splits like an HBase region") {
    import spark.implicits._
    val name = "graft_keyed_spec_autosplit"
    KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 16)
    val before = KeyedStore.readRegions(spark, name)
    val beforeDigests = digests(name)
    // 200 inserts beyond the max boundary all cover the LAST region; the
    // merge makes it ~216 rows (> 2x target), so the split must fire and
    // leave every region bounded — without a manual rebalance.
    KeyedStore.upsert(spark, name, "k",
      (1000L until 1200L).map(i => (i, "I", s"v$i")).toDF("k", "op", "v"))
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.map(_.rows).sum == 264)
    assert(rm.regions.map(_.rows).max <= 32, rm.regions.map(_.rows).toString)
    assert(rm.regions.size > before.regions.size)
    // The region directory stays min-key-sorted even though split regions
    // carry fresh (larger) kr ids — the binary-search invariant.
    val mins = rm.regions.map(_.min.asInstanceOf[Long])
    assert(mins == mins.sorted, mins.toString)
    // Regions not involved in the insert range keep their files untouched.
    val splitSrcKr = before.regions(before.coverageIdx(1000L)).kr
    val afterDigests = digests(name)
    beforeDigests.keySet.filterNot(_.startsWith(s"kr=$splitSrcKr"))
      .foreach(p => assert(afterDigests(p) == beforeDigests(p), s"$p rewritten"))
    // GET and range scan resolve correctly across the split regions.
    assert(KeyedStore.get(spark, name, "k", Seq(1100L, 5L))
      .collect().map(_.getString(1)).toSet == Set("v1100", "v5"))
    assert(KeyedStore.scan(spark, name, "k", 1050L, 1060L).count() == 11)
  }

  test("region merge: delete-shrunken neighbors coalesce; emptied runs vanish") {
    import spark.implicits._
    val name = "graft_keyed_spec_regmerge"
    KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 16)
    val nBefore = KeyedStore.readRegions(spark, name).regions.size
    assert(nBefore >= 4)
    // Delete every even key: every region halves, adjacent pairs now fit
    // the 16-row target together.
    KeyedStore.upsert(spark, name, "k",
      (0L until 64L by 2).map(k => (k, "D", "x")).toDF("k", "op", "v"))
    val eliminated = KeyedStore.mergeSmallRegions(spark, name, "k")
    assert(eliminated > 0)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.size < nBefore, s"$nBefore -> ${rm.regions.size}")
    assert(rm.regions.map(_.rows).sum == 32)
    assert(rm.regions.forall(_.rows <= 16))
    val mins = rm.regions.map(_.min.asInstanceOf[Long])
    assert(mins == mins.sorted, mins.toString)
    // Data intact, odd keys only; GET and scan resolve across merged regions.
    val left = spark.table(name).select(col("k")).collect().map(_.getLong(0)).toSet
    assert(left == (1L until 64L by 2).toSet)
    assert(KeyedStore.get(spark, name, "k", Seq(31L, 33L)).count() == 2)
    assert(KeyedStore.scan(spark, name, "k", 10L, 20L).count() == 5)
    // Fully-emptied runs vanish from the directory entirely.
    val name2 = "graft_keyed_spec_regmerge2"
    KeyedStore.create(spark, name2, mkRows(64), "k", targetRowsPerRegion = 16)
    val rm2a = KeyedStore.readRegions(spark, name2)
    val midReg = rm2a.regions(rm2a.coverageIdx(20L))
    KeyedStore.upsert(spark, name2, "k",
      (midReg.min.asInstanceOf[Long] to midReg.max.asInstanceOf[Long])
        .map(k => (k, "D", "x")).toDF("k", "op", "v"))
    KeyedStore.mergeSmallRegions(spark, name2, "k")
    val rm2 = KeyedStore.readRegions(spark, name2)
    assert(rm2.regions.forall(_.rows > 0), rm2.regions.toString)
    KeyedStore.drop(spark, name2)
  }

  test("rebalance re-derives balanced regions after growth") {
    import spark.implicits._
    val name = "graft_keyed_spec_rebal"
    KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 16)
    // Pile 200 inserts beyond the boundary: they all land in the last
    // region (fixed boundaries), then rebalance restores ~16-row regions.
    val inserts = (1000L until 1200L).map(i => (i, "I", s"v$i")).toDF("k", "op", "v")
    KeyedStore.upsert(spark, name, "k", inserts)
    val grown = KeyedStore.readRegions(spark, name)
    assert(grown.regions.map(_.rows).max <= 64 + 200)
    KeyedStore.rebalance(spark, name, "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.map(_.rows).sum == 264)
    assert(rm.regions.map(_.rows).max <= 24, rm.regions.map(_.rows).toString)
    assert(KeyedStore.get(spark, name, "k", Seq(1100L))
      .collect().map(_.getString(1)).toSeq == Seq("v1100"))
  }

  test("row blooms: all-absent GET scans zero partitions; blooms track upserts") {
    import spark.implicits._
    val name = "graft_keyed_spec_bloom"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    // Absent keys (inside the table's overall range, so range candidates
    // exist): every candidate region's bloom must reject them — the GET
    // resolves to an empty region list and the plan never scans a file.
    // Deterministic hashes ⇒ no flaky false-positive risk for fixed keys.
    val miss = KeyedStore.get(spark, name, "k", Seq(5000L, 6000L, 7000L))
    assert(miss.count() == 0)
    val plan = miss.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet") || plan.contains("PartitionFilters: [false]")
      || plan.contains("LocalTableScan"), plan.take(2000))
    // Present keys still resolve through the bloom (no false negatives).
    assert(KeyedStore.get(spark, name, "k", Seq(5L, 77L)).count() == 2)
    // An upserted new key must enter its region's rebuilt bloom.
    KeyedStore.upsert(spark, name, "k", Seq((5000L, "I", "v5000")).toDF("k", "op", "v"))
    assert(KeyedStore.get(spark, name, "k", Seq(5000L))
      .collect().map(_.getString(1)).toSeq == Seq("v5000"))
    // A delete-emptied probe goes back to definitely-absent.
    KeyedStore.upsert(spark, name, "k", Seq((5000L, "D", "x")).toDF("k", "op", "v"))
    assert(KeyedStore.get(spark, name, "k", Seq(5000L)).count() == 0)
  }

  test("upsert refreshes the sidecar: range scan finds keys past the old recorded max") {
    import spark.implicits._
    val name = "graft_keyed_spec_sidecar"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    KeyedStore.upsert(spark, name, "k",
      Seq((1000L, "I", "v1000")).toDF("k", "op", "v"))
    // rangeIdx prunes by the recorded (min, max) — with a stale sidecar
    // (max still 199) this scan would prune to NO regions and miss the
    // inserted row entirely.
    val got = KeyedStore.scan(spark, name, "k", 500L, 2000L).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1000L, "v1000")))
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.map(_.rows).sum == 201)
  }

  test("a delete-emptied region drops its partition; no stale rows resurface") {
    import spark.implicits._
    val name = "graft_keyed_spec_empty"
    KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 16)
    val rm0 = KeyedStore.readRegions(spark, name)
    val reg = rm0.regions(rm0.coverageIdx(20L))
    val keys = (reg.min.asInstanceOf[Long] to reg.max.asInstanceOf[Long])
    // Delete EVERY key of one region: dynamic overwrite writes no output
    // for that partition, so without the explicit partition drop the old
    // files would survive and the "deleted" rows resurface on read.
    val after = KeyedStore.upsert(spark, name, "k",
      keys.map(k => (k, "D", "x")).toDF("k", "op", "v"))
    val left = after.collect().map(_.getLong(0)).toSet
    assert(keys.forall(k => !left.contains(k)), s"stale rows: $left")
    assert(left.size.toLong == 64L - keys.size)
    assert(KeyedStore.scan(spark, name, "k", 0L, 100L).count() ==
      64L - keys.size)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.map(_.rows).sum == 64L - keys.size)
  }

  test("secondary index: prefix-scan serve equals the direct filter; " +
       "dual-write update moves the index row") {
    import spark.implicits._
    val p = "graft_spec_secp"
    val i = "graft_spec_seci"
    val rows = (0L until 300L).map(k => (k, if (k % 3 == 0) "red" else "blue", k * 7))
      .toDF("k", "color", "v")
    KeyedStore.create(spark, p, rows, "k", targetRowsPerRegion = 64)
    KeyedStore.create(spark, i,
      rows.select(format_string("%s#%012d", col("color"), col("k")).as("ikey"),
        col("k").as("ref_k")),
      "ikey", targetRowsPerRegion = 64)
    def serveRed(): Seq[Long] = {
      val ids = KeyedStore.scan(spark, i, "ikey", "red#", "red#z")
        .select(col("ref_k").as("k"))
      KeyedStore.getBatch(spark, p, "k", ids)
        .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(serveRed() == (0L until 300L by 3L), "index serve != direct filter")
    // Dual write: k=1 turns red.
    KeyedStore.upsert(spark, p, "k",
      Seq((1L, "U", "red", 7L)).toDF("k", "op", "color", "v"))
    KeyedStore.mergeInto(spark, i, "ikey", Seq(f"blue#${1L}%012d").toDF("ikey"),
      (base, d) => base.join(d, Seq("ikey"), "left_anti"))
    KeyedStore.upsert(spark, i, "ikey",
      Seq((f"red#${1L}%012d", "I", 1L)).toDF("ikey", "op", "ref_k"))
    assert(serveRed() == (Seq(1L) ++ (0L until 300L by 3L)).sorted,
      "updated key missing from the index serve")
    // The old index row is gone: a blue-prefix scan no longer yields 1.
    val blue = KeyedStore.scan(spark, i, "ikey", "blue#", "blue#z")
      .select(col("ref_k")).collect().map(_.getLong(0)).toSet
    assert(!blue.contains(1L), "stale index row survived the dual write")
  }

  test("TTL expire: old rows gone, young regions byte-identical, " +
       "idempotent, no-op sweep rewrites nothing") {
    import spark.implicits._
    val name = "graft_spec_ttl"
    // Time-correlated key (ts == k): expired rows live only in the
    // low-key regions, so every young region must survive untouched.
    val rows = (0L until 512L).map(k => (k, k, s"v$k")).toDF("k", "ts", "v")
    KeyedStore.create(spark, name, rows, "k", targetRowsPerRegion = 64)
    val before = digests(name)
    val n = KeyedStore.expire(spark, name, "k", "ts", cutoff = 100L)
    assert(n == 100L)
    val kept = KeyedStore.scan(spark, name, "k", Long.MinValue, Long.MaxValue)
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == (100L until 512L), s"head=${kept.take(3)}")
    val after = digests(name)
    // Regions holding only keys >= 128 (clear of the expired range and
    // of any region straddling the cutoff) are shared byte-identically.
    val youngShared = before.keys.filter(p => after.get(p) == before.get(p))
    assert(youngShared.nonEmpty, "some young region should be untouched")
    // Idempotent: same cutoff again is a no-op and rewrites NOTHING.
    assert(KeyedStore.expire(spark, name, "k", "ts", cutoff = 100L) == 0L)
    assert(digests(name) == after, "no-op sweep must not rewrite files")
  }

  test("mergeInto: caller-supplied merge; only holding regions rewritten") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val name = "graft_keyed_spec_merge"
    val rows = (0L until 200L).map(i => (i, 10L, s"a$i")).toDF("k", "ts", "v")
    KeyedStore.create(spark, name, rows, "k", targetRowsPerRegion = 16)
    val before = digests(name)
    def latest(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy(col("k"))
        .agg(max(struct(col("ts"), col("v"))).as("s"))
        .select(col("k"), col("s.ts").as("ts"), col("s.v").as("v"))
    // The newer row for k=5 wins; the STALE row for k=7 loses to the
    // resident — the conflict rule replace-semantics upsert can't express.
    val batch = Seq((5L, 20L, "b5"), (7L, 1L, "stale")).toDF("k", "ts", "v")
    val after = KeyedStore.mergeInto(spark, name, "k", batch, latest)
    val m = after.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(m(5L) == ((20L, "b5")) && m(7L) == ((10L, "a7")))
    assert(m.size == 200)
    val rm = KeyedStore.readRegions(spark, name)
    val touched = Set(5L, 7L).map(k => s"kr=${rm.regions(rm.coverageIdx(k)).kr}")
    val afterD = digests(name)
    before.keySet.filterNot(p => touched.exists(p.startsWith))
      .foreach(p => assert(afterD(p) == before(p), s"$p was rewritten"))
    // A table-new key lands in its coverage region and GETs back.
    KeyedStore.mergeInto(spark, name, "k",
      Seq((500L, 30L, "new")).toDF("k", "ts", "v"), latest)
    assert(KeyedStore.get(spark, name, "k", Seq(500L))
      .collect().map(_.getString(2)).toSeq == Seq("new"))
  }

  test("bloom residency: per-region files, GET reads only probed regions, cached") {
    import spark.implicits._
    val name = "graft_keyed_spec_residency"
    // CREATE must never materialize bloom bytes on the driver: the
    // fused stats pass writes each region's filter executor-side and
    // collects only the ~50-byte stats rows. Zero driver-side bloom
    // file reads across the whole create is the observable pin.
    val createReads0 = KeyedStore.bloomFileReads.get()
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    assert(KeyedStore.bloomFileReads.get() == createReads0,
      "create read bloom bytes driver-side")
    val rm = KeyedStore.readRegions(spark, name)
    // Blooms live DATA-SIDE: one file per region next to the region's
    // parquet, plus the size meta — never a driver-held monolith.
    val bd = KeyedStore.location(spark, name).resolve("_graft_blooms")
    rm.regions.foreach(r =>
      assert(java.nio.file.Files.exists(bd.resolve(s"kr=${r.kr}")),
        s"missing bloom file for region ${r.kr}"))
    assert(java.nio.file.Files.exists(bd.resolve("_meta")))
    // A GET must read bloom bytes for ONLY the regions its range
    // candidacy selects — O(probed regions) driver residency, not
    // O(table).
    val candidates = Seq(5L, 77L).flatMap(k => rm.holdingIdx(k)).distinct.size
    val r0 = KeyedStore.bloomFileReads.get()
    assert(KeyedStore.get(spark, name, "k", Seq(5L, 77L)).count() == 2)
    val readsFirst = KeyedStore.bloomFileReads.get() - r0
    assert(readsFirst <= candidates && readsFirst < rm.regions.size,
      s"GET read $readsFirst bloom files for $candidates candidate regions " +
        s"of ${rm.regions.size} total")
    // Repeated probes are served from the bloom cache (zero new file
    // reads) and ONE cached sidecar parse across calls.
    val p0 = KeyedStore.sidecarParses.get()
    val r1 = KeyedStore.bloomFileReads.get()
    (1 to 3).foreach(_ =>
      assert(KeyedStore.get(spark, name, "k", Seq(5L, 77L)).count() == 2))
    assert(KeyedStore.bloomFileReads.get() == r1, "bloom cache missed")
    assert(KeyedStore.sidecarParses.get() == p0, "sidecar re-parsed")
    // A merge republishes the sidecar and rewrites the touched region's
    // bloom: the caches invalidate (exactly one fresh parse; fresh bloom
    // bytes only for the touched region).
    KeyedStore.upsert(spark, name, "k", Seq((5L, "U", "v5x")).toDF("k", "op", "v"))
    val p1 = KeyedStore.sidecarParses.get()
    val r2 = KeyedStore.bloomFileReads.get()
    assert(KeyedStore.get(spark, name, "k", Seq(5L, 77L))
      .collect().map(_.getString(1)).toSet == Set("v5x", "v77"))
    assert(KeyedStore.sidecarParses.get() <= p1 + 1)
    assert(KeyedStore.bloomFileReads.get() - r2 <= candidates)
  }

  test("a stale bloom file (older than its region's data) fails OPEN") {
    import spark.implicits._
    val name = "graft_keyed_spec_stale_bloom"
    KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    val reg = rm.regions(rm.coverageIdx(20L))
    // Simulate a crash between the partition overwrite and the bloom
    // refresh: back-date the bloom file behind the region's data dir.
    val bf = KeyedStore.location(spark, name)
      .resolve("_graft_blooms").resolve(s"kr=${reg.kr}")
    java.nio.file.Files.setLastModifiedTime(bf,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(
          KeyedStore.location(spark, name).resolve(s"kr=${reg.kr}"))
          .toMillis - 60000))
    // The stale bloom must NOT be trusted — the region is scanned and
    // the resident key still found (a torn write costs IO, never rows).
    assert(KeyedStore.get(spark, name, "k", Seq(20L))
      .collect().map(_.getString(1)).toSeq == Seq("v20"))
  }

  test("concurrent mergeInto: both writers land, no region lost") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val name = "graft_keyed_spec_fence"
    KeyedStore.create(spark, name,
      (0L until 200L).map(i => (i, 0L)).toDF("k", "n"),
      "k", targetRowsPerRegion = 16)
    def add(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
    // Two writers, overlapping key sets, racing on the SAME table: the
    // writer lock serializes read→merge→overwrite→sidecar, so both
    // increments survive (without fencing one writer's regions are
    // silently lost to the interleave).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(KeyedStore.mergeInto(spark, name, "k",
      (0L until 100L).map(i => (i, 1L)).toDF("k", "n"), add).count())
    val fb = Future(KeyedStore.mergeInto(spark, name, "k",
      (50L until 150L).map(i => (i, 10L)).toDF("k", "n"), add).count())
    Await.result(fa, 300.seconds)
    Await.result(fb, 300.seconds)
    val byK = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK.size == 200)
    (0L until 200L).foreach { k =>
      val want = (if (k < 100) 1L else 0L) + (if (k >= 50 && k < 150) 10L else 0L)
      assert(byK(k) == want, s"k=$k got ${byK(k)} want $want")
    }
    // Region directory consistent with the data after the race.
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.map(_.rows).sum == 200)
  }

  test("chunked region directory: 1-key merge reads/writes O(touched chunks), flat at 20x regions") {
    import spark.implicits._
    val prevChunk = KeyedStore.RegionDirChunkTarget
    KeyedStore.RegionDirChunkTarget = 8
    try {
      // (chunk bytes written, list bytes, chunk bytes a previous-version
      // reader re-reads) for ONE 1-key merge at ~n/4 regions.
      def oneKeyMerge(n: Long): (Long, Long, Long) = {
        val name = "graft_keyed_spec_chunkdir"
        KeyedStore.create(spark, name,
          (0L until n).map(i => (i, 0L)).toDF("k", "n"), "k",
          targetRowsPerRegion = 4)
        val sidecar = KeyedStore.location(spark, name).resolve("_graft_regions")
        assert(java.nio.file.Files.readAllLines(sidecar).get(0)
          .startsWith("#krlist"), "directory did not chunk")
        // Cold-load once so the immutable-chunk cache holds the current
        // chunks (a long-lived reader's steady state).
        KeyedStore.invalidateDirCache(spark, name)
        assert(KeyedStore.get(spark, name, "k", Seq(0L)).count() == 1)
        val w0 = KeyedStore.sidecarBytesWritten.get()
        // INSERT a fresh key: the boundary region's row count changes, so
        // exactly one directory entry (one chunk) must rewrite. (A pure
        // value UPDATE leaves stats identical and rewrites zero chunks —
        // also correct, but it wouldn't exercise the chunk path.)
        KeyedStore.mergeInto(spark, name, "k",
          Seq((n + 999L, 5L)).toDF("k", "n"),
          (a, b) => a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n")))
        val written = KeyedStore.sidecarBytesWritten.get() - w0
        val listBytes = java.nio.file.Files.size(sidecar)
        // A reader that saw the previous version re-reads the list + ONLY
        // the rewritten chunks (immutable names serve the rest from cache).
        KeyedStore.invalidateDirCache(spark, name)
        val r0 = KeyedStore.sidecarBytesRead.get()
        assert(KeyedStore.get(spark, name, "k", Seq(n + 999L))
          .collect().head.getLong(1) == 5L)
        val read = KeyedStore.sidecarBytesRead.get() - r0
        KeyedStore.drop(spark, name)
        (written - listBytes, listBytes, read - listBytes)
      }
      val (chunkW1, list1, chunkR1) = oneKeyMerge(64)     // ~16 regions, 2 chunks
      val (chunkW20, list20, chunkR20) = oneKeyMerge(1280) // ~320 regions, 40 chunks
      // The chunk component — the O(regions) term in a flat design — must
      // stay FLAT as regions grow 20x; only the list (one ~40-byte line
      // per chunk) grows, and it stays far below the full directory.
      assert(chunkW20 <= 3 * math.max(1L, chunkW1),
        s"chunk bytes written not flat: $chunkW1 -> $chunkW20")
      assert(chunkR20 <= 3 * math.max(1L, chunkR1),
        s"chunk bytes re-read not flat: $chunkR1 -> $chunkR20")
      assert(list20 < 20L * 320 * 2, s"list unexpectedly large: $list20 B")
      assert(list1 > 0 && chunkW1 > 0)
    } finally KeyedStore.RegionDirChunkTarget = prevChunk
  }

  test("chunked region directory survives split/merge/rebalance; flat<->list transitions exact") {
    import spark.implicits._
    val prevChunk = KeyedStore.RegionDirChunkTarget
    KeyedStore.RegionDirChunkTarget = 4
    try {
      val name = "graft_keyed_spec_chunklife"
      // 64 keys / target 8 -> 8 regions -> 2 chunks (list format).
      KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 8)
      val sidecar = KeyedStore.location(spark, name).resolve("_graft_regions")
      assert(java.nio.file.Files.readAllLines(sidecar).get(0)
        .startsWith("#krlist"))
      // Insert-heavy boundary growth forces an automatic SPLIT (fresh kr
      // ids inserted mid-key-order): the chunked directory must route and
      // record them exactly.
      KeyedStore.upsert(spark, name, "k",
        (1000L until 1040L).map(k => (k, "I", s"v$k")).toDF("k", "op", "v"))
      assert(spark.table(name).count() == 104)
      assert(KeyedStore.get(spark, name, "k", Seq(5L, 1005L))
        .collect().map(_.getString(1)).toSet == Set("v5", "v1005"))
      // Delete most rows, then normalize: regions coalesce, the directory
      // SHRINKS back below the chunk threshold (list -> flat transition).
      KeyedStore.upsert(spark, name, "k",
        ((0L until 64L) ++ (1000L until 1036L)).map(k => (k, "D", "x"))
          .toDF("k", "op", "v"))
      KeyedStore.mergeSmallRegions(spark, name, "k")
      val rm = KeyedStore.readRegions(spark, name)
      assert(rm.regions.size <= KeyedStore.RegionDirChunkTarget)
      assert(!java.nio.file.Files.readAllLines(sidecar).get(0)
        .startsWith("#krlist"), "directory did not fall back to flat")
      assert(spark.table(name).collect().map(_.getLong(0)).toSet ==
        (1036L until 1040L).toSet)
      // And back up: rebalance against regrowth re-chunks.
      KeyedStore.upsert(spark, name, "k",
        (0L until 64L).map(k => (k, "I", s"w$k")).toDF("k", "op", "v"))
      KeyedStore.rebalance(spark, name, "k", targetRowsPerRegion = 8)
      assert(java.nio.file.Files.readAllLines(sidecar).get(0)
        .startsWith("#krlist"))
      assert(KeyedStore.get(spark, name, "k", Seq(63L))
        .collect().map(_.getString(1)).toSeq == Seq("w63"))
      assert(spark.table(name).count() == 68)
      KeyedStore.drop(spark, name)
    } finally KeyedStore.RegionDirChunkTarget = prevChunk
  }

  test("disjoint-region mergeIntos run CONCURRENTLY (latch-proven); both land") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val name = "graft_keyed_spec_disjoint"
    KeyedStore.create(spark, name,
      (0L until 200L).map(i => (i, 0L)).toDF("k", "n"),
      "k", targetRowsPerRegion = 16)
    // Each writer's merge callback (driver-side, run while its region
    // locks are held) waits for the PEER to enter its own merge: if the
    // writers still serialized on a table mutex, neither peer could
    // enter while the other held it, both awaits would time out, and
    // the test fails — genuine overlap is the only way through.
    val gateA = new java.util.concurrent.CountDownLatch(1)
    val gateB = new java.util.concurrent.CountDownLatch(1)
    def add(mine: java.util.concurrent.CountDownLatch,
            other: java.util.concurrent.CountDownLatch)
           (a: DataFrame, b: DataFrame): DataFrame = {
      mine.countDown()
      assert(other.await(90, java.util.concurrent.TimeUnit.SECONDS),
        "peer writer never entered its merge — writers serialized")
      a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
    }
    // Keys 0-9 and 190-199 live at opposite ends of the key space:
    // disjoint touched-region sets.
    val fa = Future(KeyedStore.mergeInto(spark, name, "k",
      (0L until 10L).map(i => (i, 1L)).toDF("k", "n"), add(gateA, gateB)).count())
    val fb = Future(KeyedStore.mergeInto(spark, name, "k",
      (190L until 200L).map(i => (i, 10L)).toDF("k", "n"), add(gateB, gateA)).count())
    Await.result(fa, 300.seconds)
    Await.result(fb, 300.seconds)
    val byK = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK.size == 200)
    (0L until 200L).foreach { k =>
      val want = (if (k < 10) 1L else 0L) + (if (k >= 190) 10L else 0L)
      assert(byK(k) == want, s"k=$k got ${byK(k)} want $want")
    }
    // Directory consistent after concurrent sidecar read-modify-writes.
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.map(_.rows).sum == 200)
    KeyedStore.drop(spark, name)
  }

  test("a writer blocked on a contended region does NOT obstruct disjoint writers") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val name = "graft_keyed_spec_backoff"
    KeyedStore.create(spark, name,
      (0L until 200L).map(i => (i, 0L)).toDF("k", "n"),
      "k", targetRowsPerRegion = 16)
    // A holds key 0's region lock inside its merge; B wants the SAME
    // region and must wait in admission — while it waits it must hold
    // NOTHING (the round-8 code parked B's wait INSIDE the table mutex,
    // so a disjoint C queued behind B behind A). C (opposite end of the
    // key space) must complete while B is still blocked.
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    def addA(a: DataFrame, b: DataFrame): DataFrame = {
      aEntered.countDown()
      assert(aRelease.await(120, java.util.concurrent.TimeUnit.SECONDS))
      a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
    }
    def add(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
    val fa = Future(KeyedStore.mergeInto(spark, name, "k",
      Seq((0L, 1L)).toDF("k", "n"), addA).count())
    assert(aEntered.await(120, java.util.concurrent.TimeUnit.SECONDS))
    val fb = Future(KeyedStore.mergeInto(spark, name, "k",
      Seq((0L, 100L)).toDF("k", "n"), add).count())
    Thread.sleep(1500) // B reaches admission and starts backing off
    assert(!fb.isCompleted, "B finished while A held its region lock")
    val t0 = System.currentTimeMillis()
    Await.result(Future(KeyedStore.mergeInto(spark, name, "k",
      (190L until 200L).map(i => (i, 10L)).toDF("k", "n"), add).count()),
      120.seconds)
    val cMs = System.currentTimeMillis() - t0
    assert(!fb.isCompleted, s"B finished before A released (after ${cMs}ms)")
    aRelease.countDown()
    Await.result(fa, 300.seconds)
    Await.result(fb, 300.seconds)
    val byK = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK(0L) == 101L, s"A+B must both land on k=0: ${byK(0L)}")
    (190L until 200L).foreach(k => assert(byK(k) == 10L))
    KeyedStore.drop(spark, name)
  }

  test("a WIDE writer (fanout-cap fallback) is fenced when its table mutex is usurped") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val name = "graft_keyed_spec_widefence"
    KeyedStore.create(spark, name,
      (0L until 200L).map(i => (i, 0L)).toDF("k", "n"), "k",
      targetRowsPerRegion = 16)
    val lock = KeyedStore.location(spark, name)
      .resolveSibling(name + ".graft-lock")
    val prevBeat = KeyedStore.LockHeartbeatMs
    val prevCap = KeyedStore.RegionLockFanoutCap
    KeyedStore.LockHeartbeatMs = 100L
    KeyedStore.RegionLockFanoutCap = 2
    try {
      // Batch spans >cap regions → the writer keeps the TABLE mutex
      // (structural-grade exclusion) instead of per-region locks. A
      // usurper of THAT mutex must fence it exactly like the region
      // path — the wide writer can never report a clean result.
      def usurpingMerge(a: DataFrame, b: DataFrame): DataFrame = {
        java.nio.file.Files.write(lock, "usurper-token".getBytes("UTF-8"))
        Thread.sleep(600)
        a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
      }
      val ex = intercept[IllegalStateException] {
        KeyedStore.mergeInto(spark, name, "k",
          Seq((0L, 1L), (100L, 1L), (199L, 1L)).toDF("k", "n"),
          usurpingMerge)
      }
      assert(ex.getMessage.contains("fenced"), s"wrong failure: $ex")
    } finally {
      KeyedStore.LockHeartbeatMs = prevBeat
      KeyedStore.RegionLockFanoutCap = prevCap
      java.nio.file.Files.deleteIfExists(lock)
      KeyedStore.drop(spark, name)
    }
  }

  test("region-directory chunk cache is bounded (orphan chunks can't grow it forever)") {
    import spark.implicits._
    val name = "graft_keyed_spec_chunkcap"
    val prevChunk = KeyedStore.RegionDirChunkTarget
    val prevCap = KeyedStore.RegionChunkCacheCap
    KeyedStore.RegionDirChunkTarget = 4
    KeyedStore.RegionChunkCacheCap = 8
    try {
      KeyedStore.create(spark, name,
        (0L until 320L).map(i => (i, 0L)).toDF("k", "n"),
        "k", targetRowsPerRegion = 16) // ~20 regions → ~5 chunks
      // Every merge rewrites >=1 chunk under a FRESH uuid name; without
      // the cap the cache would hold every generation ever read.
      (1 to 12).foreach { g =>
        KeyedStore.invalidateDirCache(spark, name)
        KeyedStore.mergeInto(spark, name, "k",
          Seq((5L * g, 1L)).toDF("k", "n"),
          (a, b) => a.unionByName(b).groupBy(col("k"))
            .agg(sum(col("n")).as("n")))
      }
      assert(KeyedStore.regionChunkCacheSize <= KeyedStore.RegionChunkCacheCap,
        s"chunk cache grew past the cap: ${KeyedStore.regionChunkCacheSize}")
    } finally {
      KeyedStore.RegionDirChunkTarget = prevChunk
      KeyedStore.RegionChunkCacheCap = prevCap
      KeyedStore.drop(spark, name)
    }
  }

  test("a writer whose region lock is usurped mid-write is FENCED, not silently clean") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val name = "graft_keyed_spec_fencedwriter"
    KeyedStore.create(spark, name,
      (0L until 32L).map(i => (i, 0L)).toDF("k", "n"), "k",
      targetRowsPerRegion = 8)
    val rm = KeyedStore.readRegions(spark, name)
    val kr = rm.regions(rm.coverageIdx(0L)).kr
    val lock = KeyedStore.location(spark, name)
      .resolveSibling(name + s".region-$kr.graft-lock")
    val prevBeat = KeyedStore.LockHeartbeatMs
    KeyedStore.LockHeartbeatMs = 100L
    try {
      def usurpingMerge(a: DataFrame, b: DataFrame): DataFrame = {
        // Simulate a claimant that mis-judged this writer stale and took
        // the lock: foreign token, no parked aside to reclaim.
        java.nio.file.Files.write(lock, "usurper-token".getBytes("UTF-8"))
        Thread.sleep(600) // several heartbeats: detection must fire
        a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
      }
      val ex = intercept[IllegalStateException] {
        KeyedStore.mergeInto(spark, name, "k",
          Seq((0L, 1L)).toDF("k", "n"), usurpingMerge)
      }
      assert(ex.getMessage.contains("fenced"), s"wrong failure: $ex")
    } finally {
      KeyedStore.LockHeartbeatMs = prevBeat
      java.nio.file.Files.deleteIfExists(lock)
      KeyedStore.drop(spark, name)
    }
  }

  test("a lock moved aside by a mis-judging claimant is reclaimed by the holder's heartbeat") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val name = "graft_keyed_spec_parked"
    KeyedStore.create(spark, name,
      (0L until 32L).map(i => (i, 0L)).toDF("k", "n"), "k",
      targetRowsPerRegion = 8)
    val rm = KeyedStore.readRegions(spark, name)
    val kr = rm.regions(rm.coverageIdx(0L)).kr
    val lock = KeyedStore.location(spark, name)
      .resolveSibling(name + s".region-$kr.graft-lock")
    val aside = lock.resolveSibling(
      lock.getFileName.toString + ".takeover-claimantx")
    val prevBeat = KeyedStore.LockHeartbeatMs
    KeyedStore.LockHeartbeatMs = 100L
    try {
      def parkingMerge(a: DataFrame, b: DataFrame): DataFrame = {
        // A claimant moved the live lock aside (the takeover protocol's
        // first step) and crashed before restoring: the PARKED file still
        // carries this writer's token, and the heartbeat must move it
        // back rather than fence.
        java.nio.file.Files.move(lock, aside,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(600)
        assert(java.nio.file.Files.exists(lock), "heartbeat did not reclaim")
        assert(!java.nio.file.Files.exists(aside), "parked aside left behind")
        a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
      }
      // Completes CLEANLY — ownership was recovered, not lost.
      KeyedStore.mergeInto(spark, name, "k",
        Seq((0L, 5L)).toDF("k", "n"), parkingMerge)
      assert(KeyedStore.get(spark, name, "k", Seq(0L))
        .collect().head.getLong(1) == 5L)
    } finally {
      KeyedStore.LockHeartbeatMs = prevBeat
      java.nio.file.Files.deleteIfExists(aside)
      KeyedStore.drop(spark, name)
    }
  }

  test("takeover never destroys a successor's fresh lock: restore, or park intact") {
    // The claimant observed token 'dead' stale, but by move time a
    // successor 'succ' holds a FRESH lock (release + re-acquire raced in
    // between). The takeover must put 'succ' back — and when a third
    // claimant occupies the path first, PARK the aside rather than
    // delete it (the pre-round-8 delete destroyed the successor's mutex
    // while it believed it held it).
    val dir = tempDir("graft_takeover")
    val p = dir.resolve("t.graft-lock")
    def content(q: java.nio.file.Path) =
      new String(java.nio.file.Files.readAllBytes(q), "UTF-8")
    // Case 1: free path — restore succeeds.
    java.nio.file.Files.write(p, "succ".getBytes("UTF-8"))
    KeyedStore.takeover(p, "claimant1", "dead")
    assert(java.nio.file.Files.exists(p) && content(p) == "succ",
      "fresh successor lock was not restored")
    // Case 2: a third claimant races the path. Whatever interleaving the
    // race takes, the successor's token must SURVIVE — on the path or in
    // a parked aside — never be deleted.
    @volatile var done = false
    val third = new Thread(() => {
      while (!done) {
        try java.nio.file.Files.write(p, "third".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        catch { case _: java.io.IOException => () }
      }
    })
    third.start()
    try KeyedStore.takeover(p, "claimant2", "dead")
    finally { done = true; third.join() }
    import scala.jdk.CollectionConverters._
    val asides = scala.util.Using.resource(
      java.nio.file.Files.list(dir)) { s =>
      s.iterator().asScala.filter(
        _.getFileName.toString.contains(".takeover-")).toSeq
    }
    val survivors = (Seq(p) ++ asides).filter(java.nio.file.Files.exists(_))
      .map(content)
    assert(survivors.contains("succ"),
      s"successor token destroyed; survivors: $survivors")
  }

  test("a crashed writer's stale lock is reclaimed; a fresh foreign lock blocks") {
    import spark.implicits._
    val name = "graft_keyed_spec_stalelock"
    KeyedStore.create(spark, name, mkRows(32), "k", targetRowsPerRegion = 16)
    // Simulate a CRASHED holder: a lock file with a foreign token whose
    // heartbeat stopped 2 minutes ago. The next writer must take over
    // (token-verified move-aside) instead of waiting out LockWaitMs.
    val lock = KeyedStore.location(spark, name)
      .resolveSibling(name + ".graft-lock")
    java.nio.file.Files.write(lock, "dead-writer-token".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000))
    val t0 = System.nanoTime()
    KeyedStore.upsert(spark, name, "k", Seq((5L, "U", "v5x")).toDF("k", "op", "v"))
    assert((System.nanoTime() - t0) / 1e9 < 60, "takeover did not engage")
    assert(KeyedStore.get(spark, name, "k", Seq(5L))
      .collect().map(_.getString(1)).toSeq == Seq("v5x"))
    // And the lock was released (token-guarded delete of our own lock).
    assert(!java.nio.file.Files.exists(lock))
  }

  test("full-table delete then region merge: directory keeps a sentinel; inserts still route") {
    import spark.implicits._
    val name = "graft_keyed_spec_wipeout"
    KeyedStore.create(spark, name, mkRows(48), "k", targetRowsPerRegion = 16)
    KeyedStore.upsert(spark, name, "k",
      (0L until 48L).map(k => (k, "D", "x")).toDF("k", "op", "v"))
    // Every region is rows=0: the normalizer would coalesce them into
    // one all-empty bin and (without the sentinel) persist an EMPTY
    // directory — breaking krCol/coverage/maybeSplit forever after.
    KeyedStore.mergeSmallRegions(spark, name, "k")
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.nonEmpty, "region directory went empty")
    assert(spark.table(name).count() == 0)
    // The store still works: inserts route through the sentinel's
    // coverage, GET resolves them.
    KeyedStore.upsert(spark, name, "k",
      Seq((7L, "I", "v7"), (900L, "I", "v900")).toDF("k", "op", "v"))
    assert(KeyedStore.get(spark, name, "k", Seq(7L, 900L))
      .collect().map(_.getString(1)).toSet == Set("v7", "v900"))
  }

  test("repair reclaims an orphan partition left by a crashed maintenance pass") {
    import spark.implicits._
    val name = "graft_keyed_spec_repair"
    KeyedStore.create(spark, name, mkRows(64), "k", targetRowsPerRegion = 16)
    // Simulate the crash window of a split/merge: a partition exists in
    // the catalog but the (already-published) directory doesn't list it.
    Seq((9999L, "orphan")).toDF("k", "v")
      .withColumn("kr", lit(999))
      .write.mode("append").format("parquet").insertInto(name)
    assert(spark.sql(s"SHOW PARTITIONS $name").collect()
      .exists(_.getString(0) == "kr=999"))
    // ...and a commit that crashed before publishing its staged blooms.
    val stage = KeyedStore.location(spark, name)
      .resolveSibling(name + ".bloom-stage-crashed")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.write(stage.resolve("kr=0"), Array[Byte](1, 2, 3))
    assert(KeyedStore.repair(spark, name) == 1)
    assert(!java.nio.file.Files.exists(stage))
    assert(!spark.sql(s"SHOW PARTITIONS $name").collect()
      .exists(_.getString(0) == "kr=999"))
    assert(spark.table(name).count() == 64)
    assert(KeyedStore.get(spark, name, "k", Seq(5L)).count() == 1)
  }

  test("getBatch: DataFrame key set prunes to holding regions; no literal IN-list") {
    import spark.implicits._
    val name = "graft_keyed_spec_multiget"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    // Clustered key set (two regions' worth) + absents: the scan prunes
    // to the holding regions and the keys join back as data.
    val keys = ((10L to 25L) ++ Seq(5000L, 6000L)).toDF("k")
    val got = KeyedStore.getBatch(spark, name, "k", keys)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == (10L to 25L))
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("kr#"), p.take(3000))
    // The key set is a JOIN, not literals: no giant In(k, ...) in the plan.
    assert(!p.contains("In(k,"), p.take(3000))
    val hit = "kr#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
      .map(_.group(1).split(",").length)
    assert(hit.exists(_ < rm.regions.size), s"pruned $hit of ${rm.regions.size}")
  }

  test("SQL region pruning: key predicates in spark.sql text prune kr partitions") {
    val name = "graft_keyed_spec_sql"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.size >= 8)
    // Range predicate in RAW SQL — no KeyedStore API call: the optimizer
    // rule derives kr candidates from the region directory; Spark turns
    // them into PartitionFilters and pushes the key range into parquet.
    val ranged = spark.sql(
      s"SELECT k, v FROM $name WHERE k BETWEEN 50 AND 80 ORDER BY k")
    assert(ranged.collect().map(_.getLong(0)).toSeq == (50L to 80L))
    val p1 = ranged.queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters: [") && p1.contains("kr#"), p1.take(3000))
    assert(p1.contains("GreaterThanOrEqual(k,50)") &&
      p1.contains("LessThanOrEqual(k,80)"), p1.take(3000))
    // The injected prune list is the range's regions, not the table.
    val expect = rm.rangeIdx(50L, 80L).map(i => rm.regions(i).kr).toSet
    val scanned = "kr#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(p1)
      .map(_.group(1).split(",").map(_.trim.toInt).toSet)
    assert(scanned.contains(expect), s"pruned to $scanned, want $expect\n${p1.take(2000)}")
    // Equality probe for an ABSENT key: range candidacy + bloom reject →
    // zero partitions scanned, straight from SQL text.
    val miss = spark.sql(s"SELECT v FROM $name WHERE k = 5000")
    assert(miss.count() == 0)
    val p2 = miss.queryExecution.executedPlan.toString
    assert(!p2.contains("Scan parquet") || p2.contains("PartitionFilters: [false]")
      || p2.contains("LocalTableScan"), p2.take(2000))
    // Present-key equality still answers (bloom has no false negatives),
    // and composes with unrelated predicates.
    val hit = spark.sql(
      s"SELECT v FROM $name WHERE k = 77 AND length(v) > 0")
    assert(hit.collect().map(_.getString(0)).toSeq == Seq("v77"))
    val p3 = hit.queryExecution.executedPlan.toString
    assert(p3.contains("PartitionFilters: [") && p3.contains("kr#"), p3.take(2000))
    // A query with NO key predicate is untouched (no spurious prune).
    val full = spark.sql(s"SELECT count(*) AS n FROM $name WHERE length(v) > 1")
    assert(full.collect().head.getLong(0) == 200L)
    // Disjunctions prune to the UNION of each branch's regions (HBase's
    // MultiRowRangeFilter shape): range ∪ present probe ∪ bloom-rejected
    // absent probe.
    val or = spark.sql(
      s"SELECT k FROM $name WHERE (k BETWEEN 50 AND 60) OR k IN (150, 5000) ORDER BY k")
    assert(or.collect().map(_.getLong(0)).toSeq == ((50L to 60L) :+ 150L))
    val p4 = or.queryExecution.executedPlan.toString
    val orScan = "kr#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(p4)
      .map(_.group(1).split(",").map(_.trim.toInt).toSet)
    val orWant = rm.rangeIdx(50L, 60L).map(i => rm.regions(i).kr).toSet ++
      rm.holdingIdx(150L).map(i => rm.regions(i).kr)
    assert(orScan.exists(_.subsetOf(orWant)), s"got $orScan want ⊆ $orWant")
  }

  test("SQL JOIN pruning: store JOIN probe-keys prunes regions via DPP, no API call") {
    import spark.implicits._
    val name = "graft_keyed_spec_sqljoin"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.size >= 8)
    // Probe keys are DATA (a filtered FILE relation, so the selective
    // filter survives to the optimized plan — a local relation would be
    // constant-folded and Spark's DPP requires a filter to key on), not
    // literals: the multiGet shape from raw SQL. Low key range so the
    // dynamic prune has regions to cut.
    val probeDir = tempDir("graft_sqljoin_probe").toString
    (0L until 200L).toDF("pk").write.mode("overwrite").parquet(probeDir)
    spark.read.parquet(probeDir).createOrReplaceTempView("graft_sqljoin_probe")
    val joined = spark.sql(
      s"""SELECT s.k, s.v FROM $name s
         |JOIN (SELECT pk FROM graft_sqljoin_probe
         |      WHERE pk % 7 = 0 AND pk <= 40) p
         |  ON s.k = p.pk ORDER BY s.k""".stripMargin)
    assert(joined.collect().map(_.getLong(0)).toSeq ==
      (0L to 40L by 7L).toSeq)
    val p = joined.queryExecution.executedPlan.toString
    // The rewrite handed the region mapping to Spark's own DPP: the
    // store scan's PartitionFilters carry a dynamic pruning expression
    // on kr (runtime prune reusing the join's broadcast).
    assert(p.contains("dynamicpruningexpression"), p.take(4000))
    assert(p.contains("__graft_kr"), p.take(4000))
    // Runtime evidence: the store scan read FEWER partitions than the
    // table has regions (probe keys live in the low-key regions only).
    val scans = joined.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    }.flatten
    val storeScan = scans.find(_.metadata.get("Location")
      .exists(_.contains(name)))
    storeScan.foreach { sc =>
      val read = sc.metrics.get("numPartitions").map(_.value)
      assert(read.forall(_ < rm.regions.size),
        s"expected a runtime prune: read $read of ${rm.regions.size} regions")
    }
    // LEFT SEMI (store on the left) rewrites the same way.
    val semi = spark.sql(
      s"""SELECT s.k FROM $name s LEFT SEMI JOIN
         |(SELECT pk FROM graft_sqljoin_probe WHERE pk % 7 = 0 AND pk <= 40) p
         |  ON s.k = p.pk ORDER BY s.k""".stripMargin)
    assert(semi.collect().map(_.getLong(0)).toSeq == (0L to 40L by 7L).toSeq)
    assert(semi.queryExecution.optimizedPlan.toString.contains("__graft_kr"),
      semi.queryExecution.optimizedPlan.toString.take(3000))
    // LEFT ANTI must NOT be rewritten (extra conjuncts would WIDEN the
    // keep set — wrong); result equals the plain anti join.
    val anti = spark.sql(
      s"""SELECT count(*) AS n FROM $name s LEFT ANTI JOIN
         |(SELECT pk FROM graft_sqljoin_probe WHERE pk % 7 = 0 AND pk <= 40) p
         |  ON s.k = p.pk""".stripMargin)
    assert(!anti.queryExecution.optimizedPlan.toString.contains("__graft_kr"))
    assert(anti.collect().head.getLong(0) == 200L - (0L to 40L by 7L).size)
  }

  test("SQL JOIN pruning: store on the RIGHT side and string-keyed stores") {
    import spark.implicits._
    // Store on the right of the join (probe first in the FROM list).
    val name = "graft_keyed_spec_sqljoin_right"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val probeDir = tempDir("graft_sqljoin_r").toString
    (0L until 200L).toDF("pk").write.mode("overwrite").parquet(probeDir)
    spark.read.parquet(probeDir).createOrReplaceTempView("graft_right_probe")
    val joined = spark.sql(
      s"""SELECT s.k, s.v FROM
         |(SELECT pk FROM graft_right_probe WHERE pk % 9 = 0 AND pk <= 30) p
         |JOIN $name s ON p.pk = s.k ORDER BY s.k""".stripMargin)
    assert(joined.collect().map(_.getLong(0)).toSeq == Seq(0L, 9L, 18L, 27L))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_kr"),
      joined.queryExecution.optimizedPlan.toString.take(3000))
    // String-keyed store: the rewrite's bucket search runs over the
    // lexicographic directory (StringBoundaryBucket + closure literal).
    val sname = "graft_keyed_spec_sqljoin_str"
    val rows = (0 until 160).map(i => (f"key$i%03d", i)).toDF("rk", "n")
    KeyedStore.create(spark, sname, rows, "rk", targetRowsPerRegion = 16)
    (40 until 50).map(i => f"key$i%03d").toDF("prk")
      .write.mode("overwrite").parquet(probeDir + "_s")
    spark.read.parquet(probeDir + "_s")
      .createOrReplaceTempView("graft_str_probe")
    val sj = spark.sql(
      s"""SELECT s.rk, s.n FROM $sname s
         |JOIN (SELECT prk FROM graft_str_probe WHERE prk >= 'key045') p
         |  ON s.rk = p.prk ORDER BY s.rk""".stripMargin)
    assert(sj.collect().map(_.getInt(1)).toSeq == (45 to 49))
    assert(sj.queryExecution.optimizedPlan.toString.contains("__graft_kr"),
      sj.queryExecution.optimizedPlan.toString.take(3000))
    KeyedStore.drop(spark, name)
    KeyedStore.drop(spark, sname)
  }

  test("SQL JOIN pruning is straddle-safe: residence != coverage still matches") {
    import spark.implicits._
    val name = "graft_keyed_spec_sqljoin_straddle"
    // Straddle can't be manufactured through create (repartitionByRange
    // keeps equal keys together) — it arises when directory BOUNDS
    // drift to overlap (the contract holdingIdx/expandTouched defend
    // everywhere else). Simulate exactly that: after a normal create,
    // rewrite the sidecar so region i+1's min DROPS to region i's max —
    // the boundary key's COVERAGE region becomes i+1 while its rows
    // RESIDE in i. A coverage-only equi-conjunct would prune the row's
    // real home away; the holding-closure explode must keep it.
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm0 = KeyedStore.readRegions(spark, name)
    assert(rm0.regions.size >= 8)
    val i = rm0.regions.size / 2
    val boundaryKey = rm0.regions(i - 1).max.asInstanceOf[Long]
    val keyB64 = java.util.Base64.getEncoder.encodeToString("k".getBytes)
    val lines = s"long,16,$keyB64" +: rm0.regions.zipWithIndex.map {
      case (r, j) =>
        val mn = if (j == i) boundaryKey else r.min.asInstanceOf[Long]
        s"${r.kr},${r.rows},$mn,${r.max.asInstanceOf[Long]}"
    }
    java.nio.file.Files.write(
      KeyedStore.location(spark, name).resolve("_graft_regions"),
      lines.mkString("\n").getBytes("UTF-8"))
    KeyedStore.invalidateDirCache(spark, name)
    val rm = KeyedStore.readRegions(spark, name)
    // The boundary key now straddles: coverage is region i, residence i-1.
    assert(rm.holdingIdx(boundaryKey).size > 1)
    val cov = rm.coverageIdx(boundaryKey)
    assert(rm.holdingClosures(cov).size > 1,
      s"closure of $cov must span the straddle: ${rm.holdingClosures(cov)}")
    val probeDir = tempDir("graft_straddle_probe").toString
    Seq(boundaryKey, boundaryKey + 1)
      .toDF("pk").write.mode("overwrite").parquet(probeDir)
    spark.read.parquet(probeDir)
      .createOrReplaceTempView("graft_straddle_probe")
    val joined = spark.sql(
      s"""SELECT s.k, s.v FROM $name s
         |JOIN (SELECT pk FROM graft_straddle_probe WHERE pk >= 0) p
         |  ON s.k = p.pk ORDER BY s.k""".stripMargin)
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_kr"))
    // Both keys found, exactly once each — the row resident BELOW its
    // coverage region survives the prune, and no key is duplicated by
    // the explode (distinct kr copies match disjoint store rows).
    assert(joined.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((boundaryKey, s"v$boundaryKey"),
          (boundaryKey + 1, s"v${boundaryKey + 1}")))
  }

  test("SQL region pruning handles string keys (lexicographic directory)") {
    import spark.implicits._
    val name = "graft_keyed_spec_sqlstr"
    val rows = (0 until 160).map(i => (f"key$i%03d", i)).toDF("rk", "n")
    KeyedStore.create(spark, name, rows, "rk", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.size >= 8)
    val got = spark.sql(
      s"SELECT rk, n FROM $name WHERE rk BETWEEN 'key050' AND 'key060' ORDER BY rk")
    assert(got.collect().map(_.getInt(1)).toSeq == (50 to 60))
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("kr#"), p.take(3000))
    val scanned = "kr#\\d+ IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
      .orElse("kr#\\d+ = (\\d+)".r.findFirstMatchIn(p))
    assert(scanned.nonEmpty, s"no kr prune in plan:\n${p.take(2000)}")
    // Equality probe on an absent string key: bloom-rejected, no scan.
    val miss = spark.sql(s"SELECT n FROM $name WHERE rk = 'zzz999'")
    assert(miss.count() == 0)
    val p2 = miss.queryExecution.executedPlan.toString
    assert(!p2.contains("Scan parquet") || p2.contains("PartitionFilters: [false]")
      || p2.contains("LocalTableScan"), p2.take(2000))
  }

  test("cloneStore: file-copy clone serves identically through every " +
       "read path and is fully independent of its source") {
    import spark.implicits._
    val name = "graft_keyed_spec_clone_src"
    val cname = "graft_keyed_spec_clone_dst"
    try {
      KeyedStore.create(spark, name, mkRows(200), "k",
        targetRowsPerRegion = 32)
      KeyedStore.cloneStore(spark, name, cname)
      def all(n: String) =
        KeyedStore.scan(spark, n, "k", 0L, Long.MaxValue)
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(all(cname) == all(name))
      // point GET goes through the copied sidecar + blooms
      assert(KeyedStore.get(spark, cname, "k", Seq(7L, 123L))
        .collect().map(_.getString(1)).sorted.toSeq == Seq("v123", "v7"))
      // independence: a clone-side upsert leaves the source untouched
      val srcDig = digests(name)
      KeyedStore.upsert(spark, cname, "k",
        Seq((5L, "NEW", "U")).toDF("k", "v", "op"))
      assert(digests(name) == srcDig, "clone upsert touched the source")
      assert(KeyedStore.get(spark, cname, "k", Seq(5L))
        .head().getString(1) == "NEW")
      assert(KeyedStore.get(spark, name, "k", Seq(5L))
        .head().getString(1) == "v5")
    } finally {
      KeyedStore.drop(spark, name)
      KeyedStore.drop(spark, cname)
    }
  }

  test("create is idempotent across JVMs (stale location, fresh metastore)") {
    val name = "graft_keyed_spec_idem"
    // Simulate the next JVM: fresh metastore (no catalog entry for the
    // name) while the warehouse LOCATION survives from a prior session —
    // a bare CTAS would fail with LOCATION_ALREADY_EXISTS.
    val loc = KeyedStore.location(spark, name)
    java.nio.file.Files.createDirectories(loc)
    java.nio.file.Files.write(loc.resolve("stale-file"), Array[Byte](1, 2, 3))
    KeyedStore.create(spark, name, mkRows(50), "k") // must not throw
    assert(spark.table(name).count() == 50)
    assert(!java.nio.file.Files.exists(loc.resolve("stale-file")))
  }

  /** Region directories (`kr=<id>`) whose parquet files changed. */
  private def changedRegions(before: Map[String, String],
                             after: Map[String, String]): Set[String] =
    (before.keySet ++ after.keySet)
      .filter(p => before.get(p) != after.get(p)).map(_.split("/")(0))

  /** The commit contract after a write that touched `dirs`: each touched
    * region directory holds exactly ONE key-sorted parquet file, every
    * sidecar entry's (rows, min, max) equals a fresh aggregate over the
    * table, and each touched region's bloom bytes equal a fresh
    * `BloomAgg` build over the table's keys. */
  private def assertCommitExact(name: String, dirs: Set[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val root = KeyedStore.location(spark, name)
    dirs.filter(d => java.nio.file.Files.exists(root.resolve(d))).foreach { d =>
      val files = scala.util.Using.resource(java.nio.file.Files.list(root.resolve(d)))(
        _.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList)
      assert(files.size == 1, s"$d holds ${files.size} parquet files")
      val keys = spark.read.parquet(files.head.toString)
        .collect().map(_.getAs[Long]("k")).toSeq
      assert(keys == keys.sorted, s"$d is not key-sorted")
    }
    val fresh = spark.table(name).groupBy(col("kr"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val rm = KeyedStore.readRegions(spark, name)
    val recorded = rm.regions.filter(_.rows > 0).map(r =>
      r.kr -> ((r.rows, r.min.asInstanceOf[Long], r.max.asInstanceOf[Long]))).toMap
    assert(recorded == fresh)
    val bd = root.resolve("_graft_blooms")
    val mBits = new String(java.nio.file.Files.readAllBytes(bd.resolve("_meta")), "UTF-8")
      .split(",")(0).toInt
    val bloom = udaf(new graft.functions.BloomAgg(mBits, KeyedStore.BloomK),
      org.apache.spark.sql.Encoders.scalaLong)
    val freshBlooms = spark.table(name)
      .groupBy(col("kr"))
      .agg(bloom(ops.TextFns.hash60(col("k").cast("string"))).as("b"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("b")).toMap
    dirs.map(_.stripPrefix("kr=").toInt).filter(freshBlooms.contains).foreach { kr =>
      val onDisk = java.nio.file.Files.readAllBytes(bd.resolve(s"kr=$kr"))
      assert(java.util.Arrays.equals(onDisk, freshBlooms(kr)),
        s"bloom of region $kr differs from a fresh build")
    }
  }

  test("commit: one key-sorted file per touched region; fused stats and " +
       "blooms equal a fresh recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val name = "graft_keyed_spec_fused"
    val rows = (0L until 400L).map(i => (i * 2, 10L, s"a$i")).toDF("k", "ts", "v")
    KeyedStore.create(spark, name, rows, "k", targetRowsPerRegion = 32)
    assertCommitExact(name, digests(name).keySet.map(_.split("/")(0)))
    // Upsert across several regions: updates, deletes, inserts between
    // resident keys and past both ends of the key range.
    val before = digests(name)
    val changes = Seq(
      (10L, "U", 20L, "u10"), (12L, "D", 0L, "x"), (301L, "I", 20L, "i301"),
      (402L, "U", 20L, "u402"), (555L, "I", 20L, "i555"), (640L, "D", 0L, "x"),
      (-7L, "I", 20L, "low"), (5000L, "I", 20L, "high"))
      .toDF("k", "op", "ts", "v")
    KeyedStore.upsert(spark, name, "k", changes)
    val upserted = changedRegions(before, digests(name))
    assert(upserted.size >= 4, s"want several touched regions, got $upserted")
    assertCommitExact(name, upserted)
    // mergeInto across several regions under a caller-supplied merge.
    def latest(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy(col("k"))
        .agg(max(struct(col("ts"), col("v"))).as("s"))
        .select(col("k"), col("s.ts").as("ts"), col("s.v").as("v"))
    val before2 = digests(name)
    KeyedStore.mergeInto(spark, name, "k",
      Seq((100L, 30L, "m100"), (333L, 30L, "m333"), (700L, 30L, "m700"),
          (790L, 1L, "stale")).toDF("k", "ts", "v"), latest)
    val merged = changedRegions(before2, digests(name))
    assert(merged.size >= 3, s"want several touched regions, got $merged")
    assertCommitExact(name, merged)
    assert(KeyedStore.get(spark, name, "k", Seq(333L, 790L, 5000L))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(333L -> "m333", 790L -> "a395", 5000L -> "high"))
  }

  test("commit job budget: an all-region and a 1-region upsert") {
    import spark.implicits._
    val name = "graft_keyed_spec_jobs"
    KeyedStore.create(spark, name, mkRows(200), "k", targetRowsPerRegion = 16)
    val rm = KeyedStore.readRegions(spark, name)
    assert(rm.regions.size >= 10)
    // One updated key per region: the commit touches every region.
    val all = rm.regions.map(r => (r.min.asInstanceOf[Long], "U", "w")).toDF("k", "op", "v")
    val one = Seq((5L, "U", "w5")).toDF("k", "op", "v")
    // Pinned: coverage (2: exchange + collect), the exchange's map stage,
    // and the one job that writes the regions and folds their stats. A
    // sampled range exchange, a separate stats pass or a separate write
    // job adds jobs and fails here.
    assert(jobsOf(KeyedStore.upsert(spark, name, "k", all)) == AllRegionUpsertJobs)
    assert(jobsOf(KeyedStore.upsert(spark, name, "k", one)) == OneRegionUpsertJobs)
    assert(KeyedStore.get(spark, name, "k", Seq(5L, rm.regions.last.min))
      .collect().map(_.getString(1)).toSet == Set("w5", "w"))
  }

  private val AllRegionUpsertJobs = 4
  private val OneRegionUpsertJobs = 4

  test("a commit failed mid-publish: repair leaves every key readable exactly once") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val name = "graft_keyed_spec_publish_fault"
    val root = KeyedStore.location(spark, name)
    def names(p: java.nio.file.Path): Seq[String] =
      if (!java.nio.file.Files.isDirectory(p)) Nil
      else scala.util.Using.resource(java.nio.file.Files.list(p))(
        _.iterator().asScala.map(_.getFileName.toString).toList)
    def asides = names(root).filter(_.startsWith("_graft_aside"))
    def staging = names(root.getParent).filter(_.startsWith(name + ".stage-"))
    // Even keys resident; each change updates a region's min key and
    // inserts the odd key after it, so a region is either all old or
    // all new.
    val evens = (0L until 192L by 2)
    Seq("swapped", "aside", "swap-in").foreach { step =>
      KeyedStore.create(spark, name, evens.map(k => (k, s"v$k")).toDF("k", "v"),
        "k", targetRowsPerRegion = 16)
      val mins = KeyedStore.readRegions(spark, name).regions
        .map(_.min.asInstanceOf[Long])
      assert(mins.size >= 4)
      val changes = mins.flatMap(m => Seq((m, "U", "new"), (m + 1, "I", "ins")))
        .toDF("k", "op", "v")
      var fired = false
      KeyedStore.publishFault = s =>
        if (s == step && !fired) { fired = true; throw new RuntimeException(s"fault at $step") }
      val e = try intercept[RuntimeException](KeyedStore.upsert(spark, name, "k", changes))
        finally KeyedStore.publishFault = _ => ()
      assert(e.getMessage == s"fault at $step")
      assert(staging.isEmpty, "the failed commit left its staging")
      // A crash between the two renames leaves the old region aside; a
      // swap-in that throws moves it back, so reads need no repair.
      if (step == "aside") assert(asides.nonEmpty)
      if (step == "swap-in") {
        assert(asides.isEmpty)
        assert(spark.table(name).collect().map(_.getString(1)).sorted.toSeq ==
          evens.map(k => s"v$k").sorted)
      }
      KeyedStore.repair(spark, name)
      assert(asides.isEmpty && staging.isEmpty)
      val rows = spark.table(name).collect().map(r => r.getLong(0) -> r.getString(1))
      val ks = rows.map(_._1)
      assert(ks.distinct.length == ks.length, "a key is readable twice")
      assert(ks.filter(_ % 2 == 0).toSet == evens.toSet)
      // Region by region: the update landed iff the insert did.
      val got = rows.toMap
      mins.foreach(m => assert((got(m) == "new") == got.contains(m + 1), m))
      assert(mins.count(m => got(m) == "new") == (if (step == "swapped") 1 else 0))
      // GET agrees (a swapped region's stale bloom fails open), and the
      // store takes the same upsert cleanly afterwards.
      assert(KeyedStore.get(spark, name, "k", mins ++ mins.map(_ + 1)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ==
        (mins ++ mins.map(_ + 1)).flatMap(k => got.get(k).map(k -> _)).toMap)
      KeyedStore.upsert(spark, name, "k", changes)
      assert(KeyedStore.get(spark, name, "k", mins ++ mins.map(_ + 1)).collect()
        .map(_.getString(1)).sorted.toSeq ==
        (Seq.fill(mins.size)("ins") ++ Seq.fill(mins.size)("new")))
      assert(spark.table(name).count() == evens.size + mins.size)
    }
  }

  test("a create that fails leaves no table, and the next create starts over") {
    import spark.implicits._
    val name = "graft_keyed_spec_create_fault"
    val rows = (0L until 64L).map(k => (k, s"v$k")).toDF("k", "v")
    // Fails in publish, after the region files are written.
    KeyedStore.publishFault = s => if (s == "swapped") throw new RuntimeException("fault")
    try intercept[RuntimeException](
      KeyedStore.create(spark, name, rows, "k", targetRowsPerRegion = 16))
    finally KeyedStore.publishFault = _ => ()
    assert(!KeyedStore.exists(spark, name))
    assert(!java.nio.file.Files.exists(KeyedStore.location(spark, name)))
    // Fails inside a job: the payload column throws on one row.
    val boom = udf((v: String) => if (v == "v40") throw new IllegalStateException("row") else v)
    intercept[Exception](KeyedStore.create(spark, name,
      rows.withColumn("v", boom(col("v"))), "k", targetRowsPerRegion = 16))
    assert(!KeyedStore.exists(spark, name))
    KeyedStore.create(spark, name, rows, "k", targetRowsPerRegion = 16)
    assert(KeyedStore.get(spark, name, "k", Seq(40L)).collect()
      .map(_.getString(1)).toSeq == Seq("v40"))
    assert(spark.table(name).count() == 64)
    KeyedStore.drop(spark, name)
  }
}
