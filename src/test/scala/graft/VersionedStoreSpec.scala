package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** VersionedStore contracts: snapshot isolation (old versions unaffected
  * by commits), FILE-granularity copy-on-write (a 1-key commit rewrites
  * exactly one data file; every sibling is shared byte-identically),
  * optimistic concurrent commits (create-exclusive publish + retry),
  * grace-window vacuum (a pinned reader survives expiry), and the
  * fully-emptied-snapshot schema sentinel.
  */
class VersionedStoreSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private def freshDir() =
    tempDir("graft_vstore_spec").toString

  private def leafDirs(dir: String): Set[String] = {
    val root = Paths.get(dir, "data")
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("kf="))
        .map(p => root.relativize(p).toString).toSet
      finally s.close()
    }
  }

  private def digests(dir: String): Map[String, String] = {
    val root = Paths.get(dir, "data")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString ->
        java.util.Arrays.toString(java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(p))))
      .toMap
    finally s.close()
  }

  test("getAsOf: point-GET reads only the covering leaves, at any version") {
    val dir = freshDir()
    // Small per-file target → many leaves, so skipping is observable.
    ops.VersionedStore.init(spark, dir,
      (0L until 2000L).map(k => (k, k * 10L)).toDF("k", "v"), "k",
      targetRowsPerFile = 64)
    ops.VersionedStore.commit(spark, dir,
      Seq((42L, "U", 99999L), (5000L, "I", 1L), (7L, "D", 0L))
        .toDF("k", "op", "v"), "k")
    val allLeaves = ops.VersionedStore.asOf(spark, dir, 2).inputFiles.length
    assert(allLeaves >= 16, s"fixture should have many leaves: $allLeaves")
    // Values: updated, inserted, surviving, deleted (absent), never-there.
    val got = ops.VersionedStore
      .getAsOf(spark, dir, 2, "k", Seq(42L, 5000L, 3L, 7L, 123456L))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((42L, 99999L), (5000L, 1L), (3L, 30L)))
    // File skipping: 5 probes hash to ≤5 covering LEAVES — the scan's
    // leaf list is O(keys), not O(table) (a leaf dir may hold more than
    // one part file; the unit of skipping is the leaf).
    val gotLeaves = got.inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
    assert(gotLeaves <= 5,
      s"expected ≤5 leaves for 5 probes, got $gotLeaves of $allLeaves files")
    // Time travel composes: at v1 the deleted key is still present and
    // the update hasn't happened.
    val v1 = ops.VersionedStore.getAsOf(spark, dir, 1, "k", Seq(42L, 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1 == Set((42L, 420L), (7L, 70L)))
    // Agreement with the full-scan path under the same predicate.
    val full = ops.VersionedStore.asOf(spark, dir, 2)
      .filter(col("k").isin(42L, 5000L, 3L, 7L, 123456L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("getAsOf rejects fractional numeric keys instead of silently " +
       "truncating them to the wrong leaf") {
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (0L until 100L).map(k => (k, k * 10L)).toDF("k", "v"), "k",
      targetRowsPerFile = 16)
    // Truncating 1.5 → "1" would hash to key 1's leaf and return empty
    // rows for a probe the caller spelled differently — fail fast and
    // point at the asOf escape hatch instead.
    for (bad <- Seq(1.5d, 3.0d, 2.5f, BigDecimal("4.2"),
                    new java.math.BigDecimal("7.0"))) {
      val e = intercept[IllegalArgumentException] {
        ops.VersionedStore.getAsOf(spark, dir, 1, "k", Seq(bad)).collect()
      }
      assert(e.getMessage.contains("fractional numeric key"), s"$bad: $e")
      assert(e.getMessage.contains("asOf("), s"$bad must direct to asOf")
    }
    // Integral and string keys are unaffected (ints widen like the cast).
    assert(ops.VersionedStore.getAsOf(spark, dir, 1, "k", Seq(42L, 7))
      .collect().map(_.getLong(1)).toSet == Set(420L, 70L))
    // A mixed probe list fails whole — no partial silent read.
    intercept[IllegalArgumentException] {
      ops.VersionedStore.getAsOf(spark, dir, 1, "k", Seq(42L, 1.5d)).collect()
    }
  }

  test("snapshot isolation: v1 readable and unchanged after two commits") {
    val dir = freshDir()
    val base = (1L to 200L).map(k => (k, k * 10)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k", targetRowsPerFile = 16)
    val v1Before = ops.VersionedStore.asOf(spark, dir, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Commit 1: update evens; commit 2: delete multiples of 3.
    ops.VersionedStore.commit(spark, dir,
      (2L to 200L by 2).map(k => (k, "U", k * 100)).toDF("k", "op", "v"), "k")
    ops.VersionedStore.commit(spark, dir,
      (3L to 200L by 3).map(k => (k, "D", 0L)).toDF("k", "op", "v"), "k")
    val v1After = ops.VersionedStore.asOf(spark, dir, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1After == v1Before && v1Before.size == 200)
    // v3 reflects both commits: evens updated unless deleted, %3 gone.
    val v3 = ops.VersionedStore.asOf(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 200L).foreach { k =>
      if (k % 3 == 0) assert(!v3.contains(k))
      else if (k % 2 == 0) assert(v3(k) == k * 100)
      else assert(v3(k) == k * 10)
    }
  }

  test("restore: rollback-as-commit shares v1's manifest verbatim, keeps " +
       "history, and the store keeps committing on top") {
    val dir = freshDir()
    val base = (1L to 200L).map(k => (k, k * 10)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k", targetRowsPerFile = 16)
    ops.VersionedStore.commit(spark, dir,
      (2L to 200L by 2).map(k => (k, "U", k * 100)).toDF("k", "op", "v"), "k")
    val leavesBefore = leafDirs(dir)
    val v3 = ops.VersionedStore.restore(dir, toVersion = 1)
    assert(v3 == 3)
    // Zero data rewrite: the restore wrote no new leaf directory, and
    // v3's chunk list IS v1's.
    assert(leafDirs(dir) == leavesBefore, "restore must not write data")
    assert(ops.VersionedStore.chunkRangesOf(dir, 3) ==
           ops.VersionedStore.chunkRangesOf(dir, 1))
    // Content: v3 == v1; v2 still time-travel-readable (history kept).
    val v1 = ops.VersionedStore.asOf(spark, dir, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ops.VersionedStore.asOf(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == v1)
    val v2 = ops.VersionedStore.asOf(spark, dir, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(v2(2L) == 200L, "v2 must still show the rolled-back update")
    // The store is fully live after a restore: a commit lands as v4 on
    // the RESTORED content.
    ops.VersionedStore.commit(spark, dir,
      Seq((1L, "U", 777L)).toDF("k", "op", "v"), "k")
    val v4 = ops.VersionedStore.asOf(spark, dir, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(v4(1L) == 777L && v4(2L) == 20L,
      "v4 must stack on the restored (v1) content, not on v2")
    // Vacuum derives liveness from surviving manifests: dropping the
    // old versions keeps the restored snapshot's shared files live.
    ops.VersionedStore.vacuum(dir, keepLast = 2)
    assert(ops.VersionedStore.asOf(spark, dir, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == v4)
    // Guard rails: out-of-range versions are rejected.
    intercept[IllegalArgumentException](ops.VersionedStore.restore(dir, 0))
    intercept[IllegalArgumentException](ops.VersionedStore.restore(dir, 99))
  }

  test("compact: bin-packs shrunken leaves; rows identical; history intact") {
    val dir = freshDir()
    val base = (1L to 1000L).map(k => (k, k * 10)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k", targetRowsPerFile = 100)
    // Delete 80% of the keys: every leaf shrinks far below target — the
    // fragmentation commits can't heal (a rewritten leaf keeps its range).
    ops.VersionedStore.commit(spark, dir,
      (1L to 1000L).filter(_ % 5 != 0).map(k => (k, "D", 0L)).toDF("k", "op", "v"),
      "k")
    val preFiles = ops.VersionedStore.readManifest(dir, 2)
      .count(_.path.nonEmpty)
    val preRows = ops.VersionedStore.asOf(spark, dir, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val preDigests = digests(dir)
    val v3 = ops.VersionedStore.compact(spark, dir, "k")
    assert(v3 == 3)
    val postEntries = ops.VersionedStore.readManifest(dir, 3)
    val postFiles = postEntries.count(_.path.nonEmpty)
    assert(postFiles < preFiles,
      s"compaction should shrink the file count: $preFiles -> $postFiles")
    // ~200 surviving rows at target 100 should pack into a handful of
    // leaves, each within the target bound.
    assert(postFiles <= 4, s"expected <= 4 packed files, got $postFiles")
    assert(postEntries.filter(_.path.nonEmpty).forall(_.rows <= 100))
    // Content identical; pre-compact versions untouched on disk.
    val postRows = ops.VersionedStore.asOf(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postRows == preRows)
    preDigests.foreach { case (p, d) =>
      assert(digests(dir)(p) == d, s"pre-compact leaf $p was modified") }
    assert(ops.VersionedStore.asOf(spark, dir, 1).count() == 1000)
    // Idempotent: a second compact finds nothing to pack.
    assert(ops.VersionedStore.compact(spark, dir, "k") == 0)
  }

  test("file-granularity CoW: a 1-key commit rewrites exactly one data file") {
    val dir = freshDir()
    val base = (1L to 200L).map(k => (k, k)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k", targetRowsPerFile = 16)
    val m1 = ops.VersionedStore.readManifest(dir, 1)
    assert(m1.count(_.path.nonEmpty) >= 8,
      s"want many data files for a meaningful granularity probe, got $m1")
    val before = digests(dir)
    // Change exactly one key → exactly one manifest entry replaced and
    // exactly one new data leaf written.
    ops.VersionedStore.commit(spark, dir,
      Seq((1L, "U", 999L)).toDF("k", "op", "v"), "k")
    val m2 = ops.VersionedStore.readManifest(dir, 2)
    val p1 = m1.map(_.path).toSet
    val p2 = m2.map(_.path).toSet
    assert((p2 -- p1).size == 1, s"expected 1 new leaf, got ${p2 -- p1}")
    assert((p1 -- p2).size == 1, s"expected 1 replaced leaf, got ${p1 -- p2}")
    // Every shared leaf's files are byte-identical — never rewritten in
    // place, physically shared between the snapshots.
    val after = digests(dir)
    before.foreach { case (p, d) =>
      assert(after.get(p).contains(d), s"$p was rewritten or removed")
    }
    // And both snapshots read correctly.
    assert(ops.VersionedStore.asOf(spark, dir, 2)
      .filter(col("k") === 1L).collect().map(_.getLong(1)).toSeq == Seq(999L))
    assert(ops.VersionedStore.asOf(spark, dir, 1)
      .filter(col("k") === 1L).collect().map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("oversized merged ranges split: file row counts stay bounded") {
    val dir = freshDir()
    val base = (1L to 64L).map(k => (k, k)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k", targetRowsPerFile = 32)
    // Insert 960 new keys: the store must fan out into more files rather
    // than letting one file grow unboundedly.
    ops.VersionedStore.commit(spark, dir,
      (1001L to 1960L).map(k => (k, "I", k)).toDF("k", "op", "v"), "k")
    val m2 = ops.VersionedStore.readManifest(dir, 2)
    val counts = m2.filter(_.path.nonEmpty).map(_.rows)
    assert(counts.sum == 64 + 960)
    // Equal-width hash splitting is approximate; allow 3x the target.
    assert(counts.max <= 96, s"file too large after split: ${counts.max}")
    assert(ops.VersionedStore.asOf(spark, dir, 2).count() == 64 + 960)
  }

  test("concurrent commits serialize optimistically: both land, none lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir()
    val base = (1L to 100L).map(k => (k, k)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k", targetRowsPerFile = 16)
    val f1 = Future(ops.VersionedStore.commit(spark, dir,
      Seq((5L, "U", 555L)).toDF("k", "op", "v"), "k"))
    val f2 = Future(ops.VersionedStore.commit(spark, dir,
      Seq((77L, "U", 777L)).toDF("k", "op", "v"), "k"))
    val v1 = Await.result(f1, 5.minutes)
    val v2 = Await.result(f2, 5.minutes)
    assert(Set(v1, v2) == Set(2, 3), s"got versions $v1, $v2")
    // The final snapshot holds BOTH changes — the losing committer
    // re-merged against the winner instead of overwriting it.
    val cur = ops.VersionedStore.asOf(spark, dir,
      ops.VersionedStore.currentVersion(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cur(5L) == 555L && cur(77L) == 777L && cur.size == 100)
  }

  test("vacuum: expired dirs removed, retained snapshot still exact") {
    val dir = freshDir()
    val base = (1L to 100L).map(k => (k, k)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k")
    ops.VersionedStore.commit(spark, dir,
      (1L to 100L).map(k => (k, "U", k * 2)).toDF("k", "op", "v"), "k")
    val before = ops.VersionedStore.asOf(spark, dir, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val removed = ops.VersionedStore.vacuum(dir, keepLast = 1)
    // Every file was rewritten by the commit, so all v1 leaves expire.
    assert(removed > 0)
    assert(!Files.exists(Paths.get(dir, "manifests", "v1")))
    assert(!Files.exists(Paths.get(dir, "manifests", "v1.expired")))
    val after = ops.VersionedStore.asOf(spark, dir, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
  }

  test("vacuum grace: a reader pinned to an expiring snapshot completes") {
    val dir = freshDir()
    val base = (1L to 100L).map(k => (k, k)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k")
    ops.VersionedStore.commit(spark, dir,
      (1L to 100L).map(k => (k, "U", k * 2)).toDF("k", "op", "v"), "k")
    // Pin a reader to v1 BEFORE vacuum (lazy plan, resolved paths).
    val pinned = ops.VersionedStore.asOf(spark, dir, 1)
    val removed = ops.VersionedStore.vacuum(dir, keepLast = 1,
      graceMs = 3600000L)
    assert(removed == 0, "grace window must defer data deletion")
    // The expired manifest is tombstoned but still resolvable…
    assert(!Files.exists(Paths.get(dir, "manifests", "v1")))
    assert(Files.exists(Paths.get(dir, "manifests", "v1.expired")))
    // …so both the pinned scan and a fresh asOf(1) complete during grace.
    assert(pinned.count() == 100)
    assert(ops.VersionedStore.asOf(spark, dir, 1).count() == 100)
    // Once the grace horizon passes, a later vacuum reclaims for real.
    assert(ops.VersionedStore.vacuum(dir, keepLast = 1, graceMs = 0L) > 0)
    assert(!Files.exists(Paths.get(dir, "manifests", "v1.expired")))
  }

  test("stream CDC commits are batch-order independent; history readable") {
    val ev = Seq(
      (1L, 10L, 100L, "view", 5L), (2L, 10L, 200L, "click", 6L),
      (3L, 20L, 150L, "view", 7L), (4L, 20L, 50L, "purchase", 8L),
      (5L, 30L, 300L, "click", 9L))
      .toDF("event_id", "user_id", "ts_us", "event_type", "value_c")
      .select(col("user_id"), col("ts_us"), col("event_id"),
              col("event_type"), col("value_c"))
    def drain(order: Seq[Seq[Long]]): Set[(Long, Long, Long)] = {
      val dir = freshDir()
      order.foreach { ids =>
        graft.streaming.EventStream.commitLatestBatch(spark, dir,
          ev.filter(col("event_id").isin(ids: _*)))
      }
      ops.VersionedStore.asOf(spark, dir,
          ops.VersionedStore.currentVersion(dir))
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"))).toSet
    }
    val a = drain(Seq(Seq(1L, 3L), Seq(2L, 4L), Seq(5L)))
    val b = drain(Seq(Seq(5L, 4L), Seq(2L), Seq(1L, 3L)))
    val expected = Set((10L, 200L, 2L), (20L, 150L, 3L), (30L, 300L, 5L))
    assert(a == expected && b == expected)
    // Intermediate snapshots stay readable: version 1 of the first order
    // holds only batch-1 state.
    val dir = freshDir()
    graft.streaming.EventStream.commitLatestBatch(spark, dir,
      ev.filter(col("event_id").isin(1L, 3L)))
    graft.streaming.EventStream.commitLatestBatch(spark, dir,
      ev.filter(col("event_id").isin(2L, 4L, 5L)))
    val v1 = ops.VersionedStore.asOf(spark, dir, 1)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(v1 == Set(1L, 3L))
  }

  test("manifest lists: 1-key commit metadata writes are O(touched chunks), flat at 20x leaves") {
    // Two stores, 20x apart in LEAF count, same chunk target: the
    // metadata a 1-key commit writes (new chunk files + the version's
    // list file) must track the TOUCHED chunk, not the table — the
    // Iceberg manifest-list property. Without chunking, the big store's
    // commit rewrites a 20x-bigger manifest.
    def manifestBytes(dir: String): Map[String, Long] = {
      val md = Paths.get(dir, "manifests")
      val s = Files.walk(md)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => md.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
    def oneKeyCommitMeta(nRows: Long): (Long, Long, Int, Int) = {
      val dir = freshDir()
      val rows = (0L until nRows).map(i => (i, s"v$i")).toDF("k", "v")
      ops.VersionedStore.init(spark, dir, rows, "k",
        targetRowsPerFile = 4, chunkTarget = 8)
      val before = manifestBytes(dir)
      val chunksBefore = before.keySet.filter(_.startsWith("chunks/"))
      ops.VersionedStore.commit(spark, dir,
        Seq((0L, "U", "u0")).toDF("k", "op", "v"), "k")
      val after = manifestBytes(dir)
      val newFiles = after.keySet -- before.keySet
      val newBytes = newFiles.toSeq.map(after).sum
      val newChunks = newFiles.count(_.startsWith("chunks/"))
      // Untouched chunk files are SHARED with v1 — same names, same bytes.
      val sharedChunks = chunksBefore.intersect(after.keySet)
      sharedChunks.foreach(c => assert(after(c) == before(c), s"$c rewritten"))
      val listBytes = after("v2")
      (newBytes, listBytes, newChunks, chunksBefore.size)
    }
    val (smallBytes, smallList, smallNew, smallChunks) = oneKeyCommitMeta(160) // 40 leaves
    val (bigBytes, bigList, bigNew, bigChunks) = oneKeyCommitMeta(3200)        // 800 leaves
    assert(bigChunks >= 15 * smallChunks, s"$smallChunks -> $bigChunks chunks")
    // The commit rewrote ~one chunk in both stores (a touched entry can
    // split, spilling into a neighbor pack — allow 2).
    assert(smallNew <= 2 && bigNew <= 2, s"new chunks: $smallNew, $bigNew")
    // Decomposition pin: new metadata = the version's LIST (one
    // ~70-byte line per chunk — Iceberg's manifest list, 20x smaller
    // than the entries) + the TOUCHED chunks. The chunk component must
    // stay FLAT as leaves grow 20x; a flat-manifest design would
    // rewrite all entries (~20x bytes).
    assert(bigBytes - bigList <= 3 * math.max(1L, smallBytes - smallList),
      s"chunk bytes not flat: ${smallBytes - smallList} -> ${bigBytes - bigList}")
    assert(bigBytes <= 8 * smallBytes,
      s"1-key commit wrote $smallBytes B at 40 leaves, $bigBytes B at 800")
    // And the result is still exact.
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v"), "k",
      targetRowsPerFile = 4, chunkTarget = 8)
    ops.VersionedStore.commit(spark, dir,
      Seq((5L, "U", "v5b"), (999L, "I", "v999"), (7L, "D", "x"))
        .toDF("k", "op", "v"), "k")
    val got = ops.VersionedStore.asOf(spark, dir, 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(5L) == "v5b" && got(999L) == "v999" && !got.contains(7L))
    assert(got.size == 64)
  }

  test("vacuum reclaims chunk files no surviving manifest references") {
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v"), "k",
      targetRowsPerFile = 4, chunkTarget = 4)
    ops.VersionedStore.commit(spark, dir,
      Seq((1L, "U", "u1")).toDF("k", "op", "v"), "k")
    ops.VersionedStore.commit(spark, dir,
      Seq((2L, "U", "u2")).toDF("k", "op", "v"), "k")
    val cd = Paths.get(dir, "manifests", "chunks")
    val before = Files.list(cd).iterator().asScala.size
    ops.VersionedStore.vacuum(dir, keepLast = 1)
    val after = Files.list(cd).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(after.size < before, s"chunk GC removed nothing ($before files)")
    // Every chunk the current version references survives; v3 still exact.
    val got = ops.VersionedStore.asOf(spark, dir, 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "u1" && got(2L) == "u2" && got.size == 64)
  }

  test("graft_as_of table function: time travel from raw SQL text") {
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v"), "k",
      targetRowsPerFile = 16)
    ops.VersionedStore.commit(spark, dir,
      Seq((5L, "U", "v5b"), (999L, "I", "v999")).toDF("k", "op", "v"), "k")
    // Both snapshots addressable from SQL text — no API call, no view.
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_as_of('$dir', 1)")
      .collect().head.getLong(0) == 64L)
    val got = spark.sql(
      s"SELECT v FROM graft_as_of('$dir', 2) WHERE k IN (5, 999) ORDER BY k")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("v5b", "v999"))
    // Composes like any relation: self-join across versions = the CDC
    // diff a reader could write without knowing the store exists.
    val changed = spark.sql(
      s"""SELECT a.k FROM graft_as_of('$dir', 2) a
         |JOIN graft_as_of('$dir', 1) b ON a.k = b.k AND a.v <> b.v""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(changed == Seq(5L))
  }

  test("asOfTimestamp resolves the latest version committed at or before the instant") {
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (0L until 32L).map(i => (i, s"v$i")).toDF("k", "v"), "k",
      targetRowsPerFile = 16)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(20)
    ops.VersionedStore.commit(spark, dir,
      Seq((5L, "U", "v5b")).toDF("k", "op", "v"), "k")
    val afterV2 = System.currentTimeMillis()
    // Between the commits → v1; after the second → v2; before v1 → error.
    assert(ops.VersionedStore.versionAt(dir, afterV1) == 1)
    assert(ops.VersionedStore.versionAt(dir, afterV2) == 2)
    assert(ops.VersionedStore.asOfTimestamp(spark, dir, afterV1)
      .filter(col("k") === 5L).collect().head.getString(1) == "v5")
    assert(ops.VersionedStore.asOfTimestamp(spark, dir, afterV2)
      .filter(col("k") === 5L).collect().head.getString(1) == "v5b")
    intercept[IllegalArgumentException] {
      ops.VersionedStore.versionAt(dir, afterV1 - 3600000L)
    }
    // Commit time rides the list header, so vacuum's expiry restamping
    // (the grace clock overwrites file mtimes) can't skew resolution:
    // after expiring v1 with a grace window, the in-grace v1 still
    // resolves at its ORIGINAL commit instant.
    ops.VersionedStore.vacuum(dir, keepLast = 1, graceMs = 3600000L)
    assert(ops.VersionedStore.versionAt(dir, afterV1) == 1)
  }

  test("version hint is advisory: stale, missing, or corrupt hints never mislead") {
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (0L until 16L).map(i => (i, s"v$i")).toDF("k", "v"), "k",
      targetRowsPerFile = 16)
    ops.VersionedStore.commit(spark, dir,
      Seq((1L, "U", "u1")).toDF("k", "op", "v"), "k")
    assert(ops.VersionedStore.currentVersion(dir) == 2)
    val hint = Paths.get(dir, "manifests", "latest-hint")
    // Stale (lagging) hint: the upward probe walks to the truth.
    Files.write(hint, "1".getBytes("UTF-8"))
    assert(ops.VersionedStore.currentVersion(dir) == 2)
    // Missing hint: full-listing fallback.
    Files.delete(hint)
    assert(ops.VersionedStore.currentVersion(dir) == 2)
    // Corrupt hint: fallback, not a crash.
    Files.write(hint, "not-a-number".getBytes("UTF-8"))
    assert(ops.VersionedStore.currentVersion(dir) == 2)
    // Hint pointing past reality (e.g. copied store): fallback.
    Files.write(hint, "99".getBytes("UTF-8"))
    assert(ops.VersionedStore.currentVersion(dir) == 2)
    // And the next commit repairs the hint.
    ops.VersionedStore.commit(spark, dir,
      Seq((2L, "U", "u2")).toDF("k", "op", "v"), "k")
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "3")
  }

  test("non-contiguous chunk rewrites keep chunk ranges disjoint; every commit exact") {
    // targetRowsPerFile = 1 makes every touched entry SPLIT (rows + change
    // estimate > target), so repacked chunks misalign with the original
    // chunk boundaries — the shape where a single global pack would emit a
    // chunk spanning a KEPT chunk whenever the rewrite set is
    // non-contiguous, corrupting the next commit's routing. Keys are
    // chosen by hash so each batch touches chunks spread across the hash
    // space (deterministically non-contiguous at 30 chunks).
    val dir = freshDir()
    val baseKeys = (1L to 60L)
    ops.VersionedStore.init(spark, dir,
      baseKeys.map(k => (k, k * 10)).toDF("k", "v"), "k",
      targetRowsPerFile = 1, chunkTarget = 2)
    val oracle = scala.collection.mutable.Map(baseKeys.map(k => k -> k * 10): _*)
    def spread(pool: Seq[Long], fracs: Seq[Double]): Seq[Long] = {
      val space = math.pow(2, 60)
      fracs.map { f =>
        pool.minBy(k =>
          math.abs(ops.KeyedStore.driverHash60("long", k) - f * space))
      }.distinct
    }
    def checkInvariants(v: Int): Unit = {
      val refs = ops.VersionedStore.chunkRangesOf(dir, v)
        .getOrElse(fail(s"v$v is not a chunked list"))
      refs.sliding(2).foreach {
        case Seq((_, hiA, _), (loB, _, _)) =>
          assert(hiA < loB, s"v$v chunks overlap: $refs")
        case _ =>
      }
      val entries = ops.VersionedStore.readManifest(dir, v)
      entries.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.maxH + 1 == b.minH, s"v$v entry gap/overlap: $a vs $b")
        case _ =>
      }
      assert(entries.head.minH == 0L && entries.last.maxH == (1L << 60) - 1)
      val got = ops.VersionedStore.asOf(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == oracle.toMap, s"v$v rows diverge from oracle")
    }
    checkInvariants(1)
    var v = 1
    def commit(changes: Seq[(Long, String, Long)]): Unit = {
      ops.VersionedStore.commit(spark, dir, changes.toDF("k", "op", "v"), "k")
      changes.foreach {
        case (k, "D", _) => oracle.remove(k)
        case (k, _, value) => oracle(k) = value
      }
      v += 1
      checkInvariants(v)
    }
    // Non-contiguous update batch, then an insert+delete mix, then a
    // pseudo-random multi-commit soak: every commit re-checks the
    // invariant AND the full row oracle (misrouting shows up as a stale
    // or duplicate row in some later snapshot).
    commit(spread(baseKeys, Seq(0.125, 0.375, 0.625, 0.875))
      .map(k => (k, "U", k * 100)))
    commit(spread((1001L to 1060L), Seq(0.2, 0.55, 0.9)).map(k => (k, "I", k)) ++
      spread(baseKeys, Seq(0.3, 0.7)).map(k => (k, "D", 0L)))
    (0 until 4).foreach { i =>
      val fr = Seq(0.1 + i * 0.03, 0.45 + i * 0.02, 0.8 + i * 0.04)
      commit(spread(oracle.keys.toSeq, fr).map(k => (k, "U", k * 1000 + i)))
    }
  }

  test("vacuum never reclaims files newer than the latest publish (in-flight guard)") {
    val dir = freshDir()
    ops.VersionedStore.init(spark, dir,
      (1L to 50L).map(k => (k, k)).toDF("k", "v"), "k", targetRowsPerFile = 8)
    Thread.sleep(30)
    // Simulate an IN-FLIGHT commit: leaves + a chunk file written (newer
    // than v1's list), list not yet linked.
    val inflightLeaf = Paths.get(dir, "data", "cinflight", "kf=0")
    Files.createDirectories(inflightLeaf)
    Files.write(inflightLeaf.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val inflightChunk = Paths.get(dir, "manifests", "chunks", "chinflight")
    Files.write(inflightChunk, "0,1,1,cinflight/kf=0".getBytes("UTF-8"))
    // graceMs = 0 must still leave them: they are newer than the latest
    // published list, so they may belong to a commit about to publish.
    ops.VersionedStore.vacuum(dir, keepLast = 1, graceMs = 0L)
    assert(Files.exists(inflightLeaf), "in-flight leaf reclaimed")
    assert(Files.exists(inflightChunk), "in-flight chunk reclaimed")
    // A later real publish moves the horizon past them: now they are
    // provably abandoned (a commit never publishes files older than the
    // list it lost to) and vacuum reclaims them.
    Thread.sleep(30)
    ops.VersionedStore.commit(spark, dir,
      Seq((1L, "U", 111L)).toDF("k", "op", "v"), "k")
    ops.VersionedStore.vacuum(dir, keepLast = 1, graceMs = 0L)
    assert(!Files.exists(inflightLeaf), "abandoned leaf not reclaimed")
    assert(!Files.exists(inflightChunk), "abandoned chunk not reclaimed")
    // And the live table is untouched.
    val got = ops.VersionedStore.asOf(spark, dir,
      ops.VersionedStore.currentVersion(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 111L && got.size == 50)
  }

  test("deleting every row empties the manifest; asOf returns zero rows") {
    val dir = freshDir()
    val base = (1L to 50L).map(k => (k, k)).toDF("k", "v")
    ops.VersionedStore.init(spark, dir, base, "k")
    ops.VersionedStore.commit(spark, dir,
      (1L to 50L).map(k => (k, "D", 0L)).toDF("k", "op", "v"), "k")
    assert(ops.VersionedStore.asOf(spark, dir, 2).count() == 0)
    // The emptied snapshot stays readable even after v1's data is
    // vacuumed away — the schema sentinel, not v1, serves the schema.
    ops.VersionedStore.vacuum(dir, keepLast = 1)
    assert(ops.VersionedStore.asOf(spark, dir, 2).count() == 0)
    assert(ops.VersionedStore.asOf(spark, dir, 2).columns.toSeq ==
      Seq("k", "v"))
    // And the table comes back to life on a later insert.
    ops.VersionedStore.commit(spark, dir,
      Seq((7L, "I", 70L)).toDF("k", "op", "v"), "k")
    val v3 = ops.VersionedStore.asOf(spark, dir, 3).collect()
    assert(v3.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 70L)))
  }
}
