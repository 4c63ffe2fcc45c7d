package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Catalog-backed keyed table — the HBase-table substitution as ONE
  * coherent surface (the reference creates the table, puts rows, and
  * gets by row key:
  * `HPopulate/src/main/java/org/northeastern/Main.java:54-73,97-100`).
  * create/get/scan/upsert share a single MANAGED parquet table
  * partitioned by KEY-RANGE REGIONS `kr` — the literal analog of HBase's
  * region model (`Main.java:54-73` pre-splits its table into key ranges
  * for exactly this reason), where the reference's own UUID row keys
  * destroy range locality (SURVEY.md §1.4) ours preserves it:
  *
  *  - CREATE range-partitions the rows into ~n/targetRowsPerRegion
  *    regions (each region ≈ one parquet file), sorts each region file
  *    by key, and persists the region boundary map (kr, rows, min, max)
  *    as a driver-readable sidecar — the "region directory" a real HBase
  *    master keeps;
  *  - point GETs resolve their regions driver-side by binary search over
  *    the sidecar (static pruning — control flow, not data), so the scan
  *    touches O(1) region partitions regardless of table size, and the
  *    key IN-list pushes into parquet where key-sorted row groups
  *    min/max-skip everything else;
  *  - range SCANs — the HBase capability the reference forfeits with
  *    UUID keys — prune to exactly the regions intersecting [from, to]
  *    (PartitionFilters) plus a pushed range predicate (PushedFilters):
  *    cost is O(selected range), never O(table);
  *  - UPSERT (merge / CDC apply) is copy-on-write over ONLY the regions
  *    containing changed keys: region assignment for the change set is a
  *    codegen'd binary search ([[graft.functions.LongBoundaryBucket]]),
  *    base rows keep their resident region, and the merged result lands
  *    via dynamic partition overwrite — O(changed regions) ≈ O(changed
  *    files) write amplification, never O(table). The merged relation is
  *    localCheckpoint-materialized so the table can be read and
  *    rewritten in one pass (no staging round trip), and the region
  *    stats and blooms fold in the job that materializes it;
  *  - MERGEINTO generalizes upsert to a caller-supplied commutative
  *    merge (latest-wins, additive counts) — the micro-batch sink
  *    primitive the streaming stores drive;
  *  - per-region ROW BLOOMS live DATA-SIDE, one file per region under
  *    `_graft_blooms/kr=<id>` — exactly where HBase keeps them (in the
  *    region's HFiles, never in meta). They are WRITTEN by the executor
  *    task that materializes the region and READ lazily,
  *    only for the regions a GET's range candidacy selects, so driver
  *    bloom residency is O(probed regions) while the table can grow to
  *    10⁶ regions. A GET for an absent key touches zero partitions (the
  *    bloom rejects every candidate); a region with no / stale bloom
  *    file is scanned (fail open — see [[loadBloom]]);
  *  - writers are fenced by create-exclusive lock files with
  *    token-verified heartbeats. upsert/mergeInto take REGION-SCOPED
  *    locks: writers whose touched-region sets are disjoint run
  *    CONCURRENTLY (several streaming sinks landing in one store no
  *    longer serialize behind one mutex), overlapping writers serialize
  *    on the shared region's lock, and STRUCTURAL ops (create / split /
  *    rebalance / region merge / repair) exclude everyone by draining
  *    the region writers' shared markers under the table mutex — the
  *    single-writer-PER-REGION discipline an HBase region server
  *    enforces by ownership, rather than one lock over the whole table
  *    ([[withRegionLocks]] documents the protocol and why it cannot
  *    deadlock or starve);
  *  - the region directory is CACHED driver-side keyed by the sidecar's
  *    (mtime, size), so repeated GET/scan/merge calls parse it once, and
  *    a directory written by another JVM is picked up on its next
  *    change. Bloom bytes cache the same way, per region file;
  *  - CREATE is idempotent across JVMs: a stale warehouse LOCATION left
  *    by a previous session is cleared before the CTAS.
  *
  * Crash ordering: the data write (dynamic partition overwrite) is the
  * commit point. Maintenance passes that re-home rows to FRESH kr ids
  * (split / region merge) publish the updated region directory BEFORE
  * dropping the superseded partitions, so a crash can orphan an unlisted
  * partition (invisible to get/scan, reclaimed by [[repair]]) but can
  * never leave the directory pointing at dropped data. The residual
  * window — a crash between the data overwrite and the sidecar refresh
  * leaves stale (rows, min, max) bounds — only widens scans' prune
  * lists' misses for keys that moved past the recorded bounds, and heals
  * on the next write; bloom files that predate their region's data are
  * detected by mtime and ignored (fail open), so a torn write can cause
  * extra IO, never a wrong answer.
  *
  * Read isolation: GET/scan/raw-SQL reads WITH a key predicate route
  * through the region directory and are consistent at every instant of
  * a split/merge (the directory flips atomically from old to new
  * regions). A raw full-table read with NO key predicate is NOT
  * isolated against concurrent maintenance: between the new partitions
  * landing and the superseded partition's drop it can observe the
  * moving region twice (choosing the opposite order would instead make
  * rows vanish mid-flight — strictly worse). Quiesce writers around
  * full-table exports, or read through [[scan]] — the same contract as
  * reading HBase through raw HFiles instead of the client API.
  *
  * Region boundaries are fixed at create (inserts beyond the edges land
  * in the boundary regions); [[rebalance]] is the major-compaction /
  * region-split maintenance pass that re-derives balanced regions from
  * the current data.
  */
object KeyedStore {
  /** Target rows per region (≈ one parquet file). Fixture queries pass a
    * smaller value so pruning is exercised with a handful of regions;
    * size to ~a row-group's worth at real scale.
    */
  val DefaultTargetRowsPerRegion: Long = 1L << 20

  /** Driver-side region directory entry: key range [min, max] resident
    * in partition `kr`.
    */
  private[graft] final case class Region(kr: Int, rows: Long, min: Any, max: Any)

  private[graft] final case class RegionMap(typ: String,
                                            regions: IndexedSeq[Region]) {
    private val ord: Ordering[Any] = typ match {
      case "long" => Ordering.by[Any, Long](_.asInstanceOf[Number].longValue())
      case _ => Ordering.by[Any, String](_.toString)
    }
    private def norm(v: Any): Any = typ match {
      case "long" => v.asInstanceOf[Number].longValue()
      case _ => v.toString
    }
    private val mins: IndexedSeq[Any] = regions.map(_.min)

    /** Index of the region that OWNS `v` for writes: greatest i with
      * mins(i) ≤ v, clamped to 0 (region 0 extends to −∞, the last to
      * +∞ — total coverage, so every insert has a home).
      */
    def coverageIdx(v: Any): Int =
      graft.functions.RangeFunctions.indexOf(mins, norm(v))(ord)

    /** All regions that may HOLD `v` (a heavily-duplicated key can
      * straddle adjacent regions at a range-partition boundary).
      */
    def holdingIdx(v: Any): Seq[Int] = {
      val i = coverageIdx(v)
      var j = i
      while (j > 0 && ord.gteq(norm(regions(j - 1).max), norm(v))) j -= 1
      j to i
    }

    /** Regions intersecting [from, to] — the range-scan prune list. */
    def rangeIdx(from: Any, to: Any): Seq[Int] =
      regions.indices.filter { i =>
        ord.lteq(norm(regions(i).min), norm(to)) &&
          ord.gteq(norm(regions(i).max), norm(from))
      }

    /** Conservative closure for upsert: the collected coverage indices
      * plus any earlier region sharing a boundary key with them.
      */
    def expandTouched(idx: Set[Int]): Seq[Int] =
      idx.flatMap { i =>
        var j = i
        while (j > 0 && ord.gteq(norm(regions(j - 1).max), norm(regions(i).min)))
          j -= 1
        j to i
      }.toSeq.sorted

    /** Coverage region id of a key COLUMN — the codegen'd binary search
      * over the boundary list, then index → kr through ONE typed
      * array literal (a single plan node at any region count; the
      * former per-region `lit` list was one expression node per
      * region — the plan-bomb class at fine region budgets).
      */
    def krCol(c: Column): Column = {
      val idx = typ match {
        case "long" => graft.functions.RangeFunctions.longBoundaryBucket(
          c.cast(LongType), mins.map(_.asInstanceOf[Long]))
        case _ => graft.functions.RangeFunctions.stringBoundaryBucket(
          c.cast(StringType), mins.map(_.toString))
      }
      element_at(typedlit(regions.map(_.kr)), idx + 1)
    }

    /** Raw-Expression twin of the bucket search in [[krCol]], for plan
      * rules ([[graft.plans.KeyedRegionPrune]]) that operate below the
      * Column API: coverage INDEX of key expression `e` (greatest i with
      * mins(i) ≤ e, clamped to 0). Casts only when the input type
      * differs from the directory's key domain.
      */
    private[graft] def idxExpr(
        e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = typ match {
      case "long" =>
        val in = if (e.dataType == LongType) e
          else org.apache.spark.sql.catalyst.expressions.Cast(e, LongType)
        graft.functions.LongBoundaryBucket(in,
          mins.map(_.asInstanceOf[Long]))
      case _ =>
        val in = if (e.dataType == StringType) e
          else org.apache.spark.sql.catalyst.expressions.Cast(e, StringType)
        graft.functions.StringBoundaryBucket(in, mins.map(m =>
          org.apache.spark.unsafe.types.UTF8String.fromString(m.toString)))
    }

    /** Per-coverage-index HOLDING closure as kr ids: closure(i) is every
      * region that may hold a value whose coverage index is i — j..i with
      * j minimal such that regions(j−1).max ≥ regions(i).min (the
      * value-independent superset of [[holdingIdx]]: any v covered by i
      * has v ≥ min_i, so a region whose max < min_i can't hold it). The
      * join-pruning rule ships this as ONE nested-array literal, so plan
      * size is O(1) expression nodes however many regions exist.
      */
    private[graft] def holdingClosures: IndexedSeq[Seq[Int]] =
      regions.indices.map { i =>
        expandTouched(Set(i)).map(regions(_).kr)
      }
  }

  private def dropWithLocation(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    deleteTree(location(spark, name))
    dirCache.remove(sidecar(spark, name).toString)
    writeStageLocks.remove(name.toLowerCase)
  }

  /** Filesystem location of the table's data (test hook for the
    * byte-identity probe). */
  private[graft] def location(spark: SparkSession, name: String): Path =
    new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      name.toLowerCase).toPath

  private def sidecar(spark: SparkSession, name: String): Path =
    location(spark, name).resolve("_graft_regions")

  // ------------------------- writer fencing -------------------------

  /** Timing knobs. `private[graft] var` so specs can shrink them to
    * exercise takeover/fencing without minute-long sleeps; production
    * code never mutates them.
    */
  @volatile private[graft] var LockStaleMs = 60000L
  @volatile private[graft] var LockWaitMs = 120000L
  @volatile private[graft] var LockHeartbeatMs = 10000L

  /** Lock files live BESIDE the table location (create wipes the
    * location itself), in the warehouse directory.
    */
  private def lockPath(spark: SparkSession, name: String): Path =
    location(spark, name).resolveSibling(name.toLowerCase + ".graft-lock")

  private def regionLockPath(spark: SparkSession, name: String, kr: Int): Path =
    location(spark, name).resolveSibling(
      name.toLowerCase + s".region-$kr.graft-lock")

  private def sidecarLockPath(spark: SparkSession, name: String): Path =
    location(spark, name).resolveSibling(
      name.toLowerCase + ".sidecar.graft-lock")

  private def sharedMarkerPrefix(name: String): String =
    name.toLowerCase + ".shared-"

  /** A parked move-aside file still carrying `token` (see [[takeover]]). */
  private def findParked(p: Path, token: String): Option[Path] = {
    val prefix = p.getFileName.toString + ".takeover-"
    try scala.util.Using.resource(Files.list(p.getParent)) { s =>
      s.iterator().asScala.find { f =>
        f.getFileName.toString.startsWith(prefix) &&
          (try new String(Files.readAllBytes(f), "UTF-8") == token
           catch { case _: java.io.IOException => false })
      }
    } catch { case _: java.io.IOException => None }
  }

  /** A HELD create-exclusive lock file. The holder heartbeats the mtime
    * (so only a CRASHED holder ever goes stale) and VERIFIES ownership
    * on every beat: if the file no longer carries our token, the beat
    * first tries to reclaim a PARKED move-aside file (a claimant that
    * mis-judged us stale and could not restore — see [[takeover]]) and
    * only on failure marks the handle FENCED. Callers surface `fenced`
    * as an error, so a writer whose mutex was genuinely lost mid-write
    * can never report a clean result. Release is token-guarded: a
    * usurped holder resuming in `finally` cannot delete a successor's
    * lock (it deletes its own parked aside instead, if any).
    */
  private final class LockHandle(val path: Path, val token: String) {
    @volatile var fenced = false

    /** One heartbeat; false once the handle is fenced (stop beating). */
    def beatOnce(): Boolean =
      try {
        if (new String(Files.readAllBytes(path), "UTF-8") == token) {
          Files.setLastModifiedTime(path,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis()))
          true
        } else reclaimParked()
      } catch {
        case _: java.nio.file.NoSuchFileException => reclaimParked()
        case _: java.io.IOException => true // transient; retry next beat
      }

    private def reclaimParked(): Boolean = {
      val restored = findParked(path, token).exists { aside =>
        try {
          Files.move(aside, path,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.io.IOException => false }
      }
      if (!restored) fenced = true
      restored
    }

    def release(): Unit =
      try {
        if (new String(Files.readAllBytes(path), "UTF-8") == token)
          Files.deleteIfExists(path)
        else findParked(path, token).foreach(Files.deleteIfExists(_))
      } catch { case _: java.io.IOException => () }
  }

  /** ONE daemon thread heartbeating a whole acquisition group — a
    * region-scoped writer may hold O(touched regions) locks and must not
    * spawn a thread per lock.
    */
  private final class HeartbeatGroup(handles: Seq[LockHandle]) {
    private val t = new Thread(() => {
      // map-then-reduce, NOT exists: every handle must beat every cycle
      // (exists would stop at the first live one and starve the rest).
      try while ({ Thread.sleep(LockHeartbeatMs)
                   handles.map(_.beatOnce()).foldLeft(false)(_ || _) }) ()
      catch { case _: InterruptedException => () }
    }, "graft-lock-heartbeat")
    t.setDaemon(true)
    t.start()
    def stop(): Unit = t.interrupt()
  }

  /** Token-verified takeover of a lock observed STALE (`staleToken`,
    * mtime past the horizon): atomically move it aside (exactly one
    * claimant wins the move), verify the moved content. A mismatch
    * means a successor acquired between observation and move — its
    * FRESH lock is restored intact, with retries; if a third claimant
    * re-created the path before the restore lands, the aside file is
    * PARKED (never deleted — its content is the successor's live
    * token, and the successor's heartbeat reclaims or cleans it). The
    * pre-round-8 behavior — deleting the aside on restore failure —
    * destroyed the successor's lock while it believed it held the
    * mutex, exactly the two-writer interleave the lock exists to
    * prevent; the successor now at worst FENCES (LockHandle scaladoc).
    *
    * Documented residual (the lease-expiry window every mtime-lease
    * lock carries): between a mis-judged takeover and the holder's next
    * heartbeat (≤ LockHeartbeatMs), holder and claimant can both run —
    * the holder's DATA writes in that window interleave with the
    * claimant's before the fence fails the holder's call. The fence
    * guarantees the holder never REPORTS clean (so callers retry /
    * verify per the [[graft.Graft.keyedMergeInto]] contract), and the
    * sidecar read-modify-write serializes on its own lock, so the
    * directory can't tear — but data-file interleaving within the
    * window is possible, exactly as it is for an expired-lease writer
    * in any lease-based store. Operators size LockStaleMs ≫ GC pause /
    * FS hiccup for this reason.
    */
  private[graft] def takeover(p: Path, claimantToken: String,
                              staleToken: String): Unit = {
    val aside = p.resolveSibling(
      p.getFileName.toString + ".takeover-" + claimantToken)
    try {
      Files.move(p, aside, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val moved = new String(Files.readAllBytes(aside), "UTF-8")
      if (moved == staleToken) Files.deleteIfExists(aside)
      else {
        var restored = false
        var attempts = 0
        while (!restored && attempts < 50) {
          try {
            Files.move(aside, p,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            restored = true
          } catch {
            case _: java.io.IOException =>
              if (!Files.exists(aside)) restored = true // owner reclaimed it
              else { attempts += 1; Thread.sleep(10) }
          }
        }
      }
    } catch {
      case _: java.io.IOException => () // lost the move race; re-wait
    }
  }

  /** Blocking create-exclusive acquire with crash-safe takeover (the
    * fencing [[VersionedStore]] gets from create-exclusive manifest
    * publishes, adapted to a store that mutates shared state in place,
    * where optimistic publish can't roll back a partition overwrite).
    * The caller owns heartbeating (via [[HeartbeatGroup]]) and release.
    */
  private def acquireLock(p: Path): LockHandle = {
    Files.createDirectories(p.getParent)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + LockWaitMs
    while (true) {
      try {
        Files.write(p, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        return new LockHandle(p, token)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val observed: Option[(String, Long)] =
            try Some((new String(Files.readAllBytes(p), "UTF-8"),
              Files.getLastModifiedTime(p).toMillis))
            catch { case _: java.io.IOException => None }
          val stale = observed.exists(_._2 + LockStaleMs <=
            System.currentTimeMillis())
          if (stale) takeover(p, token, observed.get._1)
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"KeyedStore: timed out waiting for writer lock $p")
          else Thread.sleep(20)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Non-blocking create-exclusive acquire: succeed immediately, reclaim
    * a crashed holder's stale lock (one takeover attempt + one retry),
    * or return None if the lock is LIVE — the caller decides how to
    * wait. [[withRegionLocks]] uses this so a writer blocked on a
    * contended region lock never waits while HOLDING the table mutex
    * (which would serialize every disjoint writer behind it).
    */
  private def tryAcquireLock(p: Path): Option[LockHandle] = {
    Files.createDirectories(p.getParent)
    val token = java.util.UUID.randomUUID().toString
    def attempt(): Option[LockHandle] =
      try {
        Files.write(p, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        Some(new LockHandle(p, token))
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => None
      }
    attempt().orElse {
      val observed: Option[(String, Long)] =
        try Some((new String(Files.readAllBytes(p), "UTF-8"),
          Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None }
      val stale = observed.exists(_._2 + LockStaleMs <=
        System.currentTimeMillis())
      if (stale) { takeover(p, token, observed.get._1); attempt() }
      else None
    }
  }

  private def failIfFenced(handles: Seq[LockHandle]): Unit =
    handles.find(_.fenced).foreach { h =>
      throw new IllegalStateException(
        s"KeyedStore: writer lock ${h.path} was lost mid-write (fenced) — " +
          "a claimant usurped it; the write may have raced and must be " +
          "verified/retried")
    }

  /** STRUCTURAL writer exclusion — create / rebalance / split / region
    * merge / repair: the table mutex, PLUS a drain of live region-scoped
    * writers (their shared markers, below). Because new region-scoped
    * writers are admitted under the same table mutex this op now holds,
    * no new marker can appear while draining — admission control and
    * exclusion ride one lock, so structural ops cannot starve.
    */
  private def withStructuralLock[T](spark: SparkSession, name: String)
                                   (body: => T): T = {
    val h = acquireLock(lockPath(spark, name))
    val beat = new HeartbeatGroup(Seq(h))
    try {
      drainSharedMarkers(spark, name)
      val r = body
      failIfFenced(Seq(h))
      r
    } finally { beat.stop(); h.release() }
  }

  /** Wait until no LIVE region-scoped writer marker remains (crashed
    * writers' markers go stale by mtime and are swept here).
    */
  private def drainSharedMarkers(spark: SparkSession, name: String): Unit = {
    val parent = location(spark, name).getParent
    val prefix = sharedMarkerPrefix(name)
    val deadline = System.currentTimeMillis() + LockWaitMs
    var clear = false
    while (!clear) {
      val live =
        if (!Files.exists(parent)) Nil
        else scala.util.Using.resource(Files.list(parent)) { s =>
          s.iterator().asScala
            .filter(_.getFileName.toString.startsWith(prefix)).toSeq
        }.filter { m =>
          try {
            val stale = Files.getLastModifiedTime(m).toMillis +
              LockStaleMs <= System.currentTimeMillis()
            if (stale) { Files.deleteIfExists(m); false } else true
          } catch { case _: java.io.IOException => false }
        }
      if (live.isEmpty) clear = true
      else if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"KeyedStore: timed out draining region writers of $name: $live")
      else Thread.sleep(20)
    }
  }

  /** Past this many touched regions a region-scoped writer falls back to
    * the structural lock: per-region lock files stop paying when a batch
    * touches a large slice of the table anyway, and O(10⁴) lock files
    * per merge is its own failure mode.
    */
  @volatile private[graft] var RegionLockFanoutCap = 64

  /** REGION-SCOPED writer admission — upsert/mergeInto: writers whose
    * touched-region sets are DISJOINT run concurrently (several
    * streaming sinks landing in one store stop serializing behind one
    * table mutex); overlapping writers serialize on the shared region
    * lock; structural ops exclude all of them. Protocol:
    *
    *  1. compute the touched set OPTIMISTICALLY (the coverage job runs
    *     unlocked — admission holds the table mutex only for file ops);
    *  2. under the table mutex: re-read the directory; if the region
    *     BOUNDARY SET changed since step 1 (a structural op slipped in),
    *     recompute the touched set — stat-only changes by concurrent
    *     disjoint writers never move a key's coverage region, so the
    *     boundary signature is the exact invalidation key;
    *  3. still under the mutex: TRY each touched region's lock
    *     non-blocking ([[tryAcquireLock]]); if one is held by a LIVE
    *     writer, release everything — partial region locks AND the
    *     table mutex — sleep, and re-admit from step 2, so disjoint
    *     writers pass a blocked one instead of queueing behind the
    *     mutex it would otherwise pin (and partial acquisition never
    *     holds-and-waits, so no deadlock by construction, not just by
    *     kr ordering); once all are held, publish a heartbeating SHARED
    *     MARKER and release the mutex;
    *  4. run the merge body; concurrent sidecar updates serialize on the
    *     sidecar lock inside [[writeTouched]] (read-modify-write of only
    *     this writer's entries);
    *  5. release region locks + marker; a fenced lock fails the call.
    *
    * The drain in [[withStructuralLock]] + this marker give the classic
    * shared/exclusive pair built from create-exclusive files alone.
    * Admission among writers of ONE JVM is seniority-ordered (see
    * [[regionWaiters]]): blocked writers queue by a global ticket,
    * juniors defer to the oldest waiter on a path, and backoff is
    * jittered-exponential with seniors re-probing fastest — so no
    * same-JVM writer loses the re-admit race unboundedly. Writers on
    * OTHER JVMs don't see this queue and remain timeout-bounded by the
    * LockWaitMs deadline, the original contract.
    */
  /** JVM-local seniority queue for writers blocked on a region lock:
    * blocked-path → tickets (global monotonic order) of the writers
    * waiting on it. Admission deference: a writer does not take a
    * region lock a MORE SENIOR waiter is queued on — it reports itself
    * blocked instead — so once a blocked writer is the oldest on its
    * path, no later arrival can snipe the re-admit race and starvation
    * is bounded by the current holders draining, not by luck. Sets are
    * re-added idempotently every retry (heals the empty-set removal
    * race) and deregistered on admit/timeout via the caller's finally.
    * Cross-JVM writers are invisible here and stay timeout-bounded —
    * the pre-round-11 contract for everyone.
    */
  private val waiterTicketSeq = new AtomicLong(0)
  private val regionWaiters =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentSkipListSet[java.lang.Long]]

  private[graft] def registerWaiter(p: Path, ticket: Long): Unit =
    regionWaiters.computeIfAbsent(p.toString,
      _ => new java.util.concurrent.ConcurrentSkipListSet[java.lang.Long]())
      .add(ticket)

  private[graft] def deregisterWaiter(p: Path, ticket: Long): Unit = {
    val s = regionWaiters.get(p.toString)
    if (s != null) {
      s.remove(ticket)
      if (s.isEmpty) regionWaiters.remove(p.toString, s)
    }
  }

  private[graft] def seniorWaiterOn(p: Path, ticket: Long): Boolean = {
    val s = regionWaiters.get(p.toString)
    // headSet view, NOT isEmpty-then-first(): a concurrent deregister
    // between those two calls would throw NoSuchElementException and
    // crash an innocent writer. The view is race-free — a ticket
    // removed mid-check just reads as "no senior waiter".
    s != null && !s.headSet(ticket).isEmpty
  }

  /** Waiters queued ahead of `ticket` on `p` (backoff weight). */
  private[graft] def waiterRank(p: Path, ticket: Long): Int = {
    val s = regionWaiters.get(p.toString)
    if (s == null) 0 else s.headSet(ticket).size
  }

  /** Test hook: how many admission attempts the LAST [[withRegionLocks]]
    * call on this thread took (1 = admitted first try). The fairness
    * spec's starvation bound reads this per worker thread. */
  private[graft] val lastAdmitAttempts = new ThreadLocal[Integer]

  private def withRegionLocks[T](spark: SparkSession, name: String,
                                 rm0: RegionMap, touched0: Seq[Int],
                                 recompute: RegionMap => Seq[Int])
                                (body: (RegionMap, Long, Seq[Int]) => T): T = {
    val deadline = System.currentTimeMillis() + LockWaitMs
    // Seniority is assigned on ENTRY (not on first block): two writers
    // racing the same region admit in arrival order once either queues.
    val myTicket = waiterTicketSeq.incrementAndGet()
    var lastBlocked: Option[Path] = None
    var attempts = 0
    try {
      while (true) {
      val table = acquireLock(lockPath(spark, name))
      val tableBeat = new HeartbeatGroup(Seq(table))
      val held = scala.collection.mutable.ArrayBuffer.empty[LockHandle]
      var groupBeat: HeartbeatGroup = null
      var tableReleased = false
      var blocked: Option[Path] = None
      try {
        val (rm, target) = readRegionsWithTarget(spark, name)
        val touched =
          if (rm.regions.map(r => (r.kr, r.min)) ==
              rm0.regions.map(r => (r.kr, r.min))) touched0
          else recompute(rm)
        if (touched.size > RegionLockFanoutCap ||
            touched.size == rm.regions.size) {
          // Wide writer: keep the table mutex (structural-grade
          // exclusion). Also the whole-table case at ANY size — a batch
          // touching every region excludes every possible peer either
          // way, so N region-lock files + a marker buy nothing over the
          // one mutex already held (micro-batch sinks into small stores
          // hit this constantly; the per-write file ops were the
          // dominant fixed cost).
          drainSharedMarkers(spark, name)
        } else {
          val it = touched.sorted.iterator
          while (blocked.isEmpty && it.hasNext) {
            val p = regionLockPath(spark, name, it.next())
            // Defer to a more senior queued waiter even when the lock
            // file is free — taking it would restart their wait.
            if (seniorWaiterOn(p, myTicket)) blocked = Some(p)
            else tryAcquireLock(p) match {
              case Some(h) => held += h
              case None => blocked = Some(p)
            }
          }
          if (blocked.isEmpty) {
            val mtok = java.util.UUID.randomUUID().toString
            val mpath = location(spark, name).resolveSibling(
              sharedMarkerPrefix(name) + mtok + ".graft-lock")
            Files.write(mpath, mtok.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            held += new LockHandle(mpath, mtok)
            groupBeat = new HeartbeatGroup(held.toSeq)
            tableBeat.stop(); table.release(); tableReleased = true
          }
        }
        if (blocked.isEmpty) {
          lastAdmitAttempts.set(attempts + 1)
          val r = body(rm, target, touched)
          failIfFenced(if (tableReleased) held.toSeq else Seq(table))
          return r
        }
      } finally {
        if (groupBeat != null) groupBeat.stop()
        held.foreach(_.release())
        if (!tableReleased) { tableBeat.stop(); table.release() }
      }
      // Blocked on a LIVE region lock — we hold NOTHING here, so other
      // writers (and structural ops) admit freely while we wait.
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"KeyedStore: timed out waiting for region lock ${blocked.get}")
      attempts += 1
      // Queue on the blocked path (idempotent re-add each retry; moves
      // with us if a directory change shifts which region blocks us),
      // then back off jittered-exponentially, seniors sleeping least:
      // juniors defer above, so the oldest waiter re-probes fastest and
      // wins the free lock instead of racing N peers in lockstep.
      if (lastBlocked.exists(_ != blocked.get))
        deregisterWaiter(lastBlocked.get, myTicket)
      registerWaiter(blocked.get, myTicket)
      lastBlocked = Some(blocked.get)
      val base = math.min(80L, 5L << math.min(attempts, 4))
      val jitter =
        java.util.concurrent.ThreadLocalRandom.current().nextLong(base)
      Thread.sleep(base / 2 + jitter +
        math.min(waiterRank(blocked.get, myTicket), 8) * 10L)
      }
      throw new IllegalStateException("unreachable")
    } finally lastBlocked.foreach(p => deregisterWaiter(p, myTicket))
  }

  // -------- per-region row blooms (HBase HFile ROW-bloom analog) --------

  /** Hash probes per key — fixed store-wide; filter SIZE lives in the
    * bloom meta file (derived from the region target at create). */
  private[graft] val BloomK = 7

  private def bloomDir(spark: SparkSession, name: String): Path =
    location(spark, name).resolve("_graft_blooms")

  private def bloomFile(spark: SparkSession, name: String, kr: Int): Path =
    bloomDir(spark, name).resolve(s"kr=$kr")

  /** Atomic single-file publish used by both the driver-side sidecar
    * writes and the EXECUTOR-side bloom writes: temp file in the target
    * directory + atomic move, so a crash mid-write never leaves a
    * truncated file for a reader to choke on.
    */
  private[graft] def atomicWriteBytes(target: Path, content: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(target.getParent, ".tmp-sidecar", "")
    try {
      Files.write(tmp, content)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  private def atomicWrite(target: Path, content: String): Unit =
    atomicWriteBytes(target, content.getBytes("UTF-8"))

  /** Bloom SIZE for this store (bits), persisted once at create in
    * `_graft_blooms/_meta`; absent (legacy store) → re-derive from the
    * persisted region target, never from the global default.
    */
  private def readBloomBits(spark: SparkSession, name: String,
                            target: Long): Int = {
    val p = bloomDir(spark, name).resolve("_meta")
    if (Files.exists(p))
      Files.readAllLines(p).asScala.head.split(",")(0).toInt
    else graft.functions.BloomAgg.sizeFor(target)
  }

  /** Test hook: number of bloom FILES physically read (cache misses).
    * Pins the O(probed regions) residency contract — a GET must read
    * bloom bytes for only the regions its range candidacy selects, and
    * repeated probes must be served from cache.
    */
  private[graft] val bloomFileReads = new AtomicLong(0)

  /** path → (bloom file mtime, size, bytes). Validated by (mtime, size)
    * on every hit — like [[dirCache]]; mtime alone would serve stale
    * bytes for a bloom rewritten within one mtime tick, and a stale
    * bloom is a false NEGATIVE (a silently dropped region), not a
    * fail-open miss. Bounded in practice by the working set of probed
    * regions.
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, (java.nio.file.attribute.FileTime, Long, Array[Byte])]

  /** Lazily load ONE region's bloom from the table LOCATION (path-based
    * so the [[graft.plans.KeyedRegionPrune]] optimizer rule — which sees
    * a catalog location, not a session+name — shares the loader and the
    * cache). Fail-open contract: a missing bloom file — or one OLDER
    * than the region's data directory (a crash between the partition
    * overwrite and the bloom refresh) — is treated as absent, so the
    * region is scanned; a torn bloom write costs IO, never correctness.
    */
  private[graft] def loadBloomAt(loc: Path, kr: Int): Option[Array[Byte]] = {
    val f = loc.resolve("_graft_blooms").resolve(s"kr=$kr")
    if (!Files.exists(f)) None
    else {
      val bm = Files.getLastModifiedTime(f)
      val dataDir = loc.resolve(s"kr=$kr")
      val fresh = !Files.exists(dataDir) ||
        Files.getLastModifiedTime(dataDir).compareTo(bm) <= 0
      if (!fresh) None
      else {
        val key = f.toString
        val sz = Files.size(f)
        val hit = bloomCache.get(key)
        if (hit != null && hit._1 == bm && hit._2 == sz) Some(hit._3)
        else {
          bloomFileReads.incrementAndGet()
          val bytes = Files.readAllBytes(f)
          bloomCache.put(key, (bm, sz, bytes))
          Some(bytes)
        }
      }
    }
  }

  private def loadBloom(spark: SparkSession, name: String,
                        kr: Int): Option[Array[Byte]] =
    loadBloomAt(location(spark, name), kr)

  private def bloomStagePrefix(name: String): String =
    name.toLowerCase + ".bloom-stage-"

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.list(p))(
          _.iterator().asScala.toList.foreach(deleteTree))
      Files.deleteIfExists(p)
    }

  /** Rewrite regions in one read: materialize `planned` — the rows to
    * land, `kr` attached, laid out so that every region sits WHOLE in
    * one partition, sorted by (kr, key) — as a local checkpoint, and
    * fold each region's stats in the SAME job: the job that caches a
    * partition also runs [[regionStats]] over it. No second read of the
    * checkpoint and no aggregate exchange; only the ~50-byte
    * (kr, rows, min, max) rows reach the driver, while bloom bytes stay
    * data-side (HBase keeps blooms in HFiles, not in meta, for the same
    * reason) — driver residency is O(1) filters however many regions
    * the table grows. Executors write through the table's filesystem,
    * the same shared-FS assumption the parquet write itself makes.
    *
    * Then `land` writes the checkpoint, and only after it the blooms are
    * published: a bloom counts as fresh only when it is no older than
    * its region's data directory ([[loadBloomAt]]), so one published
    * before the data write would read as stale and fail open forever.
    * Blooms are staged in a directory BESIDE the table location (create
    * requires an absent location; [[repair]] sweeps a crashed writer's).
    * A region found in two partitions breaks the layout contract (its
    * bloom would be torn between two tasks); the call then fails before
    * anything is written. Returns each landed region's exact stats.
    */
  private def rewriteRegions(spark: SparkSession, name: String,
                             planned: DataFrame, key: String, mBits: Int)
                            (land: DataFrame => Unit): Map[Int, Region] = {
    val krOrd = planned.schema.fieldIndex("kr")
    val keyOrd = planned.schema.fieldIndex(key)
    val keyType = planned.schema(key).dataType
    val k = BloomK
    val (out, rdd) =
      org.apache.spark.sql.GraftCheckpointBridge.localCheckpointWithRdd(planned)
    val loc = location(spark, name)
    val stage = Files.createDirectories(loc.resolveSibling(
      bloomStagePrefix(name) + java.util.UUID.randomUUID()))
    val stageStr = stage.toString
    try {
      val folded = spark.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) =>
          regionStats(it, krOrd, keyOrd, keyType, mBits, k, stageStr)).flatten
      val stats = folded.iterator.map(r => r.kr -> r).toMap
      if (stats.size != folded.length)
        throw new IllegalStateException(
          s"KeyedStore: a region of $name spans several partitions; " +
            "its stats and bloom cannot be folded in one pass")
      land(out)
      val bd = loc.resolve("_graft_blooms")
      // Legacy layout: the pre-7 store kept ALL blooms in one FILE at
      // this exact path. Supersede it (a region not rewritten yet has no
      // bloom file → fail open).
      if (Files.exists(bd) && !Files.isDirectory(bd)) Files.delete(bd)
      Files.createDirectories(bd)
      stats.keys.foreach { kr =>
        // Stamp no older than the region's data directory, then move
        // over the region's bloom file (two file ops per region).
        val staged = stage.resolve(s"kr=$kr")
        val dataDir = loc.resolve(s"kr=$kr")
        val now = java.nio.file.attribute.FileTime.from(java.time.Instant.now())
        val dataTime =
          if (Files.exists(dataDir)) Files.getLastModifiedTime(dataDir) else now
        Files.setLastModifiedTime(staged,
          if (dataTime.compareTo(now) > 0) dataTime else now)
        Files.move(staged, bd.resolve(s"kr=$kr"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      stats
    } finally deleteTree(stage)
  }

  /** Executor-side stats fold over ONE partition of whole regions,
    * contiguous per `kr` (the (kr, key) sort guarantees it): per region
    * the row count, min and max key (nulls count as rows but bound
    * nothing, as `count`/`min`/`max` treat them) and the bloom over
    * [[hash60]] of every key, written into `stage` as `kr=<id>`
    * (atomic publish). Returns one [[Region]] per region seen.
    */
  private def regionStats(rows: Iterator[InternalRow], krOrd: Int,
                          keyOrd: Int, keyType: DataType, mBits: Int,
                          k: Int, stage: String): Array[Region] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val isString = keyType == StringType
    val out = scala.collection.mutable.ArrayBuffer.empty[Region]
    var words: Array[Long] = null
    var kr = 0
    var n = 0L
    var seen = false
    var loL, hiL = 0L
    var loS, hiS: UTF8String = null
    def flush(): Unit = if (words != null) {
      atomicWriteBytes(java.nio.file.Paths.get(stage, s"kr=$kr"),
        graft.functions.BloomAgg.toBytes(words))
      val (lo, hi) =
        if (!seen) (null, null)
        else if (isString) (loS.toString, hiS.toString)
        else (Long.box(loL), Long.box(hiL))
      out += Region(kr, n, lo, hi)
    }
    while (rows.hasNext) {
      val r = rows.next()
      val rkr = r.getInt(krOrd)
      if (words == null || rkr != kr) {
        flush()
        words = new Array[Long](mBits / 64)
        kr = rkr; n = 0L; seen = false
      }
      n += 1
      if (!r.isNullAt(keyOrd)) {
        val bytes =
          if (isString) {
            val v = r.getUTF8String(keyOrd)
            if (!seen || v.compareTo(loS) < 0) loS = v.clone()
            if (!seen || v.compareTo(hiS) > 0) hiS = v.clone()
            v.getBytes
          } else {
            val v = if (keyType == IntegerType) r.getInt(keyOrd).toLong
                    else r.getLong(keyOrd)
            if (!seen || v < loL) loL = v
            if (!seen || v > hiL) hiL = v
            java.lang.Long.toString(v).getBytes("UTF-8")
          }
        seen = true
        graft.functions.BloomAgg.add(words, hash60(md, bytes), k)
      }
    }
    flush()
    out.toArray
  }

  /** The store's 60-bit key hash over the UTF-8 bytes of the key's
    * string form: md5 → first 15 hex digits as a base-16 long, i.e.
    * `TextFns.hash60(cast(key as string))` — the persisted bloom hash.
    * Build ([[regionStats]]) and probe ([[driverHash60]]) both call it,
    * so they can never drift.
    */
  private[graft] def hash60(md: java.security.MessageDigest,
                            utf8: Array[Byte]): Long = {
    md.reset()
    java.nio.ByteBuffer.wrap(md.digest(utf8)).getLong >>> 4
  }

  /** Driver-side key hash: [[hash60]] of the key's string form. */
  private[graft] def driverHash60(typ: String, v: Any): Long = {
    val s = typ match {
      case "long" => v.asInstanceOf[Number].longValue().toString
      case _ => v.toString
    }
    hash60(java.security.MessageDigest.getInstance("MD5"), s.getBytes("UTF-8"))
  }

  private def encKey(typ: String, v: Any): String = typ match {
    case "long" => v.asInstanceOf[Number].longValue().toString
    case _ => java.util.Base64.getEncoder
      .encodeToString(v.toString.getBytes("UTF-8"))
  }

  private def decKey(typ: String, s: String): Any = typ match {
    case "long" => s.toLong
    case _ => new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
  }

  /** Regions per directory-CHUNK file, and the threshold past which the
    * sidecar switches from one FLAT file to a manifest LIST + immutable
    * chunk files (the [[VersionedStore]] manifest-list shape applied to
    * the region directory): at 10⁶ regions a flat sidecar is a ~50 MB
    * text file rewritten whole by every 1-key merge and re-parsed whole
    * on every version change; chunked, a merge rewrites O(touched
    * chunks) + a small list, and a reader re-parses only the chunks
    * whose files changed (immutable uuid names → cache hits for the
    * rest). `private[graft] var` so the scale spec can shrink it.
    */
  @volatile private[graft] var RegionDirChunkTarget = 512

  /** Test hooks: sidecar bytes physically read / written (list + chunk
    * files; cache hits don't count). Pin the flat-at-20×-regions
    * contract of the chunked directory.
    */
  private[graft] val sidecarBytesRead = new AtomicLong(0)
  private[graft] val sidecarBytesWritten = new AtomicLong(0)

  private val KrListMarker = "#krlist"

  private def regionChunkDir(p: Path): Path =
    p.resolveSibling(p.getFileName.toString + ".d")

  /** Immutable-chunk cache: chunk PATH → raw entry lines. Chunk files
    * are write-once under fresh uuid names, so entries never go stale —
    * but dead entries can accumulate (a crashed writer's orphan chunks
    * are GC'd by [[repair]] on a different JVM, or a dropped table's
    * chunks vanish with the directory), so the cache is a CAPPED
    * access-ordered LRU: crossing [[RegionChunkCacheCap]] evicts only
    * the coldest entry per insert — the warm working set survives,
    * unlike the pre-round-11 `clear()`-everything, whose thundering-herd
    * refill re-read every live chunk — and the per-entry eviction inside
    * the map's own lock closes the old size-check/put race that let
    * concurrent inserts overshoot the cap. A working set that genuinely
    * exceeds the cap degrades to read-through, as before. GC paths
    * additionally evict what they delete.
    *
    * One global mutex (and a get() that relinks for access order) is a
    * deliberate trade: this cache serves DRIVER-side region-directory
    * routing — O(directory chunks) lookups per query/write, not
    * per-row — so hold times are nanoseconds against file-IO-scale
    * misses. If a profile ever shows contention here, segment the lock
    * before reaching for a lock-free approximate-LRU.
    */
  @volatile private[graft] var RegionChunkCacheCap = 4096

  /** LRU construction, factored so ChunkCacheSpec can pin the policy
    * (bounded size, warm survival, no empty-window) directly. */
  private[graft] def newChunkCache(): java.util.Map[String, IndexedSeq[String]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, IndexedSeq[String]](
          256, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, IndexedSeq[String]]): Boolean = {
          // Evict down to the cap ourselves (and return false, per the
          // LinkedHashMap contract for self-modifying overrides): the
          // cap is a live knob — when a test or operator shrinks it,
          // one-eldest-per-put would never drain the excess.
          while (size() > RegionChunkCacheCap) {
            val it = entrySet().iterator()
            it.next(); it.remove()
          }
          false
        }
      })

  private val regionChunkCache = newChunkCache()

  /** Test hook: entry count of the chunk cache (pins the bound). */
  private[graft] def regionChunkCacheSize: Int = regionChunkCache.size

  private def readChunkLines(dir: Path, file: String): IndexedSeq[String] = {
    val cp = dir.resolve(file)
    val hit = regionChunkCache.get(cp.toString)
    if (hit != null) hit
    else {
      val bytes = Files.readAllBytes(cp)
      sidecarBytesRead.addAndGet(bytes.length)
      val lines = new String(bytes, "UTF-8").split("\n", -1)
        .iterator.filter(_.nonEmpty).toIndexedSeq
      // The LRU evicts its own eldest inside put() — no size check here.
      regionChunkCache.put(cp.toString, lines)
      lines
    }
  }

  private def writeRegions(spark: SparkSession, name: String, rm: RegionMap,
                           target: Long, keyCol: String): Unit = {
    // Header carries the KEY COLUMN (base64 — column names are free
    // text) so SQL-plan consumers ([[graft.plans.KeyedRegionPrune]]) can
    // recognize key predicates without out-of-band metadata — the region
    // directory is the store's whole contract, like HBase meta.
    val keyB64 = java.util.Base64.getEncoder
      .encodeToString(keyCol.getBytes("UTF-8"))
    val p = sidecar(spark, name)
    val ord: Ordering[Any] = rm.typ match {
      case "long" => Ordering.by[Any, Long](_.asInstanceOf[Number].longValue())
      case _ => Ordering.by[Any, String](_.toString)
    }
    val sorted = rm.regions.sortBy(_.min)(ord)
    def entryLine(r: Region) =
      s"${r.kr},${r.rows},${encKey(rm.typ, r.min)},${encKey(rm.typ, r.max)}"
    val cd = regionChunkDir(p)
    if (sorted.size <= RegionDirChunkTarget) {
      val content = (s"${rm.typ},$target,$keyB64" +: sorted.map(entryLine))
        .mkString("\n")
      sidecarBytesWritten.addAndGet(content.length.toLong)
      atomicWrite(p, content)
      // A directory that shrank back below the threshold abandons its
      // chunk files (single sidecar writer; a reader mid-parse of the
      // old list retries and sees the flat file).
      if (Files.exists(cd))
        scala.util.Using.resource(Files.list(cd))(
          _.iterator().asScala.foreach(Files.deleteIfExists(_)))
    } else {
      writeRegionList(p, cd, rm.typ, target, keyB64, sorted, entryLine, ord)
    }
    // Prime the cache with the parsed value under the freshly-written
    // attributes: the writer's next read is a hit, and a second write
    // within the same mtime tick can't leave a stale in-JVM entry.
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    dirCache.put(p.toString, (attrs.lastModifiedTime(), attrs.size(),
      (RegionMap(rm.typ, sorted), target, Some(keyCol))))
  }

  /** Chunked sidecar publish: assign the min-key-sorted entries to the
    * PREVIOUS list's chunk buckets (boundary = each chunk's recorded
    * first min key), share every chunk whose entry lines are unchanged,
    * rewrite the rest under fresh uuid names (a bucket grown past 2×
    * target splits into ~target-sized fresh chunks), then publish the
    * small list atomically and GC the superseded chunk files. A 1-key
    * merge therefore writes one chunk + the list — O(touched chunks),
    * never O(regions); KeyedStoreSpec pins the bytes flat across 20×
    * region growth.
    */
  private def writeRegionList(p: Path, cd: Path, typ: String, target: Long,
                              keyB64: String, sorted: IndexedSeq[Region],
                              entryLine: Region => String,
                              ord: Ordering[Any]): Unit = {
    Files.createDirectories(cd)
    // Previous refs: (file, count, first min key enc) — None if the
    // current sidecar is flat/absent (full repack).
    val prevRefs: IndexedSeq[(String, Long, String)] =
      if (!Files.exists(p)) IndexedSeq.empty
      else {
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        if (lines.isEmpty || !lines.head.startsWith(KrListMarker))
          IndexedSeq.empty
        else lines.tail.filter(_.nonEmpty).map { l =>
          val Array(f, n, minEnc) = l.split(",", 3)
          (f, n.toLong, minEnc)
        }
      }
    val buckets: IndexedSeq[IndexedSeq[Region]] =
      if (prevRefs.isEmpty)
        sorted.grouped(math.max(1, RegionDirChunkTarget)).toIndexedSeq
      else {
        val bounds = prevRefs.map(r => decKey(typ, r._3))
        // Greatest bucket whose first min ≤ the region's min (region 0's
        // bucket absorbs anything below the first boundary).
        val out = IndexedSeq.fill(prevRefs.size)(
          scala.collection.mutable.ArrayBuffer.empty[Region])
        sorted.foreach { r =>
          val i = graft.functions.RangeFunctions.indexOf(bounds, r.min)(ord)
          out(math.max(0, i)) += r
        }
        out.map(_.toIndexedSeq)
      }
    def writeChunk(entries: IndexedSeq[Region]): (String, Long, String) = {
      val fn = "ch" + java.util.UUID.randomUUID().toString.replace("-", "")
      val content = entries.map(entryLine).mkString("\n")
      sidecarBytesWritten.addAndGet(content.length.toLong)
      atomicWrite(cd.resolve(fn), content)
      // Deliberately NOT primed into regionChunkCache: the writer's own
      // dirCache prime covers its next read, and an unprimed chunk lets
      // the byte-counter spec measure exactly what a previous-version
      // READER must fetch (list + rewritten chunks).
      (fn, entries.size.toLong, encKey(typ, entries.head.min))
    }
    val newRefs: IndexedSeq[(String, Long, String)] =
      buckets.zipWithIndex.flatMap { case (bucket, i) =>
        if (bucket.isEmpty) IndexedSeq.empty[(String, Long, String)]
        else {
          val prev = prevRefs.lift(i)
          val lines = bucket.map(entryLine)
          if (prev.exists(pr => pr._2 == bucket.size &&
              readChunkLines(cd, pr._1) == lines))
            IndexedSeq(prev.get) // unchanged: share the chunk file
          else if (bucket.size > 2 * RegionDirChunkTarget)
            bucket.grouped(RegionDirChunkTarget).map(writeChunk).toIndexedSeq
          else IndexedSeq(writeChunk(bucket))
        }
      }
    val content = (s"$KrListMarker,$typ,$target,$keyB64" +:
      newRefs.map(r => s"${r._1},${r._2},${r._3}")).mkString("\n")
    sidecarBytesWritten.addAndGet(content.length.toLong)
    atomicWrite(p, content)
    // Superseded chunks: single sidecar writer, so immediate GC is safe
    // (a reader mid-parse of the old list retries on the missing file).
    val live = newRefs.map(_._1).toSet
    prevRefs.map(_._1).filterNot(live).foreach { f =>
      Files.deleteIfExists(cd.resolve(f))
      regionChunkCache.remove(cd.resolve(f).toString)
    }
  }

  /** Test hook: number of sidecar PARSES (cache misses). Pins the
    * one-parse-per-version contract — repeated GET/scan calls must not
    * re-read the region directory.
    */
  private[graft] val sidecarParses = new AtomicLong(0)

  /** path → (mtime, size, parsed). Validated by (mtime, size) on every
    * read, so a directory republished by ANOTHER JVM is picked up on
    * its next change while same-version reads are served from memory —
    * at 10⁶ regions that is the difference between ~50 MB parsed per
    * point-GET and one parse per directory version.
    */
  private val dirCache =
    new java.util.concurrent.ConcurrentHashMap[String, (java.nio.file.attribute.FileTime, Long, (RegionMap, Long, Option[String]))]

  /** Parse (through the cache) the region directory at an explicit
    * sidecar PATH: (region map, per-region row target, key column).
    * Path-based so [[graft.plans.KeyedRegionPrune]] — which resolves a
    * catalog table's location, not a session+name — shares the parse and
    * the cache. Entries are sorted by MIN KEY — the binary-search
    * invariant — not by kr: after an automatic split, fresh kr ids
    * interleave the key order. Legacy headers lacking target/key fall
    * back to (default, None).
    */
  private[graft] def parseSidecarAt(p: Path): (RegionMap, Long, Option[String]) = {
    var attempt = 0
    while (true) {
      try return parseSidecarOnce(p)
      catch {
        // A chunk file vanished mid-parse: the single sidecar writer
        // republished and GC'd it between our list read and chunk read.
        // Re-stat and re-parse against the fresh list (bounded retries —
        // persistent absence is real corruption and must surface).
        case e: java.nio.file.NoSuchFileException =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(10)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def parseSidecarOnce(p: Path): (RegionMap, Long, Option[String]) = {
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val cached = dirCache.get(p.toString)
    if (cached != null && cached._1 == attrs.lastModifiedTime() &&
        cached._2 == attrs.size()) return cached._3
    sidecarParses.incrementAndGet()
    sidecarBytesRead.addAndGet(attrs.size())
    val lines = Files.readAllLines(p).asScala.toIndexedSeq
    val isList = lines.head.startsWith(KrListMarker)
    // Flat header: typ,target,keyB64. List header: #krlist,typ,target,keyB64.
    val header = lines.head.split(",", if (isList) 4 else 3)
    val off = if (isList) 1 else 0
    val typ = header(off)
    val target = header.lift(off + 1).map(_.toLong)
      .getOrElse(DefaultTargetRowsPerRegion)
    val keyCol = header.lift(off + 2).map(b =>
      new String(java.util.Base64.getDecoder.decode(b), "UTF-8"))
    val entryLines: Seq[String] =
      if (!isList) lines.tail.filter(_.nonEmpty)
      else lines.tail.filter(_.nonEmpty).flatMap { l =>
        // file,count,minEnc — chunks load through the immutable cache, so
        // a version change re-reads only the chunks it rewrote.
        readChunkLines(regionChunkDir(p), l.split(",", 3)(0))
      }
    val regions = entryLines.iterator.map { l =>
      val Array(kr, n, lo, hi) = l.split(",", 4)
      Region(kr.toInt, n.toLong, decKey(typ, lo), decKey(typ, hi))
    }.toIndexedSeq
    val ord: Ordering[Any] = typ match {
      case "long" => Ordering.by[Any, Long](_.asInstanceOf[Number].longValue())
      case _ => Ordering.by[Any, String](_.toString)
    }
    val parsed = (RegionMap(typ, regions.sortBy(_.min)(ord)), target, keyCol)
    dirCache.put(p.toString, (attrs.lastModifiedTime(), attrs.size(), parsed))
    parsed
  }

  /** Test hook: forget the in-memory directory entry (simulates a reader
    * in a fresh JVM / one pinned to the previous version; the immutable
    * chunk cache is deliberately KEPT — that is the artifact under test:
    * a version change must re-read only the list + changed chunks).
    */
  private[graft] def invalidateDirCache(spark: SparkSession, name: String): Unit =
    dirCache.remove(sidecar(spark, name).toString)

  private[graft] def readRegionsWithTarget(
      spark: SparkSession, name: String): (RegionMap, Long) = {
    val (rm, target, _) = parseSidecarAt(sidecar(spark, name))
    (rm, target)
  }

  private[graft] def readRegions(spark: SparkSession, name: String): RegionMap =
    readRegionsWithTarget(spark, name)._1

  private def keyTyp(df: DataFrame, key: String): String =
    df.schema(key).dataType match {
      case LongType | IntegerType => "long"
      case StringType => "string"
      case dt => throw new IllegalArgumentException(
        s"KeyedStore supports BIGINT/INT/STRING keys, got ${dt.simpleString}")
    }

  /** CTAS the keyed table: ~n/target key-range regions, key-sorted files
    * within each `kr` directory, the region-boundary sidecar, and one
    * data-side bloom file per region.
    */
  def create(spark: SparkSession, name: String, rows: DataFrame, key: String,
             targetRowsPerRegion: Long = DefaultTargetRowsPerRegion): Unit =
    withStructuralLock(spark, name) {
      createLocked(spark, name, rows, key, targetRowsPerRegion)
    }

  private def createLocked(spark: SparkSession, name: String, rows: DataFrame,
                           key: String, targetRowsPerRegion: Long,
                           regionTransform: Option[DataFrame => DataFrame] =
                             None): Unit = {
    require(!rows.columns.contains("kr"),
      "KeyedStore payloads must not contain a column named 'kr'")
    val typ = keyTyp(rows, key)
    dropWithLocation(spark, name)
    val n = rows.count()
    val nRegions = math.max(1L,
      (n + targetRowsPerRegion - 1) / targetRowsPerRegion).toInt
    val withKr0 = rows.repartitionByRange(nRegions, col(key))
      .withColumn("kr", spark_partition_id())
    // With a transform ([[rebalance]] on stores carrying DERIVED
    // per-region columns), pin the kr assignment first: the transform
    // shuffles (per-kr window), and spark_partition_id must not be
    // re-evaluated on the far side of that exchange. The transform may
    // lay regions out however it likes; the exchange on kr puts each
    // back WHOLE in one partition for the stats fold.
    val withKr = regionTransform
      .map(t => t(withKr0.localCheckpoint()).repartition(nRegions, col("kr")))
      .getOrElse(withKr0)
    // Region directory + row blooms (~10 bits/key at the region target)
    // fold in the pass that materializes the regions (one region per
    // range partition); bloom bytes land data-side from the executors,
    // never on the driver, and publish after the data.
    val mBits = graft.functions.BloomAgg.sizeFor(targetRowsPerRegion)
    val stats = rewriteRegions(spark, name,
        withKr.sortWithinPartitions(col("kr"), col(key)), key, mBits) { out =>
      out.write.mode("overwrite").format("parquet").partitionBy("kr")
        .saveAsTable(name)
      Files.createDirectories(bloomDir(spark, name))
      atomicWrite(bloomDir(spark, name).resolve("_meta"), s"$mBits,$BloomK")
    }
    writeRegions(spark, name,
      RegionMap(typ, stats.values.toIndexedSeq.sortBy(_.kr)),
      targetRowsPerRegion, key)
  }

  /** Regions a key DataFrame touches: each key's coverage region (the
    * codegen'd binary search, [[RegionMap.krCol]]), deduplicated per
    * partition in ONE job — only O(partitions × touched regions) ids
    * reach the driver, with no aggregate exchange — then closed over
    * boundary-straddling neighbors ([[RegionMap.expandTouched]]).
    */
  private def touchedBy(rm: RegionMap, keys: DataFrame,
                        key: String): Seq[Int] = {
    val int = org.apache.spark.sql.Encoders.scalaInt
    val coverage = keys.select(rm.krCol(col(key))).as(int)
      .mapPartitions(_.toSet.iterator)(int)
      .collect().toSet
    val krToIdx = rm.regions.zipWithIndex.map { case (r, i) => r.kr -> i }.toMap
    rm.expandTouched(coverage.map(krToIdx)).map(rm.regions(_).kr)
  }

  /** Batch point-GET: driver-side region resolution (binary search over
    * the CACHED sidecar) → static `kr` PartitionFilters + key IN-list
    * pushdown. Touches O(keys) region partitions and, within them,
    * O(keys) sorted row groups — regardless of table size.
    */
  def get(spark: SparkSession, name: String, key: String, keys: Seq[Any]): DataFrame = {
    val rm = readRegions(spark, name)
    // Range-candidate regions first (binary search over the sidecar),
    // then each candidate's row bloom — loaded lazily, ONLY for the
    // candidates — rejects regions that definitely don't hold the key:
    // an absent-key GET touches ZERO partitions (modulo the ~1%
    // false-positive rate), the HBase ROW-bloom fast path. A region with
    // a missing or stale bloom file is scanned (fail open).
    val krs = keys.flatMap { kk =>
      val h = driverHash60(rm.typ, kk)
      rm.holdingIdx(kk).map(i => rm.regions(i).kr).filter { kr =>
        loadBloom(spark, name, kr).forall(b =>
          graft.functions.BloomAgg.maybeContains(b, h, BloomK))
      }
    }.distinct
    spark.table(name)
      .filter(col("kr").isin(krs: _*))
      .filter(col(key).isin(keys: _*))
      .drop("kr")
  }

  /** Batch GET for a LARGE key set supplied as a DataFrame — the HBase
    * multiGet analog, and the scalable sibling of [[get]]: an IN-list of
    * 10⁵ literals is itself a driver-side plan bomb (every literal is an
    * expression node analyzed and codegen'd), so past point-lookup size
    * the key set must stay DATA. Region assignment per key is the
    * codegen'd binary search ([[RegionMap.krCol]]); only the O(touched
    * regions) distinct kr ids reach the driver (the same control-plane
    * discipline as upsert), the scan statically prunes to those
    * partitions, and the keys join back as a broadcast-eligible semi
    * join — per-key cost is O(1) region partitions at any table or
    * batch size.
    */
  def getBatch(spark: SparkSession, name: String, key: String,
               keys: DataFrame): DataFrame = {
    require(keys.columns.contains(key),
      s"getBatch keys must carry the key column '$key'")
    val rm = readRegions(spark, name)
    val wanted = keys.select(col(key)).distinct()
    val krs = touchedBy(rm, keys, key)
    spark.table(name)
      .filter(col("kr").isin(krs: _*))
      .join(wanted, Seq(key), "left_semi")
      .drop("kr")
  }

  /** Range SCAN over [from, to] (inclusive): prunes to exactly the
    * regions whose key range intersects the scan (PartitionFilters) and
    * pushes the range predicate into the key-sorted parquet
    * (PushedFilters min/max row-group skipping). The HBase
    * `Scan(startRow, stopRow)` analog.
    */
  def scan(spark: SparkSession, name: String, key: String,
           from: Any, to: Any): DataFrame = {
    val rm = readRegions(spark, name)
    val krs = rm.rangeIdx(from, to).map(i => rm.regions(i).kr)
    spark.table(name)
      .filter(col("kr").isin(krs: _*))
      .filter(col(key) >= lit(from) && col(key) <= lit(to))
      .drop("kr")
  }

  /** Multi-range SCAN — the HBase MultiRowRangeFilter analog: ONE table
    * read pruned to the union of regions intersecting ANY of the
    * [from, to] ranges (PartitionFilters), with the OR-of-ranges
    * predicate pushed into the key-sorted files (row-group min/max
    * skipping applies per range). One range behaves exactly like
    * [[scan]]; N ranges cost one scan, not N — the per-range union of
    * [[scan]] calls is a plan-size bomb past a few dozen ranges. The
    * range list is driver-side control plane (each range is a plan
    * literal pair): for a DATA-sized range set, stage the ranges as a
    * DataFrame and join, [[getBatch]]-style.
    */
  def scanMulti(spark: SparkSession, name: String, key: String,
                ranges: Seq[(Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "scanMulti needs at least one range")
    val rm = readRegions(spark, name)
    val krs = ranges
      .flatMap { case (from, to) => rm.rangeIdx(from, to) }
      .distinct.map(rm.regions(_).kr)
    val pred = ranges
      .map { case (from, to) => col(key) >= lit(from) && col(key) <= lit(to) }
      .reduce(_ || _)
    spark.table(name)
      .filter(col("kr").isin(krs: _*))
      .filter(pred)
      .drop("kr")
  }

  /** MERGE a change set (`op` ∈ U/I/D rows, [[SourceSinkOps.mergeUpsert]]
    * semantics) into the table, rewriting only the regions that contain
    * changed keys; returns the post-merge table. Base rows keep their
    * resident region (no accidental row movement); changed rows land in
    * their coverage region. Jobs per call: the touched set (one job over
    * the change set), the merge's exchange on `kr`, one pass that
    * materializes the merged regions and folds their stats and blooms,
    * and the write ([[writeTouched]]) — the touched regions are read
    * once and each is written once, as one file. Writers serialize per
    * REGION ([[withRegionLocks]]); disjoint writers run concurrently.
    *
    * The RETURNED relation (here and in [[mergeInto]]) is a raw
    * full-table read taken after this writer's locks are released:
    * evaluate it only while no CONCURRENT writer is active, or read
    * through [[get]]/[[scan]] — under concurrent region overwrites its
    * file listing can reference just-replaced files (a transient
    * FAILED_READ_FILE, never silent corruption; the read-isolation
    * contract in the class scaladoc). Streaming sinks discard it;
    * KeyedStoreSoakSpec's concurrent soak pins the distinction.
    *
    * `regionTransform` (optional) rewrites each TOUCHED region's
    * post-merge content before it lands — for DERIVED per-region
    * columns that every region rewrite must refresh (the suffix
    * store's in-region ordinal). It sees the merged rows WITH the `kr`
    * column (which it must preserve) and runs inside the write path,
    * over rows the writer already holds — keeping the caller's change
    * set delta-sized instead of forcing a full touched-region change
    * set through an extra shuffle.
    */
  def upsert(spark: SparkSession, name: String, key: String,
             changes: DataFrame,
             regionTransform: Option[DataFrame => DataFrame] = None)
      : DataFrame = {
    require(!changes.columns.contains("kr"),
      "KeyedStore payloads must not contain a column named 'kr'")
    // The touched set runs UNLOCKED (withRegionLocks revalidates it
    // against the boundary signature).
    def touchedOf(rm: RegionMap): Seq[Int] = touchedBy(rm, changes, key)
    val rm0 = readRegions(spark, name)
    withRegionLocks(spark, name, rm0, touchedOf(rm0), touchedOf) {
      (rm, target, touchedKr) =>
        val changesK = changes.withColumn("kr", rm.krCol(col(key)))
        val baseTouched = spark.table(name)
          .filter(col("kr").isin(touchedKr: _*))
        val merged = SourceSinkOps.mergeUpsert(baseTouched, changesK, key)
        val out = regionTransform.map(f => f(merged)).getOrElse(merged)
        writeTouched(spark, name, key, rm, touchedKr, out, target)
    }
    maybeSplit(spark, name, key)
    spark.table(name).drop("kr")
  }

  /** Merge a keyed BATCH into the table under a caller-supplied
    * commutative merge — `merge(baseTouchedRows, batch)` returns the
    * post-merge rows for every key present in either input (e.g.
    * latest-wins max-struct, additive counts). This is the micro-batch
    * sink primitive behind the streaming stores: same region
    * copy-on-write as [[upsert]] (only regions holding batch keys are
    * read and rewritten — O(changed regions), never O(table)), but the
    * conflict rule is the caller's, so an out-of-order batch can LOSE to
    * the resident row (something replace-semantics upsert can't express).
    * Base-only keys keep their resident region; keys new to the table
    * land in their coverage region. Serialized against other writers by
    * the table lock.
    */
  def mergeInto(spark: SparkSession, name: String, key: String,
                batch: DataFrame,
                merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(!batch.columns.contains("kr"),
      "KeyedStore payloads must not contain a column named 'kr'")
    def touchedOf(rm: RegionMap): Seq[Int] = touchedBy(rm, batch, key)
    val rm0 = readRegions(spark, name)
    withRegionLocks(spark, name, rm0, touchedOf(rm0), touchedOf) {
      (rm, target, touchedKr) =>
        val baseTouched = spark.table(name).filter(col("kr").isin(touchedKr: _*))
        // Resident region per base key: merged rows re-join it so surviving
        // keys never move regions (a boundary-straddling key's coverage can
        // differ from its residence); only table-new keys take coverage.
        val residentKr = baseTouched
          .select(col(key).as("__mrg_k"), col("kr").as("__mrg_kr")).distinct()
        val merged = merge(baseTouched.drop("kr"), batch)
          .join(residentKr, col(key) === col("__mrg_k"), "left")
          .withColumn("kr", coalesce(col("__mrg_kr"), rm.krCol(col(key))))
          .drop("__mrg_k", "__mrg_kr")
        writeTouched(spark, name, key, rm, touchedKr, merged, target)
    }
    maybeSplit(spark, name, key)
    spark.table(name).drop("kr")
  }

  /** Land `out` via DYNAMIC partition overwrite (only partitions present
    * in the output are rewritten) — the one write primitive every
    * mutation path shares. The session conf is managed by a re-entrant
    * JVM-wide guard: with region-disjoint writers running CONCURRENTLY,
    * a naive set/restore pair races (writer A's restore lands while B's
    * insert is still planning — B would then OVERWRITE STATICALLY and
    * truncate the table); the guard restores the user's value only when
    * the last concurrent writer exits.
    */
  private object OverwriteModeGuard {
    private val Key = "spark.sql.sources.partitionOverwriteMode"
    // Depth/saved-value PER SparkSession (identity — sessions don't
    // define equality): the conf being guarded is session-scoped, so a
    // JVM-global depth would leave a second session's conf untouched
    // (static overwrite → silent table truncation) whenever it entered
    // while another session's writer was in flight.
    private val state =
      new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]
    def enter(spark: SparkSession): Unit = synchronized {
      Option(state.get(spark)) match {
        case None =>
          val saved = spark.conf.getOption(Key)
          spark.conf.set(Key, "dynamic")
          state.put(spark, (1, saved))
        case Some((depth, saved)) =>
          state.put(spark, (depth + 1, saved))
      }
    }
    def exit(spark: SparkSession): Unit = synchronized {
      val (depth, saved) = state.get(spark)
      if (depth > 1) state.put(spark, (depth - 1, saved))
      else {
        saved match {
          case Some(v) => spark.conf.set(Key, v)
          case None => spark.conf.unset(Key)
        }
        state.remove(spark)
      }
    }
  }

  /** One COMMITTER STAGE at a time per table (JVM-wide): Spark's file
    * committer stages every job under the shared `<table>/_temporary/0`,
    * so two temporally-overlapping insertInto jobs against one table can
    * delete each other's staging (one job's commit/cleanup removes the
    * directory while the peer is between setup and commit) — the region
    * locks guarantee LOGICAL disjointness but not write-path isolation.
    * The expensive part of a merge (read + merge + localCheckpoint
    * materialization) stays concurrent; only the staged write + commit
    * serializes. Cross-JVM writers against one warehouse additionally
    * need a committer with per-job staging — the same deployment rule
    * any concurrent Spark writers to one path carry.
    */
  private val writeStageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  private def dynamicOverwriteInto(spark: SparkSession, name: String,
                                   out: DataFrame): Unit = {
    val stage = writeStageLocks
      .computeIfAbsent(name.toLowerCase, _ => new Object)
    stage.synchronized {
      OverwriteModeGuard.enter(spark)
      try out.write.mode("overwrite").insertInto(name)
      finally OverwriteModeGuard.exit(spark)
    }
  }

  /** Shared commit path of [[upsert]]/[[mergeInto]] (and so of every
    * streaming sink that lands through them). `merged` holds the
    * post-merge rows of the touched regions, `kr` attached. Passes:
    *
    *  1. one exact exchange on `kr` puts each touched region WHOLE in
    *     one task, sorted by (kr, key);
    *  2. ONE job materializes that as a local checkpoint and, in the
    *     same pass, folds each region's (rows, min, max) and bloom
    *     ([[rewriteRegions]]) — the touched regions are read once;
    *  3. the checkpoint lands via dynamic partition overwrite, one file
    *     per region — each region is written once. The checkpoint breaks
    *     the read/overwrite cycle without a staging copy (at
    *     multi-executor scale, substitute a reliable checkpoint dir);
    *  4. driver-side file ops only: publish the staged blooms, drop
    *     partitions the merge emptied (dynamic overwrite only rewrites
    *     partitions PRESENT in the output — an all-keys-deleted region
    *     would otherwise keep its stale files), and refresh the touched
    *     sidecar entries so later GET/scan pruning sees keys that moved
    *     past the old recorded bounds.
    */
  private def writeTouched(spark: SparkSession, name: String, key: String,
                           rm: RegionMap, touchedKr: Seq[Int],
                           merged: DataFrame, target: Long): Unit = {
    val cols = spark.table(name).columns.toIndexedSeq
    // Exact exchange on kr: each touched region lands WHOLE in one task
    // (one file per region, and the stats fold below sees all of it).
    // A range exchange would sample — re-running the base scan and the
    // merge — and split regions across tasks.
    val planned = merged
      .repartition(math.max(1, touchedKr.size), col("kr"))
      .sortWithinPartitions(col("kr"), col(key))
      .select(cols.map(col): _*) // insertInto is positional
    val stats = rewriteRegions(spark, name, planned, key,
      readBloomBits(spark, name, target))(dynamicOverwriteInto(spark, name, _))
    val touched = touchedKr.toSet
    touchedKr.filterNot(stats.contains).foreach { krv =>
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (kr=$krv)")
      Files.deleteIfExists(bloomFile(spark, name, krv))
    }
    // Emptied regions keep their sidecar entry with rows = 0 and the old
    // bounds: pruning may still select them, their bloom file is deleted
    // (missing → fail open), and reads see the dropped (empty) partition
    // — harmless — while coverage keeps routing inserts, so the region
    // map never goes empty.
    //
    // Sidecar refresh is READ-MODIFY-WRITE under the sidecar lock: a
    // concurrent DISJOINT region writer may have updated OTHER entries
    // since this writer's admission, so the directory is re-parsed and
    // only this writer's touched entries are replaced — writing the
    // admission-time snapshot back whole would roll the other writer's
    // stats back.
    val sc = acquireLock(sidecarLockPath(spark, name))
    try {
      val (cur, _, _) = parseSidecarAt(sidecar(spark, name))
      val newRegions = cur.regions.map { r =>
        if (!touched.contains(r.kr)) r
        else stats.getOrElse(r.kr, r.copy(rows = 0L))
      }
      writeRegions(spark, name, RegionMap(cur.typ, newRegions), target, key)
    } finally sc.release()
  }

  /** Automatic region SPLIT — what an HBase region server does when a
    * region outgrows its size threshold, so insert-heavy workloads
    * (boundary regions absorb every out-of-range key) stay bounded
    * without waiting for a manual [[rebalance]]. Any region whose
    * post-merge row count exceeds `SplitFactor`× the store target is
    * rewritten into ~rows/target key-range sub-regions under FRESH kr
    * ids (the region directory is min-key-sorted, so id order need not
    * match key order); every other region's files are untouched. Cost is
    * O(oversized regions), read-then-write broken by the same
    * localCheckpoint materialization as the merge path. The updated
    * directory is published BEFORE the superseded partition is dropped:
    * a crash can orphan an unlisted partition ([[repair]] reclaims it)
    * but never leaves the directory pointing at dropped data.
    */
  private val SplitFactor = 2L

  private def maybeSplit(spark: SparkSession, name: String,
                         key: String): Unit = {
    // Unlocked pre-check (the common no-split case stays lock-free);
    // the structural body re-derives under exclusion — a concurrent
    // writer may have split (or grown) a region in between.
    val (rmPre, targetPre) = readRegionsWithTarget(spark, name)
    if (!rmPre.regions.exists(_.rows > SplitFactor * targetPre)) return
    withStructuralLock(spark, name) { splitLocked(spark, name, key) }
  }

  private def splitLocked(spark: SparkSession, name: String,
                          key: String): Unit = {
    val (rm0, target) = readRegionsWithTarget(spark, name)
    val oversized = rm0.regions.filter(_.rows > SplitFactor * target)
    if (oversized.isEmpty) return
    val mBits = readBloomBits(spark, name, target)
    var nextKr = rm0.regions.map(_.kr).max + 1
    var regions = rm0.regions
    val cols = spark.table(name).columns.toIndexedSeq
    oversized.foreach { r =>
      val k = math.max(2L, (r.rows + target - 1) / target).toInt
      val firstKr = nextKr
      nextKr += k
      // One sub-region per range partition: the fused stats fold applies.
      val planned = spark.table(name).filter(col("kr") === r.kr).drop("kr")
        .repartitionByRange(k, col(key))
        .withColumn("kr", spark_partition_id() + lit(firstKr))
        .sortWithinPartitions(col("kr"), col(key))
        .select(cols.map(col): _*)
      val stats = rewriteRegions(spark, name, planned, key, mBits)(
        dynamicOverwriteInto(spark, name, _))
      regions = regions.filterNot(_.kr == r.kr) ++ stats.values
      // Directory first (covers the new partitions), THEN drop the old:
      // the crash-safe order — get/scan never point at dropped data.
      writeRegions(spark, name, RegionMap(rm0.typ, regions), target, key)
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (kr=${r.kr})")
      Files.deleteIfExists(bloomFile(spark, name, r.kr))
    }
  }

  /** Online region MERGE — the HBase normalizer's other half, symmetric
    * to [[maybeSplit]]: runs of ADJACENT (min-key order) regions whose
    * combined rows fit the store target collapse into one region under a
    * fresh kr id, and runs of fully-EMPTIED regions (rows = 0 after
    * deletes) drop out of the directory entirely (coverage is total by
    * construction — a key in a removed range routes to the preceding
    * region). Regions that don't pack with a neighbor keep their files
    * untouched, so cost is O(merged regions), never O(table) — the
    * delete-heavy table's answer to what [[VersionedStore.compact]] does
    * for the versioned store's leaves. Explicit maintenance (like HBase's
    * normalizer), not an auto-trigger: merging trades write cost now for
    * read locality later, a call the operator makes. If EVERY region
    * would vanish (a full-table delete), one sentinel entry is retained
    * with rows = 0 so the directory never goes empty — coverage stays
    * total and later inserts still route. Returns the number of regions
    * eliminated (0 = nothing to do). Serialized by the table lock.
    */
  def mergeSmallRegions(spark: SparkSession, name: String, key: String,
                        regionTransform: Option[DataFrame => DataFrame] =
                          None): Int = withStructuralLock(spark, name) {
    val (rm, target) = readRegionsWithTarget(spark, name)
    // Greedy run-coalescing over the min-key-ordered directory, same rule
    // as the versioned store's bin-packing compaction.
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[Region]]
    var run = Vector.empty[Region]
    var runRows = 0L
    rm.regions.foreach { r =>
      if (run.nonEmpty && runRows + r.rows <= target) {
        run :+= r; runRows += r.rows
      } else {
        if (run.nonEmpty) bins += run
        run = Vector(r); runRows = r.rows
      }
    }
    if (run.nonEmpty) bins += run
    val mergeBins = bins.filter(_.size >= 2).toSeq
    if (mergeBins.isEmpty) 0
    else mergeRuns(spark, name, key, rm, target, mergeBins, regionTransform)
  }

  private def mergeRuns(spark: SparkSession, name: String, key: String,
                        rm: RegionMap, target: Long,
                        mergeBins: Seq[Vector[Region]],
                        regionTransform: Option[DataFrame => DataFrame] =
                          None): Int = {
    var nextKr = rm.regions.map(_.kr).max + 1
    // old kr -> new kr for every non-empty bin (all-empty bins simply
    // vanish: partitions dropped, entries removed).
    val mapping: Map[Int, Int] = mergeBins.flatMap { b =>
      if (b.forall(_.rows == 0L)) Nil
      else { val nk = nextKr; nextKr += 1; b.map(_.kr -> nk) }
    }.toMap
    val mBits = readBloomBits(spark, name, target)
    var stats = Map.empty[Int, Region]
    if (mapping.nonEmpty) {
      val cols = spark.table(name).columns.toIndexedSeq
      val mapCol = map(mapping.flatMap { case (o, n) =>
        Seq(lit(o), lit(n)) }.toSeq: _*)
      // `regionTransform` (same contract as upsert's): refresh DERIVED
      // per-region columns over each merged region's combined content —
      // without it a suffix store's per-region ordinal invariant breaks
      // silently when two write generations merge (readers detect and
      // heal, but the transform is the correct path; round-16 ADVICE).
      val remapped = spark.table(name)
        .filter(col("kr").isin(mapping.keys.toSeq: _*))
        .withColumn("kr", element_at(mapCol, col("kr")))
      val planned = regionTransform.map(_(remapped)).getOrElse(remapped)
        .repartition(math.max(1, mapping.values.toSet.size), col("kr"))
        .sortWithinPartitions(col("kr"), col(key))
        .select(cols.map(col): _*)
      stats = rewriteRegions(spark, name, planned, key, mBits)(
        dynamicOverwriteInto(spark, name, _))
    }
    val gone = mergeBins.flatten.map(_.kr).toSet
    val survivors = rm.regions.filterNot(r => gone.contains(r.kr)) ++
      stats.values
    // A full-table delete coalesces every region into one all-empty bin:
    // retain a rows=0 sentinel (first region, old bounds) instead of
    // persisting an empty directory — krCol/maybeSplit/coverage all
    // assume at least one entry.
    val regions =
      if (survivors.nonEmpty) survivors
      else IndexedSeq(rm.regions.head.copy(rows = 0L))
    // Directory first, THEN drop superseded partitions (crash-safe order).
    writeRegions(spark, name, RegionMap(rm.typ, regions), target, key)
    gone.foreach { krv =>
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (kr=$krv)")
      Files.deleteIfExists(bloomFile(spark, name, krv))
    }
    // Eliminated = directory shrinkage (counts the sentinel correctly).
    rm.regions.size - regions.size
  }

  /** Crash-recovery sweep: drop any table partition whose kr is NOT in
    * the region directory (an orphan from a crash between a split/merge
    * publish and its partition drop — invisible to get/scan, but a raw
    * full-table read would double-count it) and delete bloom files with
    * no directory entry. Returns the number of orphan partitions
    * reclaimed. Safe to run any time; holds the writer lock.
    */
  def repair(spark: SparkSession, name: String): Int =
    withStructuralLock(spark, name) {
      val rm = readRegions(spark, name)
      val listed = rm.regions.map(_.kr).toSet
      val parts = spark.sql(s"SHOW PARTITIONS $name").collect()
        .map(_.getString(0).stripPrefix("kr=").toInt)
      val orphans = parts.filterNot(listed)
      orphans.foreach { krv =>
        spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (kr=$krv)")
      }
      val bd = bloomDir(spark, name)
      if (Files.exists(bd))
        scala.util.Using.resource(Files.list(bd)) { s =>
          s.iterator().asScala.foreach { f =>
            val fn = f.getFileName.toString
            if (fn.startsWith("kr=") && !listed(fn.stripPrefix("kr=").toInt))
              Files.deleteIfExists(f)
          }
        }
      // Bloom staging left by a writer that crashed before publishing
      // (live writers are drained: this runs under the structural lock).
      val parent = location(spark, name).getParent
      if (Files.exists(parent))
        scala.util.Using.resource(Files.list(parent)) { s =>
          s.iterator().asScala.toList
            .filter(_.getFileName.toString.startsWith(bloomStagePrefix(name)))
            .foreach(deleteTree)
        }
      // Directory-chunk GC: superseded chunk files whose immediate
      // delete a crashed writer missed (crash between the list publish
      // and its GC loop).
      val sp = sidecar(spark, name)
      val cd = regionChunkDir(sp)
      if (Files.exists(cd)) {
        val lines = Files.readAllLines(sp).asScala
        val live: Set[String] =
          if (lines.isEmpty || !lines.head.startsWith(KrListMarker)) Set.empty
          else lines.iterator.drop(1).filter(_.nonEmpty)
            .map(_.split(",", 3)(0)).toSet
        scala.util.Using.resource(Files.list(cd)) { s =>
          s.iterator().asScala.foreach { f =>
            if (!live(f.getFileName.toString)) {
              Files.deleteIfExists(f)
              regionChunkCache.remove(f.toString)
            }
          }
        }
      }
      orphans.length
    }

  /** Drop the table and its data directory (cleanup hook for temp
    * stores). */
  def drop(spark: SparkSession, name: String): Unit =
    dropWithLocation(spark, name)

  /** Register-by-copy CLONE of a store: copy the source table's data
    * directory (region parquet, sidecar, blooms — the store IS its
    * directory) into the destination's warehouse location and register
    * a catalog table over it. Pure file copy, never a Spark job:
    * cloning a built artifact costs IO proportional to its bytes, not
    * the computation that produced it — the content-addressed
    * fixture-store pattern (build once under a fingerprint-checked
    * name, clone per consumer; ScrubOps.qForgetCascade). Lock files
    * and in-progress sentinels are NOT copied: a clone of a quiescent
    * store is quiescent. The destination is dropped first and is fully
    * independent afterwards (copy-on-write regions never share files).
    * Source must be quiescent (no concurrent writer) — same
    * single-maintainer assumption as [[rebalance]].
    */
  def cloneStore(spark: SparkSession, src: String, dst: String): Unit =
    withStructuralLock(spark, dst) {
      require(exists(spark, src), s"cloneStore: source $src does not exist")
      dropWithLocation(spark, dst)
      val from = location(spark, src)
      val to = location(spark, dst)
      def skip(n: String): Boolean =
        n.endsWith(".graft-lock") || n == "_sfx_inprogress" ||
          n == "_graft_cache_fp" // a clone is a WORKING copy, usually
          // mutated next — carrying the source's content-address stamp
          // would leave a fresh-looking fingerprint on changed content
      def copyRec(f: Path, t: Path): Unit =
        if (Files.isDirectory(f)) {
          Files.createDirectories(t)
          scala.util.Using.resource(Files.list(f)) { s =>
            s.iterator().asScala.foreach(c =>
              copyRec(c, t.resolve(c.getFileName.toString)))
          }
        } else if (!skip(f.getFileName.toString)) {
          Files.copy(f, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      copyRec(from, to)
      // Same physical layout as a created store, registered as a table
      // over the copied location; partition metadata recovered from the
      // kr= directories (the catalog needs it for the per-region
      // PartitionFilters every read path relies on).
      val dataCols = spark.table(src).schema.fields
        .filterNot(_.name == "kr")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE $dst ($dataCols, kr INT) USING parquet " +
        s"PARTITIONED BY (kr) LOCATION '${to.toUri}'")
      spark.sql(s"ALTER TABLE $dst RECOVER PARTITIONS")
      invalidateDirCache(spark, dst)
    }

  /** Does the catalog table exist? (foreachBatch sinks create on first
    * batch.) */
  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  // ------- content-addressed artifact caching (train-once/serve) -------

  /** Content fingerprint of a relation: xxhash64 over every column,
    * term-reduced mod 1000003 (commutative sum — row order independent),
    * mixed with the row count. The freshness key of the content-
    * addressed artifact caches ([[cacheFresh]]); callers fold build
    * parameters and a schema-generation stamp in on top. One columnar
    * aggregate pass over the input — the probe costs O(input), the
    * build it guards costs far more.
    */
  def contentFingerprint(df: DataFrame): Long =
    df.agg((coalesce(sum(pmod(xxhash64(df.columns.map(col): _*),
        lit(1000003L))), lit(0L)) * 31L + count(lit(1))).as("fp"))
      .head().getLong(0)

  private def cacheFpPath(spark: SparkSession, name: String): Path =
    location(spark, name).resolve("_graft_cache_fp")

  /** True iff store `name` exists and carries a fingerprint stamp equal
    * to `fp`. The stamp is written strictly AFTER the build completes
    * ([[stampCacheFp]]), so a torn build can never read fresh. */
  def cacheFresh(spark: SparkSession, name: String, fp: Long): Boolean =
    exists(spark, name) && {
      val p = cacheFpPath(spark, name)
      Files.exists(p) &&
        new String(Files.readAllBytes(p), "UTF-8") == fp.toString
    }

  /** Stamp `name`'s content-address fingerprint (atomic publish). */
  def stampCacheFp(spark: SparkSession, name: String, fp: Long): Unit =
    atomicWriteBytes(cacheFpPath(spark, name), fp.toString.getBytes("UTF-8"))

  /** Train-once resolution for a content-addressed artifact store:
    * build (and stamp) only when `name` is absent, torn, or stamped for
    * different content. `build` must (re)create the table `name`; the
    * create's own drop-first wipes any stale stamp, so every crash
    * window inside the build reads stale → rebuild.
    */
  def ensureCached(spark: SparkSession, name: String, fp: Long)
                  (build: => Unit): Unit =
    if (!cacheFresh(spark, name, fp)) {
      build
      stampCacheFp(spark, name, fp)
    }

  /** [[ensureCached]] specialization for a plain [[create]]: resolve
    * `name` as a content-addressed copy of `rows` (key column and
    * region target folded into the address), creating only on miss or
    * stale. For FIXTURE/SERVING stores whose construction is not the
    * capability under measurement — the row's operator (a read, a
    * merge against a clone) stays fully priced while the victim store
    * resolves at fingerprint-probe cost, the way a production store
    * outlives the queries served from it.
    */
  def ensureCreated(spark: SparkSession, name: String, rows: DataFrame,
                    key: String, targetRowsPerRegion: Long): Unit = {
    val fp = contentFingerprint(rows) * 31L +
      scala.util.hashing.MurmurHash3
        .stringHash(s"$key:$targetRowsPerRegion").toLong
    ensureCached(spark, name, fp)(
      create(spark, name, rows, key, targetRowsPerRegion))
  }

  /** Maintenance: re-derive balanced regions from the current table —
    * the major-compaction / region-split pass that absorbs growth after
    * many upserts (fixed boundaries make hot boundary regions grow).
    */
  /** TTL expiry — the HBase per-column-family TTL analog
    * (`HColumnDescriptor.setTimeToLive`) as an explicit maintenance
    * pass: delete every row whose `tsCol` value is strictly below
    * `cutoff`. Expired KEYS come from one table read with the age
    * predicate pushed into parquet (column-pruned to key + ts); the
    * delete is a [[mergeInto]] anti-join, so only regions actually
    * holding an expired row are rewritten — O(expired regions) writes,
    * the store's CoW contract (a TTL sweep over a mostly-young table
    * costs almost nothing; on a time-correlated key it touches only the
    * oldest regions, the HBase compaction-expiry behavior). The key
    * list is localCheckpoint-pinned BEFORE the merge so the discovery
    * scan cannot race the rewrite it triggers. Idempotent: a second
    * sweep at the same cutoff finds nothing. Returns rows expired.
    *
    * Concurrency: the DELETE takes the regular region locks, but the
    * discovery read is a plain table scan — run the sweep as a
    * maintenance pass (no concurrent writers), the same single-
    * maintainer assumption [[rebalance]] documents. A concurrent
    * writer's rewrite under the discovery scan surfaces as a read
    * retry, never a wrong delete (the pinned key list is re-resolved
    * against the locked base inside the merge).
    */
  def expire(spark: SparkSession, name: String, key: String,
             tsCol: String, cutoff: Long): Long = {
    val expired = spark.table(name)
      .filter(col(tsCol) < cutoff)
      .select(col(key))
      .localCheckpoint()
    val n = expired.count()
    if (n > 0)
      mergeInto(spark, name, key, expired,
        (base, b) => base.join(b, Seq(key), "left_anti"))
    n
  }

  def rebalance(spark: SparkSession, name: String, key: String,
                targetRowsPerRegion: Long = DefaultTargetRowsPerRegion,
                regionTransform: Option[DataFrame => DataFrame] =
                  None): Unit =
    withStructuralLock(spark, name) {
      val current = spark.table(name).drop("kr").localCheckpoint()
      createLocked(spark, name, current, key, targetRowsPerRegion,
        regionTransform)
    }
}
