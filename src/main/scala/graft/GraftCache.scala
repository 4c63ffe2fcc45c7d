package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of every relation the graft operators
  * persist, with one release point — [[GraftCache.release]] (surfaced as
  * `Graft.releaseCaches`).
  *
  * Why it exists: many operators reference a derived relation
  * (signatures, codebooks, degree/posting aggregates) from two or more
  * plan branches. Catalyst clones a doubly-referenced subtree with fresh
  * exprIds and nothing reliably dedups the clones at execution, so the
  * shared lineage re-executes once PER BRANCH — the round-9 plan audit
  * measured up to 40 re-scans of one source in a single query. The fix
  * is a lazy `persist(MEMORY_AND_DISK)` of the shared DERIVED relation;
  * but Spark's CacheManager holds SQL cache entries until an explicit
  * unpersist (the ContextCleaner never reaps them), so a long-lived
  * session calling cached operators over ever-new inputs would
  * accumulate memory+disk cache without bound.
  *
  * The contract, in one place instead of 50 scaladocs:
  *
  *   - Every operator-internal persist goes through [[cached]], which
  *     tags the entry to its SparkSession here. The persist stays LAZY —
  *     operators still compose into downstream plans without forcing an
  *     eager job.
  *   - A caller that invokes graft operators repeatedly over new inputs
  *     calls `Graft.releaseCaches(spark)` once the results of a batch
  *     are materialized (written, collected, or no longer referenced).
  *     This unpersists ONLY graft-tracked entries — the caller's own
  *     `df.persist()`/`spark.catalog.cacheTable` entries are untouched,
  *     unlike `spark.catalog.clearCache()`.
  *   - Releasing while a returned (unmaterialized) DataFrame is still
  *     held is SAFE for correctness — the plan simply recomputes without
  *     the cache on its next action (Spark semantics of unpersisting a
  *     lazily-cached plan) — it only forfeits the dedup the persist paid
  *     for, so release after materialization, not before.
  *
  * Scope note: this registry covers the SQL-cache (CacheManager) leak
  * class only. Iterative operators also `localCheckpoint` loop state;
  * those blocks are NOT CacheManager entries — per-round intermediates
  * are freed inside the loops, and a block backing a RETURNED relation
  * must outlive the call (its lineage is truncated — unpersisting it
  * would make the result unrecomputable, not merely slower) and is
  * reaped by Spark's ContextCleaner once the caller drops the
  * reference. CacheManager entries have no such GC path, hence this
  * registry.
  *
  * Tracking holds a strong reference per persist call until released —
  * bounded by the operator calls between releases, the same lifetime the
  * cache entries themselves have. Entries whose session has been stopped
  * are dropped harmlessly on release. CacheLifecycleSpec is the gate:
  * operators leave zero CacheManager entries behind after release, and a
  * user cache survives it.
  */
object GraftCache {
  private val tracked =
    new java.util.IdentityHashMap[SparkSession,
      scala.collection.mutable.ArrayBuffer[Dataset[_]]]

  /** Lazily persist `ds` (MEMORY_AND_DISK) and track it for
    * session-scoped release. All operator-internal persists route here.
    */
  /** Scope-local tracking: [[withScope]] pushes a buffer for the
    * CURRENT THREAD; `cached` calls made on that thread while the scope
    * is open land in the innermost scope buffer instead of the session
    * bucket, and the scope releases exactly them on exit. So two
    * concurrent scopes on one SparkSession cannot release each other's
    * in-flight caches — each thread's operator calls belong to its own
    * scope. Operator calls a scope body hands to OTHER threads fall
    * back to the session bucket (released by `releaseCaches`, not by
    * this scope).
    */
  private val scopeStack =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[Dataset[_]]]] {
      override def initialValue():
          List[scala.collection.mutable.ArrayBuffer[Dataset[_]]] = Nil
    }

  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    scopeStack.get() match {
      case buf :: _ => buf += ds
      case Nil =>
        tracked.synchronized {
          pruneStoppedLocked()
          var buf = tracked.get(ds.sparkSession)
          if (buf == null) {
            buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
            tracked.put(ds.sparkSession, buf)
          }
          buf += ds
        }
    }
    ds
  }

  /** Run `body` with a fresh scope buffer on this thread's stack and
    * unpersist exactly that buffer's entries on exit (throwing bodies
    * included). Nested scopes release innermost-first, each only its
    * own entries. Surfaced as `Graft.withCacheScope`. */
  def withScope[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    scopeStack.set(buf :: scopeStack.get())
    try body
    finally {
      scopeStack.set(scopeStack.get().tail)
      buf.foreach { ds =>
        try ds.unpersist(blocking = false)
        catch { case _: IllegalStateException | _: NullPointerException => () }
      }
    }
  }

  /** Drop registry entries whose session has been STOPPED without a
    * release call (a host that churns short-lived sessions would
    * otherwise pin every dead session's plan graph here forever — the
    * leak class this registry exists to fix, reintroduced one level
    * up). Their cache blocks died with the SparkContext; only the
    * bookkeeping is left to drop. Caller holds the `tracked` monitor.
    * O(live sessions) — a handful — on each cached() call.
    */
  private def pruneStoppedLocked(): Unit = {
    val it = tracked.entrySet().iterator()
    while (it.hasNext) {
      val k = it.next().getKey
      if (k.sparkContext == null || k.sparkContext.isStopped) it.remove()
    }
  }

  /** Unpersist every graft-tracked relation of `spark` (caller caches
    * untouched). `blocking = true` waits for the block drop — tests and
    * memory-pressure callers use it; the default is async. Returns the
    * number of entries released.
    */
  def release(spark: SparkSession, blocking: Boolean = false): Int = {
    val drained = tracked.synchronized {
      val buf = tracked.remove(spark)
      if (buf == null) Seq.empty else buf.toSeq
    }
    var n = 0
    drained.foreach { ds =>
      // A stopped session throws from unpersist; the entry died with it.
      try { ds.unpersist(blocking); n += 1 }
      catch { case _: IllegalStateException | _: NullPointerException => () }
    }
    n
  }

  /** Move the entries tracked for `from` into `to`'s bucket
    * ([[GraftSession.scoped]] hands a clone's entries to its parent). */
  private[graft] def adopt(from: SparkSession, to: SparkSession): Unit =
    tracked.synchronized {
      val moved = tracked.remove(from)
      if (moved != null && moved.nonEmpty) {
        val buf = tracked.get(to)
        if (buf == null) tracked.put(to, moved) else buf ++= moved
      }
    }

  /** Entries currently tracked for `spark` (test/monitoring hook). */
  def trackedCount(spark: SparkSession): Int = tracked.synchronized {
    val buf = tracked.get(spark)
    if (buf == null) 0 else buf.size
  }

  /** Sessions currently holding tracked entries (test/monitoring hook;
    * stopped sessions are pruned lazily on the next [[cached]]). */
  private[graft] def trackedSessions: Int =
    tracked.synchronized(tracked.size)

  /** Full storage-isolation sweep for harnesses (Bench/Verify between
    * queries, spec setup): release tracked caches,
    * then unpersist EVERY remaining persistent RDD (this is what frees
    * localCheckpoint blocks — Dataset.unpersist does not) and clear the
    * SQL cache. Deliberately scorched-earth — it drops USER caches too
    * (clearCache is shared-state-wide), so it is for harness isolation,
    * not for library callers: they want [[release]].
    */
  private[graft] def releaseAllStorage(spark: SparkSession): Unit = {
    release(spark, blocking = true)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Import-friendly postfix form: `df.graftCached` ≡ `cached(df)`. */
  implicit class GraftCachedOps[T](private val ds: Dataset[T]) extends AnyVal {
    def graftCached: Dataset[T] = cached(ds)
  }
}
