package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gate for the round-11 admission-fairness fix in
  * [[graft.ops.KeyedStore]]: blocked same-JVM writers queue by a global
  * ticket, juniors defer to the oldest waiter on a path, and backoff is
  * jittered — replacing the fixed-20ms non-FIFO retry whose re-admit
  * race a writer could in principle lose until the LockWaitMs deadline.
  */
class LockFairnessSpec extends AnyFunSuite {
  import TestSpark._
  import ops.KeyedStore

  private def path(s: String) = java.nio.file.Paths.get(s)

  test("seniority primitives: deference, rank, idempotent re-add, " +
       "and the empty-set removal race heals") {
    val p = path("/fairness/unit/region-7.lock")
    // no waiters → nobody defers
    assert(!KeyedStore.seniorWaiterOn(p, 100L))
    assert(KeyedStore.waiterRank(p, 100L) == 0)
    KeyedStore.registerWaiter(p, 10L)
    KeyedStore.registerWaiter(p, 20L)
    KeyedStore.registerWaiter(p, 20L) // idempotent re-add
    // juniors defer to ticket 10; ticket 10 defers to nobody
    assert(KeyedStore.seniorWaiterOn(p, 20L))
    assert(KeyedStore.seniorWaiterOn(p, 30L))
    assert(!KeyedStore.seniorWaiterOn(p, 10L))
    assert(!KeyedStore.seniorWaiterOn(p, 5L)) // even more senior newcomer
    assert(KeyedStore.waiterRank(p, 30L) == 2)
    assert(KeyedStore.waiterRank(p, 15L) == 1)
    KeyedStore.deregisterWaiter(p, 10L)
    assert(!KeyedStore.seniorWaiterOn(p, 20L))
    KeyedStore.deregisterWaiter(p, 20L)
    assert(!KeyedStore.seniorWaiterOn(p, 999L))
    // a registration racing the empty-set removal heals on re-add
    KeyedStore.registerWaiter(p, 30L)
    assert(KeyedStore.seniorWaiterOn(p, 31L))
    KeyedStore.deregisterWaiter(p, 30L)
    // paths are independent queues
    val q = path("/fairness/unit/region-8.lock")
    KeyedStore.registerWaiter(q, 1L)
    assert(!KeyedStore.seniorWaiterOn(p, 50L))
    KeyedStore.deregisterWaiter(q, 1L)
  }

  test("seniorWaiterOn never throws while registrations churn " +
       "concurrently (isEmpty-then-first would NoSuchElementException)") {
    val p = path("/fairness/race/region-0.lock")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val churn = new Thread(() => {
      var i = 0L
      while (!stop.get()) {
        KeyedStore.registerWaiter(p, 10L + (i % 3))
        KeyedStore.deregisterWaiter(p, 10L + (i % 3))
        i += 1
      }
    })
    val probes = (0 until 3).map(_ => new Thread(() => {
      try {
        var i = 0
        while (!stop.get() && i < 200000) {
          // Any boolean is fine mid-churn; an exception is the bug.
          KeyedStore.seniorWaiterOn(p, 11L)
          KeyedStore.waiterRank(p, 11L)
          i += 1
        }
      } catch { case t: Throwable => failed.set(t); stop.set(true) }
    }))
    churn.start(); probes.foreach(_.start())
    probes.foreach(_.join(30000)); stop.set(true); churn.join(5000)
    assert(failed.get() == null,
      s"seniority probe threw under churn: ${failed.get()}")
  }

  test("hot-region writers all admit in bounded attempts, fair-ish order") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val name = "graft_keyed_fairness"
    // 8 regions of 16; every writer's batch lives in region 0 → all
    // serialize on one region lock (narrow path: 1 < 8 regions).
    KeyedStore.create(spark, name,
      (0L until 128L).map(k => (k, 0L)).toDF("k", "n"),
      "k", targetRowsPerRegion = 16)
    def add(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame) =
      a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))
    // (writer, admission attempts, seniority ticket), in completion order
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]
    val t0 = System.currentTimeMillis()
    val fs = (0 until 5).map { w =>
      Future {
        // Staggered starts so writers overlap: writer 0 admits
        // immediately; 1..4 arrive while 0 (or a successor) holds the
        // region and must queue.
        Thread.sleep(w * 150L)
        KeyedStore.mergeInto(spark, name, "k",
          (0L until 10L).map(k => (k, 1L)).toDF("k", "n"), add)
        // Returned relation discarded: it is a raw non-isolated read
        // (KeyedStore scaladoc) — totals are checked after the drain.
        done.add((w, KeyedStore.lastAdmitAttempts.get().intValue(),
          KeyedStore.lastAdmitTicket.get().longValue()))
        ()
      }
    }
    fs.foreach(Await.result(_, 300.seconds))
    val elapsed = System.currentTimeMillis() - t0
    assert(elapsed < KeyedStore.LockWaitMs,
      s"writers should drain well inside the lock deadline: $elapsed ms")
    val order = done.toArray(Array.empty[(Int, Int, Long)])
    // Starvation bound: retries while the lock is genuinely HELD are
    // expected (attempts ~ hold-time / backoff), but nobody should be
    // spinning unboundedly against re-admit snipes.
    val attempts = order.map(_._2)
    assert(attempts.forall(_ <= 200),
      s"a writer retried implausibly often: ${order.toSeq}")
    // Fair-ish admission: completion order tracks arrival order, read
    // from the ticket each writer drew at lock entry. The start stagger
    // does not fix that order: a writer's unlocked touched-set job runs
    // before its ticket, and under CPU load it can outlast the stagger.
    // The deference rule makes inversions possible only in the race
    // window before a blocked writer first registers, so allow one.
    val tickets = order.map(_._3).toSeq
    val inversions = tickets.zip(tickets.drop(1)).count {
      case (a, b) => a > b
    }
    assert(inversions <= 1,
      s"admission order far from arrival order: tickets $tickets " +
        s"(writers ${order.map(_._1).toSeq})")
    // And the merges were all exactly-once.
    val byK = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(k => assert(byK(k) == 5L, s"k=$k: ${byK(k)}"))
    (10L until 128L).foreach(k => assert(byK(k) == 0L))
    KeyedStore.drop(spark, name)
  }
}
