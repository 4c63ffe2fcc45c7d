package graft

import graft.ops.AwaitAll
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

/** The await-all helper behind forgetCascade's store legs and the suffix
  * build's concurrent creates — pure JVM, no Spark. */
class AwaitAllSpec extends AnyFunSuite {

  test("a failing leg is rethrown only after its siblings finish") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("leg 0")
    val e = intercept[IllegalStateException] {
      AwaitAll(
        () => throw boom,
        () => { Thread.sleep(300); siblingDone.set(true) })
    }
    assert(e eq boom, "the leg's own exception, not a wrapper")
    assert(siblingDone.get(), "rethrown while a sibling was still running")
  }

  test("the first failure in leg order is thrown; later ones are suppressed") {
    val first = new IllegalStateException("leg 0")
    val later = new IllegalArgumentException("leg 2")
    val e = intercept[IllegalStateException] {
      AwaitAll(
        () => { Thread.sleep(200); throw first },
        () => (),
        () => throw later)
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(later))
  }

  test("an interrupted waiter still waits for every leg, then keeps " +
       "its interrupt flag") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val legDone = new AtomicBoolean(false)
    @volatile var doneBeforeReturn = false
    @volatile var flagAfter = false
    @volatile var thrown: Throwable = null
    val waiter = new Thread(() => {
      try {
        AwaitAll(() => {
          entered.countDown()
          release.await()
          legDone.set(true)
        })
        doneBeforeReturn = legDone.get()
      } catch { case t: Throwable => thrown = t }
      flagAfter = Thread.currentThread().isInterrupted
    })
    waiter.start()
    entered.await()
    Thread.sleep(100) // let the waiter block in its wait
    waiter.interrupt()
    Thread.sleep(200)
    assert(waiter.isAlive, "returned while its leg was still running")
    release.countDown()
    waiter.join(10000)
    assert(!waiter.isAlive)
    assert(thrown == null, s"interrupt surfaced as a failure: $thrown")
    assert(doneBeforeReturn, "returned before the leg finished")
    assert(flagAfter, "interrupt flag swallowed")
  }
}
