package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}

/** Run independent legs concurrently and wait for EVERY one before
  * returning or throwing. Unwinding on the first failure would let the
  * caller's cleanup (store drops, temp-dir deletes) race the legs that
  * are still mutating the same stores.
  *
  *  - Failures: the first failing leg in `legs` order is thrown as is;
  *    every later failure is attached to it with `addSuppressed`.
  *  - Interrupts: an interrupt of the waiting thread does not abandon
  *    the running legs. The wait goes on until all of them finish, and
  *    the thread's interrupt flag is set again before the helper
  *    returns or throws.
  *
  * Running legs are not cancelled when a sibling fails.
  */
object AwaitAll {
  def apply(legs: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(legs.size)
    var interrupted = false
    try {
      val futures = legs.map(leg => pool.submit(new Callable[Unit] {
        def call(): Unit = leg()
      }))
      def await(f: Future[Unit]): Option[Throwable] =
        try { f.get(); None }
        catch {
          case e: ExecutionException => Some(e.getCause)
          case _: InterruptedException => interrupted = true; await(f)
        }
      futures.flatMap(await) match {
        case first +: later =>
          later.foreach(first.addSuppressed)
          throw first
        case _ => ()
      }
    } finally {
      pool.shutdown()
      if (interrupted) Thread.currentThread().interrupt()
    }
  }
}
