package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.jobs]]'s contract: results in argument order, the first
  * failure propagates, in-flight siblings drain without interruption,
  * and a thunk still queued when a failure lands never starts. Plain
  * thunks (no Spark) so the timing is the thunks' own.
  */
class ParSpec extends AnyFunSuite {

  private final class Boom(msg: String) extends RuntimeException(msg)

  test("results keep argument order whatever order the thunks finish in") {
    // later thunks sleep less, so they finish first
    val thunks = (0 until 6).map(i => () => { Thread.sleep(60L - 10L * i); i })
    assert(Par.jobs(thunks: _*) === (0 until 6))
    assert(Par.jobs(() => "one") === Seq("one"))
    assert(Par.jobs[Int]().isEmpty)
  }

  test("the first failure propagates after the in-flight sibling drains") {
    // thunk 1 is in flight when thunk 0 fails; it must run to its end
    // (not be interrupted out of its sleep) before the caller sees
    // thunk 0's failure
    val drained = new AtomicBoolean(false)
    val started = new CountDownLatch(1)
    val e = intercept[Boom](Par.jobs[Int](
      () => { started.await(5, TimeUnit.SECONDS); throw new Boom("first") },
      () => { started.countDown(); Thread.sleep(300); drained.set(true); 1 }))
    assert(e.getMessage === "first")
    assert(drained.get, "the in-flight sibling was interrupted, not drained")
  }

  test("of two failures, the earlier one in time propagates") {
    val e = intercept[Boom](Par.jobs[Int](
      () => { Thread.sleep(200); throw new Boom("late") },
      () => throw new Boom("early")))
    assert(e.getMessage === "early")
  }

  test("a queued thunk never starts after a failure") {
    // two slots: thunk 0 fails once thunk 1 holds the other slot, so
    // thunks 2 and 3 are still queued when the failure lands
    val ran = Array.fill(4)(new AtomicBoolean(false))
    val second = new CountDownLatch(1)
    intercept[Boom](Par.jobs[Int](
      () => {
        ran(0).set(true); second.await(5, TimeUnit.SECONDS)
        throw new Boom("first")
      },
      () => { ran(1).set(true); second.countDown(); Thread.sleep(200); 1 },
      () => { ran(2).set(true); 2 },
      () => { ran(3).set(true); 3 }))
    assert(ran(0).get && ran(1).get)
    assert(!ran(2).get && !ran(3).get, "a queued thunk started after the failure")
  }
}
