package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The fan-out contract the scheduler's retries rely on: every body
  * starts at once, and nothing surfaces before every body has finished.
  */
class FanOutSpec extends AnyFunSuite {

  test("fan-out: returns every body's result in argument order") {
    assert(FanOut.all(Seq(() => { Thread.sleep(100); 1 }, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("fan-out: a failure surfaces only after the other bodies have finished") {
    // a caller that retries on this exception must not overlap a sibling
    // that is still writing
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](FanOut.all(Seq(
      () => throw new IllegalStateException("fails at once"),
      () => { Thread.sleep(500); finished.set(true) })))
    assert(e.getMessage == "fails at once")
    assert(finished.get, "the failure surfaced while a sibling was still running")
  }

  test("fan-out: rethrows the first failing body's exception, the rest suppressed") {
    // the first body in argument order fails LAST in time
    val e = intercept[IllegalStateException](FanOut.all(Seq(
      () => (),
      () => { Thread.sleep(200); throw new IllegalStateException("first") },
      () => throw new UnsupportedOperationException("second"))))
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
  }

  test("fan-out: more bodies than cores all start before any finishes") {
    val n = Runtime.getRuntime.availableProcessors + 4
    val started = new CountDownLatch(n)
    // each body finishes only once every body has started; a body queued
    // behind busy pool threads would leave the others timing out
    val allStarted = FanOut.all(Seq.fill(n)(() => {
      started.countDown()
      started.await(30, TimeUnit.SECONDS)
    }))
    assert(allStarted.forall(identity),
      s"${allStarted.count(!_)} of $n bodies timed out waiting for the rest to start")
  }
}
