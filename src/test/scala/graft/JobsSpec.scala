package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** `Jobs.inParallel` failure contract: the first failure propagates only
  * after every sibling thunk has been cancelled and has stopped running.
  */
class JobsSpec extends AnyFunSuite {

  test("inParallel: a failure interrupts and awaits its siblings before it propagates") {
    val started = new CountDownLatch(1)
    val interrupted = new AtomicBoolean(false)
    val finished = new AtomicBoolean(false)
    // a sibling that keeps running through an interrupt (as a Spark write
    // mid-commit may): inParallel must wait for it, not orphan it
    val sibling = () => {
      started.countDown()
      val end = System.nanoTime() + 500L * 1000 * 1000
      while (System.nanoTime() < end)
        try Thread.sleep(10)
        catch { case _: InterruptedException => interrupted.set(true) }
      finished.set(true)
      throw new IllegalStateException("sibling failed too")
    }
    val thrower = () => {
      started.await()
      throw new RuntimeException("boom")
    }
    val e = intercept[RuntimeException] {
      graft.core.Jobs.inParallel(Seq(thrower, sibling))
    }
    assert(e.getMessage == "boom", "the first failure propagates unwrapped")
    assert(finished.get(), "no sibling may still be running when inParallel throws")
    assert(interrupted.get(), "running siblings are cancelled with an interrupt")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("sibling failed too"),
      "sibling failures ride along as suppressed exceptions")
  }

  test("inParallel: results come back in input order") {
    val out = graft.core.Jobs.inParallel(Seq(
      () => { Thread.sleep(50); 1 }, () => 2, () => 3))
    assert(out == Seq(1, 2, 3))
  }
}
