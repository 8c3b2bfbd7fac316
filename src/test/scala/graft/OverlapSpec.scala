package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Overlap

/** `Overlap`'s join discipline under failure: every chain terminates
  * before the first failure propagates, and a fatal error reaches the
  * caller instead of leaving it waiting on a future that never
  * completes. Runs no Spark job. */
class OverlapSpec extends AnyFunSuite {

  /** `body`'s outcome on another thread, failing the test if it does
    * not finish within 10 s (a hang, not a result). */
  private def within10s(body: => Unit): Option[Throwable] = {
    @volatile var outcome: Option[Throwable] = None
    val t = new Thread(() => try body catch { case e: Throwable => outcome = Some(e) })
    t.start()
    t.join(10000)
    assert(!t.isAlive, "settle hung")
    outcome
  }

  test("a fatal error in a chain reaches the caller after every chain ends") {
    val sibling = new AtomicBoolean(false)
    val got = within10s {
      val a = Overlap.run[Unit](throw new OutOfMemoryError("test"))
      val b = Overlap.run { Thread.sleep(200); sibling.set(true) }
      Overlap.settle(a, b)
    }
    assert(got.exists(e => e.isInstanceOf[OutOfMemoryError] && e.getMessage == "test"), got)
    assert(sibling.get, "settle returned before the sibling chain ended")
  }

  test("the first failure in argument order propagates; values read after") {
    val got = within10s {
      val a = Overlap.run(1)
      val b = Overlap.run[Int](throw new IllegalStateException("b"))
      val c = Overlap.run[Int](throw new IllegalArgumentException("c"))
      Overlap.settle(a, b, c)
    }
    assert(got.map(_.getMessage) == Some("b"), got)
    assert(Overlap.par2(1, "x") == ((1, "x")))
  }
}
