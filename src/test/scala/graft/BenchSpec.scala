package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver mains' failure rule, on `Bench.warmUp`: a non-fatal error
  * is reported and the run goes on; a fatal one (an OOM) propagates, so
  * no later query is timed or dumped in a damaged JVM. Runs no Spark
  * job. */
class BenchSpec extends AnyFunSuite {

  /** What `body` printed to System.err. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body
    finally System.setErr(old)
    buf.toString("UTF-8")
  }

  test("warmUp prints a non-fatal error and carries on") {
    val err = stderrOf(
      Bench.warmUp("q1_agg")(throw new IllegalStateException("no fixture")))
    assert(err.contains("[bench] warm-up FAILED q1_agg"), err)
    assert(err.contains("IllegalStateException: no fixture"), err)
  }

  test("warmUp rethrows a fatal error") {
    val e = intercept[OutOfMemoryError](stderrOf(
      Bench.warmUp("q1_agg")(throw new OutOfMemoryError("test"))))
    assert(e.getMessage == "test")
  }
}
