package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ScaleProbe.Leg

/** `Probe scale`'s row printer and argument check. Runs no Spark job: the
  * timing functions are stubs and the check reads only the registry. */
class ScaleProbeSpec extends AnyFunSuite {

  // The parsers' patterns, copied from tools/bench_sf1.py (`line_re`,
  // `fail_re`) and tools/bench_sf10.py (`line_re`). Both tools match a
  // stripped line from its start.
  private val sf1Line =
    """^(q[\w]+|cc_distributed|pagerank_distributed)\s+(\d+\.\d+)\s+(\d+\.\d+)""".r
  private val sf1Fail =
    """^(q[\w]+|cc_distributed|pagerank_distributed)\s+FAILED\s*(.*)""".r
  private val sf10Line = """^(q[\w]+)\s+(\d+\.\d+)\s+(\d+\.\d+)""".r

  private def secs(lo: Double, hi: Double): String => Double =
    dir => if (dir == "lo") lo else hi

  test("a timed row parses as both tools' row, times in order") {
    val line = ScaleProbe.decade("q_zorder_kN", "lo", "hi")(secs(1.25, 12.5))
    Seq(sf1Line, sf10Line).foreach { re =>
      val m = re.findPrefixMatchOf(line.strip)
      assert(m.map(m => (m.group(1), m.group(2), m.group(3))) ===
        Some(("q_zorder_kN", "1.25", "12.50")), line)
    }
    assert(line.endsWith("10.0x"))
    val cc = ScaleProbe.decade("cc_distributed", "lo", "hi")(secs(2, 3))
    assert(sf1Line.findPrefixMatchOf(cc.strip).map(_.group(1)) ===
      Some("cc_distributed"))
  }

  test("a non-fatal error prints a FAILED row naming the error") {
    Seq("q1_agg", "cc_distributed", "pagerank_distributed").foreach { q =>
      val line = ScaleProbe.decade(q, "lo", "hi") { dir =>
        if (dir == "hi") throw new IllegalStateException("no fixture") else 1.0
      }
      val m = sf1Fail.findPrefixMatchOf(line.strip)
      assert(m.map(_.group(1)) === Some(q), line)
      assert(m.get.group(2) === "IllegalStateException: no fixture")
      assert(sf1Line.findPrefixMatchOf(line.strip).isEmpty)
    }
  }

  test("a fatal error propagates and ends the run") {
    val oom = new OutOfMemoryError("test")
    val e = intercept[OutOfMemoryError] {
      ScaleProbe.decade("q1_agg", "lo", "hi")(_ => throw oom)
    }
    assert(e eq oom)
  }

  test("retired legs and unknown names fail before any fixture work") {
    Seq(Seq("zstd"), Seq("annbatch"), Seq("annbatch", "int8"),
      Seq("q_no_such_query"), Seq("q1_agg", "cc"), Seq("relay", "curve"),
      Seq("sf100"), Seq("sf10", "q1_agg")).foreach { args =>
      val e = intercept[IllegalArgumentException](Leg.parse(args))
      assert(e.getMessage.contains("known") || e.getMessage.contains("legs"),
        e.getMessage)
    }
    val msg = intercept[IllegalArgumentException](Leg.parse(Seq("zstd")))
      .getMessage
    assert(msg.contains("zstd"))
    Seq("relay", "sf10", "cc", "pr", "q1_agg", "q_semdedup")
      .foreach(n => assert(msg.contains(n), n))
  }

  test("each kept leg parses to itself") {
    assert(Leg.parse(Nil) === Leg.Sweep)
    assert(Leg.parse(Seq("relay")) === Leg.Relay)
    assert(Leg.parse(Seq("cc")) === Leg.Cc)
    assert(Leg.parse(Seq("pr")) === Leg.Pr)
    assert(Leg.parse(Seq("sf10")) === Leg.Sf10(Nil))
    assert(Leg.parse(Seq("sf10", "q_zorder_kN")) ===
      Leg.Sf10(Seq("q_zorder_kN")))
    assert(Leg.parse(Seq("sf10", "q_repetition", "q_semdedup_kN")) ===
      Leg.Sf10(Seq("q_repetition", "q_semdedup_kN")))
    assert(Leg.parse(Seq("q1_agg", "q_semdedup")) ===
      Leg.Queries(Seq("q1_agg", "q_semdedup")))
  }
}
