package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftEngine
import graft.model.Checkpoint
import graft.pipeline.Retrieval

/** The harness's own tests, on tiny seeded inputs:
  * generation is a pure function of the seed, the percentile helper
  * counts failures and tail samples, and every expectation calculator
  * agrees with the engine (pull, bootstrap state, BM25) or flags what it
  * must (the tail ledger). Prints one line per test; exits 1 on any
  * failure. Usage: perfbench.SelfTest <work dir> */
object SelfTest {
  private var failed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => System.err.println(t); false }
    if (!ok) failed += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error("usage: SelfTest <work dir>"))
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- generation ----
    val keys = new Gen.KeySpace(7, 1000)
    def ev(seed: Long) = Gen.events(seed, 1, new Gen.KeySpace(seed, 1000), 100L, 2000)
    check("same seed gives identical event frames") {
      ev(7).toDF(spark).collect().toSeq == ev(7).toDF(spark).collect().toSeq
    }
    check("another seed gives different event frames") {
      ev(7).toDF(spark).collect().toSeq != ev(8).toDF(spark).collect().toSeq
    }
    check("same seed gives identical document frames") {
      Gen.docs(7, 1, 0, 200).toDF(spark).collect().toSeq ==
        Gen.docs(7, 1, 0, 200).toDF(spark).collect().toSeq
    }
    check("another seed gives different document frames") {
      Gen.docs(7, 1, 0, 200).toDF(spark).collect().toSeq !=
        Gen.docs(8, 1, 0, 200).toDF(spark).collect().toSeq
    }
    check("windows are seq-contiguous, 1-40 events, in one partition") {
      val e = ev(7)
      val byScn = e.seq.indices.groupBy(e.scn(_))
      byScn.forall { case (scn, is) =>
        is.size <= 40 && is.map(e.seq(_)) == (scn until scn + is.size) &&
          is.map(e.partition(_)).distinct.size == 1
      }
    }
    check("key placement is a function of the key") {
      val e = ev(7)
      e.seq.indices.forall(i => e.partition(i) == keys.partitionOf(e.key(i)) &&
        e.source(i) == keys.sourceOf(e.key(i)))
    }

    // ---- percentiles ----
    check("nearest-rank percentile with sample and tail counts") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 0, 0.5) == Stats.Pct(50, 100, 50) &&
        Stats.percentile(xs, 0, 0.9) == Stats.Pct(90, 100, 10)
    }
    check("failed ops count as +inf") {
      val p = Stats.percentile(Seq(1.0, 2.0), 2, 0.5)
      p == Stats.Pct(2.0, 4, 2) &&
        Stats.percentile(Seq(1.0), 3, 0.5).value.isPosInfinity
    }
    check("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    // ---- expectations vs the engine ----
    val e = Gen.events(7, 1, keys, 1000L, 3000)
    val engine = new GraftEngine(spark, s"$work/selftest-log")
    engine.loadDataEvents(e.toDF(spark))
    val subs = Seq(Gen.AllSub, Gen.SourceSub(2), Gen.KeyModSub(3), Gen.KeyRangeSub(100, 200))
    check("subscription shapes cover their parameter ranges") {
      Gen.sub(1, 0.999, 1000) == Gen.SourceSub(5) && Gen.sub(2, 0.0, 1000) == Gen.KeyModSub(0) &&
        Gen.sub(3, 0.999, 1000) == Gen.KeyRangeSub(900, 1000) && Gen.sub(4, 0.5, 1000) == Gen.AllSub
    }
    check("strata are seeded and spread evenly") {
      val a = new Gen.Strata(Gen.rng(7, 9)); val b = new Gen.Strata(Gen.rng(7, 9))
      val xs = Seq.fill(100)(a.next())
      xs == Seq.fill(100)(b.next()) &&
        (0 until 10).forall(i => xs.count(x => x >= i / 10.0 && x < (i + 1) / 10.0) >= 8)
    }
    check("pull expectation matches /stream") {
      subs.forall { s =>
        Seq(999L, e.scn(1500), e.scn(2990)).forall { after =>
          val rows = engine.stream(Checkpoint.online(after), s.filter, Some(500)).collect()
          Workload.digest(rows) == Expect.pull(e, after, s, 500)
        }
      }
    }
    check("state expectation matches bootstrap") {
      val last = Expect.lastPerKey(e, 1000)
      subs.forall { s =>
        val (state, _, resume) = engine.bootstrap(Checkpoint.online(10L), s.filter)
        resume.windowScn == e.scn.last &&
          Workload.digest(state.get.collect()) == Expect.state(e, last, s)
      }
    }
    check("BM25 mirror matches Retrieval.bm25TopK and the store") {
      val d = Gen.docs(7, 2, 0, 400)
      val m = new Expect.Bm25Mirror
      m.add(d)
      val gone = Seq(3L, 17L, 250L)
      m.remove(gone)
      val dir = s"$work/selftest-index"
      Retrieval.writePostingsIndex(d.toDF(spark), dir, batchId = Some(0L))
      Retrieval.tombstoneDocs(spark, dir, gone)
      val r = Gen.rng(7, 3)
      import spark.implicits._
      val liveDf = m.liveText.toDF("doc_id", "text")
      (0 until 8).forall { _ =>
        val q = Gen.query(r.nextInt(4), r.nextDouble(), r.nextDouble())
        def ranked(rows: Array[org.apache.spark.sql.Row]) =
          rows.toSeq.sortBy(_.getAs[Long]("rank"))
            .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("score_e4"))
        val want = m.topK(q, 10)
        ranked(Retrieval.bm25TopK(liveDf, q, 10).collect()) == want &&
          ranked(Retrieval.bm25TopKFromIndex(Retrieval.readPostingsIndex(spark, dir),
            Retrieval.readDocLengths(spark, dir), q, 10).collect()) == want
      }
    }
    check("tail ledger accepts in-order whole windows and counts redelivery") {
      val l = new Expect.TailLedger(10, 6)
      l.expectWindows(Map(10L -> 3, 13L -> 3))
      Seq(10L, 11L, 12L).foreach(s => l.event(0, 10, s))
      val first = l.endWindow(10, 3, 1L)
      Seq(10L, 11L, 12L).foreach(s => l.event(0, 10, s))
      val again = l.endWindow(10, 3, 2L)
      first && !again && l.redelivered == 3 && l.outOfOrder == 0 &&
        l.missing(6) == 3 && l.endOf(10) == Some(1L)
    }
    check("tail ledger flags out-of-order events and partial windows") {
      val l = new Expect.TailLedger(10, 6)
      l.expectWindows(Map(10L -> 3, 13L -> 3))
      l.event(1, 13, 13); l.event(1, 10, 10)
      val partial = !l.endWindow(13, 1, 5L)
      partial && l.outOfOrder == 1 && l.brokenWindows == 1
    }

    spark.stop()
    println(s"selftest: ${if (failed == 0) "all passed" else s"$failed failed"}")
    System.exit(if (failed == 0) 0 else 1)
  }
}
