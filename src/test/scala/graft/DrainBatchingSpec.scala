package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ChangeFeed
import graft.streaming.{Applier, Dispatcher, EnvelopeRow, RelayStream}

/** An AvailableNow drain of the relay log takes every committed file in
  * one micro-batch; a per-trigger file budget is opt-in. The one-batch
  * drain must deliver exactly what a one-file-per-trigger drain delivers:
  * the same events, windows, final checkpoint and Applier state. */
class DrainBatchingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec.{Collector, CollectingConsumer}

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val envelope = ChangeFeed.envelope(spark, sf()) // 1000 events

  private def dataBatches(q: StreamingQuery): Int = {
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0)
  }

  private def partFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))

  /** What one Dispatcher drain delivered: events by seq, window
    * (kind, scn) pairs, the last checkpoint. */
  private def delivered(): (Seq[EnvelopeRow], Seq[(String, Long)], Long) = {
    val events = Collector.events.toArray(Array.empty[EnvelopeRow]).toSeq
    val windows = Collector.windows.toArray(Array.empty[(String, Long)]).toSeq
    val cps = Collector.checkpoints.toArray(Array.empty[java.lang.Long])
    (events.sortBy(_.seq), windows.sorted, cps.last.longValue)
  }

  private def state(stateDir: String): Set[(Long, Long, Double)] =
    Applier.snapshot(spark, stateDir).get
      .select("key_long", "seq", "value").as[(Long, Long, Double)]
      .collect().toSet

  test("a default drain is one micro-batch and delivers what a one-file budget does") {
    val logDir = tmp("drainlog")
    Seq(0, 330, 660, 1000).sliding(2).foreach { case Seq(lo, hi) =>
      RelayStream.writeEventLog(
        envelope.where($"scn" >= lo && $"scn" < hi), logDir, filesHint = 4)
    }
    val files = partFiles(logDir)
    assert(files > 3, s"expected several files per append, got $files")
    val engine = new GraftEngine(spark, logDir)

    Collector.clear()
    assert(dataBatches(engine.consume(new CollectingConsumer, tmp("cpall"))) == 1)
    val all = delivered()
    val allState = tmp("stateall")
    assert(dataBatches(Applier.start(engine.streamLive(), allState,
      tmp("acpall"))) == 1)

    Collector.clear()
    assert(dataBatches(Dispatcher.start(engine.streamLive(
      maxFilesPerTrigger = Some(1)), new CollectingConsumer, tmp("cpone"))) == files)
    val one = delivered()
    val oneState = tmp("stateone")
    assert(dataBatches(Applier.start(engine.streamLive(
      maxFilesPerTrigger = Some(1)), oneState, tmp("acpone"))) == files)

    assert(all._1.size == 1000)
    assert(all._1 == one._1, "delivered events differ")
    assert(all._2.count(_._1 == "start") == all._2.count(_._1 == "end"))
    assert(all._2 == one._2, "window start/end pairs differ")
    assert(all._3 == one._3 && all._3 == envelope.agg(max("scn")).as[Long].head())
    assert(state(allState) == state(oneState))
  }

  test("an opt-in budget still caps each micro-batch") {
    val logDir = tmp("budgetlog")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 8)
    assert(partFiles(logDir) == 8)
    Collector.clear()
    assert(dataBatches(Dispatcher.start(
      RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(2)),
      new CollectingConsumer, tmp("cpbudget"))) == 4)
    assert(Collector.events.size == 1000)
  }

  test("a default drain delivers an append whose SCNs regress in (scn, seq) order") {
    val logDir = tmp("regresslog")
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 2)
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 2)
    Collector.clear()
    assert(dataBatches(Dispatcher.start(RelayStream.read(spark, logDir),
      new CollectingConsumer, tmp("cpregress"))) == 1)
    val got = Collector.events.toArray(Array.empty[EnvelopeRow]).toSeq
    assert(got.size == 1000)
    // each physical partition is one task's contiguous, ordered run
    got.groupBy(_.partition_id).foreach { case (p, evs) =>
      val order = evs.map(e => (e.scn, e.seq))
      assert(order == order.sorted, s"partition $p delivered out of (scn, seq) order")
    }
  }
}
