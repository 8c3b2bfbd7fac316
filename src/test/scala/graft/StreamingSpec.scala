package graft

import java.nio.file.Files

import graft.model.Checkpoint
import graft.operators.{Bootstrap, DbusKeyFilter, Filters, KeyModFilter}
import graft.sources.ChangeFeed
import graft.streaming.{DatabusConsumer, Dispatcher, EnvelopeRow, RelayStream}

import org.apache.spark.sql.functions._

/** The SURVEY §7.3 end-to-end slice: events → window-aligned event log →
  * filtered stream → ordered windowed dispatch → checkpoint → resume →
  * forced fall-off → bootstrap — final state vs the batch oracle. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  import StreamingSpec.{Collector, CollectingConsumer}

  private lazy val envelope = ChangeFeed.envelope(spark, sf()) // 1000 events

  test("compactEventLog collapses append generations, content-identical") {
    val logDir = tmp("compactlog")
    (0 until 5).foreach { g =>
      RelayStream.writeEventLog(
        envelope.where(pmod($"scn", lit(5)) === g), logDir, filesHint = 3)
    }
    def parts = new java.io.File(logDir).listFiles()
      .count(_.getName.startsWith("part-"))
    val before = spark.read.schema(RelayStream.schema).parquet(logDir)
      .collect().toSet
    val fragmented = parts
    RelayStream.compactEventLog(spark, logDir, filesHint = 3)
    assert(parts < fragmented, s"still $parts files after compaction")
    assert(parts <= 3)
    val after = spark.read.schema(RelayStream.schema).parquet(logDir)
      .collect().toSet
    assert(after == before)
    // no stray tmp/old dirs left behind
    val siblings = new java.io.File(logDir).getParentFile.listFiles()
      .map(_.getName).filter(_.startsWith(new java.io.File(logDir).getName + "."))
    assert(siblings.isEmpty, siblings.mkString(","))
    // a streaming reader still sees whole windows in order
    val cpDir = tmp("compactcp")
    Collector.clear()
    Dispatcher.start(RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(1)),
      new CollectingConsumer, cpDir).awaitTermination()
    assert(Collector.events.size == before.size)
  }

  test("a listing racing appends sees only final-stamped parts, in part order") {
    import graft.pipeline.StoreFs
    val logDir = tmp("stagedlog")
    val rootPath = new java.io.File(logDir).toURI.getPath
    // what the file source lists: part files outside `_`-prefixed dirs
    def listed(): Seq[(String, Long)] =
      StoreFs.listFileStatusesRecursive(logDir).flatMap { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPath)
        if (st.getPath.getName.startsWith("part-") &&
            !rel.split('/').exists(_.startsWith("_")))
          Some((rel, st.getModificationTime))
        else None
      }
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]()
    val lister = new Thread(() =>
      while (!done) {
        // a dir the writer removes mid-walk fails the walk; the drain
        // would simply list again
        try seen.add(listed())
        catch { case _: java.io.IOException => () }
      })
    lister.start()
    try (0 until 6).foreach { g =>
      RelayStream.writeEventLog(
        envelope.where(pmod($"scn", lit(6)) === g), logDir, filesHint = 4)
    } finally { done = true; lister.join() }
    val finalStamps = listed().toMap
    // stamps are distinct and ordered append-then-part: the admission
    // order the file source derives from them
    val order = finalStamps.toSeq.sortBy(_._2).map(_._1)
    assert(order.size == finalStamps.values.toSet.size)
    assert(!seen.isEmpty)
    seen.forEach { snap =>
      snap.foreach { case (rel, m) =>
        assert(finalStamps.get(rel).contains(m),
          s"$rel was listed at mtime $m before its final stamp" +
            s" ${finalStamps.get(rel)}")
      }
      assert(snap.map(_._1).toSet == order.take(snap.size).toSet,
        s"a listing saw parts out of part order: ${snap.map(_._1)}")
    }
  }

  test("event log is window-aligned and serves ordered windowed delivery") {
    val logDir = tmp("eventlog")
    val cpDir = tmp("streamcp")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 8)

    Collector.clear()
    val stream = RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(2))
    val q = Dispatcher.start(stream, new CollectingConsumer, cpDir)
    q.awaitTermination()

    // every event delivered exactly once
    val got = Collector.events.toArray(Array.empty[EnvelopeRow])
    assert(got.length == 1000)
    assert(got.map(_.seq).toSet == (0L until 1000L).toSet)

    // windows opened/closed in pairs, each window's scn seen once per
    // (partition, batch) at most — and starts match ends
    val ws = Collector.windows.toArray(Array.empty[(String, Long)])
    assert(ws.count(_._1 == "start") == ws.count(_._1 == "end"))

    // checkpoints advanced to the final high-watermark
    val cps = Collector.checkpoints.toArray(Array.empty[java.lang.Long])
    assert(cps.nonEmpty && cps.map(_.longValue).max == 990L)
  }

  test("checkpoint resume delivers no duplicates after restart") {
    val logDir = tmp("eventlog2")
    val cpDir = tmp("streamcp2")
    // first half of the log
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 4)

    Collector.clear()
    Dispatcher.start(RelayStream.read(spark, logDir), new CollectingConsumer, cpDir)
      .awaitTermination()
    val firstRun = Collector.events.toArray(Array.empty[EnvelopeRow]).map(_.seq).toSet
    assert(firstRun == (0L until 500L).toSet)

    // "kill", then more data arrives, then restart with the same checkpoint
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 4)
    Collector.clear()
    Dispatcher.start(RelayStream.read(spark, logDir), new CollectingConsumer, cpDir)
      .awaitTermination()
    val secondRun = Collector.events.toArray(Array.empty[EnvelopeRow]).map(_.seq).toSet
    assert(secondRun == (500L until 1000L).toSet) // only the new events
  }

  test("server-side filter applies during stream serving") {
    val logDir = tmp("eventlog3")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 2)
    Collector.clear()
    val f = DbusKeyFilter("MOD", Seq(KeyModFilter(4, 0, 2)))
    Dispatcher.start(RelayStream.read(spark, logDir, filter = f),
      new CollectingConsumer, tmp("cp3")).awaitTermination()
    val got = Collector.events.toArray(Array.empty[EnvelopeRow])
    assert(got.nonEmpty)
    assert(got.forall(e => math.abs(e.key_long.get) % 4 < 2))
  }

  test("fall-off forces bootstrap then resumes online from targetScn") {
    val logDir = tmp("eventlog4")
    // retention: only windows >= 500 remain in the log
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 4)

    // consumer checkpoint predates retention → fall-off
    val staleCp = Checkpoint.online(100L)
    val (state, online, resumeCp) =
      RelayStream.streamWithBootstrap(spark, logDir, staleCp)

    assert(state.isDefined, "expected bootstrap path")
    assert(resumeCp.windowScn == 990L)
    // bootstrap state == batch-applied log over what the relay retains
    val expected = Bootstrap.applyLog(
      spark.read.schema(RelayStream.schema).parquet(logDir))
      .select("key_long", "seq").as[(Long, Long)].collect().toSet
    val gotState = state.get.select("key_long", "seq").as[(Long, Long)]
      .collect().toSet
    assert(gotState == expected)

    // online stream from resumeCp delivers nothing new (log head reached)
    Collector.clear()
    Dispatcher.start(online, new CollectingConsumer, tmp("cp4"))
      .awaitTermination()
    assert(Collector.events.isEmpty)
  }

  test("scn regress fires the rollback callback (C5)") {
    val logDir = tmp("eventlog6")
    // later windows land in the log first; the regressed (older) windows
    // arrive in a subsequent file → second batch starts below the watermark
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 1)
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 1)
    Collector.clear()
    StreamingSpec.rollbacks.set(0)
    val consumer = new CollectingConsumer {
      override def onRollback(cp: Checkpoint): Unit =
        StreamingSpec.rollbacks.incrementAndGet()
    }
    Dispatcher.start(RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(1)),
      consumer, tmp("cp6"))
      .awaitTermination()
    assert(StreamingSpec.rollbacks.get() >= 1)
    // all events still delivered (replay, not loss)
    assert(Collector.events.size == 1000)
  }

  test("continuous applier materializes latest-per-key across batches (K6)") {
    val logDir = tmp("eventlog7")
    val stateDir = tmp("state7")
    val cpDir = tmp("cp7")
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 2)
    graft.streaming.Applier.start(
      RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(1)), stateDir, cpDir)
      .awaitTermination()
    val half = graft.streaming.Applier.snapshot(spark, stateDir).get
    val expectHalf = Bootstrap.applyLog(envelope.where($"scn" < 500))
      .select("key_long", "seq").as[(Long, Long)].collect().toSet
    assert(half.select("key_long", "seq").as[(Long, Long)].collect().toSet ==
      expectHalf)

    // more changes arrive; resume applies incrementally
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 2)
    graft.streaming.Applier.start(
      RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(1)), stateDir, cpDir)
      .awaitTermination()
    val full = graft.streaming.Applier.snapshot(spark, stateDir).get
    val expectFull = Bootstrap.applyLog(envelope)
      .select("key_long", "seq").as[(Long, Long)].collect().toSet
    assert(full.select("key_long", "seq").as[(Long, Long)].collect().toSet ==
      expectFull)
  }

  test("timeline-partitioned event log prunes directories per subscription") {
    val logDir = tmp("eventlog8")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 2,
      partitionByTimeline = true)
    assert(new java.io.File(logDir).listFiles()
      .exists(_.getName.startsWith("partition_id=")))
    val one = spark.read.schema(RelayStream.schema).parquet(logDir)
      .where($"partition_id" === 2)
    // partition pruning: only the partition_id=2 directory is scanned
    val scan = one.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(scan.metadata("PartitionFilters").contains("partition_id"))
    val allParts = spark.read.schema(RelayStream.schema).parquet(logDir)
      .queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(scan.selectedPartitions.totalNumberOfFiles <
      allParts.selectedPartitions.totalNumberOfFiles)
    val expected = envelope.where($"partition_id" === 2).count()
    assert(one.count() == expected)
  }

  test("watermarked windowed stats: stream result equals the batch form") {
    val logDir = tmp("eventlog_ws")
    val cpDir = tmp("streamcp_ws")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 4)
    val stream = RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(1))
    val q = RelayStream.windowedStats(stream, "1 minute", "30 seconds")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("complete")
      .option("checkpointLocation", cpDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("win_stats")
      .select("win_start", "source_id", "n_events", "n_deletes")
    val batch = RelayStream.windowedStats(envelope, "1 minute")
      .select("win_start", "source_id", "n_events", "n_deletes")
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup collapses replayed events across micro-batches") {
    val logDir = tmp("eventlog_dd")
    val cpDir = tmp("streamcp_dd")
    // the same window lands twice (an at-least-once replay): two appends
    // of identical envelope rows → separate files → separate micro-batches
    RelayStream.writeEventLog(envelope.where($"scn" < 200), logDir, filesHint = 2)
    RelayStream.writeEventLog(envelope.where($"scn" < 200), logDir, filesHint = 2)
    val q = RelayStream.dedupStream(
        RelayStream.read(spark, logDir, maxFilesPerTrigger = Some(1)))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .option("checkpointLocation", cpDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dedup_stream").select("seq").as[Long].collect()
    val want = envelope.where($"scn" < 200).select("seq").as[Long].collect()
    assert(got.length == want.length) // every duplicate collapsed
    assert(got.toSet == want.toSet)
    // batch form through the same operator equals distinct
    assert(RelayStream.dedupStream(
      envelope.unionAll(envelope)).count() == envelope.count())
  }

  test("no fall-off when checkpoint is within retention") {
    val logDir = tmp("eventlog5")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 2)
    val (state, _, cp) = RelayStream.streamWithBootstrap(spark, logDir,
      Checkpoint.online(500L))
    assert(state.isEmpty && cp.windowScn == 500L)
  }
}

object StreamingSpec {
  val rollbacks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** In-JVM event collector (local mode: executors share the JVM). */
  object Collector {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[EnvelopeRow]()
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def clear(): Unit = { events.clear(); windows.clear(); checkpoints.clear() }
  }

  /** Top-level (no outer-class capture) so it serializes to executors. */
  class CollectingConsumer extends DatabusConsumer {
    override def onStartWindow(scn: Long): Unit =
      Collector.windows.add(("start", scn))
    override def onEvent(e: EnvelopeRow): Boolean = { Collector.events.add(e); true }
    override def onEndWindow(scn: Long): Unit =
      Collector.windows.add(("end", scn))
    override def onCheckpoint(cp: Checkpoint): Unit =
      Collector.checkpoints.add(cp.windowScn)
  }
}
