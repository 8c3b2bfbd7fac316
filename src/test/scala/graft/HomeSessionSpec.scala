package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Bootstrap
import graft.sources.ChangeFeed
import graft.streaming.{Applier, Dispatcher, RelayStream}

/** Micro-batch bodies run in the stream's home session, so a drain or
  * an apply started after an earlier one (each a new query) reuses the
  * code the earlier one generated: it compiles no class. Its jobs still
  * carry the query's job group. */
class HomeSessionSpec extends SparkSpec {
  import spark.implicits._
  import DispatcherSpec.{Recorder, Recording}

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val envelope = ChangeFeed.envelope(spark, sf()) // 1000 events

  /** Run the query `start` returns to its end: the classes it compiled
    * and the job group of every Spark job it started, with its runId. */
  private def run(start: => StreamingQuery): (Long, Seq[String], String) = {
    Thread.sleep(500) // earlier actions' listener events drain first
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val q = try {
      val q = start
      q.awaitTermination()
      Thread.sleep(1000) // listener events post asynchronously
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled,
      groups.asScala.toSeq, q.runId.toString)
  }

  test("a second drain compiles nothing, delivers in order, under its job group") {
    val logDir = tmp("hlog")
    val cp = tmp("hcp")
    def drain = Dispatcher.start(RelayStream.read(spark, logDir), new Recording, cp)
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 2)
    run(drain) // warm: this session's first drain compiles
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 2)
    Recorder.clear()
    val (compiled, groups, runId) = run(drain)
    assert(compiled == 0L, s"the second drain compiled $compiled classes")
    assert(groups.nonEmpty && groups.forall(_ == runId), s"$groups vs $runId")
    val got = Recorder.events.asScala.toSeq
    assert(got.map(_.seq).sorted ==
      envelope.where($"scn" >= 500).select("seq").as[Long].collect().sorted.toSeq)
    got.groupBy(_.partition_id).foreach { case (p, evs) =>
      val order = evs.map(e => (e.scn, e.seq))
      assert(order == order.sorted, s"partition $p delivered out of (scn, seq) order")
    }
    assert(Recorder.control.asScala.toSeq == Seq("checkpoint" -> 990L))
  }

  test("a second apply compiles nothing, applies every event, under its job group") {
    val logDir = tmp("halog")
    val stateDir = tmp("hastate")
    val cp = tmp("hacp")
    def apply = Applier.start(RelayStream.read(spark, logDir), stateDir, cp)
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 2)
    run(apply) // warm
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 2)
    val (compiled, groups, runId) = run(apply)
    assert(compiled == 0L, s"the second apply compiled $compiled classes")
    assert(groups.nonEmpty && groups.forall(_ == runId), s"$groups vs $runId")
    val want = Bootstrap.applyLog(envelope)
      .select("key_long", "seq").as[(Long, Long)].collect().toSet
    assert(Applier.snapshot(spark, stateDir).get
      .select("key_long", "seq").as[(Long, Long)].collect().toSet == want)
  }
}
