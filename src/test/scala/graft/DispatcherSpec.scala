package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Checkpoint
import graft.sources.ChangeFeed
import graft.streaming.{DatabusConsumer, Dispatcher, EnvelopeRow, RelayStream}

/** One `Dispatcher.start` micro-batch is one delivery job of one task,
  * sorted with no exchange and with no bounds job, and its checkpoint is
  * the highest delivered scn. The C5 regress watermark lives in the
  * checkpoint dir, so it holds across drains. */
class DispatcherSpec extends SparkSpec {
  import spark.implicits._
  import DispatcherSpec._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val envelope = ChangeFeed.envelope(spark, sf()) // 1000 events

  /** Spark jobs started and shuffle bytes written while `body` ran, on
    * any thread. */
  private def jobsOf(body: => Unit): (Int, Long) = {
    Thread.sleep(500) // earlier actions' listener events drain first
    val jobs = new AtomicLong
    val shuffle = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        shuffle.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get.toInt, shuffle.get)
  }

  private def drain(stream: DataFrame, cp: String): Unit =
    Dispatcher.start(stream, new Recording, cp).awaitTermination()

  test("a drain is one job of one task with no exchange, in order, whole windows") {
    val logDir = tmp("dlog")
    val cp = tmp("dcp")
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 4)
    Recorder.clear()
    assert(jobsOf(drain(RelayStream.read(spark, logDir), cp)) == (1, 0L))
    // a later, non-regressing append on the same checkpoint: the
    // watermark exists, and the footers clear it without a job
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 4)
    assert(jobsOf(drain(RelayStream.read(spark, logDir), cp)) == (1, 0L))
    assert(Recorder.tasks.asScala.toSet.size == 2, "one task per drain")
    val first = envelope.where($"scn" < 500).agg(max("scn")).as[Long].head()
    assert(Recorder.control.asScala.toSeq == Seq("checkpoint" -> first,
      "checkpoint" -> 990L))
    val got = Recorder.events.asScala.toSeq
    assert(got.map(_.seq).sorted == (0L until 1000L))
    got.groupBy(_.partition_id).foreach { case (p, evs) =>
      val order = evs.map(e => (e.scn, e.seq))
      assert(order == order.sorted, s"partition $p delivered out of (scn, seq) order")
    }
    // every (partition, scn) run opened and closed once, around all of
    // its events
    val want = envelope.groupBy("partition_id", "scn").count()
      .as[(Int, Long, Long)].collect().map { case (p, s, n) => (p, s) -> n }
    val windows = Recorder.windows.asScala.toSeq
    assert(windows.map(w => (w._1, w._2)).distinct.size == windows.size)
    assert(windows.map { case (p, s, n) => (p, s) -> n }.toMap == want.toMap)
  }

  test("the checkpoint is the highest DELIVERED scn, and an all-filtered batch has none") {
    val logDir = tmp("dflog")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 2)
    Recorder.clear()
    drain(RelayStream.read(spark, logDir).where($"scn" < 700), tmp("dfcp"))
    val top = envelope.where($"scn" < 700).agg(max("scn")).as[Long].head()
    assert(top < 990L)
    assert(Recorder.control.asScala.toSeq == Seq("checkpoint" -> top))
    Recorder.clear()
    drain(RelayStream.read(spark, logDir).where($"scn" < 0), tmp("dfcp0"))
    assert(Recorder.events.isEmpty && Recorder.windows.isEmpty)
    assert(Recorder.control.isEmpty, Recorder.control.toString)
  }

  test("C5 holds across drains: a regressing append on the same checkpoint rolls back once") {
    val logDir = tmp("drlog")
    val cp = tmp("drcp")
    // the later windows land first; the older ones arrive in a second
    // append, drained by a second start on the same checkpoint dir
    RelayStream.writeEventLog(envelope.where($"scn" >= 500), logDir, filesHint = 1)
    Recorder.clear()
    drain(RelayStream.read(spark, logDir), cp)
    RelayStream.writeEventLog(envelope.where($"scn" < 500), logDir, filesHint = 1)
    drain(RelayStream.read(spark, logDir), cp)
    drain(RelayStream.read(spark, logDir), cp) // nothing new: no callback
    val low = envelope.where($"scn" < 500)
    val (lo, hi) = low.agg(min("scn"), max("scn")).as[(Long, Long)].head()
    assert(Recorder.control.asScala.toSeq == Seq("checkpoint" -> 990L,
      "rollback" -> lo, "checkpoint" -> hi))
    assert(Recorder.events.size == 1000)
  }

  test("a batch replayed after a failed commit is not taken for a regress") {
    val logDir = tmp("dplog")
    val cp = tmp("dpcp")
    RelayStream.writeEventLog(envelope, logDir, filesHint = 2)
    Recorder.clear()
    // the batch delivers, records its watermark, then fails before its
    // commit: the restart replays the same batch id over the same files
    val failing = Dispatcher.start(RelayStream.read(spark, logDir),
      new Recording { override def onCheckpoint(cp: Checkpoint): Unit =
        throw new IllegalStateException("checkpoint store down") }, cp)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      failing.awaitTermination())
    drain(RelayStream.read(spark, logDir), cp)
    assert(Recorder.control.asScala.toSeq == Seq("checkpoint" -> 990L))
    assert(Recorder.events.size == 2000) // at-least-once: one replay
  }
}

object DispatcherSpec {

  /** In-JVM record of what the dispatcher delivered (local mode:
    * executors share the JVM). */
  object Recorder {
    val events = new ConcurrentLinkedQueue[EnvelopeRow]()
    /** (partition, scn, events between its start and end callbacks) */
    val windows = new ConcurrentLinkedQueue[(Int, Long, Long)]()
    /** driver-side callbacks, in order */
    val control = new ConcurrentLinkedQueue[(String, Long)]()
    /** task attempt ids that delivered events */
    val tasks = new ConcurrentLinkedQueue[Long]()
    def clear(): Unit = {
      events.clear(); windows.clear(); control.clear(); tasks.clear()
    }
  }

  /** Records every callback; one instance per task, so its open-window
    * state sees one task's sequential run. */
  class Recording extends DatabusConsumer {
    private var open: Option[(Int, Long)] = None
    private var inWindow = 0L
    override def onStartWindow(scn: Long): Unit = {
      assert(open.isEmpty, s"window $scn opened inside $open")
      open = Some((-1, scn)); inWindow = 0L
    }
    override def onEvent(e: EnvelopeRow): Boolean = {
      val (p, scn) = open.getOrElse(sys.error(s"event ${e.seq} outside a window"))
      assert(scn == e.scn && (p == -1 || p == e.partition_id),
        s"event ${e.seq} in window $open")
      open = Some((e.partition_id, scn)); inWindow += 1
      Recorder.events.add(e)
      Recorder.tasks.add(org.apache.spark.TaskContext.get().taskAttemptId())
      true
    }
    override def onEndWindow(scn: Long): Unit = {
      val (p, s) = open.getOrElse(sys.error(s"window $scn closed unopened"))
      assert(s == scn)
      Recorder.windows.add((p, scn, inWindow)); open = None
    }
    override def onCheckpoint(cp: Checkpoint): Unit =
      Recorder.control.add("checkpoint" -> cp.windowScn)
    override def onRollback(cp: Checkpoint): Unit =
      Recorder.control.add("rollback" -> cp.windowScn)
  }
}
