package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed call into the engine. `ok` is false when the call threw or
  * its result failed the check; `detail` holds per-op layer readings
  * (traced runs only). */
final class OpRec(val id: Long, val kind: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var ok: Boolean = true
  @volatile var error: String = ""
  val detail: mutable.Map[String, Double] =
    java.util.Collections.synchronizedMap(new java.util.HashMap[String, Double]()).asScala
  def ms: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit = detail.synchronized {
    detail(k) = detail.getOrElse(k, 0.0) + v
  }
}

/** A span kept in memory and written out when the run ends. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long)

/** Times every op from outside the engine. With tracing on it also tags
  * the op's Spark jobs (through a thread-local job property, which the
  * engine's own threads inherit), attributes job and task metrics to the
  * op, and keeps spans for ops, jobs and micro-batches. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val ids = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val active = new ConcurrentHashMap[Long, OpRec]()
  private val byId = new ConcurrentHashMap[Long, OpRec]()
  private var errorsShown = 0
  val listener: Option[JobListener] =
    if (tracing) {
      val l = new JobListener(this)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** Times `call`; then, outside the timer, checks its result. */
  def op[A](kind: String)(call: => A)(check: (OpRec, A) => Boolean): OpRec = {
    val rec = new OpRec(ids.incrementAndGet(), kind, System.nanoTime())
    val sc = spark.sparkContext
    if (tracing) {
      byId.put(rec.id, rec)
      active.put(rec.id, rec)
      sc.setLocalProperty(Recorder.OpKey, rec.id.toString)
    }
    val result =
      try Right(call)
      catch { case t: Throwable => Left(t) }
    rec.endNs = System.nanoTime()
    if (tracing) {
      sc.setLocalProperty(Recorder.OpKey, null)
      active.remove(rec.id)
      spans.add(Span(kind, rec.startNs, rec.endNs, 0L, rec.id))
    }
    result match {
      case Left(t) => fail(rec, s"threw ${t.getClass.getSimpleName}: ${t.getMessage}")
      case Right(a) =>
        val good = try check(rec, a) catch { case t: Throwable =>
          rec.error = s"check threw $t"; false }
        if (!good) fail(rec, if (rec.error.nonEmpty) rec.error else "wrong result")
    }
    ops.add(rec)
    rec
  }

  def fail(rec: OpRec, why: String): Unit = {
    rec.ok = false
    rec.error = why
    synchronized {
      if (errorsShown < 5) System.err.println(s"[perfbench] op ${rec.kind}#${rec.id} failed: $why")
      errorsShown += 1
    }
  }

  /** The op a job belongs to: the tagged op while it is still running,
    * else the only running op (single-client loops, whose pool threads
    * may carry a stale tag), else the tag as given. */
  private[perfbench] def owner(tag: Option[Long]): Long = {
    tag.filter(active.containsKey).getOrElse {
      val running = active.keySet().asScala.toSeq
      if (running.size == 1) running.head else tag.getOrElse(0L)
    }
  }

  private[perfbench] def rec(id: Long): Option[OpRec] = Option(byId.get(id))

  def ofKind(kind: String): Seq[OpRec] = ops.asScala.filter(_.kind == kind).toSeq

  /** Catalyst phase times of a frame the op returned. */
  def phases(rec: OpRec, df: DataFrame): Unit = if (tracing) {
    df.queryExecution.tracker.phases.foreach { case (p, s) =>
      rec.add(s"catalyst.$p", s.durationMs.toDouble)
    }
  }

  /** Scan-node metrics of the frame's executed plan. */
  def scans(rec: OpRec, df: DataFrame): Unit = if (tracing) {
    PlanStats.scans(df.queryExecution.executedPlan).foreach { s =>
      def m(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      rec.add("scan.rows", m("numOutputRows"))
      rec.add("scan.files", m("numFiles"))
      rec.add("scan.bytes", m("filesSize"))
    }
  }

  /** Micro-batch spans of a finished streaming drain. */
  def batches(rec: OpRec, progress: Seq[StreamingQueryProgress]): Unit = if (tracing) {
    progress.foreach { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = p.durationMs.getOrDefault("triggerExecution", 0L)
      // progress clocks are wall-clock ms; spans use nanoTime
      val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val s = startMs * 1000000L + offset
      spans.add(Span(s"batch ${p.batchId}", s, s + dur * 1000000L, rec.id, rec.id))
    }
  }

  /** Per-op Spark attribution, once all listener events have arrived. */
  def settle(): Unit = listener.foreach { l =>
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    l.attribute()
  }

  def writeSpans(path: String): Unit = if (tracing) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(Stats.json(Map("name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
  }
}

object Recorder {
  val OpKey = "perfbench.op"
}

/** Job and task metrics per op. Callback time is kept so the traced run
  * can report its own cost. */
final class JobListener(rec: Recorder) extends SparkListener {
  private final class Job(val op: Long, val startNs: Long) {
    @volatile var endNs: Long = 0L
    val tasks = new AtomicLong
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    val gcMs = new AtomicLong
    val written = new AtomicLong
    val recordsRead = new AtomicLong
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val callbackNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
      .map(_.toLong)
    // listener time is wall-clock ms; keep nanoTime-based spans aligned
    val now = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
    jobs.put(e.jobId, new Job(rec.owner(tag), now))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.written.addAndGet(m.outputMetrics.bytesWritten)
        j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endNs = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
    }
  }

  /** Folds job counts, busy time (union of job intervals inside the op)
    * and task metrics into each op's detail, and records job spans. */
  def attribute(): Unit = {
    val byOp = jobs.asScala.toSeq.groupBy(_._2.op)
    byOp.foreach { case (opId, js) =>
      rec.rec(opId).foreach { op =>
        js.foreach { case (id, j) =>
          op.add("spark.jobs", 1)
          op.add("spark.tasks", j.tasks.get.toDouble)
          op.add("spark.shuffle_write_bytes", j.shuffleWrite.get.toDouble)
          op.add("spark.shuffle_read_bytes", j.shuffleRead.get.toDouble)
          op.add("spark.spill_bytes", j.spill.get.toDouble)
          op.add("spark.task_gc_ms", j.gcMs.get.toDouble)
          op.add("spark.bytes_written", j.written.get.toDouble)
          op.add("spark.records_read", j.recordsRead.get.toDouble)
          rec.spans.add(Span(s"job $id", j.startNs, math.max(j.endNs, j.startNs), opId, opId))
        }
        val intervals = js.map { case (_, j) =>
          (math.max(j.startNs, op.startNs), math.min(math.max(j.endNs, j.startNs), op.endNs))
        }.filter { case (a, b) => b > a }.sortBy(_._1)
        var busy = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        intervals.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) busy += curE - curS
        op.add("spark.job_busy_ms", busy / 1e6)
      }
    }
    rec.ops.asScala.foreach { op =>
      op.add("spark.driver_gap_ms", op.ms - op.detail.getOrElse("spark.job_busy_ms", 0.0))
    }
  }
}

object PlanStats extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
}
