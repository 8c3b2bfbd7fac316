package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.GraftEngine
import graft.model.Checkpoint
import graft.streaming.{Applier, DatabusConsumer, EnvelopeRow}
import perfbench.Gen.Events

/** The benchmark's consumer: records every callback in the current
  * run's ledger. Instances are copied to each task; the ledger is
  * process-wide (local mode runs tasks in this JVM). */
final class TailConsumer extends DatabusConsumer {
  private var open = 0
  override def onStartWindow(scn: Long): Unit = open = 0
  override def onEvent(e: EnvelopeRow): Boolean = {
    TailSink.ledger.event(e.partition_id, e.scn, e.seq)
    open += 1
    true
  }
  override def onEndWindow(scn: Long): Unit =
    TailSink.ledger.endWindow(scn, open, System.nanoTime())
  override def onRollback(cp: Checkpoint): Unit = TailSink.rollbacks.incrementAndGet()
}

object TailSink {
  @volatile var ledger: Expect.TailLedger = _
  val rollbacks = new AtomicLong
}

/** relay-tail: an open-loop producer appends a seeded batch through
  * `loadDataEvents` every `PeriodMs`, on top of a preloaded log, and two
  * consumers drain from their own checkpoints with AvailableNow runs: a
  * `GraftEngine.consume` dispatcher with the benchmark's consumer, and
  * the Applier. Loads the streaming layer (event-log writes, file-source
  * listing, micro-batch bookkeeping, Dispatcher, Applier); the
  * allow-all filter leaves operators almost idle.
  *
  * `polling = false` (workload relay-tail): both consumers drain once
  * each append has committed. `polling = true` (relay-tail-poll): each
  * consumer runs drains back to back while the producer appends, so a
  * drain can list the log between an append's commit and its mtime
  * stamping (RelayStream.writeEventLog) and admit that append's files out
  * of scn order; the ledger reports it as out-of-order delivery. */
final class RelayTail(ctx: Ctx, polling: Boolean) extends Workload(ctx) {
  import RelayTail._

  private var engine: GraftEngine = _
  private var dir: String = _
  private var preload: Events = _
  private var warmBatch: Events = _
  private var batches: IndexedSeq[Events] = _
  private var frames: IndexedSeq[DataFrame] = _
  private var ledger: Expect.TailLedger = _
  // measured phase
  private val appends = new ConcurrentLinkedQueue[(Int, Long, Long)]() // batch, due, commit
  private val applyRuns = new ConcurrentLinkedQueue[(Long, Long)]()    // start, end
  private val lateness = new ConcurrentLinkedQueue[Double]()
  private var t0 = 0L
  private var lastDelivery = 0L
  private var measuredEvents = 0L
  private var stateRows = 0L
  private var logBytesBefore = 0L

  def sizes: Map[String, Any] = Map("preload_events" -> Preload,
    "batch_events" -> BatchEvents, "period_ms" -> PeriodMs,
    "batches" -> numBatches, "keys" -> NumKeys, "polling" -> polling)

  /** one batch per period that starts inside the run */
  private def numBatches: Int = math.max(1, math.ceil(ctx.seconds * 1000 / PeriodMs).toInt)

  def setup(d: String): Unit = {
    dir = d
    val keys = new Gen.KeySpace(ctx.seed, NumKeys)
    preload = Gen.events(ctx.seed, 20, keys, FirstSeq, Preload)
    warmBatch = Gen.events(ctx.seed, 29, keys, preload.nextSeq, BatchEvents)
    batches = (0 until numBatches).scanLeft(warmBatch) { (prev, k) =>
      Gen.events(ctx.seed, 30 + k, keys, prev.nextSeq, BatchEvents)
    }.tail
    frames = batches.map(_.toDF(spark))
    val all = preload +: warmBatch +: batches
    ledger = new Expect.TailLedger(FirstSeq, (all.last.nextSeq - FirstSeq).toInt)
    all.foreach(e => ledger.expectWindows(e.windowSizes))
    TailSink.ledger = ledger
    engine = new GraftEngine(spark, s"$dir/log")
    engine.loadDataEvents(preload.toDF(spark))
  }

  /** Untimed, on the last set-up: both consumers drain the preload, then
    * one append of the warm-up batch is drained by both at once, as in
    * the timed phase (the first timed drain otherwise runs slower). */
  override def warm(): Unit = {
    drain(); apply()
    val missing = ledger.missing((preload.nextSeq - FirstSeq).toInt)
    if (missing > 0) failures += s"warm-up: $missing preloaded events not delivered"
    rec.op("log_append")(engine.loadDataEvents(warmBatch.toDF(spark)))((_, _) => true)
    val a = new Thread(() => apply())
    a.start()
    drain()
    a.join()
  }

  private def drain(): OpRec = {
    rec.op("drain") {
      val q = engine.consume(new TailConsumer, s"$dir/ckpt-consumer")
      q.awaitTermination()
      q.recentProgress.toSeq
    } { (op, ps) => progress(op, ps); true }
  }

  private def apply(): OpRec =
    rec.op("apply") {
      val q = Applier.start(engine.streamLive(), s"$dir/state", s"$dir/ckpt-applier")
      q.awaitTermination()
      q.recentProgress.toSeq
    } { (op, ps) => progress(op, ps); true }

  private def progress(op: OpRec, ps: Seq[StreamingQueryProgress]): Unit = {
    def d(p: StreamingQueryProgress, k: String) = p.durationMs.getOrDefault(k, 0L).toDouble
    val real = ps.filter(_.numInputRows > 0)
    op.add("rows", real.map(_.numInputRows.toDouble).sum)
    op.add("batches", real.size)
    op.add("addbatch_ms", real.map(d(_, "addBatch")).sum)
    op.add("latest_offset_ms", ps.map(d(_, "latestOffset")).sum)
    op.add("planning_ms", ps.map(d(_, "queryPlanning")).sum)
    op.add("wal_commit_ms", ps.map(d(_, "walCommit")).sum)
    op.add("commit_ms", ps.map(d(_, "commitOffsets")).sum)
    rec.batches(op, ps)
  }

  def measure(): Unit = {
    @volatile var produced = false
    logBytesBefore = Workload.files(s"$dir/log", Workload.dataFile)._2
    t0 = System.nanoTime() + 50000000L
    val producer = new Thread(() => {
      batches.indices.foreach { k =>
        val due = t0 + k * PeriodMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateness.add((System.nanoTime() - due) / 1e6)
        val before = Workload.files(s"$dir/log", Workload.dataFile)._1
        val op = rec.op("log_append")(engine.loadDataEvents(frames(k)))((_, _) => true)
        appends.add((k, due, op.endNs))
        op.add("files", Workload.files(s"$dir/log", Workload.dataFile)._1 - before)
        if (!polling) {
          // both consumers drain once the append has committed
          val a = new Thread(() => applyRuns.add(timesOf(apply())))
          a.start()
          drain()
          a.join()
        }
      }
      produced = true
    }, "perfbench-producer")
    // polling: each loop stops after a drain that started once everything was produced
    def loop(body: => OpRec, onRun: OpRec => Unit) = new Thread(() => {
      var done = false
      while (!done && System.nanoTime() < t0 + MaxTailNs) {
        val finalRun = produced
        onRun(body)
        done = finalRun
      }
    })
    val threads = producer +: (if (polling)
      Seq(loop(drain(), _ => ()), loop(apply(), op => applyRuns.add(timesOf(op))))
    else Nil)
    threads.foreach(_.start())
    threads.foreach(_.join())
    lastDelivery = batches.flatMap(b => b.scn.distinct).flatMap(ledger.endOf).maxOption.getOrElse(0L)
    measuredEvents = batches.map(_.size.toLong).sum
    if (lateness.asScala.exists(_ >= PeriodMs)) {
      valid = false
      failures += s"producer fell a full period behind (max lateness ${lateness.asScala.max} ms)"
    }
  }

  private def timesOf(op: OpRec): (Long, Long) = (op.startNs, op.endNs)

  def finish(): Unit = {
    val total = (batches.last.nextSeq - FirstSeq).toInt
    val missing = ledger.missing(total)
    if (missing > 0) failures += s"$missing events never delivered"
    if (ledger.outOfOrder > 0)
      failures += s"${ledger.outOfOrder} events out of (scn, seq) order; first: ${ledger.firstViolation}"
    if (ledger.brokenWindows > 0) failures += s"${ledger.brokenWindows} windows delivered partially"
    // Applier's final state against a replay of every generated change
    val all = Expect.concat(preload +: warmBatch +: batches)
    val expected = Expect.state(all, Expect.lastPerKey(all, NumKeys), Gen.AllSub)
    val got = Applier.snapshot(spark, s"$dir/state")
      .map(df => Workload.digest(df.collect())).getOrElse(Expect.Empty)
    stateRows = got.count
    if (got != expected) failures += s"applier state $got != expected $expected"
    val windows = batches.map(_.scn.distinct.length).sum
    extraAttempted = windows
    extraFailed = batches.flatMap(_.scn.distinct).count(s => ledger.endOf(s).isEmpty) +
      ledger.brokenWindows + ledger.outOfOrder
  }

  private def dueOf: Map[Long, Long] = {
    val due = appends.asScala.map { case (k, d, _) => k -> d }.toMap
    batches.indices.flatMap(k => batches(k).scn.distinct.map(_ -> due.getOrElse(k, 0L))).toMap
  }

  private def deliverMs: (Seq[Double], Int) = {
    val due = dueOf
    val lat = due.toSeq.map { case (scn, d) => ledger.endOf(scn).map(e => (e - d) / 1e6) }
    (lat.flatten, lat.count(_.isEmpty))
  }

  private def applyMs: (Seq[Double], Int) = {
    val runs = applyRuns.asScala.toSeq.sortBy(_._1)
    val lat = appends.asScala.toSeq.flatMap { case (k, due, commit) =>
      val end = runs.find(_._1 >= commit).map(r => (r._2 - due) / 1e6)
      Seq.fill(batches(k).scn.distinct.length)(end)
    }
    (lat.flatten, lat.count(_.isEmpty))
  }

  /** Per append, in due order: the median delivery of its windows (None
    * if one of them never arrived), its apply latency (None without an
    * Applier run that started after its commit) and its append time, in
    * ms from its due time. */
  private def perAppend: Seq[(Option[Double], Option[Double], Double)] = {
    val runs = applyRuns.asScala.toSeq.sortBy(_._1)
    appends.asScala.toSeq.sortBy(_._1).map { case (k, due, commit) =>
      val ends = batches(k).scn.distinct.toSeq.map(ledger.endOf)
      val deliver =
        if (ends.exists(_.isEmpty)) None
        else Some(Stats.median(ends.flatten.map(e => (e - due) / 1e6)))
      (deliver, runs.find(_._1 >= commit).map(r => (r._2 - due) / 1e6), (commit - due) / 1e6)
    }
  }

  /** Mean over the run's appends, +inf if any append lacks a value. */
  private def meanOverAppends(xs: Seq[Option[Double]]): Metric = {
    val v =
      if (xs.size < batches.size || xs.exists(_.isEmpty)) Double.PositiveInfinity
      else xs.flatten.sum / xs.size
    Metric(v, "ms", xs.size)
  }

  override def extra: Map[String, Any] =
    Map("batches" -> perAppend.map { case (d, a, c) =>
      Seq(d.getOrElse(-1.0), a.getOrElse(-1.0), c)
    })

  /** Each append's p50 window latency, averaged over the run's appends:
    * every append weighs the same, so one slow drain moves the figure by
    * its share and the median cannot jump between appends. */
  def endToEnd: Map[String, Metric] = {
    val pa = perAppend
    Map(
      "op_p50_ms" -> meanOverAppends(pa.map(_._1)),
      "op2_p50_ms" -> meanOverAppends(pa.map(_._2)),
      "events_per_s" -> Metric(measuredEvents / ((lastDelivery - t0) / 1e9), "1/s"))
  }

  def named: Map[String, Metric] = {
    val (dv, df) = deliverMs
    val (av, af) = applyMs
    Map(
      "deliver_p50_ms" -> pct(dv, df, 0.5),
      "deliver_p90_ms" -> pct(dv, df, 0.9),
      "apply_p50_ms" -> pct(av, af, 0.5),
      "apply_p90_ms" -> pct(av, af, 0.9),
      "log_append_p50_ms" -> pct("log_append", 0.5),
      "producer_lateness_max_ms" -> Metric(lateness.asScala.maxOption.getOrElse(0.0), "ms"))
  }

  def layers: Map[String, Double] = {
    val real = (op: OpRec) => op.detail.getOrElse("rows", 0.0) > 0
    val drains = rec.ofKind("drain").filter(real)
    val applies = rec.ofKind("apply").filter(real)
    def per(os: Seq[OpRec], k: String) =
      if (os.isEmpty) 0.0 else os.map(_.detail.getOrElse(k, 0.0)).sum / os.size
    def sum(os: Seq[OpRec], k: String) = os.map(_.detail.getOrElse(k, 0.0)).sum
    val (logFiles, logBytes) = Workload.files(s"$dir/log", Workload.dataFile)
    val logEvents = (batches.last.nextSeq - FirstSeq).toDouble
    val newBytes = (logBytes - logBytesBefore).toDouble
    sparkBlock("drain", "drain", real) ++ sparkBlock("apply", "apply", real) ++
      sparkBlock("log_append", "log_append") ++ Map(
        "log.append_ms" -> meanOk("log_append"),
        "log.files_per_append" -> meanDetail("log_append", "files", _.detail.contains("files")),
        "log.files_total" -> logFiles.toDouble,
        "log.bytes_per_event" -> logBytes / logEvents,
        "drain.wall_ms" -> (if (drains.isEmpty) 0.0 else drains.map(_.ms).sum / drains.size),
        "drain.batches" -> per(drains, "batches"),
        "drain.addbatch_ms" -> per(drains, "addbatch_ms"),
        "drain.latest_offset_ms" -> per(drains, "latest_offset_ms"),
        "drain.planning_ms" -> per(drains, "planning_ms"),
        "drain.wal_commit_ms" -> per(drains, "wal_commit_ms"),
        "drain.commit_ms" -> per(drains, "commit_ms"),
        "drain.fixed_ms" -> (drains.map(_.ms).sum - sum(drains, "addbatch_ms")) / math.max(1, drains.size),
        "drain.rows_read_per_event" -> (if (sum(drains, "rows") > 0)
          sum(drains, "spark.records_read") / sum(drains, "rows") else 0.0),
        "consumer.events" -> ledger.delivered.toDouble,
        "consumer.windows" -> ledger.windows.toDouble,
        "consumer.redelivered" -> ledger.redelivered.toDouble,
        "consumer.rollbacks" -> TailSink.rollbacks.get.toDouble,
        "apply.wall_ms" -> (if (applies.isEmpty) 0.0 else applies.map(_.ms).sum / applies.size),
        "apply.batches" -> per(applies, "batches"),
        "apply.state_rows" -> stateRows.toDouble,
        "apply.bytes_written" -> per(applies, "spark.bytes_written"),
        "apply.write_amp" -> (if (newBytes > 0) sum(applies.filter(_.startNs >= t0), "spark.bytes_written") / newBytes else 0.0),
        "producer.lateness_ms" -> lateness.asScala.maxOption.getOrElse(0.0))
  }

  private def meanOk(kind: String): Double = {
    val v = ms(kind)
    if (v.isEmpty) 0.0 else v.sum / v.size
  }
}

object RelayTail {
  val Preload = 30000
  val BatchEvents = 10000
  /** above the time from an append's due time to the end of its Applier
    * drain (2.8-3.9 s on 2 cores of a shared host, depending on its
    * load), so the open loop does not saturate and latency does not queue */
  val PeriodMs = 4500L
  val NumKeys = 100000
  val FirstSeq = 1000000L
  /** a drain loop gives up this long after the producer starts */
  val MaxTailNs = 120L * 1000000000L

  val layerNames: Seq[String] = Seq("log.append_ms", "log.files_per_append",
    "log.files_total", "log.bytes_per_event", "drain.wall_ms", "drain.batches",
    "drain.addbatch_ms", "drain.latest_offset_ms", "drain.planning_ms",
    "drain.wal_commit_ms", "drain.commit_ms", "drain.fixed_ms",
    "drain.rows_read_per_event", "consumer.events", "consumer.windows",
    "consumer.redelivered", "consumer.rollbacks", "apply.wall_ms",
    "apply.batches", "apply.state_rows", "apply.bytes_written",
    "apply.write_amp", "producer.lateness_ms")
}
