package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import graft.GraftEngine
import graft.model.Checkpoint
import perfbench.Gen.Events

/** relay-serve: a static event log served to two closed-loop clients.
  * Mix per request: 70% online pulls from the newest 2% of SCNs, 20%
  * catch-up pulls from older history, 10% fall-off bootstraps, each
  * followed by a pull from its resume checkpoint. Subscriptions are
  * uniform over all / one source / key-mod 1/8 / key-range 10%.
  * Loads the operators layer (filters, Relay.streamEvents, bootstrap
  * snapshot+catch-up), scan pruning and per-request planning; log
  * writes, micro-batches and the pipeline layer do no work. */
final class RelayServe(ctx: Ctx) extends Workload(ctx) {
  import RelayServe._

  private var ev: Events = _
  private var last: Array[Int] = _
  private var engine: GraftEngine = _
  private var minScn = 0L
  private var maxScn = 0L
  private val served = new AtomicLong
  private var wallMs = 0.0

  def sizes: Map[String, Any] = Map("events" -> NumEvents, "keys" -> NumKeys,
    "clients" -> Clients, "max_events" -> MaxEvents, "first_seq" -> FirstSeq)

  def setup(dir: String): Unit = {
    val keys = new Gen.KeySpace(ctx.seed, NumKeys)
    ev = Gen.events(ctx.seed, 10, keys, FirstSeq, NumEvents)
    last = Expect.lastPerKey(ev, NumKeys)
    minScn = ev.scn.head
    maxScn = ev.scn.last
    engine = new GraftEngine(spark, s"$dir/log")
    engine.loadDataEvents(ev.toDF(spark))
    // warm-up: every request kind on every subscription shape, twice (one
    // pass left about half the runs measurably slower)
    val d = new Draws(Gen.rng(ctx.seed, 11))
    for (_ <- 0 until 2; kind <- 0 to 2; shape <- 0 until 4) request(d, kind, shape)
  }

  def measure(): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val r = Gen.rng(ctx.seed, 100 + c)
        val d = new Draws(r)
        val shapes = new Array[Int](3)
        while (System.nanoTime() < deadline) {
          // each block of ten holds the mix exactly, in seeded order
          val block = Gen.shuffled(r, Mix)
          var i = 0
          while (i < block.length && System.nanoTime() < deadline) {
            val kind = block(i)
            request(d, kind, shapes(kind))
            shapes(kind) += 1
            i += 1
          }
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    wallMs = (System.nanoTime() - t0) / 1e6
  }

  def finish(): Unit = ()

  /** One request of `kind` (0 online pull, 1 catch-up pull, 2 fall-off
    * bootstrap) with the `shape`-th subscription shape, round robin. */
  private def request(d: Draws, kind: Int, shape: Int): Unit = {
    val sub = Gen.sub(shape, d.sub(kind).next(), NumKeys)
    val n = ev.size
    val x = d.position(kind).next()
    kind match {
      case 0 => pull("pull", ev.scn(n - n / 50 + (x * (n / 50)).toInt), sub)
      case 1 => pull("catchup", ev.scn((x * (n - n / 50)).toInt), sub)
      case _ =>
        val fellOff = FirstSeq / 2 + (x * (minScn - FirstSeq / 2)).toLong
        val b = rec.op("bootstrap") {
          val t0 = System.nanoTime()
          val (state, _, resume) = engine.bootstrap(Checkpoint.online(fellOff), sub.filter)
          val t1 = System.nanoTime()
          val rows = state.map(_.collect())
          (state, rows, resume, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
        } { case (op, (state, rows, resume, planMs, execMs)) =>
          op.add("plan_ms", planMs)
          op.add("exec_ms", execMs)
          state.foreach(df => rec.phases(op, df))
          rows.exists { rs =>
            op.add("rows", rs.length)
            resume.windowScn == maxScn &&
              Workload.digest(rs) == Expect.state(ev, last, sub)
          }
        }
        if (b.ok) pull("pull", maxScn, sub)
    }
  }

  /** One client's parameter streams: per request kind, the checkpoint
    * position and the subscription parameter. */
  private final class Draws(r: SplittableRandom) {
    val position: Array[Gen.Strata] = Array.fill(3)(new Gen.Strata(r))
    val sub: Array[Gen.Strata] = Array.fill(3)(new Gen.Strata(r))
  }

  private def pull(kind: String, afterScn: Long, sub: Gen.Sub): Unit =
    rec.op(kind) {
      val df = engine.stream(Checkpoint.online(afterScn), sub.filter, Some(MaxEvents))
      (df, df.collect())
    } { case (op, (df, rows)) =>
      served.addAndGet(rows.length)
      op.add("rows", rows.length)
      rec.phases(op, df)
      rec.scans(op, df)
      rows.forall(r => r.getLong(0) > afterScn && sub.passes(r.getLong(6), r.getInt(3))) &&
        Workload.digest(rows) == Expect.pull(ev, afterScn, sub, MaxEvents)
    }

  private def pulls: Seq[OpRec] = rec.ofKind("pull") ++ rec.ofKind("catchup")

  def endToEnd: Map[String, Metric] = Map(
    "op_p50_ms" -> pct("pull", 0.5),
    "op2_p50_ms" -> pct("bootstrap", 0.5),
    "events_per_s" -> Metric(served.get / (wallMs / 1000.0), "1/s"))

  def named: Map[String, Metric] = {
    val all = pulls
    Map(
      "pull_p50_ms" -> pct(all.filter(_.ok).map(_.ms), all.count(!_.ok), 0.5),
      "pull_p90_ms" -> pct(all.filter(_.ok).map(_.ms), all.count(!_.ok), 0.9),
      "catchup_p50_ms" -> pct("catchup", 0.5),
      "serve_events_per_s" -> endToEnd("events_per_s"),
      "bootstrap_p50_ms" -> pct("bootstrap", 0.5))
  }

  def layers: Map[String, Double] = {
    val all = pulls
    def sum(os: Seq[OpRec], k: String) = os.map(_.detail.getOrElse(k, 0.0)).sum
    def per(os: Seq[OpRec], k: String) = if (os.isEmpty) 0.0 else sum(os, k) / os.size
    val scanned = sum(all, "scan.rows")
    val returned = sum(all, "rows")
    sparkBlock("pull", "pull") ++ sparkBlock("bootstrap", "bootstrap") ++
      catalystBlock("pull", "pull") ++ catalystBlock("bootstrap", "bootstrap") ++ Map(
        "pull.rows_scanned" -> per(all, "scan.rows"),
        "pull.rows_returned" -> per(all, "rows"),
        "pull.useful_ratio" -> (if (scanned > 0) returned / scanned else 0.0),
        "pull.files_read" -> per(all, "scan.files"),
        "pull.bytes_read" -> per(all, "scan.bytes"),
        "bootstrap.plan_ms" -> meanDetail("bootstrap", "plan_ms"),
        "bootstrap.exec_ms" -> meanDetail("bootstrap", "exec_ms"),
        "bootstrap.state_rows" -> meanDetail("bootstrap", "rows"))
  }
}

object RelayServe {
  val NumEvents = 200000
  val NumKeys = 100000
  val FirstSeq = 1000000L
  val MaxEvents = 10000
  val Clients = 2
  /** request kinds of one block: 7 online pulls, 2 catch-up pulls, 1 bootstrap */
  val Mix: Array[Int] = Array(0, 0, 0, 0, 0, 0, 0, 1, 1, 2)

  val layerNames: Seq[String] = Seq("pull.rows_scanned", "pull.rows_returned",
    "pull.useful_ratio", "pull.files_read", "pull.bytes_read",
    "bootstrap.plan_ms", "bootstrap.exec_ms", "bootstrap.state_rows")
}
