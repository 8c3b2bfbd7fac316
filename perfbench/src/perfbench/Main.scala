package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints two lines on stdout: a report
  * (`PERFBENCH_REPORT {...}`: seed, sizes, core count, the named
  * metrics with sample counts, failures) and the result
  * (`PERFBENCH_RESULT {...}`: correct, attempted, failed, metrics).
  *
  *   --workload relay-serve|relay-tail|index-cdc  --seed N  --seconds S
  *   --trace 0|1  --work DIR  [--spans FILE]
  */
object Main {

  val Workloads: Seq[String] = Seq("relay-serve", "relay-tail", "relay-tail-poll", "index-cdc")
  /** set-up is repeated and its median reported, so one slow build does
    * not decide `setup_s` */
  val SetupReps = 3
  /** Spark worker threads per workload; never more than the machine
    * has. The gated workloads' jobs are small and driver-bound, so more
    * threads add little speed, and cores left free for the driver, JIT
    * and GC threads keep their runs steadier on a shared host. */
  def maxCores(workload: String): Int = if (workload == "relay-serve") 4 else 2

  def main(args: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the JVM up
    val code = try { run(args); 0 } catch { case t: Throwable => t.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    require(Workloads.contains(name), s"unknown workload $name (one of ${Workloads.mkString(", ")})")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val tracing = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsolutePath
    val cores = math.max(1, math.min(maxCores(name), Runtime.getRuntime.availableProcessors()))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder(spark, tracing)
    val ctx = new Ctx(spark, seed, seconds, rec)
    val w: Workload = name match {
      case "relay-serve" => new RelayServe(ctx)
      case "relay-tail" => new RelayTail(ctx, polling = false)
      case "relay-tail-poll" => new RelayTail(ctx, polling = true)
      case _ => new IndexCdc(ctx)
    }

    val repS = (0 until SetupReps).map { i =>
      val t = System.nanoTime()
      w.setup(s"$work/rep-$i")
      val s = (System.nanoTime() - t) / 1e9
      if (i > 0) delete(new java.io.File(s"$work/rep-${i - 1}"))
      s
    }
    val tw = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(repS) + warmS
    val warmOps = rec.ops.toArray(Array.empty[OpRec]).toSeq
    rec.ops.clear()

    // start the timed phase from a collected heap, so garbage left by
    // set-up does not trigger a marking cycle in some runs and not others
    System.gc()
    val gc0 = Gc.now()
    w.measure()
    val gc = Gc.now() - gc0
    w.finish()
    rec.settle()

    val measured = rec.ops.toArray(Array.empty[OpRec]).toSeq
    val attempted = warmOps.size + measured.size + w.extraAttempted + w.failures.size
    val failed = (warmOps ++ measured).count(!_.ok) + w.extraFailed + w.failures.size
    val correct = failed == 0 && w.valid
    val rssMb = vmHwmKb / 1024.0
    val e2e = w.endToEnd ++ Map(
      "setup_s" -> Metric(setupS, "s"),
      "rss_peak_mb" -> Metric(rssMb, "MB"))

    val metrics: Map[String, Metric] =
      if (!tracing) e2e
      else {
        val layers = w.layers
        val listenerMs = rec.listener.map(_.callbackNs.get / 1e6).getOrElse(0.0)
        val traced = Map(
          "trace.op_p50_ms" -> e2e("op_p50_ms").value,
          "trace.op2_p50_ms" -> e2e("op2_p50_ms").value,
          "trace.events_per_s" -> e2e("events_per_s").value,
          "trace.spans" -> rec.spans.size.toDouble,
          "jvm.gc_ms" -> gc.ms,
          "jvm.gc_count" -> gc.count,
          "trace.listener_ms" -> listenerMs)
        Workload.allLayerNames.map { n =>
          n -> Metric(traced.getOrElse(n, layers.getOrElse(n, 0.0)), Units.of(n))
        }.toMap
      }

    opts.get("spans").foreach(rec.writeSpans)
    val report = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> tracing,
      "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "sizes" -> w.sizes, "session_s" -> sessionS, "setup_reps_s" -> repS, "warm_s" -> warmS,
      "valid" -> w.valid, "failed_ops_ratio" -> failed.toDouble / attempted,
      "measure_gc" -> Map("ms" -> gc.ms, "count" -> gc.count),
      "end_to_end" -> e2e.map { case (k, m) => k -> m.asJson },
      "named" -> w.named.map { case (k, m) => k -> m.asJson },
      "extra" -> w.extra,
      "failures" -> (w.failures.toSeq ++
        (warmOps ++ measured).filter(!_.ok).take(5).map(o => s"${o.kind}: ${o.error}")))
    println("PERFBENCH_REPORT " + Stats.json(report))
    println("PERFBENCH_RESULT " + Stats.json(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })))
    System.out.flush()
    spark.stop()
  }

  private def vmHwmKb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
    finally src.close()
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** JVM garbage collection totals (all collectors, this process). */
final case class Gc(count: Double, ms: Double) {
  def -(o: Gc): Gc = Gc(count - o.count, ms - o.ms)
}

object Gc {
  def now(): Gc = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val bs = (0 until beans.size).map(beans.get)
    Gc(bs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      bs.map(_.getCollectionTime.max(0L)).sum.toDouble)
  }
}

/** Units of the per-layer metrics, by naming convention. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_amp") || name.endsWith("_per_event")) "ratio"
    else "count"
}
