package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What every workload is handed. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val rec: Recorder)

/** A reported value with its unit; percentiles carry their sample count
  * and how many samples lie above them, averages their sample count. */
final case class Metric(value: Double, unit: String, samples: Int = -1, tail: Int = -1) {
  def asJson: Map[String, Any] =
    Map("value" -> value, "unit" -> unit) ++
      (if (samples >= 0) Map("samples" -> samples) else Map.empty) ++
      (if (tail >= 0) Map("tail" -> tail) else Map.empty)
}

/** One workload: `setup` builds inputs and initial state in a fresh
  * directory, warm-up included (it may run several times; the last
  * build is measured); `warm` exercises the timed ops once more on that
  * last build; `measure` runs the timed loop; `finish` makes the
  * end-of-run checks outside any timer. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def rec: Recorder = ctx.rec

  def setup(dir: String): Unit
  /** Warm-up after the last set-up, before the timed phase; its time
    * counts in `setup_s`. */
  def warm(): Unit = ()
  def measure(): Unit
  def finish(): Unit

  /** end-to-end metrics besides setup_s and rss_peak_mb */
  def endToEnd: Map[String, Metric]
  /** per-operation latencies by name (pull_p90_ms, compact_p50_ms, ...), for the report line */
  def named: Map[String, Metric]
  /** per-layer readings (traced runs) */
  def layers: Map[String, Double]
  /** sizes and knobs echoed in the report */
  def sizes: Map[String, Any]
  /** further readings for the report line */
  def extra: Map[String, Any] = Map.empty

  /** Checks outside ops that failed (undelivered windows, final state). */
  val failures = mutable.ArrayBuffer.empty[String]
  /** Extra attempted/failed units that are not ops (windows). */
  var extraAttempted = 0L
  var extraFailed = 0L
  /** false when the harness itself could not keep its schedule */
  var valid = true

  // ---- shared helpers ----

  def ms(kind: String): Seq[Double] = rec.ofKind(kind).filter(_.ok).map(_.ms)
  def failedOf(kind: String): Int = rec.ofKind(kind).count(!_.ok)

  def pct(kind: String, q: Double): Metric = pct(ms(kind), failedOf(kind), q)
  def pct(values: Seq[Double], failed: Int, q: Double): Metric =
    if (values.isEmpty && failed == 0) Metric(Double.NaN, "ms", 0, 0)
    else {
      val p = Stats.percentile(values, failed, q)
      Metric(p.value, "ms", p.samples, p.tail)
    }

  /** Mean of a detail reading over ops of `kind` (optionally filtered). */
  def meanDetail(kind: String, key: String, keep: OpRec => Boolean = _ => true): Double = {
    val os = rec.ofKind(kind).filter(keep)
    if (os.isEmpty) 0.0 else os.map(_.detail.getOrElse(key, 0.0)).sum / os.size
  }

  /** The Spark block for one op class, as per-op means. */
  def sparkBlock(cls: String, kind: String, keep: OpRec => Boolean = _ => true): Map[String, Double] = {
    def m(k: String) = meanDetail(kind, k, keep)
    Map(
      s"spark.$cls.jobs" -> m("spark.jobs"),
      s"spark.$cls.tasks" -> m("spark.tasks"),
      s"spark.$cls.job_busy_ms" -> m("spark.job_busy_ms"),
      s"spark.$cls.driver_gap_ms" -> m("spark.driver_gap_ms"),
      s"spark.$cls.shuffle_bytes" -> (m("spark.shuffle_write_bytes") + m("spark.shuffle_read_bytes")),
      s"spark.$cls.spill_bytes" -> m("spark.spill_bytes"),
      s"spark.$cls.task_gc_ms" -> m("spark.task_gc_ms"))
  }

  def catalystBlock(cls: String, kind: String): Map[String, Double] =
    Seq("analysis", "optimization", "planning").map { p =>
      s"catalyst.$cls.${p}_ms" -> meanDetail(kind, s"catalyst.$p")
    }.toMap
}

object Workload {
  /** Every per-layer metric, so each workload reports the full set (0
    * where its ops never touch that layer). Names: layer.class.reading. */
  val SparkClasses: Seq[String] = Seq("pull", "bootstrap", "drain", "apply",
    "log_append", "search", "index_append", "takedown", "compact")
  val SparkReadings: Seq[String] = Seq("jobs", "tasks", "job_busy_ms",
    "driver_gap_ms", "shuffle_bytes", "spill_bytes", "task_gc_ms")
  val CatalystClasses: Seq[String] = Seq("pull", "bootstrap", "search")

  def allLayerNames: Seq[String] =
    SparkClasses.flatMap(c => SparkReadings.map(r => s"spark.$c.$r")) ++
      CatalystClasses.flatMap(c =>
        Seq("analysis_ms", "optimization_ms", "planning_ms").map(r => s"catalyst.$c.$r")) ++
      RelayServe.layerNames ++ RelayTail.layerNames ++ IndexCdc.layerNames ++
      Seq("jvm.gc_ms", "jvm.gc_count", "trace.op_p50_ms", "trace.op2_p50_ms",
        "trace.events_per_s", "trace.spans", "trace.listener_ms")

  /** Order-independent digest of envelope rows by column name. */
  def digest(rows: Array[Row]): Expect.Digest = {
    if (rows.isEmpty) Expect.Empty
    else {
      val s = rows(0).schema
      val iSeq = s.fieldIndex("seq"); val iKey = s.fieldIndex("key_long")
      val iSrc = s.fieldIndex("source_id"); val iPart = s.fieldIndex("partition_id")
      val iOp = s.fieldIndex("opcode")
      rows.foldLeft(Expect.Empty) { (d, r) =>
        d + Gen.rowHash(r.getLong(iSeq), r.getLong(iKey), r.getInt(iSrc),
          r.getInt(iPart), r.getString(iOp) == "DELETE")
      }
    }
  }

  /** Regular files and their total bytes under a local directory. */
  def files(dir: String, pred: java.io.File => Boolean = _ => true): (Int, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new java.io.File(dir)).filter(f => f.isFile && pred(f))
    (fs.size, fs.map(_.length).sum)
  }

  def dataFile(f: java.io.File): Boolean =
    f.getName.endsWith(".parquet")
}
