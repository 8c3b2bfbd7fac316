package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{Checkpoint, VersionedSchemaSet}
import graft.sources.ChangeFeed

/** dtail (K4) — the stream-tailing tool with the reference's full output
  * surface: formats JSON / AVRO_JSON / AVRO_BIN / EVENT_INFO / NOOP,
  * BOB/EOB/SCN start positions, `-n` event cap and duration limit
  * (DtailCliBase.java:34-60: OutputFormat enum, BOB_SCN=-1000,
  * EOB_SCN=-2000, event_num/duration options; printers under
  * databus2/tools/dtail/ — the XxxDtailPrinter family).
  *
  * Formatting is a pure DataFrame→DataFrame function (one string `line`
  * column) so every format is oracle-testable without a console. */
object Dtail {

  val Formats = Seq("JSON", "AVRO_JSON", "AVRO_BIN", "EVENT_INFO", "NOOP")

  /** BOB = beginning of buffer, EOB = end of buffer
    * (DtailCliBase.java:46-49). */
  val BobScn: Long = -1000L
  val EobScn: Long = -2000L

  def parseScnSpec(s: String): Long = s.trim.toUpperCase match {
    case "BOB" => BobScn
    case "EOB" => EobScn
    case other => other.toLong
  }

  /** Start position → checkpoint: BOB = flexible (serve from wherever the
    * buffer starts), EOB = tail from the current head, SCN = resume. */
  def startCheckpoint(spark: SparkSession, logDir: String, scn: Long)
      : Checkpoint = scn match {
    case BobScn => Checkpoint.flexible
    case EobScn => Checkpoint.online(RelayStream.bufferInfo(spark, logDir)._2)
    case since => Checkpoint.online(since)
  }

  /** Render an envelope batch into output lines per the format. */
  def format(batch: DataFrame, fmt: String): DataFrame = {
    val payloadStruct = struct(
      col("seq").as("event_id"), col("key_long").as("user_id"),
      ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
      col("value"), col("props"))
    fmt.toUpperCase match {
      case "JSON" =>
        // whole-event JSON: envelope header + payload fields
        // (JsonDtailPrinter shape)
        batch.select(to_json(struct(col("scn"), col("seq"), col("ts_us"),
          col("source_id"), col("partition_id"), col("opcode"),
          col("key_long"), col("value"), col("props"))).as("line"))
      case "AVRO_JSON" =>
        // payload record as JSON (GenericRecordDtailPrinter JSON mode)
        batch.select(to_json(payloadStruct).as("line"))
      case "AVRO_BIN" =>
        // the actual Avro-binary payload bytes, base64-armored for the
        // line-oriented surface (AvroBinaryDtailPrinter writes raw binary)
        val enc = graft.functions.AvroCodec.encodeEventPayload(
          VersionedSchemaSet.eventPayloadV1.schemaJson)
        batch.select(base64(enc(payloadStruct)).as("line"))
      case "EVENT_INFO" =>
        // header metadata only (EventInfoDtailPrinter)
        batch.select(concat(
          lit("scn:"), col("scn"), lit(" seq:"), col("seq"),
          lit(" ts_us:"), col("ts_us"), lit(" src:"), col("source_id"),
          lit(" part:"), col("partition_id"), lit(" op:"), col("opcode"),
          lit(" key:"), col("key_long")).as("line"))
      case "NOOP" =>
        // consume, print nothing (throughput-measurement mode)
        batch.select(lit("").as("line")).where(lit(false))
      case other =>
        throw new IllegalArgumentException(
          s"unknown output format $other (expected one of $Formats)")
    }
  }

  /** Tail `logDir` from a BOB/EOB/SCN start, rendering up to `maxEvents`
    * lines of `fmt` through `out`. Returns the (started) query; callers
    * awaitTermination(durationMs) for the duration limit. Batches render
    * in the stream's home session ([[HomeSink]]). */
  def tail(spark: SparkSession, logDir: String, scnSpec: String = "BOB",
      fmt: String = "JSON", maxEvents: Long = Long.MaxValue,
      maxFilesPerTrigger: Int = 100, out: String => Unit = println)
      : StreamingQuery = {
    val cp = startCheckpoint(spark, logDir, parseScnSpec(scnSpec))
    val remaining = new AtomicLong(maxEvents)
    HomeSink.start(RelayStream.read(spark, logDir, cp,
        maxFilesPerTrigger = Some(maxFilesPerTrigger)), None) { (batch, _) =>
      val want = remaining.get()
      if (want > 0L) {
        val lines = format(
          batch.orderBy(col("scn"), col("seq")), fmt)
          .limit(if (want > Int.MaxValue) Int.MaxValue else want.toInt)
          .collect()
        lines.foreach(r => out(r.getString(0)))
        remaining.addAndGet(-lines.length)
        ()
      }
    }
  }
}
