package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.AccumulatorV2

import graft.model.Checkpoint
import graft.operators.Relay
import graft.pipeline.{DriverParquet, StoreFs}

/** One delivered change event (typed dispatcher surface). */
case class EnvelopeRow(
    scn: Long, seq: Long, ts_us: Option[Long], source_id: Int,
    partition_id: Int, opcode: Option[String], key_long: Option[Long],
    value: Option[Double], props: Option[String])

/** Consumer callback surface — the engine's `DatabusStreamConsumer`
  * (databus-client-api/.../pub/DatabusStreamConsumer.java; dispatch loop
  * GenericDispatcher.java:671-980). Callbacks fire from one task per
  * micro-batch, partition after partition, each in (scn, seq) order
  * ([[Dispatcher]]); window boundaries are exact because micro-batches
  * only contain whole windows (RelayStream layout invariant).
  *
  * Must be Serializable — instances ship to executors.
  */
trait DatabusConsumer extends Serializable {
  /** onStartDataEventSequence analog. */
  def onStartWindow(scn: Long): Unit = {}
  /** onDataEvent analog. Return false to signal an error → Spark retries
    * the task = rollback-and-replay from the last checkpoint
    * (GenericDispatcher.java:551,921 contract: at-least-once). */
  def onEvent(e: EnvelopeRow): Boolean
  /** onEndDataEventSequence analog (EOW). */
  def onEndWindow(scn: Long): Unit = {}
  /** Fired on the driver after each committed micro-batch with the new
    * high-watermark checkpoint (onCheckpoint analog; persistence is the
    * streaming checkpointLocation). */
  def onCheckpoint(cp: Checkpoint): Unit = {}
  /** C5 — SCN regress: fired (driver-side) when a batch starts below the
    * last committed watermark — the relay-failover "reset decoder state"
    * signal (SCNRegressMessage.java:31; DbusEventBuffer.reset(prevScn)).
    * Only then: a micro-batch replayed after a failure (at-least-once)
    * redelivers its events with no callback first, so the consumer must
    * be idempotent. */
  def onRollback(cp: Checkpoint): Unit = {}
}

/** Fan-out to N registered consumers — MultiConsumerCallback
  * (databus-client-common/.../consumer/MultiConsumerCallback.java:1): every
  * callback is delivered to each consumer in registration order; an error
  * (false) from any consumer fails the event (rollback for all — the
  * reference's all-or-nothing window semantics). */
case class MultiConsumer(consumers: Seq[DatabusConsumer]) extends DatabusConsumer {
  override def onStartWindow(scn: Long): Unit = consumers.foreach(_.onStartWindow(scn))
  override def onEvent(e: EnvelopeRow): Boolean = consumers.forall(_.onEvent(e))
  override def onEndWindow(scn: Long): Unit = consumers.foreach(_.onEndWindow(scn))
  override def onCheckpoint(cp: Checkpoint): Unit = consumers.foreach(_.onCheckpoint(cp))
  override def onRollback(cp: Checkpoint): Unit = consumers.foreach(_.onRollback(cp))
}

/** Ordered, windowed delivery of a relay stream into consumer callbacks —
  * the client dispatcher (K3) re-expressed as `foreachBatch`. Each
  * micro-batch, on the driver then in one delivery pass:
  *
  *  - C5 regress check, before any delivery: a batch starting below the
  *    watermark (the highest scn delivered on this checkpoint dir so
  *    far) fires `onRollback` with its exact min scn. It runs no job when
  *    there is no watermark yet, or when the Parquet footers of the files
  *    the batch scans put its min scn at or above the watermark; only
  *    otherwise the exact `min(scn)` job. The watermark is kept in the
  *    checkpoint dir ([[Watermark]]), so a later `start` on the same dir
  *    — the AvailableNow drain-per-append pattern — still sees a regress;
  *  - delivery in per-physical-partition (scn, seq) order
  *    (GenericDispatcher.java:420-459) by ONE job of one task, sorted
  *    with no exchange ([[graft.operators.Relay.deliveryOrdered]]);
  *  - rows iterate per partition, emitting start/end-window callbacks at
  *    scn boundaries (EOW markers are implicit: scn change = window done,
  *    valid because batches hold whole windows);
  *  - the batch's checkpoint is the highest scn the delivery task
  *    handed to the consumer, gathered by an accumulator the driver reads
  *    once the pass returns — exact under any checkpoint or filter
  *    predicate, with no bounds job; a batch that delivers nothing fires
  *    no `onCheckpoint`. Task failure → micro-batch replay ⇒
  *    at-least-once: the replay redelivers the batch with no
  *    `onRollback` (that fires only for a C5 regress), so the consumer
  *    must be idempotent, as in the reference;
  *  - the batch body runs in the stream's home session ([[HomeSink]]),
  *    so a drain started after another reuses its generated code
  *    instead of recompiling it inside the delivery task.
  */
object Dispatcher {

  def start(stream: DataFrame, consumer: DatabusConsumer,
      checkpointDir: String, availableNow: Boolean = true): StreamingQuery = {
    val marks = new Watermark(checkpointDir)
    val trigger =
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0)
    HomeSink.start(stream, Some(checkpointDir), trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val watermark = marks.before(batchId)
      regressedStart(batch, watermark)
        .foreach(scn => consumer.onRollback(Checkpoint.online(scn)))
      val delivered = new MaxScn
      batch.sparkSession.sparkContext.register(delivered)
      Relay.deliveryOrdered(batch).as[EnvelopeRow].foreachPartition {
        (rows: Iterator[EnvelopeRow]) =>
          var openScn = Long.MinValue
          var openPartition = Int.MinValue
          var top = Long.MinValue
          rows.foreach { e =>
            if (e.partition_id != openPartition || e.scn != openScn) {
              if (openScn != Long.MinValue) consumer.onEndWindow(openScn)
              consumer.onStartWindow(e.scn)
              openScn = e.scn
              openPartition = e.partition_id
            }
            if (!consumer.onEvent(e))
              throw new IllegalStateException(
                s"consumer rejected event seq=${e.seq} (rollback)")
            top = math.max(top, e.scn)
          }
          if (openScn != Long.MinValue) consumer.onEndWindow(openScn)
          delivered.add(top)
      }
      // driver-side checkpoint callback with the delivered high-
      // watermark; windowOffset = -1 marks the watermark window fully
      // consumed (the reference's FULLY_CONSUMED_WINDOW_OFFSET,
      // Checkpoint.java:167) — 0 would replay the whole window on resume
      if (!delivered.isZero) {
        marks.commit(batchId, watermark, math.max(watermark, delivered.value))
        consumer.onCheckpoint(Checkpoint.online(delivered.value,
          windowOffset = -1L, prevScn = -1L))
      }
    }
  }

  /** C5: the batch's exact min scn when it starts below `watermark`
    * (`Long.MinValue` = none yet). Footers of the files the batch scans
    * bound its min from below (a filter only raises it), so when they
    * clear the watermark no row is read; a batch that scans no file (a
    * non-file source) takes the exact job. */
  private def regressedStart(batch: DataFrame, watermark: Long): Option[Long] = {
    val files = scannedFiles(batch)
    def footersClear = files.nonEmpty &&
      DriverParquet.footerBounds(files, Seq("scn")).forall(_._2.head._1 >= watermark)
    if (watermark == Long.MinValue || footersClear) None
    else Option(batch.agg(min("scn")).head().getAs[java.lang.Long](0))
      .map(_.longValue).filter(_ < watermark)
  }

  /** The files a micro-batch scans, from its RDD lineage: a foreachBatch
    * frame is a LogicalRDD over the batch's planned scan, which
    * `inputFiles` does not see into. Empty for a non-file source. */
  private def scannedFiles(batch: DataFrame): Seq[Path] = {
    def walk(rdd: RDD[_]): Seq[Path] = rdd match {
      case scan: FileScanRDD => scan.filePartitions.flatMap(_.files.map(_.toPath))
      case other => other.dependencies.flatMap(d => walk(d.rdd))
    }
    batch.queryExecution.logical.collect { case l: LogicalRDD => walk(l.rdd) }
      .flatten.distinct
  }

  /** The highest scn a delivery pass handed to the consumer, merged from
    * its tasks (`Long.MinValue` = nothing delivered). A max, so a
    * retried task's second report changes nothing. */
  private final class MaxScn(private var top: Long = Long.MinValue)
      extends AccumulatorV2[Long, Long] {
    override def isZero: Boolean = top == Long.MinValue
    override def copy(): MaxScn = new MaxScn(top)
    override def reset(): Unit = top = Long.MinValue
    override def add(v: Long): Unit = top = math.max(top, v)
    override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
    override def value: Long = top
  }

  /** The C5 watermark of one checkpoint dir, stored in that dir as
    * `<batchId> <before> <after>` of the last batch that delivered
    * events, written before the batch commits. A batch replayed after a
    * failure (same id) checks against `before`, any later batch —
    * in this `start` or a later one — against `after`. */
  private final class Watermark(checkpointDir: String) {
    private val file = s"$checkpointDir/dispatcher-watermark"
    private var last: Option[(Long, Long, Long)] =
      StoreFs.readBytesOpt(file).map { b =>
        val Array(id, before, after) =
          new String(b, UTF_8).trim.split(' ').map(_.toLong)
        (id, before, after)
      }

    def before(batchId: Long): Long = last match {
      case Some((id, before, _)) if id == batchId => before
      case Some((_, _, after)) => after
      case None => Long.MinValue
    }

    def commit(batchId: Long, before: Long, after: Long): Unit = {
      StoreFs.writeAtomic(file, s"$batchId $before $after".getBytes(UTF_8))
      last = Some((batchId, before, after))
    }
  }

  /** dtail (K4): console tail of a stream — formats JSON-ish rows, `-n`
    * row cap per batch (DtailCliBase.java:34-60 surface). */
  def dtail(stream: DataFrame, numRows: Int = 20): StreamingQuery =
    stream.writeStream
      .format("console")
      .option("numRows", numRows)
      .option("truncate", false)
      .trigger(Trigger.AvailableNow())
      .start()

  /** File-logging consumer sink (K5): persist every delivered event. */
  def fileLog(stream: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
