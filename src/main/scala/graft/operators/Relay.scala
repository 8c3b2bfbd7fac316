package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Checkpoint

/** The relay serving surface — the engine's "query path" (SURVEY.md §2.2,
  * §3.1). Batch re-expression of `/stream` + the buffer scan.
  *
  * Reference lifecycle: ReadEventsRequestProcessor.process parses
  * (checkpoint, sources, size, filters) → ConjunctionDbusFilter →
  * DbusEventBuffer.streamEvents: ScnIndex.getClosestOffset(sinceScn) binary
  * search, sequential scan, per-event filter, window-offset skip, stop at
  * budget (ReadEventsRequestProcessor.java:75,252,375-388;
  * DbusEventBuffer.java:2235-2420; ScnIndex.java:623).
  *
  * Spark-first: the SCN index + sequential scan collapse into a predicate
  * on the `scn`/`seq` columns — parquet row-group min/max stats give the
  * index skip-scan for free, and Catalyst pushes the conjunction into the
  * scan. Ordering is per physical partition ((scn, seq) within each
  * `partition_id`, [[deliveryOrdered]]), matching the reference's
  * per-physical-partition total order; no order across partitions is
  * promised, as the reference promises none either.
  */
object Relay {

  /** Events strictly after the checkpoint position. Partial-window resume:
    * within the checkpoint's own window, skip the first `windowOffset`
    * events (Checkpoint.java:66-68; DbusEventBuffer window-offset skip).
    * `seq - scn` is the intra-window offset (windows are seq-contiguous).
    */
  def afterCheckpoint(cp: Checkpoint): Column =
    // windowOffset < 0 = the checkpoint window is FULLY consumed (the
    // reference's -1 marker, Checkpoint.java:66-68); 0 = nothing of the
    // window delivered yet, so the whole window replays; > 0 = partial.
    // A flexible checkpoint with tsNsecs set = time-based start
    // (Checkpoint.java:75-80 `init from timestamp`): serve events at or
    // after the wall-clock position instead of an scn position.
    if (cp.isFlexible && cp.tsNsecs >= 0)
      col("ts_us") >= cp.tsNsecs / 1000L
    else if (cp.isFlexible) lit(true)
    else if (cp.windowOffset < 0) col("scn") > cp.windowScn
    else col("scn") > cp.windowScn ||
      (col("scn") === cp.windowScn && (col("seq") - col("scn")) >= cp.windowOffset)

  /** K1/K2 — the `/stream` read: checkpoint band + server-side filters +
    * event budget, ordered within each physical partition. `maxEvents`
    * mirrors the byte-budget `size` param (we budget rows, not bytes).
    */
  def streamEvents(
      envelope: DataFrame,
      cp: Checkpoint = Checkpoint.flexible,
      filter: DbusFilter = AllowAllFilter,
      maxEvents: Option[Int] = None): DataFrame = {
    val scanned = envelope
      .where(afterCheckpoint(cp))
      .where(filter.toColumnFor(envelope.columns.toSeq))
    val bounded = maxEvents match {
      // window-at-a-time budget: take the first N events in scn order.
      // orderBy+limit is a TakeOrderedAndProject — no full sort at scale.
      case Some(n) => scanned.orderBy(col("scn"), col("seq")).limit(n)
      case None => scanned
    }
    bounded
  }

  /** Same read served in the reference's per-partition delivery order
    * ([[deliveryOrdered]]; GenericDispatcher ordering contract,
    * SURVEY.md §2.7). */
  def streamOrdered(envelope: DataFrame, cp: Checkpoint = Checkpoint.flexible,
      filter: DbusFilter = AllowAllFilter): DataFrame =
    deliveryOrdered(streamEvents(envelope, cp, filter))

  /** `events` in per-physical-partition (scn, seq) order — the one
    * delivery shape the dispatcher and [[streamOrdered]] share. ONE task
    * sorts and serves every partition's run, with no exchange: the
    * reference relay's single sequential scan of its SCN-ordered buffer
    * (DbusEventBuffer.java:2235-2420). An exchange by `partition_id`
    * (a task per partition group) measured slower at every size tried,
    * the shuffle costing more than the parallel sort saves: on a 4-vCPU
    * host, an AvailableNow drain of 300k events took 1.25 s against
    * 1.42 s through the exchange, and of 3M events 3.08 s against 3.48 s
    * (`Probe drain`, local[4]). A drain bounds its batch with
    * `maxFilesPerTrigger` ([[graft.streaming.RelayStream.read]]). */
  def deliveryOrdered(events: DataFrame): DataFrame =
    events.coalesce(1)
      .sortWithinPartitions(col("partition_id"), col("scn"), col("seq"))

  /** K1/C4 — multi-timeline serve from a [[graft.model.CheckpointMult]]:
    * every physical partition reads from ITS OWN checkpoint band, and the
    * `serve_rank` column materializes the round-robin visit order
    * starting after the cursor partition (CheckpointMult.java:57-67 —
    * the multi-buffer fairness contract). Partitions without a checkpoint
    * entry are not served (the reference's buffer-mult only streams
    * subscribed partitions). */
  def streamMult(envelope: DataFrame,
      cpMult: graft.model.CheckpointMult): DataFrame = {
    val parts = cpMult.checkpoints.keys.toSeq.sorted
    require(parts.nonEmpty, "streamMult: empty checkpoint mult")
    val order = cpMult.cursorPartition match {
      case None => parts
      case Some(c) => parts.filter(_ > c) ++ parts.filter(_ <= c)
    }
    val rankCol = order.zipWithIndex.foldLeft(lit(-1)) { case (acc, (p, i)) =>
      when(col("partition_id") === p.toInt, lit(i)).otherwise(acc)
    }
    val bandCol = parts.foldLeft(lit(false)) { (acc, p) =>
      when(col("partition_id") === p.toInt,
        afterCheckpoint(cpMult(p))).otherwise(acc)
    }
    envelope
      .where(col("partition_id").isin(parts.map(_.toInt): _*))
      .where(bandCol)
      .withColumn("serve_rank", rankCol)
  }

  /** `/bufferInfo` — min/max SCN + event count per physical partition
    * (BufferInfoRequestProcessor.java:49). */
  def bufferInfo(envelope: DataFrame): DataFrame =
    envelope.groupBy(col("partition_id"))
      .agg(
        min(col("scn")).as("min_scn"),
        max(col("scn")).as("max_scn"),
        count(lit(1)).as("num_events"))

  /** A3 — event stats totals per source (DbusEventsTotalStats.java:1):
    * counts, payload-size sums, min/max SCN, latest timestamp. */
  def statsTotals(envelope: DataFrame): DataFrame =
    envelope.groupBy(col("source_id"))
      .agg(
        count(lit(1)).as("num_events"),
        sum(col("value")).as("sum_value"),
        min(col("scn")).as("min_scn"),
        max(col("scn")).as("max_scn"),
        max(col("ts_us")).as("max_ts_us"))

  /** A4 — percentile lag/metric stats (UnifiedClientStats.java:283-297,
    * HistogramBasedIntStats.java:1): exact percentiles per source. At scale
    * swap `percentile` for `percentile_approx` — same call shape. */
  def percentiles(envelope: DataFrame, metric: Column): DataFrame =
    envelope.groupBy(col("source_id"))
      .agg(
        percentile(metric, lit(0.5)).as("p50"),
        percentile(metric, lit(0.9)).as("p90"),
        percentile(metric, lit(0.95)).as("p95"),
        percentile(metric, lit(0.99)).as("p99"))

  /** A5 — sequence high-watermark (MaxSCNReaderWriter/FileMaxSCNHandler):
    * max SCN per partition plus the global max. */
  def maxScn(envelope: DataFrame): DataFrame =
    envelope.groupBy(col("partition_id"))
      .agg(max(col("scn")).as("max_scn"), max(col("seq")).as("max_seq"))

  /** A3/A6 streaming form — per-batch stats as `observe()` metrics (the
    * DbusEventsStatisticsCollector surface without a second aggregation
    * pass; read via QueryProgress/listener). */
  def observed(envelope: DataFrame, name: String = "relay_stats"): DataFrame =
    envelope.observe(name,
      count(lit(1)).as("num_events"),
      min(col("scn")).as("min_scn"),
      max(col("scn")).as("max_scn"),
      max(col("seq")).as("max_seq"))

  /** P14 — envelope version down-conversion: the V1 shape drops the
    * metadata part and carries ms timestamps (DbusEventV1.java:166-183;
    * convertToDifferentVersion DbusEventBuffer.java:2411-2416). A pure
    * reshaping projection. */
  def toV1(envelope: DataFrame): DataFrame =
    envelope.select(
      col("scn"), col("seq"),
      // integer div, not fp: a double quotient can round across the
      // truncation boundary for large timestamps
      expr("ts_us div 1000").as("ts_ms"),
      col("source_id"), col("partition_id"), col("opcode"), col("key_long"),
      col("value"))

  /** A6 — observed per-source event rate (RateMonitor.java:1;
    * RateControl.java:1 measures the same events/sec the throttle
    * enforces): events per second over each source's event-time span. */
  def observedRate(envelope: DataFrame): DataFrame =
    envelope.groupBy(col("source_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("min_ts_us"), max(col("ts_us")).as("max_ts_us"))
      .select(col("source_id"), col("n_events"),
        round(col("n_events") * lit(1000000.0) /
          (col("max_ts_us") - col("min_ts_us")), 4).as("events_per_sec"))

  /** A1/S6 — last-writer-wins merge of multiple updates to the same key
    * within one transaction window, before append
    * (DBUpdatesMergeUtils.mergeTransactionData;
    * databus2-relay-impl/.../gg/DBUpdatesMergeUtils.java:1).
    * One shuffle on the (window, source, key) grain; map-side partial
    * aggregation applies because max_by is a declarative aggregate. */
  def mergeTransaction(envelope: DataFrame): DataFrame =
    envelope.groupBy(col("scn"), col("source_id"), col("key_long"))
      .agg(
        max_by(col("opcode"), col("seq")).as("opcode"),
        max_by(col("value"), col("seq")).as("value"),
        max(col("seq")).as("seq"),
        count(lit(1)).as("merged_updates"))
}
