package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Relay, dispatch and delivery contract: buffer statistics, window
  * delivery, the relay sources, ordered dispatch and consumer-side
  * checkpoints. */
object RelayQueries extends QueryFamily {

  /** Per-source totals past the scn 300 checkpoint: the relay source and
    * the chained relay serve the same window. */
  private val relaySourceSql: String =
    s"$ENV SELECT source_id, count(*) AS n_events, min(scn) AS min_scn," +
      " max(scn) AS max_scn, CAST(sum(key_long) AS BIGINT) AS sum_keys" +
      " FROM envelope WHERE scn > 300 GROUP BY source_id"

  val defs: Seq[QueryDef] = Seq(
    // ---- /bufferInfo: per-partition min/max SCN ----
    QueryDef("q_buffer_info", (s, dir) => Relay.bufferInfo(envCore(s, dir)),
      oracle = s"$ENV SELECT partition_id, min(scn) AS min_scn, max(scn) AS max_scn," +
        " count(*) AS num_events FROM envelope GROUP BY partition_id"),

    // ---- A3: per-source stats totals (value summed as exact cents) ----
    QueryDef("q_stats_totals", (s, dir) =>
      Relay.statsTotals(envCore(s, dir)
          .withColumn("value", round(col("value") * 100).cast("long")))
        .select(col("source_id"), col("num_events"),
          col("sum_value").cast("long").as("sum_value_c"),
          col("min_scn"), col("max_scn"), col("max_ts_us")),
      oracle = s"$ENV SELECT source_id, count(*) AS num_events," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " min(scn) AS min_scn," +
        " max(scn) AS max_scn, max(ts_us) AS max_ts_us FROM envelope GROUP BY source_id"),

    // ---- A4: percentile stats ----
    QueryDef("q_percentiles", (s, dir) =>
      Relay.percentiles(envCore(s, dir), col("value"))
        .select(col("source_id"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
          round(col("p95"), 4).as("p95"), round(col("p99"), 4).as("p99")),
      oracle = s"$ENV SELECT source_id," +
        " round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50," +
        " round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90," +
        " round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 4) AS p95," +
        " round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99" +
        " FROM envelope GROUP BY source_id"),

    // ---- A5: SCN high-watermark per partition ----
    QueryDef("q_max_scn", (s, dir) => Relay.maxScn(envCore(s, dir)),
      oracle = s"$ENV SELECT partition_id, max(scn) AS max_scn, max(seq) AS max_seq" +
        " FROM envelope GROUP BY partition_id"),

    // ---- A1/S6: last-writer-wins merge within txn window ----
    QueryDef("q_merge_txn", (s, dir) => Relay.mergeTransaction(envCore(s, dir)),
      oracle = s"$ENV SELECT scn, source_id, key_long," +
        " arg_max(opcode, seq) AS opcode, arg_max(value, seq) AS value," +
        " max(seq) AS seq, count(*) AS merged_updates" +
        " FROM envelope GROUP BY scn, source_id, key_long"),

    // ---- K3 shape: window-grouped delivery stats (txn windows) ----
    QueryDef("q_window_delivery", (s, dir) =>
      envCore(s, dir).groupBy(col("scn"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("source_id")).as("n_sources"),
          min(col("seq")).as("first_seq"), max(col("seq")).as("last_seq")),
      oracle = s"$ENV SELECT scn, count(*) AS n_events," +
        " count(DISTINCT source_id) AS n_sources, min(seq) AS first_seq," +
        " max(seq) AS last_seq FROM envelope GROUP BY scn"),

    // ---- the custom DataSource V2 relay source (SURVEY §4): binary
    // segment log read through format("graft-relay") with scn-band
    // pruning; checkpoint-band filter applied on top (K1 over the source)
    QueryDef("q_relay_source", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.relayLogDir(s, dir)).load()
      log.where(col("scn") > 300)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"))
    },
      oracle = relaySourceSql),

    // ---- log compaction: an append-fragmented event log (5 generations)
    // compacted back to scn-banded segments serves the identical event
    // set — the small-file remedy an append-heavy stream needs at scale ----
    QueryDef("q_compact_log", (s, dir) => {
      val root = tempQueryDir("compact").toString
      val e = envCore(s, dir).where(col("scn") < 3000)
      // 5 append generations fragment the log...
      (0 until 5).foreach { g =>
        graft.streaming.RelayStream.writeEventLog(
          e.where(pmod(col("scn"), lit(5)) === g), s"$root/log", filesHint = 4)
      }
      graft.streaming.RelayStream.compactEventLog(s, s"$root/log", filesHint = 4)
      s.read.schema(graft.streaming.RelayStream.schema).parquet(s"$root/log")
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"))
    },
      oracle = s"$ENV SELECT source_id, count(*) AS n_events, min(scn) AS min_scn," +
        " max(scn) AS max_scn, CAST(sum(key_long) AS BIGINT) AS sum_keys" +
        " FROM envelope WHERE scn < 3000 GROUP BY source_id"),

    // ---- S9: chained relay — the second relay's producer is the first
    // relay's served segment log (read back through the DataSource, then
    // re-served); chaining must be lossless, so the same band aggregation
    // as q_relay_source hash-matches the same oracle ----
    QueryDef("q_chained_relay", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.chainedRelayLogDir(s, dir))
        .load()
      log.where(col("scn") > 300)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"))
    },
      oracle = relaySourceSql),

    // ---- K3: dispatcher delivery order materialized as a frame — the
    // per-physical-partition (scn, seq) total order with its delivery
    // index (GenericDispatcher.java:420-459 ordering contract) ----
    QueryDef("q_dispatch_order", (s, dir) => {
      val w = Window.partitionBy(col("partition_id"))
        .orderBy(col("scn"), col("seq"))
      Relay.streamOrdered(envCore(s, dir))
        .select(col("partition_id"), col("scn"), col("seq"),
          row_number().over(w).cast("long").as("delivery_idx"))
    },
      oracle = s"$ENV SELECT partition_id, scn, seq," +
        " CAST(row_number() OVER (PARTITION BY partition_id ORDER BY scn, seq) AS BIGINT) AS delivery_idx" +
        " FROM envelope"),

    // ---- C5: SCN-regress detection as a control frame — a log whose
    // second segment regresses below the delivered watermark must fire
    // onRollback with the regressed batch's start (SCNRegressMessage.java:
    // 31; DbusEventBuffer.reset(prevScn)) between the two checkpoints ----
    QueryDef("q_scn_regress", (s, dir) => {
      import s.implicits._
      val root = tempQueryDir("regress").toString
      // bounded slice: this is a protocol control query (regress → rollback
      // callback ordering), not a throughput query — no need to rewrite
      // the whole envelope per run
      val e = envCore(s, dir).where(col("scn") < 2000)
      val split = 500L
      graft.streaming.RelayStream.writeEventLog(
        e.where(col("scn") >= split), s"$root/log", filesHint = 1)
      graft.streaming.RelayStream.writeEventLog(
        e.where(col("scn") < split), s"$root/log", filesHint = 1)
      val rec = new java.util.concurrent.CopyOnWriteArrayList[(String, Long)]()
      val consumer = new graft.streaming.DatabusConsumer {
        override def onEvent(ev: graft.streaming.EnvelopeRow): Boolean = true
        override def onCheckpoint(cp: graft.model.Checkpoint): Unit = {
          rec.add(("checkpoint", cp.windowScn)); ()
        }
        override def onRollback(cp: graft.model.Checkpoint): Unit = {
          rec.add(("rollback", cp.windowScn)); ()
        }
      }
      graft.streaming.Dispatcher.start(
        graft.streaming.RelayStream.read(s, s"$root/log",
          maxFilesPerTrigger = Some(1)),
        consumer, s"$root/cp").awaitTermination()
      scala.jdk.CollectionConverters.IteratorHasAsScala(rec.iterator).asScala
        .toSeq.zipWithIndex
        .map { case ((kind, scn), i) => (i + 1, kind, scn) }
        .toDF("ord", "kind", "scn")
    },
      oracle = s"$ENV SELECT 1 AS ord, 'checkpoint' AS kind," +
        " (SELECT max(scn) FROM envelope WHERE scn >= 500 AND scn < 2000) AS scn" +
        " UNION ALL SELECT 2, 'rollback'," +
        " (SELECT min(scn) FROM envelope WHERE scn < 500)" +
        " UNION ALL SELECT 3, 'checkpoint'," +
        " (SELECT max(scn) FROM envelope WHERE scn < 500)"),

    // ---- K5: file-logging consumer — every delivered event persisted by
    // the parquet sink, read back and proven complete ----
    QueryDef("q_file_log_consumer", (s, dir) => {
      val logDir = graft.sources.Store.eventLogDir(s, dir)
      val root = tempQueryDir("filelog").toString
      graft.streaming.Dispatcher.fileLog(
        graft.streaming.RelayStream.read(s, logDir, maxFilesPerTrigger = Some(8)),
        s"$root/out", s"$root/cp").awaitTermination()
      s.read.schema(graft.streaming.RelayStream.schema).parquet(s"$root/out")
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("seq")).as("sum_seq"),
          sum(col("key_long")).as("sum_keys"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
    },
      oracle = s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(seq) AS BIGINT) AS sum_seq," +
        " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(scn) AS min_scn, max(scn) AS max_scn" +
        " FROM envelope GROUP BY source_id"),

    // ---- A6: observed per-source event rate (RateMonitor measurement
    // surface; the throttle's feedback signal) ----
    QueryDef("q_rate_observed", (s, dir) =>
      Relay.observedRate(envCore(s, dir)),
      oracle = s"$ENV SELECT source_id, count(*) AS n_events," +
        " round(count(*) * 1000000.0 / (max(ts_us) - min(ts_us)), 4) AS events_per_sec" +
        " FROM envelope GROUP BY source_id")
  )
}
