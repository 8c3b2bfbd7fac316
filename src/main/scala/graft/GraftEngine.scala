package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.operators._
import graft.sources.ChangeFeed
import graft.streaming.{DatabusConsumer, Dispatcher, RelayStream}

/** The engine facade — the reference's relay/bootstrap HTTP command surface
  * (SURVEY.md §2.10) re-expressed as a Scala API. A user of the reference
  * maps endpoints 1:1:
  *
  * | reference endpoint        | here                          |
  * |---------------------------|-------------------------------|
  * | `/sources`                | [[sources]]                   |
  * | `/register` (schemas)     | [[registerSchemas]]/[[schemas]]|
  * | `/stream`                 | [[stream]] / [[streamLive]]   |
  * | `/bufferInfo`             | [[bufferInfo]]                |
  * | `/startSCN` `/targetSCN`  | [[startScn]] / [[targetScn]]  |
  * | `/bootstrap`              | [[bootstrap]]                 |
  * | `/genDataEvents`          | [[genDataEvents]]             |
  * | `/loadDataEvents`         | [[loadDataEvents]]            |
  * | consumer registration     | [[consume]]                   |
  */
class GraftEngine(val spark: SparkSession, eventLogDir: String,
    initialSchemas: VersionedSchemaSet = VersionedSchemaSet.default) {

  /** `/sources` — the registered logical sources (name↔id). */
  def sources: Seq[LogicalSource] = ChangeFeed.registry.sources

  /** The full SchemaRegistryService surface (fetch by digest / latest /
    * all versions / id for version — SchemaRegistryService.java:25-75). */
  val registryService: SchemaRegistry = new SchemaRegistry(initialSchemas)

  /** `/register` — schemas served per source (protocol v2-v4 payload). */
  def schemas(sourceName: String): Seq[VersionedSchema] =
    registryService.snapshot.schemas.filter(_.sourceName == sourceName)
  def registerSchemas(more: VersionedSchema*): Unit =
    more.foreach(registryService.registerSchema)
  def schemaRegistry: VersionedSchemaSet = registryService.snapshot

  /** Load `<name>.<version>.avsc` trees into the registry (the
    * filesystem-backed provider, FileSystemVersionedSchemaSetProvider). */
  def loadSchemasFrom(dir: String): Unit =
    FileSystemSchemaProvider.loadSchemas(dir).schemas
      .foreach(registryService.registerSchema)

  /** `/bufferInfo` — SCN range the relay currently retains. */
  def bufferInfo(): (Long, Long) = RelayStream.bufferInfo(spark, eventLogDir)

  /** `/stream`, batch form: events after `cp` passing `filter`, bounded by
    * `maxEvents` — the pull-request analog. */
  def stream(cp: Checkpoint = Checkpoint.flexible,
      filter: DbusFilter = AllowAllFilter,
      maxEvents: Option[Int] = None): DataFrame =
    Relay.streamEvents(
      spark.read.schema(RelayStream.schema).parquet(eventLogDir),
      cp, filter, maxEvents)

  /** `/stream`, live form: the continuous pull loop as a streaming frame
    * (micro-batches aligned to transaction windows). An AvailableNow
    * drain takes every committed file in one batch; `Some(n)` opts into
    * a per-trigger budget of n files (rate control A6), e.g. so the first
    * drain after a long outage does not take the whole backlog at once
    * ([[RelayStream.read]]). */
  def streamLive(cp: Checkpoint = Checkpoint.flexible,
      filter: DbusFilter = AllowAllFilter,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    RelayStream.read(spark, eventLogDir, cp, filter, maxFilesPerTrigger)

  /** `/startSCN` — snapshot-consistent start for a bootstrap request. */
  def startScn(sinceScn: Long): Long = {
    val log = spark.read.schema(RelayStream.schema).parquet(eventLogDir)
    Bootstrap.startScn(log.select(log("scn").as("windowscn")), sinceScn)
  }

  /** `/targetSCN` — catchup upper bound (current produced head). */
  def targetScn(): Long = bufferInfo()._2

  /** `/bootstrap` — materialized state as of the current head for consumers
    * that fell off retention; pairs with [[streamLive]] from the returned
    * checkpoint (the §3.3 recovery flow, automated in
    * RelayStream.streamWithBootstrap). */
  def bootstrap(cp: Checkpoint, filter: DbusFilter = AllowAllFilter)
      : (Option[DataFrame], DataFrame, Checkpoint) =
    RelayStream.streamWithBootstrap(spark, eventLogDir, cp, filter)

  /** Consumer registration + dispatch (the client library surface). Each
    * AvailableNow drain is one micro-batch holding every committed file,
    * delivered in per-partition (scn, seq) order ([[streamLive]]). */
  def consume(consumer: DatabusConsumer, checkpointDir: String,
      cp: Checkpoint = Checkpoint.flexible,
      filter: DbusFilter = AllowAllFilter)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Dispatcher.start(streamLive(cp, filter), consumer, checkpointDir)

  /** `/genDataEvents` — append a synthetic load batch to the event log. */
  def genDataEvents(numEvents: Long): Unit =
    RelayStream.writeEventLog(
      graft.sources.SyntheticFeed.generate(spark, numEvents), eventLogDir)

  /** `/loadDataEvents` — append an existing envelope frame (event-log
    * replay, S8). */
  def loadDataEvents(envelope: DataFrame, filesHint: Int = 8): Unit =
    RelayStream.writeEventLog(envelope, eventLogDir, filesHint)

  /** S1 live — one poll cycle against a JDBC txlog database: the
    * reference's `sy$view ⋈ sy$txlog WHERE scn > lastScn` capture pulled
    * through `spark.read.jdbc` (OracleTxlogEventReader.java:613-704).
    * Returns the captured frame (scn, event_timestamp, txn, <view cols>);
    * map it to the envelope shape and [[loadDataEvents]] it to complete
    * the capture → buffer → serve circuit (EngineSpec drives the full
    * loop). `numPartitions` > 1 splits the pull into even scn bands. */
  def captureJdbc(url: String, viewTable: String, txlogTable: String,
      sinceScn: Long, numPartitions: Int = 1): DataFrame =
    graft.sources.JdbcTxlogCapture.read(spark, url, viewTable, txlogTable,
      sinceScn, numPartitions)

  /** `/stream` across multiple physical-partition timelines, each from
    * its own checkpoint, in CheckpointMult cursor round-robin order. */
  def streamMult(cpMult: CheckpointMult): DataFrame =
    Relay.streamMult(
      spark.read.schema(RelayStream.schema).parquet(eventLogDir), cpMult)

  /** `/physicalSources` + `/physicalBuffers` — the per-timeline buffer map
    * (one row per physical partition: scn band + event count;
    * PhysicalBuffersRequestProcessor.java:1). */
  def physicalBuffers(): DataFrame = Relay.bufferInfo(stream())

  /** `/relayStats` outbound totals (per-source volumes/scn bands —
    * DbusEventsTotalStats surface; `/echo`, `/sleep` and the container
    * stats are Netty diagnostics with no engine analog). */
  def relayStats(): DataFrame = Relay.statsTotals(stream())

  /** dtail (K4) — tail the engine's event log in any reference output
    * format (JSON / AVRO_JSON / AVRO_BIN / EVENT_INFO / NOOP), from
    * BOB / EOB / a given SCN, capped at `maxEvents`. */
  def dtail(scnSpec: String = "BOB", fmt: String = "JSON",
      maxEvents: Long = 20L, out: String => Unit = println)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Dtail.tail(spark, eventLogDir, scnSpec, fmt, maxEvents,
      out = out)

  // ---- binary relay log (the graft-relay DataSource V2) ----

  /** DbusEventV2 wire-format segment log (the reference's exact binary
    * layout, §1.2): write from an envelope-with-payload frame; serve the
    * segments through [[streamBinary]] — the DataSource dispatches on the
    * `.dbusv2` extension. */
  def writeWireLog(envelopeWithPayload: DataFrame, dir: String,
      numSegments: Int = 8): Unit =
    graft.sources.relay.DbusV2Log.write(envelopeWithPayload, dir, numSegments)

  /** Materialize the engine's binary segment log (DbusEventV2-analog
    * format) from an envelope frame; serve it via [[streamBinary]]. */
  def writeBinaryLog(envelope: DataFrame, dir: String, numSegments: Int = 8): Unit =
    graft.sources.relay.RelayBinaryLog.write(envelope, dir, numSegments)

  /** `/stream` over the binary log through the custom DataSource V2:
    * batch (`streaming=false`) or micro-batch with SCN offsets. */
  def streamBinary(dir: String, streaming: Boolean = false,
      startingScn: Option[Long] = None, failOnFallOff: Boolean = false,
      maxSegmentsPerBatch: Int = 4): DataFrame = {
    val base = if (streaming) {
      val r = spark.readStream.format("graft-relay").option("path", dir)
        .option("failOnFallOff", failOnFallOff)
        .option("maxSegmentsPerBatch", maxSegmentsPerBatch)
      startingScn.fold(r)(scn => r.option("startingScn", scn)).load()
    } else {
      spark.read.format("graft-relay").option("path", dir).load()
    }
    base
  }

  /** Event-time windowed stats over any envelope frame (A3, streaming). */
  def windowedStats(envelope: DataFrame, windowDur: String = "1 minute",
      lateness: String = "30 seconds"): DataFrame =
    RelayStream.windowedStats(envelope, windowDur, lateness)
}
