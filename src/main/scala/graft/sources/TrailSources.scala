package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One parsed change from a GoldenGate-style XML trail. */
case class TrailUpdate(
    scn: Long, seq: Long, table: String, opType: String,
    txnTimestamp: String, columns: Map[String, String])

/** S5 — GoldenGate trail-file source: XML trail dir → envelope rows.
  *
  * Reference: GoldenGateEventProducer drives a StAX state machine over
  * trail XML (`<root><transaction><dbupdate><columns>…<tokens>` —
  * databus2-relay/.../relay/GoldenGateEventProducer.java:104,645;
  * ggParser/XmlStateMachine/StateMachine.java:1); SCN comes from the
  * `TK-SCN` token; TrailFilePositionSetter regex-seeks the start file.
  *
  * Spark-first: files parallelize naturally (`binaryFile`/text source, one
  * task per trail file — trail files are the unit of concurrent append in
  * GG, so this is the right partition grain); each task runs the same
  * pull-parser (JDK StAX) via flatMap. SCN seek = a `scn > ?` filter that
  * combines with parquet-style file pruning when trails are named by SCN
  * range. Streaming ingestion = the same parse over `readStream` file
  * source on the trail dir (handles concurrently-appended dirs the way the
  * reference tails files).
  */
object GoldenGateTrail {

  private def xmlFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** Lazy pull-parse: updates stream out of the StAX reader one `dbupdate`
    * at a time — the whole trail file is never materialized in memory
    * (real GG trails are GBs; a `wholetext` load would OOM the task).
    * Closes the reader (and runs `onClose`) at document end.
    *
    * `tolerateTruncation` = treat a malformed tail (EOF mid-element, the
    * shape of a trail file still being appended by the producer) as
    * document end after the last COMPLETE `dbupdate` — the contract the
    * streaming tailer needs. Batch reads of closed files keep the default
    * (fail loudly on corrupt XML). */
  def parseTrailReader(r: javax.xml.stream.XMLStreamReader,
      onClose: () => Unit = () => (),
      tolerateTruncation: Boolean = false): Iterator[TrailUpdate] =
    new Iterator[TrailUpdate] {
      private var txnTs = ""
      private var table = ""
      private var opType = ""
      private var inColumns = false
      private var inTokens = false
      private var colName: String = null
      private var tokName: String = null
      private var cols = Map.empty[String, String]
      private var toks = Map.empty[String, String]
      private val text = new StringBuilder
      private var pos = 0L
      private var nextUpdate: TrailUpdate = advance()

      private def advance(): TrailUpdate =
        try advanceImpl()
        catch {
          case _: javax.xml.stream.XMLStreamException if tolerateTruncation =>
            try r.close() catch { case _: Throwable => () }
            onClose()
            null
        }

      private def advanceImpl(): TrailUpdate = {
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "transaction" =>
                  txnTs = Option(r.getAttributeValue(null, "timestamp")).getOrElse("")
                case "dbupdate" =>
                  table = Option(r.getAttributeValue(null, "table")).getOrElse("")
                  opType = Option(r.getAttributeValue(null, "type")).getOrElse("")
                  cols = Map.empty; toks = Map.empty
                case "columns" => inColumns = true
                case "tokens" => inTokens = true
                case "column" if inColumns =>
                  colName = r.getAttributeValue(null, "name"); text.clear()
                case "token" if inTokens =>
                  tokName = r.getAttributeValue(null, "name"); text.clear()
                case _ =>
              }
            case XMLStreamConstants.CHARACTERS => text.append(r.getText)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "column" if colName != null =>
                  cols += colName -> text.toString.trim; colName = null
                case "token" if tokName != null =>
                  toks += tokName -> text.toString.trim; tokName = null
                case "columns" => inColumns = false
                case "tokens" => inTokens = false
                case "dbupdate" =>
                  val scn = toks.getOrElse("TK-SCN", "-1").toLong
                  val u = TrailUpdate(scn, pos, table, opType, txnTs, cols)
                  pos += 1
                  return u
                case _ =>
              }
            case _ =>
          }
        }
        r.close(); onClose()
        null
      }

      override def hasNext: Boolean = nextUpdate != null
      override def next(): TrailUpdate = {
        val u = nextUpdate; nextUpdate = advance(); u
      }
    }

  /** Parse one in-memory trail XML document (test/tool surface; the file
    * path below streams instead). */
  def parseTrailXml(xml: String): Seq[TrailUpdate] =
    parseTrailReader(
      xmlFactory().createXMLStreamReader(new java.io.StringReader(xml))).toSeq

  /** Batch read of a trail dir → Dataset[TrailUpdate]; `sinceScn` prunes
    * (TrailFilePositionSetter analog — position = first update with
    * scn > sinceScn). The default admits everything, including updates
    * missing a TK-SCN token (parsed scn = -1) — seeking past them is an
    * explicit caller choice, not a silent drop.
    *
    * One task per trail file (the GG unit of concurrent append), each task
    * pull-parsing from an open InputStream — constant memory per task no
    * matter the trail size. */
  def read(spark: SparkSession, trailDir: String, sinceScn: Long = Long.MinValue)
      : DataFrame = {
    import spark.implicits._
    val files = Option(new java.io.File(trailDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".xml")).map(_.getAbsolutePath).sorted.toSeq
    spark.createDataset(files)
      .repartition(math.max(1, files.size))
      .flatMap { path =>
        val in = new java.io.BufferedInputStream(
          new java.io.FileInputStream(path), 1 << 16)
        // close on task completion too: limit/take can abandon the iterator
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case _: Throwable => () }))
        parseTrailReader(
          xmlFactory().createXMLStreamReader(in, "UTF-8"),
          onClose = () => in.close())
      }
      .where(col("scn") > sinceScn)
      .toDF()
  }

  /** Streaming tail of the trail dir (continuous form of [[read]]): the
    * graft-ggtrail micro-batch source follows concurrently-appended trail
    * files and seeks past `sinceScn` (TrailFilePositionSetter protocol) —
    * see [[GgTrailSourceV2]]. Same output shape as [[read]], so
    * [[toEnvelope]] composes on top unchanged. */
  def stream(spark: SparkSession, trailDir: String,
      sinceScn: Long = Long.MinValue): DataFrame = {
    val r = spark.readStream.format("graft-ggtrail").option("path", trailDir)
    (if (sinceScn != Long.MinValue) r.option("sinceScn", sinceScn) else r)
      .load()
  }

  /** Envelope projection of a parsed trail (opcode mapping: GG
    * insert/update → UPSERT, delete → DELETE; key from the `key` column). */
  def toEnvelope(trail: DataFrame, registry: graft.model.SourceRegistry)
      : DataFrame = {
    val srcId = registry.idCol(col("table"))
    trail.select(
      col("scn"),
      col("seq"),
      lit(null).cast("long").as("ts_us"),
      srcId.as("source_id"),
      pmod(element_at(col("columns"), "key").cast("long"), lit(ChangeFeed.NumPartitions)).cast("int")
        .as("partition_id"),
      when(col("opType") === "delete", "DELETE").otherwise("UPSERT").as("opcode"),
      element_at(col("columns"), "key").cast("long").as("key_long"),
      lit(null).cast("double").as("value"),
      to_json(col("columns")).as("props"))
  }
}

/** S3/S4 — MySQL binlog-shaped source: a feed of binlog change records →
  * transactions → envelope.
  *
  * Reference: ORListener assembles TableMap/WriteRows/UpdateRows/DeleteRows
  * events between BEGIN (QueryEvent) and commit (XidEvent) into per-txn
  * `Transaction` objects; **SCN = (binlogFileNum << 32) | binlogOffset**
  * (databus2-relay/databus2-event-producer-or/.../ORListener.java:179-284;
  * OpenReplicatorEventProducer.java:237-260).
  *
  * The feed here is the generic JSON-lines dump shape such replicators
  * emit: {file_no, offset, txn_offset, table, op, key, row…}; the commit
  * record (op = COMMIT) carries the offset that becomes the whole
  * transaction's SCN — exactly the reference's window construction.
  */
object BinlogFeed {

  val recordSchema: StructType = StructType(Seq(
    StructField("file_no", LongType),
    StructField("offset", LongType),
    StructField("txn_offset", LongType), // offset of this txn's BEGIN
    StructField("table", StringType),
    StructField("op", StringType), // INSERT | UPDATE | DELETE | COMMIT
    StructField("key", LongType),
    StructField("row", StringType)))

  /** The composite SCN: (fileNo << 32) | offset. */
  def scnOf(fileNo: org.apache.spark.sql.Column, offset: org.apache.spark.sql.Column) =
    shiftleft(fileNo, 32).bitwiseOR(offset)

  def parseJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(recordSchema).json(path)

  /** Assemble envelope rows: all records of one transaction share the
    * window SCN taken from their COMMIT marker's offset — the reference's
    * construction (ORListener assigns the Xid/commit position as the whole
    * transaction's SCN, so scn ≥ every row's seq in the window). Rows of a
    * transaction whose COMMIT has not been captured yet fall back to the
    * begin position (they re-resolve on the next poll once the commit
    * lands). Data rows only; the commit marker itself is the EOW boundary. */
  def toEnvelope(records: DataFrame, registry: graft.model.SourceRegistry)
      : DataFrame = {
    val srcId = registry.idCol(col("table"))
    val commits = records.where(col("op") === "COMMIT")
      .select(col("file_no"), col("txn_offset"),
        col("offset").as("commit_offset"))
    records
      .where(col("op") =!= "COMMIT")
      .join(commits, Seq("file_no", "txn_offset"), "left")
      .select(
        scnOf(col("file_no"), coalesce(col("commit_offset"), col("txn_offset"))).as("scn"),
        scnOf(col("file_no"), col("offset")).as("seq"),
        lit(null).cast("long").as("ts_us"),
        srcId.as("source_id"),
        pmod(col("key"), lit(ChangeFeed.NumPartitions)).cast("int").as("partition_id"),
        when(col("op") === "DELETE", "DELETE").otherwise("UPSERT").as("opcode"),
        col("key").as("key_long"),
        lit(null).cast("double").as("value"),
        col("row").as("props"))
  }

  /** S6 — merge multiple updates to one key within a transaction before
    * append (DBUpdatesMergeUtils.mergeTransactionData): delegates to the
    * engine's LWW merge. */
  def mergedEnvelope(records: DataFrame, registry: graft.model.SourceRegistry)
      : DataFrame =
    graft.operators.Relay.mergeTransaction(toEnvelope(records, registry))

  /** Streaming form: tail the dump dir as a file stream (the reference's
    * producer is a continuous binlog tailer). */
  def stream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(recordSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Continuous assembly: per micro-batch, records assemble into envelope
    * rows and append to the relay event log. Correct window SCNs require
    * batches to hold whole transactions — guaranteed when dump files are
    * rotated on txn boundaries (the reference rotates binlogs the same
    * way; WireFixtures aligns its dump for the same reason). A row whose
    * COMMIT is missing from its batch falls back to the begin position
    * (the reference's unresolved-poll contract). Each micro-batch runs
    * in the stream's home session ([[graft.streaming.HomeSink]]). */
  def startAssembled(spark: SparkSession, path: String,
      registry: graft.model.SourceRegistry, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.HomeSink.start(stream(spark, path, maxFilesPerTrigger),
        Some(checkpointDir)) { (batch, batchId) =>
      // batch-addressed sink (the appendToPostingsIndexBatch idiom):
      // a retried trigger (at-least-once) rewrites its own batch=<id>
      // partial instead of double-appending assembled envelopes; the
      // discovered batch column is layout, readers drop it
      toEnvelope(batch, registry)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      ()
    }
}
