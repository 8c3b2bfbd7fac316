package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Checkpoint
import graft.operators.{AllowAllFilter, Bootstrap, DbusFilter}

/** The relay event-log on disk + its streaming read path.
  *
  * Reference mapping: the relay's ring buffer + mmap persistence
  * (DbusEventBuffer.java:1277,1540 saveBufferMetaInfo; EventLogWriter/
  * EventLogReader, S8) becomes a directory of *window-aligned* parquet
  * files; the `/stream` pull loop (K1) becomes a Structured Streaming file
  * source over that directory.
  *
  * Window atomicity (SURVEY.md §7.4 hard part #1): the reference's
  * WINDOW_AT_TIME mode guarantees a transaction window is never split
  * across deliveries (DbusEventBuffer.java:2199-2202). Spark-first
  * re-expression: encode the invariant in the *storage layout* — every
  * file contains only whole SCN windows (the writer cuts scn bands),
  * so any micro-batch (a set of files) contains only whole windows. No
  * custom source needed; the built-in file source's listing/offset log
  * provides the SCN-ordered replay + checkpointing.
  */
object RelayStream {

  /** Envelope schema at the streaming surface (file sources need an
    * explicit schema). Key model: `key_long` always set (for STRING keys
    * it is the reference's parse-as-long-else-`String.hashCode` coercion,
    * KeyModFilter.java:55-70, so serving filters stay pure arithmetic);
    * `key_string`/`key_schema`/`meta` are nullable and read as null from
    * event logs written before they existed (parquet fills missing
    * columns). */
  val schema: StructType = StructType(Seq(
    StructField("scn", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = true),
    StructField("source_id", IntegerType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("opcode", StringType, nullable = true),
    StructField("key_long", LongType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true),
    StructField("key_string", StringType, nullable = true),
    StructField("key_schema", BinaryType, nullable = true),
    StructField("meta", BinaryType, nullable = true)))

  /** Persist an envelope DataFrame as a window-aligned event log.
    *
    * `filesHint` controls granularity (≈ windows per file). Every file
    * holds one contiguous scn band, whole windows only, sorted by
    * (partition_id, scn, seq), and part number k is the k-th band. Two
    * arms write the bands, selected by the input, not by an option:
    *
    *  - DRIVER-LOCAL envelopes (the optimized plan collapses to a
    *    LocalRelation, [[graft.pipeline.DriverParquet.localRows]] — a
    *    polled batch the producer already holds, as `loadDataEvents`
    *    appends it) are written ON THE DRIVER with no Spark job: the
    *    rows are sorted by scn and cut into `min(filesHint, distinct
    *    scns)` contiguous bands of about equal event count, never
    *    inside an scn, and the bands go through one
    *    [[graft.pipeline.DriverParquet.writeParts]] call. This is the
    *    reference producer's in-process `startEvents`/`appendEvent`/
    *    `endEvents` (DbusEventBuffer.java:1982,2183). Its cost is
    *    mostly the file creates, 15-19 ms each on a 4-vCPU host (over
    *    half of it `chmod` forks when no native Hadoop library is
    *    loaded), which the bands pay concurrently: there, an 8-band
    *    10k-event append at local[2] takes ~90 ms (p50) against ~475 ms
    *    for the 3-job distributed write.
    *  - Anything else (a JDBC or binlog capture, a file-backed replay,
    *    [[compactEventLog]]'s snapshot) is written by ONE distributed
    *    job: `repartitionByRange(scn)` keys whole windows, so task k
    *    owns the k-th scn band.
    *
    * An empty envelope writes what the distributed writer does: one
    * schema-only `part-00000` file, or no file under
    * `partitionByTimeline`.
    *
    * Admission order: both arms write into an `_`-prefixed STAGING dir
    * under the log, which the file source never lists. The file source
    * lists oldest-mtime-first, so the driver stamps part k with
    * `base + 2k` there — a metadata-only loop over ≤ filesHint files —
    * and only then renames the parts into the log, in part-number
    * order, so a drain listing the log at any instant sees only parts
    * that already carry their final stamp, and never a later band
    * without the earlier ones (a part stamped after it entered the log
    * could be admitted, under its write-time mtime, out of scn order).
    * For strict-order serving prefer the graft-relay V2 source, whose
    * offsets are scn bands and need no mtime convention at all.
    */
  def writeEventLog(envelope: DataFrame, dir: String, filesHint: Int = 8,
      partitionByTimeline: Boolean = false): Unit = {
    // listing, stamping and renames via the Hadoop FileSystem API
    // (StoreFs), so logs on any URI scheme stamp their generations — a
    // java.io.File walk sees nothing under file:/hdfs:/s3a: roots and
    // would silently skip the stamp the source's admission order
    // relies on
    import graft.pipeline.{DriverParquet, StoreFs}
    // stamps start strictly above every earlier generation's stamp —
    // append batches stay ordered even when issued within the same
    // millisecond
    val base = math.max(System.currentTimeMillis(),
      StoreFs.listFileStatusesRecursive(dir)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(_.getModificationTime).foldLeft(0L)(math.max) + 2)
    val staging = s"$dir/_staging-${java.util.UUID.randomUUID}"
    DriverParquet.localRows(envelope) match {
      case Some((schema, rows)) =>
        writeBandsOnDriver(envelope.sparkSession, schema, rows, staging,
          filesHint, partitionByTimeline)
      case None =>
        val w = envelope
          .repartitionByRange(filesHint, col("scn"))
          .sortWithinPartitions("partition_id", "scn", "seq")
          .write
        // hive-partition the log by physical partition: per-timeline
        // subscriptions then prune whole directories at the scan
        // (DbusEventBufferMult one-buffer-per-partition analog)
        (if (partitionByTimeline) w.partitionBy("partition_id") else w)
          .parquet(staging)
    }
    val (fs, sp) = StoreFs.fsPath(staging)
    val prefix = fs.makeQualified(sp).toString + "/"
    val parts = StoreFs.listFileStatusesRecursive(staging).map(_.getPath)
      .flatMap(p => p.getName match {
        case PartNum(k) => Some((k.toLong, p.toString.stripPrefix(prefix)))
        case _ => None
      }).sortBy(identity)
    // StoreFs.setModificationTime throws on failure: silently keeping
    // write-time mtimes would let the source admit parts out of
    // sequence order
    parts.foreach { case (k, rel) =>
      StoreFs.setModificationTime(s"$staging/$rel", base + k * 2)
    }
    parts.foreach { case (_, rel) =>
      val slash = rel.lastIndexOf('/')
      if (slash > 0) StoreFs.mkdirs(s"$dir/${rel.take(slash)}")
      require(StoreFs.rename(s"$staging/$rel", s"$dir/$rel"),
        s"writeEventLog: cannot move staged $rel into $dir")
    }
    StoreFs.deleteRecursive(staging)
  }

  /** The driver arm of [[writeEventLog]]: `rows` of `schema` cut into
    * scn bands and written under `staging` as the distributed arm's
    * tasks would write them — part k is band k, sorted by
    * (partition_id, scn, seq), and under `partitionByTimeline` one file
    * per (band, partition) in `partition_id=<p>/` without that column. */
  private def writeBandsOnDriver(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow], staging: String, filesHint: Int,
      partitionByTimeline: Boolean): Unit = {
    import graft.pipeline.DriverParquet.{Part, writeParts}
    require(filesHint > 0, s"writeEventLog: filesHint $filesHint must be positive")
    def ref(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
    def ordering(cols: String*) = new InterpretedOrdering(
      cols.map(c => SortOrder(ref(schema.fieldIndex(c)), Ascending)))
    val byScn = ordering("scn")
    val byKey = ordering("partition_id", "scn", "seq")
    val sorted = rows.toIndexedSeq.sorted(byScn)
    val n = sorted.length
    // first row of each scn: the only places a band may start
    val starts = (0 until n).filter(i =>
      i == 0 || byScn.compare(sorted(i - 1), sorted(i)) != 0)
    val bands = math.min(filesHint, starts.length)
    // band k starts at the first scn at or past k·n/bands events,
    // clamped so that every band keeps at least one scn
    val firstScn = (0 until bands).scanLeft(-1) { (prev, k) =>
      val at = starts.indexWhere(_ >= k.toLong * n / bands) match {
        case -1 => starts.length
        case s => s
      }
      math.min(math.max(at, prev + 1), starts.length - (bands - k))
    }.tail
    val bounds = firstScn.map(starts) :+ n
    val banded = (0 until bands).map(k =>
      k -> sorted.slice(bounds(k), bounds(k + 1)).sorted(byKey))
    if (!partitionByTimeline) {
      // nothing to write still leaves one schema-only part, as a
      // distributed write of nothing does
      writeParts(spark, schema, staging,
        if (n == 0) Seq(Part(0, "", Iterator.empty))
        else banded.map { case (k, band) => Part(k, "", band.iterator) })
    } else {
      val pid = ref(schema.fieldIndex("partition_id"))
      val kept = schema.fields.indices.filter(_ != pid.ordinal)
      writeParts(spark, StructType(kept.map(i => schema(i))), staging,
        banded.flatMap { case (k, band) =>
          // one file per partition of the band, in partition order; a
          // projection per file, since parts are written concurrently
          band.groupBy(r => Option(pid.eval(r))).toSeq
            .sortBy(_._2.head)(byKey).map { case (p, run) =>
              Part(k, ExternalCatalogUtils.getPartitionPathString(
                "partition_id", p.map(_.toString).orNull),
                run.iterator.map(UnsafeProjection.create(kept.map(ref))))
            }
        })
    }
  }

  private val PartNum = """part-(\d+)-.*""".r

  /** Compact an appended event log back to `filesHint` scn-banded
    * segments — the small-file remedy for an append-heavy stream (every
    * micro-batch append adds a file generation; a day of 10 s triggers is
    * ~8,640 generations, and scan/listing cost grows with file count, not
    * data size). Window alignment and per-band ordering are
    * re-established by the same `repartitionByRange(scn)` write
    * discipline.
    *
    * CONCURRENCY CONTRACT: the appending stream must be QUIESCED for the
    * duration of the call. The rewrite snapshots the source file list at
    * read time, so a file appended after that listing would be deleted
    * with the old generation — compaction detects any such late file
    * after the swap and fails (restoring the original dir) rather than
    * lose it. Readers: the swap is two renames, so there is a
    * microseconds-wide window where the dir is absent; a reader that
    * lists in that window fails cleanly and retries (no torn mix of
    * generations is ever visible — a listing sees old, new, or nothing).
    *
    * Content-preserving: the compacted log serves byte-identical events
    * (CompactSpec proves set equality; ordering is re-derived from scn
    * bands exactly as the original write did). */
  def compactEventLog(spark: SparkSession, dir: String,
      filesHint: Int = 8): Unit = {
    // maintenance I/O through the Hadoop FileSystem API (StoreFs): the
    // event log is a serving store, and at scale it lives on whatever
    // URI scheme the data plane writes — java.io.File renames would
    // silently fail there (same hazard class as the tombstone probe)
    import graft.pipeline.StoreFs
    require(StoreFs.isDirectory(dir), s"compactEventLog: no log at $dir")
    val tmp = s"$dir.compact-tmp"
    val old = s"$dir.compact-old"
    StoreFs.deleteRecursive(tmp)
    StoreFs.deleteRecursive(old)
    // snapshot the file list, then materialize from EXACTLY those files
    // (not the dir) so the compacted generation's provenance is the list
    // we can re-check after the swap
    def listData(d: String): Set[String] =
      StoreFs.listFileNamesRecursive(d, ".parquet").toSet
    val snapshotFiles = listData(dir)
    val snapshot = spark.read.schema(schema).parquet(dir)
    writeEventLog(snapshot, tmp, filesHint)
    // swap: source -> .compact-old, tmp -> source
    if (!StoreFs.rename(dir, old))
      throw new java.io.IOException(s"compactEventLog: cannot move $dir aside")
    if (!StoreFs.rename(tmp, dir)) {
      StoreFs.rename(old, dir) // restore
      throw new java.io.IOException(s"compactEventLog: swap failed for $dir")
    }
    // late-append detection: any data file in the retired generation that
    // was NOT in the read-time snapshot was appended mid-compaction —
    // roll back instead of silently deleting it with .compact-old
    val late = listData(old) -- snapshotFiles
    if (late.nonEmpty) {
      StoreFs.rename(dir, tmp)
      StoreFs.rename(old, dir)
      StoreFs.deleteRecursive(tmp)
      throw new IllegalStateException(
        s"compactEventLog: ${late.size} file(s) were appended during " +
          s"compaction (stream not quiesced): ${late.take(3).mkString(", ")}…" +
          " — original log restored")
    }
    StoreFs.deleteRecursive(old)
    ()
  }

  /** Min/max SCN available in the log — `/bufferInfo` for the persisted
    * buffer; also the retention boundary for fall-off detection. Read
    * from the Parquet footers of the files a read of the log admits
    * (a staging dir's parts are not admitted yet), with no Spark job:
    * the answer of `min(scn), max(scn)` over the log, at the cost of
    * one footer read per file. Throws when the log holds no event. */
  def bufferInfo(spark: SparkSession, dir: String): (Long, Long) = {
    val bounds = graft.pipeline.DriverParquet.footerBounds(
      graft.pipeline.StoreFs.listDataFiles(dir).map(_.getPath), Seq("scn"))
      .map(_._2.head)
    if (bounds.isEmpty)
      throw new IllegalStateException(s"bufferInfo: event log at $dir is empty")
    (bounds.map(_._1).min, bounds.map(_._2).max)
  }

  /** Open the streaming read of the event log after a checkpoint, with
    * server-side filters pushed into the scan.
    *
    * An AvailableNow drain takes every committed file in one micro-batch,
    * as `/stream` hands one append to a client in one response (K1), so a
    * drain pays the per-trigger bookkeeping (offset WAL, planning,
    * commit) once. A budget is opt-in: `maxFilesPerTrigger = Some(n)`
    * caps each batch at n files (the `size` param of `/stream`, §2.10;
    * rate control A6). Without one, the first drain after a long outage
    * takes the whole backlog as one batch. Either way a micro-batch is
    * whole files = whole windows.
    */
  def read(spark: SparkSession, dir: String,
      cp: Checkpoint = Checkpoint.flexible,
      filter: DbusFilter = AllowAllFilter,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(dir)
      .where(graft.operators.Relay.afterCheckpoint(cp))
      .where(filter.toColumnFor(schema.fieldNames.toSeq))
  }

  /** Event-time windowed stats with a watermark — the streaming analog of
    * the A3 totals for wall-clock dashboards (events/sec, per-source
    * volumes over tumbling windows).
    *
    * The reference needs no event-time watermark for its own semantics
    * (log order IS commit order, SURVEY §2.7) — this is an *added*
    * analytics op, so it uses the standard Structured Streaming watermark
    * contract: state for a window is evicted once the watermark passes its
    * end, bounding state size regardless of stream length; events later
    * than `lateness` are dropped. Works identically on a batch frame
    * (watermark is a no-op there), which is how the oracle checks it.
    */
  def windowedStats(envelope: DataFrame, windowDur: String = "1 minute",
      lateness: String = "30 seconds"): DataFrame = {
    import org.apache.spark.sql.functions._
    envelope
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowDur).as("w"),
        col("source_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
        min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
      .select(col("w.start").as("win_start"), col("source_id"),
        col("n_events"), col("n_deletes"), col("min_scn"), col("max_scn"))
  }

  /** Streaming exact dedup: upgrades the relay's at-least-once delivery
    * to effectively-once per event id. `dropDuplicatesWithinWatermark`
    * bounds the dedup state by the watermark horizon — duplicates arriving
    * within `lateness` of each other collapse, and state ages out instead
    * of growing with the stream (the unbounded-state hazard of plain
    * dropDuplicates on a stream). Batch frames pass through the same
    * code path with watermarking a no-op, which is how the oracle checks
    * it. */
  def dedupStream(envelope: DataFrame, idCols: Seq[String] = Seq("seq"),
      lateness: String = "10 minutes"): DataFrame = {
    val timed = envelope
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", lateness)
    (if (timed.isStreaming)
      timed.dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
    else timed.dropDuplicates(idCols.head, idCols.tail: _*))
      .drop("event_time")
  }

  /** Fall-off detection + bootstrap switchover (§3.3): if the consumer's
    * checkpoint predates the log's retention window (`ScnNotFoundException`
    * → BOOTSTRAP in the reference, RelayPullThread.java:96-121), first
    * materialize state via snapshot+catchup up to the log's current head,
    * then stream online from there.
    *
    * Returns (bootstrapStateOrNone, onlineStream, resumeCheckpoint).
    */
  def streamWithBootstrap(spark: SparkSession, dir: String, cp: Checkpoint,
      filter: DbusFilter = AllowAllFilter, maxFilesPerTrigger: Option[Int] = None)
      : (Option[DataFrame], DataFrame, Checkpoint) = {
    val (minScn, maxScn) = bufferInfo(spark, dir)
    val fellOff = !cp.isFlexible && cp.windowScn < minScn
    if (!fellOff) (None, read(spark, dir, cp, filter, maxFilesPerTrigger), cp)
    else {
      // BOOTSTRAP: snapshot consistent at minScn + catchup to maxScn
      val log = spark.read.schema(schema).parquet(dir)
        .where(filter.toColumnFor(schema.fieldNames.toSeq))
      val state = Bootstrap.snapshotPlusCatchup(log, startScn = minScn,
        targetScn = maxScn)
      val resumeCp = Checkpoint.online(maxScn)
      (Some(state), read(spark, dir, resumeCp, filter, maxFilesPerTrigger), resumeCp)
    }
  }
}
