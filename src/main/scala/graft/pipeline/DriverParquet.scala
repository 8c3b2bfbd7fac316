package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.types.StructType

/** Driver-path parquet writer for DRIVER-LOCAL tables (optimization
  * guide §5 "the driver should do almost no data work" — and launching
  * a distributed job to write one row is the inverse failure: every
  * one-row quant_stats/codebook/books write costs a full Spark job —
  * scheduler round-trip, task launch, commit protocol, ~60–100 ms of
  * scale-INDEPENDENT latency — for rows the driver is already holding
  * in the query plan as a LocalRelation).
  *
  * Byte-compatibility: rows go through Spark's own
  * [[ParquetWriteSupport]] — the exact WriteSupport the distributed
  * writer uses — with the session's effective write configuration
  * (legacy format, timestamp type, rebase modes, compression codec),
  * so the emitted file is what a one-task `df.write.parquet` would have
  * produced: same logical types, same codec, a Spark-style
  * `part-00000-<uuid>.c000.<codec>.parquet` name and a `_SUCCESS`
  * marker when `mapreduce.fileoutputcommitter.marksuccessfuljobs` is on
  * (the layout checks treat marker files as layout, and the DuckDB
  * oracle reads the stores — the byte-compat gate).
  *
  * Scope: only frames whose OPTIMIZED plan collapses to a
  * [[LocalRelation]] (possibly under coalesce/repartition nodes — the
  * usual `Seq(...).toDF.coalesce(1)` shape). Anything touching
  * distributed inputs returns None and takes the normal writer. A
  * caller already holding rows on the driver (a takedown's ids, a
  * relay append's scn bands) skips the frame and the plan with
  * [[write]] or [[writeParts]].
  *
  * Cost: 15-19 ms per file, even for one row, measured on a 4-vCPU
  * host. Over half of it is `RawLocalFileSystem.setPermission` forking
  * `chmod` for the data file and its `.crc` when no native Hadoop
  * library is loaded; a write's fixed cost grows with its file count,
  * not its row count.
  *
  * The driver also reads footers here ([[footerBounds]],
  * [[footerRowCount]], [[footerSchema]]): column bounds, row counts and
  * the stored schema, for decisions that must not run a job. */
private[graft] object DriverParquet {

  /** The frame's driver-local rows, when the whole plan is one
    * LocalRelation (unwrapping coalesce/repartition — they only affect
    * file count, which the driver-side caller chooses itself). */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] = {
    def unwrap(p: LogicalPlan): Option[LocalRelation] = p match {
      case l: LocalRelation => Some(l)
      case r: Repartition => unwrap(r.child)
      case _ => None
    }
    unwrap(df.queryExecution.optimizedPlan).map { l =>
      (org.apache.spark.sql.catalyst.types.DataTypeUtils
        .fromAttributes(l.output), l.data)
    }
  }

  /** Write `df` to `dir` as one parquet part file ON THE DRIVER if it
    * is driver-local; returns false (writing nothing) otherwise. The
    * caller owns directory semantics (publish writes into a fresh
    * reserved generation dir, so "overwrite" is vacuous here). */
  def writeIfLocal(df: DataFrame, dir: String): Boolean =
    localRows(df) match {
      case None => false
      case Some((schema, rows)) =>
        write(df.sparkSession, schema, rows, dir)
        // the distributed writer's commit marker — layout parity for
        // the fsck marker checks and human inspection, under the same
        // Hadoop switch its committer honors
        if (df.sparkSession.sessionState.newHadoopConf().getBoolean(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", true))
          StoreFs.createExclusive(s"$dir/_SUCCESS")
        true
    }

  /** Write driver-held `rows` of `schema` as ONE parquet part file under
    * `dir` (created if absent), with no Spark job and no commit marker;
    * returns the file's path. The takedown overlay writes its id sets
    * this way ([[Tombstones.writeSet]]), staging the file and renaming
    * it in itself. */
  def write(spark: SparkSession, schema: StructType, rows: Seq[InternalRow],
      dir: String): String =
    writeParts(spark, schema, dir, Seq(Part(0, "", rows.iterator))).head

  /** One file of a [[writeParts]] call: `rows`, written as
    * `part-<index>` under `subdir` of the write's dir ("" for the dir
    * itself, or a hive `col=value` path). Parts are written on separate
    * threads, so no two parts' `rows` may share mutable state (a reused
    * projection buffer, say). */
  final case class Part(index: Int, subdir: String, rows: Iterator[InternalRow])

  /** Write each part as one parquet file of `schema`, with no Spark job
    * and no commit marker; returns the files' paths, in part order.
    * Names follow the distributed writer's: `part-<index>-<uuid>-c000
    * .<codec>.parquet`, one uuid per call as one per job, so a part
    * index plays the role of a write task's partition id. The parts are
    * written at once ([[Overlap]]), as a job's tasks would be: a file's
    * fixed create cost, not its rows, dominates a small part (see the
    * object doc), and 8 parts written at once take about half the wall
    * time of 8 in a row on a 4-vCPU host. */
  def writeParts(spark: SparkSession, schema: StructType, dir: String,
      parts: Seq[Part]): Seq[String] = {
    val sqlConf = spark.sessionState.conf
    // Spark's OWN write preparation and writer factory — the exact
    // code path a distributed parquet write runs per task, minus
    // the job: prepareWrite stamps the session's write
    // configuration (legacy format, timestamp type, rebase modes,
    // field ids, codec) onto the job conf and returns the
    // OutputWriterFactory whose instances the write tasks use
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = org.apache.spark.sql.execution.datasources.parquet
      .ParquetUtils.prepareWrite(sqlConf, job, schema,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetOptions(Map.empty[String, String], sqlConf))
    val attempt = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(job.getConfiguration,
        new org.apache.hadoop.mapreduce.TaskAttemptID(
          new org.apache.hadoop.mapreduce.TaskID(
            new org.apache.hadoop.mapreduce.JobID("graftdriver", 0),
            org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0))
    val uuid = java.util.UUID.randomUUID
    val ext = factory.getFileExtension(attempt)
    val dirs = parts.map(p => if (p.subdir.isEmpty) dir else s"$dir/${p.subdir}")
    (dir +: dirs).distinct.foreach(StoreFs.mkdirs)
    val writes = parts.zip(dirs).map { case (p, d) => Overlap.run {
      val file = f"$d/part-${p.index}%05d-$uuid-c000$ext"
      // a conf of its own per writer, as each write task has
      val writer = factory.newInstance(file, schema,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          new org.apache.hadoop.conf.Configuration(job.getConfiguration),
          attempt.getTaskAttemptID))
      try p.rows.foreach(writer.write)
      finally writer.close()
      file
    }}
    Overlap.settle(writes: _*)
    writes.map(Overlap.value)
  }

  /** `path`'s parquet footer, read on the driver with the options of
    * its FileSystem's own conf: the reader's default options build a
    * fresh Hadoop Configuration per open, which costs ~17 ms a file on a
    * 4-vCPU host against ~1 ms for the footer read. */
  private def footer(path: org.apache.hadoop.fs.Path)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val conf = StoreFs.fsPath(path.toString)._1.getConf
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
    try rdr.getFooter finally rdr.close()
  }

  /** The rows `files` hold, summed from their footers' row-group counts:
    * no row is scanned and no Spark job runs. */
  def footerRowCount(files: Seq[org.apache.hadoop.fs.Path]): Long = {
    import scala.jdk.CollectionConverters._
    files.map(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The Spark schema a Spark writer recorded in `file`'s footer (its
    * row metadata, field metadata included), with no Spark job: the
    * schema-inference read runs one job per call. Loud when the file
    * carries none (a file no Spark writer wrote). */
  def footerSchema(file: org.apache.hadoop.fs.Path): StructType =
    Option(footer(file).getFileMetaData.getKeyValueMetaData
        .get(org.apache.spark.sql.execution.datasources.parquet
          .ParquetReadSupport.SPARK_METADATA_KEY))
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"footerSchema: $file records no Spark schema"))

  /** Per-file (min, max) of the integral columns `cols`, read from the
    * PARQUET FOOTERS of `files` on the driver: no row is scanned and no
    * Spark job runs, so the cost is one footer read per file. Keyed by
    * the path's string form. A zero-row file (a schema-only part, an empty
    * append) has no row groups and covers nothing: it is skipped. A
    * file with rows whose named column carries no stats (wrong name or
    * non-integral type) fails loudly — a silent empty answer would read
    * as "nothing there". */
  def footerBounds(files: Seq[org.apache.hadoop.fs.Path], cols: Seq[String])
      : Seq[(String, Seq[(Long, Long)])] = {
    import scala.jdk.CollectionConverters._
    def asLong(v: Any, file: String, c: String): Long = v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case other => throw new IllegalArgumentException(
        s"footerBounds: column $c in $file has non-integral footer stats" +
          s" (${if (other == null) "none" else other.getClass.getName})")
    }
    files.flatMap { path =>
      val file = path.toString
      val blocks = footer(path).getBlocks.asScala.toSeq
        .filter(_.getRowCount > 0)
      if (blocks.isEmpty) None
      else {
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        val bounds = cols.map { c =>
          val cc = chunks.getOrElse(c, Seq.empty)
            .filter(m => m.getStatistics != null &&
              m.getStatistics.hasNonNullValue)
          require(cc.nonEmpty,
            s"footerBounds: no footer stats for column $c in $file")
          (cc.map(m => asLong(m.getStatistics.genericGetMin, file, c)).min,
            cc.map(m => asLong(m.getStatistics.genericGetMax, file, c)).max)
        }
        Some((file, bounds))
      }
    }
  }
}
