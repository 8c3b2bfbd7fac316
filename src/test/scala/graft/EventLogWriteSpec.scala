package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, functions}

import graft.pipeline.{DriverParquet, StoreFs}
import graft.streaming.RelayStream

/** `RelayStream.writeEventLog` has two arms: a driver-local envelope is
  * cut into scn bands and written on the driver with no Spark job;
  * any other frame takes one distributed range-partitioned write. Both
  * must leave the same log: the same rows, whole windows per file,
  * per-file (partition_id, scn, seq) order, part numbers in scn-band
  * order with strictly rising mtimes, and no staging dir. */
class EventLogWriteSpec extends SparkSpec {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** A driver-held envelope of about `n` events in windows of 1-40
    * events, each event on one of 4 partitions, in shuffled order. */
  private def localEnvelope(n: Int, seed: Long = 7L): DataFrame = {
    val r = new scala.util.Random(seed)
    val rows = Seq.newBuilder[Row]
    var (scn, seq) = (0L, 0L)
    while (seq < n) {
      scn += 1 + r.nextInt(3)
      (0 until 1 + r.nextInt(40)).foreach { _ =>
        rows += Row(scn, seq, 1700000000000000L + seq, 1, r.nextInt(4),
          if (r.nextInt(10) == 0) "DELETE" else "UPSERT",
          r.nextInt(100).toLong, r.nextDouble(),
          if (seq % 3 == 0) null else s"p$seq", null,
          if (seq % 5 == 0) Array[Byte](1, 2) else null, null)
        seq += 1
      }
    }
    spark.createDataFrame(r.shuffle(rows.result()).asJava, RelayStream.schema)
  }

  /** The same envelope as a file-backed (distributed) frame. */
  private def readBack(env: DataFrame): DataFrame = {
    val src = s"${tmp("evsrc")}/src"
    env.write.parquet(src)
    val back = spark.read.schema(RelayStream.schema).parquet(src)
    assert(DriverParquet.localRows(back).isEmpty)
    back
  }

  /** Spark jobs started while `body` ran, on any thread. */
  private def jobsOf(body: => Unit): Int = {
    Thread.sleep(500) // earlier actions' listener events drain first
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** One data file of a log: its part number, hive subdir ("" when
    * flat), mtime, and its (partition_id, scn, seq) keys in file order. */
  private case class LogFile(part: Int, sub: String, mtime: Long,
      keys: Seq[(Int, Long, Long)])

  private val PartNum = """part-(\d+)-.*\.parquet""".r

  private def logFiles(dir: String): Seq[LogFile] = {
    val root = new java.io.File(dir).toURI.getPath
    StoreFs.listFileStatusesRecursive(dir).flatMap { st =>
      st.getPath.getName match {
        case PartNum(k) =>
          val path = st.getPath.toUri.getPath
          val sub = path.stripPrefix(root).stripSuffix(st.getPath.getName)
            .stripSuffix("/")
          val df = spark.read.parquet(path)
          val keys = if (sub.isEmpty)
            df.select("partition_id", "scn", "seq").collect().toSeq
              .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          else {
            val p = sub.stripPrefix("partition_id=").toInt
            assert(!df.columns.contains("partition_id"), s"$path keeps partition_id")
            df.select("scn", "seq").collect().toSeq
              .map(r => (p, r.getLong(0), r.getLong(1)))
          }
          Some(LogFile(k.toInt, sub, st.getModificationTime, keys))
        case _ => None
      }
    }
  }

  private def rowsOf(dir: String): Seq[Row] =
    spark.read.schema(RelayStream.schema).parquet(dir).collect().toSeq
      .map(r => Row(r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }: _*)).sortBy(_.getLong(1))

  /** The layout contract every event log keeps, whichever arm wrote it. */
  private def checkLayout(dir: String): Seq[LogFile] = {
    val files = logFiles(dir)
    assert(files.nonEmpty, s"no part files under $dir")
    files.foreach { f =>
      assert(f.keys == f.keys.sorted, s"part ${f.part} ${f.sub} is out of order")
    }
    // every window in exactly one file: per scn when flat, per
    // (partition, scn) when hive-partitioned
    files.flatMap(f => f.keys.map(k => if (f.sub.isEmpty) k._2 -> -1 else
      k._2 -> k._1).distinct.map(_ -> f)).groupBy(_._1).foreach {
      case (w, fs) => assert(fs.size == 1, s"window $w spans ${fs.size} files")
    }
    // per part number: one scn band; bands rise with the part number,
    // and so do the stamps (equal within a part)
    val byPart = files.groupBy(_.part).toSeq.sortBy(_._1)
    byPart.foreach { case (k, fs) =>
      assert(fs.map(_.mtime).distinct.size == 1, s"part $k has mixed stamps")
    }
    byPart.sliding(2).foreach {
      case Seq((a, fa), (b, fb)) =>
        val scns = (fs: Seq[LogFile]) => fs.flatMap(_.keys.map(_._2))
        assert(scns(fa).max < scns(fb).min, s"parts $a and $b overlap in scn")
        assert(fa.head.mtime < fb.head.mtime, s"part $b is not stamped after $a")
      case _ =>
    }
    // and each scn owns exactly one part number
    files.flatMap(f => f.keys.map(_._2).distinct.map(_ -> f.part))
      .groupBy(_._1).foreach { case (scn, ps) =>
        assert(ps.map(_._2).distinct.size == 1, s"scn $scn spans parts $ps")
      }
    val left = StoreFs.listNames(dir).filter(_.startsWith("_staging"))
    assert(left.isEmpty, s"staging left behind: $left")
    files
  }

  test("a driver-local append runs no Spark job") {
    val env = localEnvelope(2000)
    assert(DriverParquet.localRows(env).nonEmpty)
    val dir = s"${tmp("evjobs")}/log"
    assert(jobsOf(RelayStream.writeEventLog(env, dir, filesHint = 8)) == 0)
    assert(logFiles(dir).size == 8)
    assert(rowsOf(dir).size == env.count())
  }

  test("the driver arm leaves the log the distributed arm leaves") {
    val env = localEnvelope(3000)
    val want = rowsOf({
      val d = s"${tmp("evwant")}/src"; env.write.parquet(d); d
    })
    val driver = s"${tmp("evdrv")}/log"
    val dist = s"${tmp("evdist")}/log"
    def append(e: DataFrame): Unit = {
      assert(DriverParquet.localRows(e).nonEmpty)
      RelayStream.writeEventLog(e, driver, filesHint = 4)
      RelayStream.writeEventLog(readBack(e), dist, filesHint = 4)
    }
    val evens = env.where("scn % 2 = 0")
    append(evens)
    val first = checkLayout(driver)
    checkLayout(dist)
    // min(filesHint, distinct scns) bands of about equal event count: a
    // cut moves on to the next window start, under 40 events later
    val n = evens.count()
    assert(first.map(_.keys.size).forall(k => math.abs(k - n / 4) < 40),
      first.map(_.keys.size).toString)
    // a later append is stamped after every part of the earlier one
    append(env.where("scn % 2 = 1"))
    Seq(driver, dist).foreach { dir =>
      val (a, b) = logFiles(dir).partition(_.keys.head._2 % 2 == 0)
      assert(a.map(_.mtime).max < b.map(_.mtime).min, dir)
      assert(rowsOf(dir) == want, dir)
    }
    assert(logFiles(driver).size == 8)
    // fewer windows than filesHint: one band per window
    val few = s"${tmp("evfew")}/log"
    val head = env.where("scn < 8")
    RelayStream.writeEventLog(head, few, filesHint = 8)
    assert(checkLayout(few).size == head.select("scn").distinct().count())
  }

  test("partitionByTimeline: the driver arm matches the distributed layout") {
    val env = localEnvelope(2000, seed = 11L)
    val driver = s"${tmp("evpdrv")}/log"
    val dist = s"${tmp("evpdist")}/log"
    assert(jobsOf(RelayStream.writeEventLog(env, driver, filesHint = 3,
      partitionByTimeline = true)) == 0)
    RelayStream.writeEventLog(readBack(env), dist, filesHint = 3,
      partitionByTimeline = true)
    assert(rowsOf(driver) == rowsOf(dist))
    val (d, s) = (checkLayout(driver), checkLayout(dist))
    assert(d.map(_.sub).toSet == (0 until 4).map(p => s"partition_id=$p").toSet)
    assert(s.map(_.sub).toSet == d.map(_.sub).toSet)
    assert(StoreFs.listNames(driver).toSet == StoreFs.listNames(dist).toSet)
    // one file per (band, partition)
    assert(d.map(f => (f.part, f.sub)).distinct.size == d.size)
  }

  test("an empty envelope leaves what the distributed arm leaves") {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), RelayStream.schema)
    assert(DriverParquet.localRows(empty).nonEmpty)
    val back = readBack(empty)
    // flat: one schema-only part-00000 in the log, carrying the schema
    Seq(empty, back).foreach { e =>
      val dir = s"${tmp("evempty")}/log"
      RelayStream.writeEventLog(e, dir, filesHint = 8)
      val files = logFiles(dir)
      assert(files.map(f => (f.part, f.sub, f.keys)) == Seq((0, "", Nil)))
      assert(spark.read.parquet(dir).schema.map(f => f.name -> f.dataType) ==
        RelayStream.schema.map(f => f.name -> f.dataType))
      assert(StoreFs.listNames(dir).forall(!_.startsWith("_staging")))
    }
    // hive-partitioned: no file, but the log dir exists
    Seq(empty, back).foreach { e =>
      val dir = s"${tmp("evemptyp")}/log"
      RelayStream.writeEventLog(e, dir, filesHint = 8, partitionByTimeline = true)
      assert(StoreFs.isDirectory(dir))
      assert(StoreFs.listFileStatusesRecursive(dir).isEmpty)
    }
  }

  test("bufferInfo reads the scn bounds from footers, as the aggregate does") {
    def aggregate(dir: String): (Long, Long) = {
      val r = spark.read.schema(RelayStream.schema).parquet(dir)
        .agg(functions.min("scn"), functions.max("scn")).head()
      (r.getLong(0), r.getLong(1))
    }
    val flat = s"${tmp("bflat")}/log"
    RelayStream.writeEventLog(localEnvelope(1500), flat, filesHint = 4)
    RelayStream.writeEventLog(readBack(localEnvelope(500, seed = 3L)), flat,
      filesHint = 2)
    // an empty append leaves a schema-only part, which covers nothing
    RelayStream.writeEventLog(localEnvelope(100).where("false"), flat)
    assert(logFiles(flat).exists(_.keys.isEmpty))
    val timeline = s"${tmp("btl")}/log"
    RelayStream.writeEventLog(localEnvelope(1500, seed = 5L), timeline,
      filesHint = 3, partitionByTimeline = true)
    Seq(flat, timeline).foreach { dir =>
      // a live append's staging dir is not admitted yet: its scns are
      // not the log's
      localEnvelope(50).withColumn("scn", functions.col("scn") + 1000000000L)
        .write.parquet(s"$dir/_staging-planted")
      var got = (0L, 0L)
      assert(jobsOf { got = RelayStream.bufferInfo(spark, dir) } == 0)
      assert(got == aggregate(dir), dir)
      assert(got._2 < 1000000000L)
    }
    val empty = s"${tmp("bempty")}/log"
    RelayStream.writeEventLog(localEnvelope(100).where("false"), empty)
    intercept[IllegalStateException](RelayStream.bufferInfo(spark, empty))
  }
}
