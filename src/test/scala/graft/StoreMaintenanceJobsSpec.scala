package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

import graft.pipeline.{Retrieval, StoreFs, StoreFsck, VersionedStore}

/** A store maintenance write runs only the Spark jobs its data needs: a
  * takedown of driver-held ids runs none, a batch-preserving compaction
  * runs no exchange (so no range-sampling job either), and a trickle
  * batch append writes its two tables with two jobs. Jobs are counted
  * with a listener that sees every thread, like [[StoreSchemaSpec]]'s
  * inference guard: the store writes run on [[graft.pipeline.Overlap]]
  * pool threads, which a job-local property set here would not reach. */
class StoreMaintenanceJobsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def docs(from: Long, n: Int) =
    (from until from + n).map(i =>
      (i, s"w${i % 7} common w${i % 3} w${i % 11} tail$i"))
      .toDF("doc_id", "text")

  /** What `body` ran: the stage names of every job it started, one
    * entry per job, and the names of the stages that wrote shuffle
    * output (one per exchange). */
  private def jobsOf(body: => Unit): (Seq[Seq[String]], Seq[String]) = {
    Thread.sleep(500) // earlier actions' listener events drain first
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val shuffles = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name)); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0L)
          shuffles.add(sc.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.asScala.toSeq, shuffles.asScala.toSeq)
  }

  private def parquetFiles(dir: String): Seq[String] =
    StoreFs.listNames(dir).filter(_.endsWith(".parquet"))

  private def live(dir: String, at: Option[VersionedStore.Pin] = None) =
    Retrieval.readDocLengths(spark, dir, at).select("doc_id").as[Long]
      .collect().toSet

  test("a takedown of driver-held ids runs no Spark job and lands one staged file per generation") {
    val dir = s"${tmp("mjobs")}/index"
    Retrieval.writePostingsIndex(docs(0L, 40), dir, batchId = Some(0L))
    Retrieval.appendToPostingsIndexBatch(docs(40L, 20), dir, batchId = 1L)
    Retrieval.tombstoneDocs(spark, dir, Seq(3L))
    // two retained generations: the compaction's fresh one and its source
    Retrieval.compactPostingsIndex(spark, dir, keepGenerations = 1)
    val gens = VersionedStore.listGens(dir)
    assert(gens.sorted == Seq(1L -> true, 2L -> true), gens.toString)
    def overlay(g: Long) = parquetFiles(s"$dir/gen-$g/tombstones").toSet
    val before = gens.map { case (g, _) => g -> overlay(g) }.toMap

    val (jobs, _) = jobsOf(Retrieval.tombstoneDocs(spark, dir, Seq(5L, 41L, 7L)))
    assert(jobs.isEmpty, s"a takedown of driver-held ids ran jobs: $jobs")
    for ((g, _) <- gens) {
      assert((overlay(g) -- before(g)).size == 1, s"gen $g: ${overlay(g)}")
      assert(overlay(g).size == before(g).size + 1, s"gen $g: ${overlay(g)}")
      val left = StoreFs.listNames(s"$dir/gen-$g").filter(_.startsWith("_staging"))
      assert(left.isEmpty, s"gen $g keeps staging leftovers: $left")
    }
    // erasure holds at the head AND at the retained generation
    val want = (0L until 60L).toSet -- Set(3L, 5L, 7L, 41L)
    assert(live(dir) == want)
    assert(live(dir, Some(VersionedStore.Pin(1L, None))) == want)
    val findings = StoreFsck.versionedStore(spark, dir)
      .unionByName(StoreFsck.postingsStore(spark, dir))
      .unionByName(StoreFsck.batchLayout(spark, dir, Seq("postings", "doclens")))
      .where(col("n_bad") =!= 0L).as[(String, Long)].collect()
    assert(findings.isEmpty, findings.toSeq.toString)
  }

  test("a batch-preserving compaction runs no exchange and keeps each batch's files sorted") {
    val dir = s"${tmp("mjobs")}/index"
    Retrieval.writePostingsIndex(docs(0L, 40), dir, batchId = Some(0L))
    (1L to 3L).foreach(b => Retrieval.appendToPostingsIndexBatch(
      docs(40L + (b - 1L) * 10L, 10), dir, batchId = b))
    Retrieval.tombstoneDocs(spark, dir, Seq(2L, 45L))
    val postingsBefore = Retrieval.readPostingsIndex(spark, dir).collect().toSet
    val t0 = VersionedStore.tableRoot(dir)
    val batches = VersionedStore.batchIdsOf(s"$t0/postings").toSet
    val filesBefore = batches.map(b =>
      b -> parquetFiles(s"$t0/postings/batch=$b").size).toMap

    val (jobs, shuffles) = jobsOf(Retrieval.compactPostingsIndex(spark, dir))
    assert(shuffles.isEmpty, s"batched compaction shuffled: $shuffles in $jobs")
    // the two tombstone broadcasts and the two table writes; a range
    // repartition adds its sampling job and its exchange
    assert(jobs.size <= 4, s"${jobs.size} jobs: $jobs")

    val t = VersionedStore.tableRoot(dir)
    assert(t != t0, "compaction publishes a fresh generation")
    assert(VersionedStore.batchIdsOf(s"$t/postings").toSet == batches)
    assert(VersionedStore.batchIdsOf(s"$t/doclens").toSet == batches)
    for (b <- batches) {
      val files = parquetFiles(s"$t/postings/batch=$b")
      assert(files.nonEmpty && files.size <= filesBefore(b),
        s"batch $b: ${files.size} files, ${filesBefore(b)} before")
      for (f <- files) {
        val rows = spark.read.schema(Retrieval.PostingsSchema)
          .parquet(s"$t/postings/batch=$b/$f").as[(String, Long, Long)]
          .collect().toSeq
        assert(rows.nonEmpty && rows == rows.sorted,
          s"batch=$b/$f is not sorted by (token, doc_id, pos)")
      }
    }
    assert(Retrieval.readPostingsIndex(spark, dir).collect().toSet == postingsBefore)
    assert(live(dir) == (0L until 70L).toSet -- Set(2L, 45L))
    // the rewrite dropped the erased rows physically
    assert(!StoreFs.exists(s"$t/tombstones"))
    assert(spark.read.schema(Retrieval.DocLensSchema).parquet(s"$t/doclens")
      .where(col("doc_id").isin(2L, 45L)).isEmpty)
  }

  test("a trickle batch append writes its two tables with two jobs and no exchange") {
    val dir = s"${tmp("mjobs")}/index"
    Retrieval.writePostingsIndex(docs(0L, 40), dir, batchId = Some(0L))
    val (jobs, shuffles) = jobsOf(
      Retrieval.appendToPostingsIndexBatch(docs(40L, 10), dir, batchId = 1L))
    assert(jobs.size == 2, s"${jobs.size} jobs: $jobs")
    assert(shuffles.isEmpty, s"append shuffled: $shuffles in $jobs")
    val t = VersionedStore.tableRoot(dir)
    assert(parquetFiles(s"$t/postings/batch=1").size == 1)
    val rows = spark.read.schema(Retrieval.PostingsSchema)
      .parquet(s"$t/postings/batch=1").as[(String, Long, Long)].collect().toSeq
    assert(rows == rows.sorted, "the appended file is sorted by (token, doc_id, pos)")
    assert(live(dir) == (0L until 50L).toSet)
  }
}
