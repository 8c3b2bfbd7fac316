package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.Bootstrap
import graft.pipeline.{StoreFs, VersionedStore}
import graft.streaming.Applier

/** The Applier folds its log off the apply path: the apply that fills
  * the log runs one Spark job of its own and returns, the fold runs
  * under its own job group, readers serve a whole generation
  * throughout, and a failed fold surfaces at the next apply. Jobs are
  * counted with a listener that sees every thread, as in
  * [[StoreMaintenanceJobsSpec]]. */
class ApplierFoldSpec extends SparkSpec {
  import spark.implicits._

  private val Every = Applier.CompactEvery

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Batch `i` of a change stream over keys 0-19: 20 upserts, with a
    * DELETE of one key every third batch. */
  private def batch(i: Int): DataFrame = (0 until 20).map { k =>
    val key = (i * 7 + k) % 20
    (1000L * (i + 1) + k, 100L * i + k, key.toLong,
      if (i % 3 == 2 && k == 0) "DELETE" else "UPSERT", (i * 20 + k).toDouble)
  }.toDF("scn", "seq", "key_long", "opcode", "value")

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("key_long", "seq", "value").as[(Long, Long, Double)]
      .collect().toSet

  private def replay(upTo: Int): Set[(Long, Long, Double)] =
    rows(Bootstrap.applyLog((0 to upTo).map(batch).reduce(_ unionByName _)))

  private def served(dir: String) = rows(Applier.snapshot(spark, dir).get)

  /** The job group of every Spark job `body` started, on any thread. */
  private def groupsOf(body: => Unit): Seq[String] = {
    Thread.sleep(500) // earlier actions' listener events drain first
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // listener events post asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    groups.asScala.toSeq
  }

  /** `body` under job group `group` on this thread. */
  private def inGroup[A](group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Apply batches `from until to`, each followed by the fold it started. */
  private def applyAll(dir: String, from: Int, to: Int): Unit =
    (from until to).foreach { i =>
      Applier.applyBatch(spark, batch(i), dir)
      Applier.awaitFold(dir)
    }

  test("the apply that fills the log runs one job and returns; the fold runs under its own group") {
    val dir = s"${tmp("fold")}/state"
    applyAll(dir, 0, Every - 1)
    val gen = VersionedStore.currentGen(dir).get
    val groups = groupsOf {
      inGroup("filling-apply")(Applier.applyBatch(spark, batch(Every - 1), dir))
      Applier.awaitFold(dir)
    }
    assert(groups.count(_ == "filling-apply") == 1, s"$groups")
    val fold = s"applier-fold $dir"
    assert(groups.count(_ == fold) >= 1, s"$groups")
    assert(groups.forall(Set("filling-apply", fold)), s"$groups")
    val folded = VersionedStore.currentGen(dir).get
    assert(folded > gen)
    assert(served(dir) == replay(Every - 1))
    // the next apply lands its delta in the folded generation, whose log
    // restarts at batch 0, and the fold's gc retired the old generation
    Applier.applyBatch(spark, batch(Every), dir)
    assert(VersionedStore.currentGen(dir).contains(folded))
    val t = VersionedStore.tableRoot(dir)
    assert(VersionedStore.batchIdsOf(s"$t/log") == Seq(0L))
    assert(StoreFs.listDirNames(dir) == Seq(s"gen-$folded"))
    assert(served(dir) == replay(Every))
  }

  test("the state equals a full replay after every apply, also to a reader during the fold") {
    val dir = s"${tmp("fold")}/state"
    val reads = new AtomicInteger
    val readsInFold = new AtomicInteger
    val wrong = new ConcurrentLinkedQueue[String]()
    (0 until 2 * Every + 2).foreach { i =>
      if (i % Every == Every - 1) {
        // this apply fills the log: a reader thread reads the state while
        // the fold runs. It holds a pin on the generation it starts from,
        // the store's contract for a read that may outlive a gc
        val gen = VersionedStore.currentGen(dir).get
        val pin = VersionedStore.registerPin(dir, gen)
        val before = replay(i - 1)
        val after = replay(i)
        val applied = new AtomicBoolean(false)
        val joined = new AtomicBoolean(false)
        val reader = new Thread(() => {
          while (!joined.get) {
            val during = applied.get
            try {
              // before the filling apply's delta lands, the state is
              // either side of it
              val got = served(dir)
              if (got != after && !(got == before && !during))
                wrong.add(s"read during batch $i: ${got.size} rows")
              reads.incrementAndGet()
              if (during) readsInFold.incrementAndGet()
            } catch { case e: Throwable => wrong.add(s"read threw $e") }
          }
        })
        reader.start()
        Applier.applyBatch(spark, batch(i), dir)
        applied.set(true)
        while (readsInFold.get < 2 && reader.isAlive) Thread.sleep(20)
        Applier.awaitFold(dir)
        joined.set(true)
        reader.join()
        VersionedStore.releasePin(dir, gen, pin)
      } else Applier.applyBatch(spark, batch(i), dir)
      assert(served(dir) == replay(i), s"state after batch $i differs from a full replay")
    }
    assert(wrong.isEmpty, wrong.asScala.mkString("; "))
    assert(readsInFold.get >= 4, s"${readsInFold.get} reads after a fold started")
    assert(VersionedStore.currentGen(dir).exists(_ > 2L), "fewer than two folds ran")
  }

  test("a failed fold surfaces at the next apply as its own exception; the old generation stays readable") {
    val root = tmp("fold")
    val dir = s"$root/state"
    applyAll(dir, 0, Every - 1)
    val gen = VersionedStore.currentGen(dir).get
    // every job of this state dir's folds is cancelled: the fold fails
    // in its first job
    spark.sparkContext.cancelJobGroupAndFutureJobs(s"applier-fold $dir")
    Applier.applyBatch(spark, batch(Every - 1), dir)
    val e = intercept[SparkException](Applier.applyBatch(spark, batch(Every), dir))
    assert(e.getMessage.contains("cancelled"), e.getMessage)
    assert(VersionedStore.currentGen(dir).contains(gen))
    assert(served(dir) == replay(Every - 1))
    assert(VersionedStore.batchIdsOf(s"${VersionedStore.tableRoot(dir)}/log")
      .size == Every, "the apply that surfaced the failure landed a delta")
    // the log still holds CompactEvery deltas, so the next apply folds
    // again: on a copy of the state dir, whose folds run under a group of
    // their own (this dir's group stays cancelled)
    val copy = s"$root/copy"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir), new java.io.File(copy))
    Applier.applyBatch(spark, batch(Every), copy)
    Applier.awaitFold(copy)
    assert(VersionedStore.currentGen(copy).exists(_ > gen))
    assert(served(copy) == replay(Every))
  }

  test("an empty batch lands nothing: a driver-local one runs no job") {
    val dir = s"${tmp("fold")}/state"
    applyAll(dir, 0, 2)
    def files = StoreFs.listFileStatusesRecursive(dir).map(_.getPath.toString).toSet
    val before = files
    val local = groupsOf(Applier.applyBatch(spark, batch(2).limit(0), dir))
    assert(local.isEmpty, s"a driver-local empty batch ran jobs: $local")
    assert(files == before)
    // a distributed empty batch runs its one write job and lands nothing
    val src = s"${tmp("fold")}/src"
    batch(2).write.parquet(src)
    val empty = spark.read.parquet(src).where($"seq" < 0L)
    val scanned = groupsOf(Applier.applyBatch(spark, empty, dir))
    assert(scanned.size == 1, s"$scanned")
    assert(files == before)
    assert(served(dir) == replay(1))
    // nor does an empty first batch birth a state
    val fresh = s"${tmp("fold")}/state"
    Applier.applyBatch(spark, empty, fresh)
    assert(Applier.snapshot(spark, fresh).isEmpty)
  }

  test("building the snapshot frame runs no job; its schema and rows are the stored ones") {
    val dir = s"${tmp("fold")}/state"
    applyAll(dir, 0, Every + 2)
    var df: DataFrame = null
    val jobs = groupsOf { df = Applier.snapshot(spark, dir).get }
    assert(jobs.isEmpty, s"building the snapshot frame ran jobs: $jobs")
    val t = VersionedStore.tableRoot(dir)
    val inferred = spark.read.parquet(s"$t/snapshot").schema
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      inferred.map(f => (f.name, f.dataType)))
    assert(rows(df) == replay(Every + 1))
  }
}
