package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.pipeline.{Retrieval, Tombstones, VersionedStore}

/** Store tables are read with declared schemas. Each declared schema
  * must match what its real writer produces (a drift guard), and an
  * index-served search must run without a single Parquet
  * schema-inference job. */
class StoreSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private val docs = Seq((0L, "apple banana apple"), (1L, "banana cherry"),
    (2L, "durian elderberry fig grape"), (3L, "apple"), (4L, "cherry fig"))

  private def fields(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => f.name -> f.dataType)

  /** The schema Spark infers from the files under `path`, without the
    * `batch` partition column (which partition discovery supplies to
    * declared-schema reads too). */
  private def inferred(path: String): Seq[(String, DataType)] =
    fields(spark.read.parquet(path).schema).filterNot(_._1 == "batch")

  test("declared store schemas match what the real writers produce") {
    val flat = tmp("schema")
    Retrieval.writePostingsIndex(docs.toDF("doc_id", "text"), flat)
    val flatRoot = VersionedStore.tableRoot(flat)
    assert(inferred(s"$flatRoot/postings") == fields(Retrieval.PostingsSchema))
    assert(inferred(s"$flatRoot/doclens") == fields(Retrieval.DocLensSchema))

    val batched = tmp("schema")
    Retrieval.writePostingsIndex(docs.take(3).toDF("doc_id", "text"),
      batched, batchId = Some(0L))
    Retrieval.appendToPostingsIndexBatch(docs.drop(3).toDF("doc_id", "text"),
      batched, batchId = 1L)
    val batchedRoot = VersionedStore.tableRoot(batched)
    for (t <- Seq("postings", "doclens")) {
      val declared = if (t == "postings") Retrieval.PostingsSchema
        else Retrieval.DocLensSchema
      // the whole table (batch 0 from the publish, batch 1 from the
      // append), and the append's own batch dir alone
      assert(spark.read.parquet(s"$batchedRoot/$t").columns.contains("batch"))
      assert(inferred(s"$batchedRoot/$t") == fields(declared), t)
      assert(inferred(s"$batchedRoot/$t/batch=1") == fields(declared), t)
    }

    // takedowns: the per-generation overlay of a versioned root (the
    // only place a takedown records)
    Retrieval.tombstoneDocs(spark, batched, Seq(3L))
    assert(inferred(s"$batchedRoot/tombstones") == fields(Tombstones.Schema))
  }

  test("index-served BM25 over a batch-addressed store runs no inference job") {
    val dir = tmp("searchjobs")
    Retrieval.writePostingsIndex(docs.take(3).toDF("doc_id", "text"), dir,
      batchId = Some(0L))
    Retrieval.appendToPostingsIndexBatch(docs.drop(3).toDF("doc_id", "text"),
      dir, batchId = 1L)
    Retrieval.tombstoneDocs(spark, dir, Seq(2L))
    def search() = Retrieval.bm25TopKFromIndex(
      Retrieval.readPostingsIndex(spark, dir),
      Retrieval.readDocLengths(spark, dir), Seq("apple", "cherry"), k = 3)
      .collect()
    search() // warm: the counted run below is a steady-state search
    val tag = "graft.spec.search"
    val stages = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(tag) != null))
          stages.add(js.stageInfos.map(_.name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "1")
      val rows = try search() finally sc.setLocalProperty(tag, null)
      val live = docs.filterNot(_._1 == 2L).toDF("doc_id", "text")
      assert(rows.toSeq == Retrieval.bm25TopK(live, Seq("apple", "cherry"),
        k = 3).collect().toSeq)
      Thread.sleep(1000) // listener events post asynchronously
      val jobs = stages.asScala.toSeq
      val inference = jobs.flatten.filter(_.startsWith("parquet at"))
      assert(inference.isEmpty,
        s"schema-inference jobs on the serving path: $inference")
      // 8 jobs; with inferring reads and a second postings scan, 16
      assert(jobs.size <= 8, s"${jobs.size} jobs for one search: $jobs")
    } finally sc.removeSparkListener(listener)
  }
}
