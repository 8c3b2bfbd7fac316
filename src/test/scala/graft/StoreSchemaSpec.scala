package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.pipeline.{Ann, Dedup, Retrieval, Tombstones, VersionedStore}

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

  test("every serving reader of a batch-addressed store returns its table's data columns, never batch") {
    val postings = tmp("layout")
    Retrieval.writePostingsIndex(docs.take(3).toDF("doc_id", "text"),
      postings, batchId = Some(0L))
    Retrieval.appendToPostingsIndexBatch(docs.drop(3).toDF("doc_id", "text"),
      postings, batchId = 1L)
    val sigs = tmp("layout")
    Dedup.writeSignatureStore(docs.toDF("doc_id", "text"), sigs,
      batchId = Some(0L))
    val vecs = (0L until 8L)
      .map(i => (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toFloat)))
      .toDF("id", "vec")
    val ivf = tmp("layout")
    Ann.writeIndex(vecs, ivf, k = 2, iters = 1, batchId = Some(0L))
    val pq = tmp("layout")
    Ann.writePqIndex(vecs, pq, m = 2, ksub = 2, iters = 1, batchId = Some(0L))
    val ivfpq = tmp("layout")
    Ann.writeIvfPqIndex(vecs, ivfpq, k = 2, m = 2, ksub = 2, iters = 1,
      batchId = Some(0L))
    type Reader = Option[VersionedStore.Pin] => org.apache.spark.sql.DataFrame
    val readers: Seq[(String, String, String, Reader)] = Seq(
      ("Retrieval.readPostingsIndex", postings, "postings",
        at => Retrieval.readPostingsIndex(spark, postings, at)),
      ("Retrieval.readDocLengths", postings, "doclens",
        at => Retrieval.readDocLengths(spark, postings, at)),
      ("Dedup.readSignatureStore", sigs, "sigs",
        at => Dedup.readSignatureStore(spark, sigs, at)),
      ("Dedup.readBandedStore", sigs, "banded",
        at => Dedup.readBandedStore(spark, sigs, at)),
      ("Ann.readCells (IVF)", ivf, "cells",
        at => Ann.readCells(spark, ivf, at)),
      ("Ann.readPqCodes", pq, "codes", at => Ann.readPqCodes(spark, pq, at)),
      ("Ann.readCells (IVF-PQ)", ivfpq, "cells",
        at => Ann.readCells(spark, ivfpq, at)))
    for ((name, root, table, read) <- readers) {
      val tableDir = s"${VersionedStore.tableRoot(root)}/$table"
      assert(spark.read.parquet(tableDir).columns.contains("batch"),
        s"$name: the fixture must be batch-addressed")
      val data = inferred(tableDir).map(_._1)
      for (at <- Seq(None, Some(VersionedStore.pin(root))))
        assert(read(at).columns.toSeq == data, s"$name at $at")
    }
  }

  test("index-served BM25 over a batch-addressed store runs no inference job") {
    val dir = tmp("searchjobs")
    Retrieval.writePostingsIndex(docs.take(3).toDF("doc_id", "text"), dir,
      batchId = Some(0L))
    Retrieval.appendToPostingsIndexBatch(docs.drop(3).toDF("doc_id", "text"),
      dir, batchId = 1L)
    Retrieval.tombstoneDocs(spark, dir, Seq(2L))
    // the head, a captured pin, and an as-of-batch pin of the head: all
    // three read the declared schemas
    val pin = VersionedStore.pin(dir)
    val terms = Seq("apple", "cherry")
    def live(d: Seq[(Long, String)]) =
      Retrieval.bm25TopK(d.filterNot(_._1 == 2L).toDF("doc_id", "text"),
        terms, k = 3).collect().toSeq
    val searches: Seq[(String, () => org.apache.spark.sql.DataFrame,
        Seq[(Long, String)])] = Seq(
      ("head", () => Retrieval.bm25TopKFromIndex(
        Retrieval.readPostingsIndex(spark, dir),
        Retrieval.readDocLengths(spark, dir), terms, k = 3), docs),
      ("captured pin", () => Retrieval.bm25TopKFromStorePinned(spark, dir,
        pin, terms, k = 3), docs),
      ("as-of-batch pin", () => Retrieval.bm25TopKFromStorePinned(spark,
        dir, VersionedStore.Pin(pin.gen, Some(0L)), terms, k = 3),
        docs.take(3)))
    val tag = "graft.spec.search"
    val stages = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(tag) != null))
          stages.add(js.stageInfos.map(_.name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try for ((name, search, slice) <- searches) {
      search().collect() // warm: the counted run below is a steady-state search
      stages.clear()
      sc.setLocalProperty(tag, "1")
      val rows = try search().collect() finally sc.setLocalProperty(tag, null)
      assert(rows.toSeq == live(slice), name)
      Thread.sleep(1000) // listener events post asynchronously
      val jobs = stages.asScala.toSeq
      val inference = jobs.flatten.filter(_.startsWith("parquet at"))
      assert(inference.isEmpty,
        s"$name: schema-inference jobs on the serving path: $inference")
      // 8 jobs; with inferring reads and a second postings scan, 16
      assert(jobs.size <= 8, s"$name: ${jobs.size} jobs for one search: $jobs")
    } finally sc.removeSparkListener(listener)
  }
}
