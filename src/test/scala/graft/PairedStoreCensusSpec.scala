package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, Dedup, Retrieval, StoreFs, VersionedStore}

/** Census of every public paired-store writer (postings + doclens,
  * sigs + banded, codebook + cells): started from an absent root where
  * the writer can create a store, and from a versioned root, each call
  * must leave a VERSIONED store — a store is born by publish, and every
  * rewrite commits through publish + gc — with no table dir outside
  * `gen-*`. A legacy flat root is refused by every compaction. */
class PairedStoreCensusSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): String =
    s"${java.nio.file.Files.createTempDirectory(prefix)}/store"

  private val docs = Seq(
    (0L, "alpha table value beta"),
    (1L, "table value table value"),
    (2L, "gamma table value"),
    (3L, "no phrase here at all"),
    (4L, "table value ends this"),
    (5L, "delta epsilon zeta"),
    (6L, "the of data table value")
  ).toDF("doc_id", "text")

  private def versionedOnly(root: String, who: String): Unit = {
    assert(VersionedStore.isVersioned(root), s"$who left $root unversioned")
    val outside = StoreFs.listDirNames(root).filterNot(_.startsWith("gen-"))
    assert(outside.isEmpty, s"$who left table dirs outside gen-*: $outside")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("postings build and compaction leave a versioned store") {
    val built = fresh("census")
    Retrieval.writePostingsIndex(docs, built)
    versionedOnly(built, "writePostingsIndex (absent)")
    Retrieval.writePostingsIndex(docs, built)
    versionedOnly(built, "writePostingsIndex (versioned)")
    Retrieval.compactPostingsIndex(spark, built)
    versionedOnly(built, "compactPostingsIndex (versioned)")
  }

  test("appendToPostingsIndex: the first append publishes generation 1") {
    val built = fresh("census")
    Retrieval.writePostingsIndex(docs, built)
    // a trickle store is BORN by its first append: generation 1 holds
    // the batch, later batches land inside it
    val trickle = fresh("census")
    Retrieval.appendToPostingsIndex(docs.where(col("doc_id") < 4), trickle)
    versionedOnly(trickle, "appendToPostingsIndex (absent)")
    assert(VersionedStore.currentGen(trickle).contains(1L))
    Retrieval.appendToPostingsIndex(docs.where(col("doc_id") >= 4), trickle)
    versionedOnly(trickle, "appendToPostingsIndex (versioned)")
    assert(VersionedStore.currentGen(trickle).contains(1L))
    assert(sameRows(Retrieval.readPostingsIndex(spark, trickle),
      Retrieval.readPostingsIndex(spark, built)))
    assert(sameRows(Retrieval.readDocLengths(spark, trickle),
      Retrieval.readDocLengths(spark, built)))
    Retrieval.compactPostingsIndex(spark, trickle)
    versionedOnly(trickle, "compactPostingsIndex (append-born)")
    assert(sameRows(Retrieval.readPostingsIndex(spark, trickle),
      Retrieval.readPostingsIndex(spark, built)))
  }

  test("appendToPostingsIndexBatch: the first batch publishes generation 1") {
    val stream = fresh("census")
    Retrieval.appendToPostingsIndexBatch(
      docs.where(col("doc_id") < 4), stream, batchId = 0)
    versionedOnly(stream, "appendToPostingsIndexBatch (absent)")
    assert(VersionedStore.currentGen(stream).contains(1L))
    Retrieval.appendToPostingsIndexBatch(
      docs.where(col("doc_id") >= 4), stream, batchId = 1)
    versionedOnly(stream, "appendToPostingsIndexBatch (versioned)")
    // the born generation carries the batch-addressed layout the append
    // writes, so the as-of pin cuts at the batch boundary
    assert(Retrieval.readPostingsIndex(spark, stream, asOfBatch(stream, 0L))
      .select("doc_id").distinct().as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L))
    Retrieval.tombstoneDocs(spark, stream, Seq(1L))
    Retrieval.compactPostingsIndex(spark, stream)
    versionedOnly(stream, "compactPostingsIndex (batch-addressed)")
    assert(Retrieval.readPostingsIndex(spark, stream, asOfBatch(stream, 0L))
      .select("doc_id").distinct().as[Long].collect().toSet ==
      Set(0L, 2L, 3L))
  }

  test("signature-store build and compaction leave a versioned store") {
    val built = fresh("census")
    Dedup.writeSignatureStore(docs, built)
    versionedOnly(built, "writeSignatureStore (absent)")
    Dedup.writeSignatureStore(docs, built)
    versionedOnly(built, "writeSignatureStore (versioned)")
    Dedup.compactSignatureStore(spark, built)
    versionedOnly(built, "compactSignatureStore (versioned)")
  }

  test("appendToSignatureStoreBatch: the first batch publishes generation 1") {
    val built = fresh("census")
    Dedup.writeSignatureStore(docs, built)
    val stream = fresh("census")
    Dedup.appendToSignatureStoreBatch(
      docs.where(col("doc_id") < 4), stream, batchId = 0)
    versionedOnly(stream, "appendToSignatureStoreBatch (absent)")
    assert(VersionedStore.currentGen(stream).contains(1L))
    Dedup.appendToSignatureStoreBatch(
      docs.where(col("doc_id") >= 4), stream, batchId = 1)
    versionedOnly(stream, "appendToSignatureStoreBatch (versioned)")
    assert(sameRows(Dedup.readSignatureStore(spark, stream),
      Dedup.readSignatureStore(spark, built)))
    assert(sameRows(Dedup.readBandedStore(spark, stream),
      Dedup.readBandedStore(spark, built)))
    assert(Dedup.readSignatureStore(spark, stream, asOfBatch(stream, 0L))
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
    Dedup.compactSignatureStore(spark, stream)
    versionedOnly(stream, "compactSignatureStore (batch-addressed)")
  }

  test("ANN writers and maintenance passes leave a versioned store") {
    // 4 orthogonal families of identical pairs: one cell per direction
    val base = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)), (3L, Seq(0f, 0f, 0f, 1f))).toDF("id", "vec")
    val twins = base.select((col("id") + 100L).as("id"), col("vec"))
    val all = base.unionByName(twins)

    val dir = fresh("census")
    Ann.writeIndex(base, dir, k = 4, iters = 2)
    versionedOnly(dir, "writeIndex (absent)")
    Ann.writeIndex(all, dir, k = 4, iters = 2)
    versionedOnly(dir, "writeIndex (versioned)")
    Ann.appendToIndex(base.select((col("id") + 200L).as("id"), col("vec")),
      dir)
    versionedOnly(dir, "appendToIndex (versioned)")
    Ann.tombstoneVectors(spark, dir, Seq(200L))
    Ann.compactIndexCells(spark, dir)
    versionedOnly(dir, "compactIndexCells (versioned)")
    val corpus = all.unionByName(
      base.select((col("id") + 200L).as("id"), col("vec")))
    assert(Ann.rebalanceCells(spark, dir, corpus, maxCellSize = 2L).nonEmpty)
    versionedOnly(dir, "rebalanceCells (versioned)")
    Ann.tombstoneVectors(spark, dir, Seq(3L, 103L, 203L))
    assert(Ann.mergeCells(spark, dir, corpus, minCellSize = 1L).nonEmpty)
    versionedOnly(dir, "mergeCells (versioned)")
    assert(Ann.readCells(spark, dir).select("id").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 100L, 101L, 102L, 201L, 202L))

    val stream = fresh("census")
    Ann.writeIndex(base, stream, k = 4, iters = 2, batchId = Some(0L))
    versionedOnly(stream, "writeIndex batch-addressed (absent)")
    Ann.appendToIndexBatch(twins, stream, batchId = 1L)
    versionedOnly(stream, "appendToIndexBatch (versioned)")
    Ann.compactIndexCells(spark, stream)
    versionedOnly(stream, "compactIndexCells (batch-addressed)")
    assert(Ann.readCells(spark, stream).count() == 8L)
  }

  test("compacting a legacy flat root refuses loudly, naming the rebuild") {
    // a LEGACY store of each compacting family: its table(s) flat at the
    // root, the layout written before generations existed
    val flat = Seq[(String, String => Unit, String => Unit)](
      ("compactPostingsIndex", { dir =>
        Retrieval.positionalPostings(docs).write.parquet(s"$dir/postings")
        Retrieval.docLengths(docs).write.parquet(s"$dir/doclens")
      }, Retrieval.compactPostingsIndex(spark, _)),
      ("QuantileStore.compact", { dir =>
        Seq(("a", 1L, 2L)).toDF("stratum", "bucket", "cnt")
          .write.parquet(s"$dir/batch=0")
      }, graft.pipeline.QuantileStore.compact(spark, _)),
      ("compactGramDfStore", { dir =>
        Seq(("g", 1L)).toDF("g", "df_part").write.parquet(s"$dir/batch=0")
      }, Dedup.compactGramDfStore(spark, _)),
      ("reclusterIfNeeded", { dir =>
        Seq((1L, 2L)).toDF("a", "b").write.parquet(dir)
      }, graft.pipeline.Layout.reclusterIfNeeded(spark, _, "a", "b",
        maxDepth = 1)))
    flat.foreach { case (who, plant, compact) =>
      val dir = fresh("census")
      plant(dir)
      val before = StoreFs.listFileStatusesRecursive(dir)
        .map(_.getPath.toString).toSet
      val e = intercept[IllegalArgumentException](compact(dir))
      assert(e.getMessage.contains("Rebuild it"), s"$who: ${e.getMessage}")
      assert(!VersionedStore.isVersioned(dir), who)
      assert(StoreFs.listFileStatusesRecursive(dir).map(_.getPath.toString)
        .filterNot(_.endsWith("_MAINTENANCE.lock")).toSet == before,
        s"$who touched the flat root")
    }
  }
}
