package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, Dedup, Retrieval, StoreFs, StoreFsck, Tombstones, VersionedStore}

/** Census of every public paired-store writer (postings + doclens,
  * sigs + banded, codebook + cells): started from an absent root where
  * the writer can create a store, and from a versioned root, each call
  * must leave a VERSIONED store — a store is born by publish, and every
  * rewrite commits through publish + gc — with no superseded flat dir
  * and no table dir outside `gen-*`. A legacy flat root migrates on its
  * next compaction exactly as a rebuild migrates it. */
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
    val vf = StoreFsck.versionedStore(spark, root)
      .as[(String, Long)].collect().toMap
    assert(vf("superseded_flat_dirs") == 0L, s"$who: $vf")
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
    assert(Retrieval.readPostingsIndexAsOf(spark, stream, 0L)
      .select("doc_id").distinct().as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L))
    Retrieval.tombstoneDocs(spark, stream, Seq(1L))
    Retrieval.compactPostingsIndex(spark, stream)
    versionedOnly(stream, "compactPostingsIndex (batch-addressed)")
    assert(Retrieval.readPostingsIndexAsOf(spark, stream, 0L)
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
    assert(Dedup.readSignatureStoreAsOf(spark, stream, 0L)
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

  test("compacting a legacy flat root migrates it: same live rows, takedown kept") {
    val dir = fresh("census")
    // a LEGACY store: flat tables at the root (the pre-generation
    // layout), plus a pending takedown recorded under it
    Retrieval.positionalPostings(docs).coalesce(1)
      .write.parquet(s"$dir/postings")
    Retrieval.docLengths(docs).coalesce(1).write.parquet(s"$dir/doclens")
    Tombstones.appendDf(Seq(1L).toDF("doc_id"), dir)
    assert(!VersionedStore.isVersioned(dir))
    val livePostings = Retrieval.readPostingsIndex(spark, dir)
      .collect().toSeq.map(_.toSeq)
    val liveDoclens = Retrieval.readDocLengths(spark, dir)
      .collect().toSeq.map(_.toSeq)
    assert(!livePostings.exists(_(1) == 1L))

    Retrieval.compactPostingsIndex(spark, dir)
    versionedOnly(dir, "compactPostingsIndex (legacy flat)")
    assert(Retrieval.readPostingsIndex(spark, dir).collect().toSeq
      .map(_.toSeq).sortBy(_.toString) == livePostings.sortBy(_.toString))
    assert(Retrieval.readDocLengths(spark, dir).collect().toSeq
      .map(_.toSeq).sortBy(_.toString) == liveDoclens.sortBy(_.toString))
    // the pending flat takedown was carried into the new generation's
    // overlay: a later append that re-indexes the erased id stays
    // filtered
    val gen = VersionedStore.tableRoot(dir)
    assert(Tombstones.readOpt(spark, gen).map(_.as[Long].collect().toSet)
      .contains(Set(1L)))
    Retrieval.appendToPostingsIndex(docs.where(col("doc_id") === 1L), dir)
    assert(!Retrieval.readDocLengths(spark, dir)
      .select("doc_id").as[Long].collect().contains(1L))
    assert(Retrieval.phraseSearch(Retrieval.readPostingsIndex(spark, dir),
        Seq("table", "value")).select("doc_id").as[Long].collect().toSet ==
      Set(0L, 2L, 4L, 6L))
  }
}
