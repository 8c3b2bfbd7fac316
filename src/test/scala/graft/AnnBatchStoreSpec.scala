package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, StoreFsck, VersionedStore}

/** Replay idempotency for the batch-addressed ANN-family stores: a
  * foreachBatch retry (at-least-once delivery) must OVERWRITE its own
  * `batch=<id>` partial instead of double-appending cell/code rows —
  * the `appendToPostingsIndexBatch` discipline extended to the IVF, PQ
  * and IVF-PQ stores. Each spec runs the same batch twice and asserts
  * store state AND served top-k are identical — prevention, where the
  * fsck `duplicate_*` rows only detect. Reference analogue: the
  * dispatcher's rollback/replay contract assumes idempotent
  * application (GenericDispatcher.java:551,921). */
class AnnBatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  // deterministic 8-dim corpus, pairwise distinct (13i mod 97 is
  // injective over the id range — no accidental twins)
  private def vec(i: Long): Array[Float] =
    Array.tabulate(8)(d => ((i * 13 + d * d) % 97 + 1).toFloat)

  private def base = (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
  // batch 1: exact twins of ids 0..5 under shifted ids (planted rank-1)
  private def twins =
    (0L until 6L).map(i => (i + 1000L, vec(i))).toDF("id", "vec")
  private def queries = (0L until 6L).map(i => (i, vec(i))).toDF("id", "vec")
  private def corpus = base.unionByName(twins)

  test("IVF store: a replayed batch append overwrites its own partial") {
    val dir = s"${tmp("annb")}/index"
    Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    val once = Ann.readCells(spark, dir).collect().toSet
    val servedOnce = Ann.ivfQuantizedTopKFromStore(
      queries, corpus, dir, k = 3, nProbe = 4).collect().toSet
    // REPLAY batch 1 (the at-least-once retry): same rows, not doubled
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    assert(Ann.readCells(spark, dir).collect().toSet == once,
      "a replayed batch must leave the store bit-identical")
    assert(!Ann.readCells(spark, dir).columns.contains("batch"),
      "the batch partition column is layout, not data")
    val fsck = StoreFsck.annStore(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(fsck("duplicate_cell_rows") == 0L, fsck.toString)
    assert(Ann.ivfQuantizedTopKFromStore(
      queries, corpus, dir, k = 3, nProbe = 4).collect().toSet == servedOnce)
    // twin still rank-1 at cosine 1.0 through the replay
    val r1 = Ann.ivfQuantizedTopKFromStore(queries, corpus, dir,
        k = 3, nProbe = 4)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 6L).foreach(q => assert(r1(q) == q + 1000L, s"query $q"))
  }

  test("IVF store: compaction preserves the batch HISTORY and appendability") {
    val dir = s"${tmp("annb")}/index"
    Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    Ann.tombstoneVectors(spark, dir, Seq(11L))
    Ann.compactIndexCells(spark, dir)
    assert(Ann.readCells(spark, dir).select("id").as[Long]
      .collect().toSet ==
      ((0L until 11L) ++ (1000L until 1006L)).toSet)
    // the rewrite preserved each row's batch identity (NOT a rollup):
    // an as-of pin recorded before the GC still reads exactly the
    // batch-0 state — a rollup would silently pull batch 1 under it
    assert(Ann.readCells(spark, dir, asOfBatch(dir, 0L))
      .select("id").as[Long]
      .collect().toSet == (0L until 11L).toSet,
      "compaction must not move rows under earlier as-of pins")
    // later batches keep landing in their own subdirs; replay is still
    // an overwrite after the GC
    Ann.appendToIndexBatch(twins, dir, batchId = 2L)
    Ann.appendToIndexBatch(twins, dir, batchId = 2L) // replay after GC
    assert(Ann.readCells(spark, dir).count() == 11L + 6L + 6L)
    val fsck = StoreFsck.annStore(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(fsck("vectors_in_multiple_cells") == 0L, fsck.toString)
  }

  test("batched compactions are narrow: no batch dir gains files; live rows and a pinned answer hold") {
    import graft.pipeline.StoreFs
    for (ivfPq <- Seq(false, true)) {
      val dir = s"${tmp("annb")}/narrow"
      if (ivfPq) {
        Ann.writeIvfPqIndex(base, dir, k = 3, m = 4, ksub = 4, iters = 2,
          batchId = Some(0L))
        Ann.appendToIvfPqIndexBatch(twins, dir, batchId = 1L)
      } else {
        Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
        Ann.appendToIndexBatch(twins, dir, batchId = 1L)
      }
      Ann.tombstoneVectors(spark, dir, Seq(11L, 1002L))
      def files(): Map[Long, Int] = {
        val t = VersionedStore.tableRoot(dir)
        VersionedStore.batchIdsOf(s"$t/cells").map(b => b ->
          StoreFs.listNames(s"$t/cells/batch=$b")
            .count(_.endsWith(".parquet"))).toMap
      }
      def served(at: Option[VersionedStore.Pin]) =
        (if (ivfPq) Ann.ivfPqTopKFromStore(queries, corpus, dir, k = 3,
          nProbe = 3, at = at)
        else Ann.ivfQuantizedTopKFromStore(queries, corpus, dir, k = 3,
          nProbe = 4, at = at)).collect().toSet
      val before = files()
      val cells = Ann.readCells(spark, dir).collect().toSet
      val pin = VersionedStore.pin(dir)
      val answer = served(Some(pin))
      if (ivfPq) Ann.compactIvfPqIndex(spark, dir, keepGenerations = 1)
      else Ann.compactIndexCells(spark, dir, keepGenerations = 1)
      val after = files()
      assert(after.keySet == before.keySet, s"ivfPq=$ivfPq: $after vs $before")
      after.foreach { case (b, n) =>
        assert(n <= before(b),
          s"ivfPq=$ivfPq: batch=$b holds $n files, ${before(b)} before")
      }
      assert(Ann.readCells(spark, dir).collect().toSet == cells, s"ivfPq=$ivfPq")
      assert(!Ann.readCells(spark, dir).select("id").as[Long].collect()
        .exists(Set(11L, 1002L)), s"ivfPq=$ivfPq")
      // the captured pin (its generation retained) and the same batch cut
      // of the compacted head serve the same answer
      assert(VersionedStore.currentGen(dir).exists(_ > pin.gen))
      assert(served(Some(pin)) == answer, s"ivfPq=$ivfPq")
      assert(served(Some(VersionedStore.Pin(VersionedStore.currentGen(dir).get,
        pin.maxBatch))) == answer, s"ivfPq=$ivfPq")
    }
  }

  test("layout guards: mixed flat/batch writes and batch-store rewrites refuse loudly") {
    // a blind append into a batch-addressed store (or a batch append
    // into a flat one) would succeed and then break every later read at
    // partition discovery — the guards refuse at write time
    val batched = s"${tmp("annb")}/guards"
    Ann.writeIndex(base, batched, k = 4, iters = 2, batchId = Some(0L))
    intercept[IllegalArgumentException] {
      Ann.appendToIndex(twins, batched)
    }
    val flat = s"${tmp("annb")}/guardsflat"
    Ann.writeIndex(base, flat, k = 4, iters = 2)
    intercept[IllegalArgumentException] {
      Ann.appendToIndexBatch(twins, flat, batchId = 1L)
    }
    // assignment rewrites refuse batch-addressed stores (rotation is
    // their maintenance op — preserving the batch column would still
    // change what a pinned read retrieves)
    intercept[IllegalArgumentException] {
      Ann.rebalanceCells(spark, batched, base, maxCellSize = 1L)
    }
    intercept[IllegalArgumentException] {
      Ann.mergeCells(spark, batched, base, minCellSize = 100L)
    }
    // the PQ pairs carry the same guards
    val pq = s"${tmp("annb")}/guardspq"
    Ann.writePqIndex(base, pq, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    intercept[IllegalArgumentException] {
      Ann.appendToPqIndex(twins, pq)
    }
    val ivfpq = s"${tmp("annb")}/guardsivfpq"
    Ann.writeIvfPqIndex(base, ivfpq, k = 3, m = 4, ksub = 4, iters = 2)
    intercept[IllegalArgumentException] {
      Ann.appendToIvfPqIndexBatch(twins, ivfpq, batchId = 1L)
    }
  }

  test("PQ store: a replayed batch append overwrites its own partial") {
    val dir = s"${tmp("annb")}/pq"
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    Ann.appendToPqIndexBatch(twins, dir, batchId = 1L)
    val once = Ann.readPqCodes(spark, dir).collect().toSet
    Ann.appendToPqIndexBatch(twins, dir, batchId = 1L)
    assert(Ann.readPqCodes(spark, dir).collect().toSet == once)
    assert(!Ann.readPqCodes(spark, dir).columns.contains("batch"))
    val fsck = StoreFsck.pqStore(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(fsck("duplicate_code_ids") == 0L, fsck.toString)
    val r1 = Ann.pqTopKFromStore(queries, corpus, dir, k = 3)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 6L).foreach(q => assert(r1(q) == q + 1000L, s"query $q"))
    // compaction keeps the layout; the store stays appendable after
    Ann.compactPqIndex(spark, dir)
    Ann.appendToPqIndexBatch(twins, dir, batchId = 2L)
    Ann.appendToPqIndexBatch(twins, dir, batchId = 2L)
    assert(Ann.readPqCodes(spark, dir).count() == once.size + 6L)
  }

  test("IVF-PQ store: a replayed batch append overwrites its own partial") {
    val dir = s"${tmp("annb")}/ivfpq"
    Ann.writeIvfPqIndex(base, dir, k = 4, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    Ann.appendToIvfPqIndexBatch(twins, dir, batchId = 1L)
    val t = VersionedStore.tableRoot(dir)
    val once = spark.read.parquet(s"$t/cells").drop("batch")
      .collect().toSet
    val servedOnce = Ann.ivfPqTopKFromStore(
      queries, corpus, dir, k = 3, nProbe = 4).collect().toSet
    Ann.appendToIvfPqIndexBatch(twins, dir, batchId = 1L)
    assert(spark.read.parquet(s"$t/cells").drop("batch")
      .collect().toSet == once)
    val fsck = StoreFsck.pqStore(spark, dir, "cells")
      .as[(String, Long)].collect().toMap
    assert(fsck("duplicate_code_ids") == 0L, fsck.toString)
    assert(Ann.ivfPqTopKFromStore(
      queries, corpus, dir, k = 3, nProbe = 4).collect().toSet == servedOnce)
    val r1 = Ann.ivfPqTopKFromStore(queries, corpus, dir, k = 3, nProbe = 4)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 6L).foreach(q => assert(r1(q) == q + 1000L, s"query $q"))
    // compaction keeps the layout; replayed post-GC appends stay exact
    Ann.compactIvfPqIndex(spark, dir)
    Ann.appendToIvfPqIndexBatch(twins, dir, batchId = 2L)
    Ann.appendToIvfPqIndexBatch(twins, dir, batchId = 2L)
    assert(spark.read.parquet(s"${VersionedStore.tableRoot(dir)}/cells")
      .count() == once.size + 6L)
  }

  test("as-of reads pin the append history, never the delete history") {
    val dir = s"${tmp("annb")}/asof"
    Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    // pin at batch 0: the later twins' files are partition-pruned out
    assert(Ann.readCells(spark, dir, asOfBatch(dir, 0L))
      .select("id").as[Long]
      .collect().toSet == (0L until 12L).toSet)
    assert(Ann.readCells(spark, dir, asOfBatch(dir, 1L)).count() == 18L)
    // the pinned retrieval ignores the later batch: rank-1 for query 0
    // is a real neighbor, not its (batch-1) twin
    val pinned = Ann.ivfQuantizedTopKFromStore(queries, corpus, dir,
        k = 3, nProbe = 4, at = asOfBatch(dir, 0L))
      .where(col("rank") === 1).select("neighbor_id").as[Long]
      .collect().toSet
    assert(pinned.forall(_ < 1000L), pinned.toString)
    // a takedown recorded AFTER the pin still erases from it — as-of
    // pins appends, never deletes (legal erasure is not resurrectable)
    Ann.tombstoneVectors(spark, dir, Seq(2L))
    assert(!Ann.readCells(spark, dir, asOfBatch(dir, 0L))
      .select("id").as[Long]
      .collect().contains(2L))
    // a flat (non-batch-addressed) store has no pinnable history and
    // must refuse loudly, not silently serve everything
    val flat = s"${tmp("annb")}/asofflat"
    Ann.writeIndex(base, flat, k = 4, iters = 2)
    intercept[IllegalArgumentException] {
      Ann.readCells(spark, flat, asOfBatch(flat, 0L))
    }

    // the PQ families pin identically (frozen quantizers: the pinned
    // state is exactly what the store served at that batch)
    val pq = s"${tmp("annb")}/pqasof"
    Ann.writePqIndex(base, pq, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    Ann.appendToPqIndexBatch(twins, pq, batchId = 1L)
    assert(Ann.readPqCodes(spark, pq, asOfBatch(pq, 0L)).count() == 12L)
    assert(Ann.pqTopKFromStore(queries, corpus, pq, k = 3,
        at = asOfBatch(pq, 0L))
      .where(col("rank") === 1).select("neighbor_id").as[Long]
      .collect().forall(_ < 1000L))
    val ivfpq = s"${tmp("annb")}/ivfpqasof"
    Ann.writeIvfPqIndex(base, ivfpq, k = 3, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    Ann.appendToIvfPqIndexBatch(twins, ivfpq, batchId = 1L)
    assert(Ann.ivfPqTopKFromStore(queries, corpus, ivfpq, k = 3,
        nProbe = 3, at = asOfBatch(ivfpq, 0L))
      .where(col("rank") === 1).select("neighbor_id").as[Long]
      .collect().forall(_ < 1000L))
    assert(Ann.ivfPqTopKFromStore(queries, corpus, ivfpq, k = 3,
        nProbe = 3)
      .where(col("rank") === 1).select("neighbor_id").as[Long]
      .collect().forall(_ >= 1000L),
      "the head read must serve the later twins the pin excludes")
  }

  test("unified pin: one (gen, maxBatch) token replays across later appends AND a later publish") {
    val dir = s"${tmp("annb")}/pin"
    Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    val pin = VersionedStore.pin(dir)
    assert(pin.maxBatch.contains(1L), pin.toString)
    val laterTwins =
      (0L until 6L).map(i => (i + 500L, vec(i))).toDF("id", "vec")
    val corpus3 = corpus.unionByName(laterTwins)
    val pinnedBefore = Ann.ivfQuantizedTopKFromStore(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
    // BOTH axes move: a later append batch (lower-id twins that win the
    // cosine tie at head) and a later PUBLISH (compaction → fresh gen)
    Ann.appendToIndexBatch(laterTwins, dir, batchId = 2L)
    Ann.compactIndexCells(spark, dir, keepGenerations = 1)
    assert(VersionedStore.currentGen(dir).exists(_ > pin.gen),
      "compaction must have published past the pinned generation")
    val pinnedAfter = Ann.ivfQuantizedTopKFromStore(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
    assert(pinnedAfter == pinnedBefore,
      "the pin must replay the exact retrieval it captured")
    // pinned rank-1 = the +1000 twin; head rank-1 = the +500 tie-winner
    Ann.ivfQuantizedTopKFromStore(queries, corpus3, dir, k = 3, nProbe = 4,
        at = Some(pin))
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 1000L, s"pinned query $q") }
    Ann.ivfQuantizedTopKFromStore(queries, corpus3, dir, k = 3, nProbe = 4)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 500L, s"head query $q") }
    // erasure recorded AFTER the pin still holds under it (takedowns fan
    // into every retained generation — time travel never resurrects)
    Ann.tombstoneVectors(spark, dir, Seq(1000L))
    assert(!Ann.ivfQuantizedTopKFromStore(queries, corpus3, dir,
        k = 3, nProbe = 4, at = Some(pin))
      .select("neighbor_id").as[Long].collect().contains(1000L),
      "a takedown after the pin must still erase from the pinned read")
    // a pin whose generation gc retired fails LOUDLY with the NAMED
    // retention error (which pin, what the rule is) — never a raw
    // path-not-found from inside a scan, never a substitute
    VersionedStore.gc(dir, keep = 0)
    val e = intercept[IllegalStateException] {
      Ann.ivfQuantizedTopKFromStore(queries, corpus3, dir, k = 3,
        nProbe = 4, at = Some(pin))
    }
    assert(e.getMessage.contains("outlived retention"), e.getMessage)
    assert(e.getMessage.contains(s"gen=${pin.gen}"), e.getMessage)
    assert(e.getMessage.contains("registerPin"), e.getMessage)
  }

  test("PQ / IVF-PQ pinned servers resolve the PINNED generation's quantizers") {
    // PQ: pin, then a full RETRAIN on a shifted corpus publishes new
    // books — the pin must keep scoring its own generation's codes
    // under its own generation's books
    val dir = s"${tmp("annb")}/pinpq"
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    val pin = VersionedStore.pin(dir)
    assert(pin.maxBatch.contains(0L), pin.toString)
    val before = Ann.pqTopKFromStore(queries, base, dir, k = 3, at = Some(pin))
      .collect().toSet
    val shifted = (0L until 12L)
      .map(i => (i + 5000L, vec(i).map(_ + 500f))).toDF("id", "vec")
    Ann.writePqIndex(base.unionByName(shifted), dir, m = 4, ksub = 4,
      iters = 2, batchId = Some(0L))
    assert(VersionedStore.currentGen(dir).exists(_ > pin.gen))
    assert(Ann.pqTopKFromStore(queries, base, dir, k = 3, at = Some(pin))
      .collect().toSet == before,
      "the PQ pin must replay under its own generation's books")
    // IVF-PQ: pin before a later append batch; pinned excludes it
    val idir = s"${tmp("annb")}/pinivfpq"
    Ann.writeIvfPqIndex(base, idir, k = 3, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    Ann.appendToIvfPqIndexBatch(twins, idir, batchId = 1L)
    val ipin = VersionedStore.pin(idir)
    val laterTwins =
      (0L until 6L).map(i => (i + 500L, vec(i))).toDF("id", "vec")
    Ann.appendToIvfPqIndexBatch(laterTwins, idir, batchId = 2L)
    val corpus3 = corpus.unionByName(laterTwins)
    Ann.ivfPqTopKFromStore(queries, corpus3, idir, k = 3, nProbe = 3,
        at = Some(ipin))
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 1000L, s"pinned query $q") }
    Ann.ivfPqTopKFromStore(queries, corpus3, idir, k = 3, nProbe = 3)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 500L, s"head query $q") }
  }

  test("pqDrift refuses a mis-bound corpus instead of reporting fake drift") {
    val dir = s"${tmp("annb")}/pqbind"
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2)
    // same-size DIFFERENT-ids lake: the fingerprint checksum catches
    // it; drift is NOT measured (real error vs an unrelated baseline
    // is a confident nonsense verdict)
    val wrongIds =
      (100L until 112L).map(i => (i, vec(i))).toDF("id", "vec")
    val b = StoreFsck.pqDrift(spark, dir, wrongIds)
      .as[(String, Long)].collect().toMap
    assert(b("corpus_binding_mismatch") == 1L, b.toString)
    assert(b("adc_error_drift") == 0L && b("drift_unmeasurable") == 0L,
      b.toString)
    // a SHRUNK lake (fewer rows than trained) cannot be the train
    // corpus's superset — flagged before any measurement
    val s = StoreFsck.pqDrift(spark, dir, base.where(col("id") < 6))
      .as[(String, Long)].collect().toMap
    assert(s("corpus_binding_mismatch") == 1L, s.toString)
    // a wrong-DIM corpus is operator error: loud failure, not a finding
    val wrongDim = (0L until 12L)
      .map(i => (i, Array.tabulate(4)(d => (i + d + 1).toFloat)))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      StoreFsck.pqDrift(spark, dir, wrongDim)
    }
    assert(e.getMessage.contains("wrong corpus"), e.getMessage)
    // a fully-tombstoned code table has nothing to measure: its own
    // row, never a silently-healthy cur=0
    graft.pipeline.Tombstones.appendDf(base.select("id"), dir)
    val u = StoreFsck.pqDrift(spark, dir, base)
      .as[(String, Long)].collect().toMap
    assert(u("drift_unmeasurable") == 1L && u("adc_error_drift") == 0L,
      u.toString)
  }

  test("recall floors discriminate: a starved probe budget falls below them") {
    // the ORGANIC embedding corpus (what q_ann_recall measures on —
    // a synthetic line-structured corpus clusters each query's true
    // neighbors into its own cell and nProbe=1 looks spuriously good):
    // the floor must be a real gate — the serving budgets clear it, a
    // starved budget (nProbe=1 of 16, rerank=k) must NOT
    val all = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = all.where(col("id") < 10)
    val exact = Ann.bruteForceTopK(qs, all, k = 10)
    // ksub=2 with rerank=k: two centroids per 32-dim subspace is an ADC
    // that can barely rank, and a k-sized rerank pool cannot repair it
    val pqDir = s"${tmp("annb")}/starvedpq"
    Ann.writePqIndex(all, pqDir, m = 2, ksub = 2, iters = 2)
    val starved = Ann.recallAtK(
      Ann.pqTopKFromStore(qs, all, pqDir, k = 10, rerank = 10), exact)
    assert(starved < 0.74,
      s"ksub=2 recall $starved does not discriminate the pinned floors")
    // and the full-budget IVF path recovers brute force exactly —
    // probing every cell with an exact-size rerank IS the exact search
    val dir = graft.sources.WireFixtures.annOrganicIndexDir(spark, sf())
    val full = Ann.recallAtK(
      Ann.ivfQuantizedTopKFromStore(qs, all, dir, k = 10, nProbe = 16,
        rerank = 200), exact)
    assert(full > starved && full > 0.99,
      s"full-budget recall $full (starved $starved): probing every cell" +
        " with an exact-size rerank must recover brute force")
  }

  test("quantizer drift: a shifted append flips the fsck row; healthy appends measure the train baseline") {
    val dir = s"${tmp("annb")}/pqdrift"
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2)
    // healthy: twins encode identically to their originals — the live
    // error IS the train figure, ratio 1
    Ann.appendToPqIndex(twins, dir)
    val healthyCorpus = corpus
    val h = StoreFsck.pqDrift(spark, dir, healthyCorpus)
      .as[(String, Long)].collect().toMap
    assert(h("quantizer_stats_missing") == 0L, h.toString)
    assert(h("adc_error_drift") == 0L, h.toString)
    // DRIFT: a batch from a shifted distribution (far outside anything
    // the frozen books trained on) — reconstruction error explodes and
    // the retrain signal fires
    val shifted = (0L until 12L)
      .map(i => (i + 5000L, vec(i).map(_ + 500f)))
      .toDF("id", "vec")
    Ann.appendToPqIndex(shifted, dir)
    val d = StoreFsck.pqDrift(spark, dir, healthyCorpus.unionByName(shifted))
      .as[(String, Long)].collect().toMap
    assert(d("adc_error_drift") == 1L, d.toString)
    // IVF-PQ: same contract on the residual space
    val ivfDir = s"${tmp("annb")}/ivfpqdrift"
    Ann.writeIvfPqIndex(base, ivfDir, k = 3, m = 4, ksub = 4, iters = 2)
    val h2 = StoreFsck.pqDrift(spark, ivfDir, base, "cells")
      .as[(String, Long)].collect().toMap
    assert(h2("quantizer_stats_missing") == 0L && h2("adc_error_drift") == 0L,
      h2.toString)
    Ann.appendToIvfPqIndex(shifted, ivfDir)
    val d2 = StoreFsck.pqDrift(spark, ivfDir, base.unionByName(shifted),
        "cells")
      .as[(String, Long)].collect().toMap
    assert(d2("adc_error_drift") == 1L, d2.toString)
    // a pre-stats legacy store reports the missing baseline, not a crash
    val legacy = s"${tmp("annb")}/pqlegacy"
    Ann.writePqIndex(base, legacy, m = 4, ksub = 4, iters = 2)
    graft.pipeline.StoreFs.deleteRecursive(
      s"${VersionedStore.tableRoot(legacy)}/quant_stats")
    val l = StoreFsck.pqDrift(spark, legacy, base)
      .as[(String, Long)].collect().toMap
    assert(l("quantizer_stats_missing") == 1L && l("adc_error_drift") == 0L,
      l.toString)
  }

  test("cell fill skew: a hot-region append concentration flags the overfull cell") {
    val dir = s"${tmp("annb")}/skew"
    Ann.writeIndex(base, dir, k = 4, iters = 2)
    // factor must sit BELOW the cell count: with k cells the most
    // skewed state possible is one cell holding everything = k × mean,
    // so a factor ≥ k can never fire (the spec pins the audit's own
    // geometry constraint)
    val h = StoreFsck.cellFillSkew(spark, dir, factor = 3.0)
      .as[(String, Long)].collect().toMap
    assert(h("overfull_cells") == 0L, h.toString)
    // 200 near-identical vectors land in ONE cell (the argmin is
    // unmoved by a ±0.2 perturbation on coordinates spread over 1..97):
    // that cell now holds ~3.8× the diluted mean — the hot-region
    // append concentration rebalanceCells exists to repair
    val hot = (0L until 200L)
      .map(i => (10000L + i, vec(3).map(_ + 0.001f * i)))
      .toDF("id", "vec")
    Ann.appendToIndex(hot, dir)
    val s = StoreFsck.cellFillSkew(spark, dir, factor = 3.0)
      .as[(String, Long)].collect().toMap
    assert(s("overfull_cells") == 1L, s.toString)
  }

  test("serve-path dedup: a hand-planted double-coded id serves once per top-k") {
    // FLAT-file stores (no batchId) so the planted blind append mimics
    // the corruption the fsck duplicate rows flag — the serving paths
    // must still emit k DISTINCT neighbor ids (defense-in-depth: the
    // dedup rides the request-sized rerank-cut frame, never the scan)
    val dir = s"${tmp("annb")}/pqdup"
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2)
    val t = VersionedStore.tableRoot(dir)
    // plant: vector 1's code row appended a second time
    val dup = spark.read.parquet(s"$t/codes").where(col("id") === 1L)
    dup.write.mode("append").parquet(s"$t/codes")
    assert(StoreFsck.pqStore(spark, dir)
      .as[(String, Long)].collect().toMap.apply("duplicate_code_ids") == 1L)
    val served = Ann.pqTopKFromStore(queries, base, dir, k = 3)
    val perQuery = served.groupBy("query_id")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("neighbor_id")).as("d"))
      .as[(Long, Long, Long)].collect()
    perQuery.foreach { case (q, n, d) =>
      assert(n == 3L && d == 3L, s"query $q served $n rows, $d distinct")
    }

    val ivfDir = s"${tmp("annb")}/ivfpqdup"
    Ann.writeIvfPqIndex(base, ivfDir, k = 4, m = 4, ksub = 4, iters = 2)
    val it = VersionedStore.tableRoot(ivfDir)
    val idup = spark.read.parquet(s"$it/cells").where(col("id") === 1L)
    idup.write.mode("append").parquet(s"$it/cells")
    val iserved = Ann.ivfPqTopKFromStore(queries, base, ivfDir,
      k = 3, nProbe = 4)
    iserved.groupBy("query_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("neighbor_id")).as("d"))
      .as[(Long, Long, Long)].collect()
      .foreach { case (q, n, d) =>
        assert(n == 3L && d == 3L, s"query $q served $n rows, $d distinct")
      }
  }

  test("batch regime: shuffle-join serving is answer-identical to the" +
      " request-sized literal-pushdown regime") {
    val dir = s"${tmp("annb")}/regimes"
    Ann.writeIndex(corpus, dir, k = 4, iters = 2)
    // EVERY corpus vector as the query batch (the corpus-sized
    // annotation shape, minus the scale) — no planted contract here:
    // full top-k frames from both regimes, compared exactly. rerank
    // covers the whole fixture so the approx tie-break (which both
    // regimes share verbatim) cannot diverge on equal int8 scores
    val probe = corpus.select("id", "vec")
    val viaLiteral = Ann.ivfQuantizedTopKFromStore(
      probe, corpus, dir, k = 3, nProbe = 3, rerank = 50).collect().toSet
    val viaShuffle = Ann.ivfQuantizedTopKFromStoreBatch(
      probe, corpus, dir, k = 3, nProbe = 3, rerank = 50).collect().toSet
    assert(viaLiteral == viaShuffle,
      "the two serving regimes must be answer-identical")
    assert(viaLiteral.nonEmpty)
  }

  test("probe budget: an over-cap query batch fails loudly naming the" +
      " shuffle regime, instead of OOMing the driver") {
    val dir = s"${tmp("annb")}/cap"
    Ann.writeIndex(base, dir, k = 4, iters = 2)
    spark.conf.set(Ann.ProbeCapConf, "4")
    try {
      // 6 queries × nProbe 2 = 12 probe rows > cap 4
      val e = intercept[IllegalArgumentException] {
        Ann.ivfQuantizedTopKFromStore(queries, corpus, dir,
          k = 3, nProbe = 2).collect()
      }
      assert(e.getMessage.contains("graft.ann.maxProbeRows"), e.getMessage)
      assert(e.getMessage.contains("ivfQuantizedTopKFromStoreBatch"),
        "the guard must name the corpus-sized regime")
      // the shuffle regime is exactly the path the error points at —
      // it must serve the same request untouched by the cap
      assert(Ann.ivfQuantizedTopKFromStoreBatch(queries, corpus, dir,
        k = 3, nProbe = 2).collect().nonEmpty)
    } finally spark.conf.unset(Ann.ProbeCapConf)
    // cap restored: the request-sized path serves again
    assert(Ann.ivfQuantizedTopKFromStore(queries, corpus, dir,
      k = 3, nProbe = 2).collect().nonEmpty)
  }

  test("batch-regime parity: the raw-IVF and IVF-PQ families' shuffle" +
      " regimes are answer-identical to their request regimes") {
    // every family the seek path serves gets a scan path (reference:
    // BootstrapProcessor.java:122-160 iterates ALL sources) -- proven
    // the same way as the int8 regime: the WHOLE corpus as the query
    // batch, full top-k frames compared exactly
    val probe = corpus.select("id", "vec")
    val ivf = s"${tmp("annb")}/regimeivf"
    Ann.writeIndex(corpus, ivf, k = 4, iters = 2)
    val ivfLit = Ann.ivfTopKFromStore(
      probe, corpus, ivf, k = 3, nProbe = 3).collect().toSet
    val ivfShuf = Ann.ivfTopKFromStoreBatch(
      probe, corpus, ivf, k = 3, nProbe = 3).collect().toSet
    assert(ivfLit == ivfShuf, "raw-IVF regimes must be answer-identical")
    assert(ivfLit.nonEmpty)
    val ivfpq = s"${tmp("annb")}/regimeivfpq"
    Ann.writeIvfPqIndex(corpus, ivfpq, k = 4, m = 4, ksub = 4, iters = 2)
    val pqLit = Ann.ivfPqTopKFromStore(
      probe, corpus, ivfpq, k = 3, nProbe = 3, rerank = 50).collect().toSet
    val pqShuf = Ann.ivfPqTopKFromStoreBatch(
      probe, corpus, ivfpq, k = 3, nProbe = 3, rerank = 50).collect().toSet
    assert(pqLit == pqShuf, "IVF-PQ regimes must be answer-identical")
    assert(pqLit.nonEmpty)
  }

  test("probe budget guard names each family's OWN batch regime") {
    // the shared guard must never send an IVF-PQ caller to the int8
    // family's function (a regime that reads different tables) -- each
    // error names the caller's remedy, and that remedy serves the same
    // request untouched by the cap
    val ivf = s"${tmp("annb")}/capivf"
    Ann.writeIndex(base, ivf, k = 4, iters = 2)
    val ivfpq = s"${tmp("annb")}/capivfpq"
    Ann.writeIvfPqIndex(base, ivfpq, k = 4, m = 4, ksub = 4, iters = 2)
    spark.conf.set(Ann.ProbeCapConf, "4")
    try {
      val eIvf = intercept[IllegalArgumentException] {
        Ann.ivfTopKFromStore(queries, corpus, ivf, k = 3, nProbe = 2)
          .collect()
      }
      assert(eIvf.getMessage.contains(" ivfTopKFromStoreBatch,"),
        eIvf.getMessage)
      assert(!eIvf.getMessage.contains("ivfQuantized"), eIvf.getMessage)
      assert(Ann.ivfTopKFromStoreBatch(queries, corpus, ivf,
        k = 3, nProbe = 2).collect().nonEmpty)
      val ePq = intercept[IllegalArgumentException] {
        Ann.ivfPqTopKFromStore(queries, corpus, ivfpq, k = 3, nProbe = 2)
          .collect()
      }
      assert(ePq.getMessage.contains(" ivfPqTopKFromStoreBatch,"),
        ePq.getMessage)
      assert(Ann.ivfPqTopKFromStoreBatch(queries, corpus, ivfpq,
        k = 3, nProbe = 2).collect().nonEmpty)
    } finally spark.conf.unset(Ann.ProbeCapConf)
  }

  test("probe cap conf: malformed and overflow values fail loudly, never as raw parse/plan errors") {
    val dir = s"${tmp("annb")}/capconf"
    Ann.writeIndex(base, dir, k = 4, iters = 2)
    def serve() = Ann.ivfQuantizedTopKFromStore(
      queries, corpus, dir, k = 3, nProbe = 2).collect()
    // malformed: the NAMED conf error, not a NumberFormatException
    spark.conf.set(Ann.ProbeCapConf, "lots")
    try {
      val e = intercept[IllegalArgumentException] { serve() }
      assert(e.getMessage.contains(Ann.ProbeCapConf), e.getMessage)
    } finally spark.conf.unset(Ann.ProbeCapConf)
    // non-positive: same named refusal
    spark.conf.set(Ann.ProbeCapConf, "0")
    try {
      val e = intercept[IllegalArgumentException] { serve() }
      assert(e.getMessage.contains(Ann.ProbeCapConf), e.getMessage)
    } finally spark.conf.unset(Ann.ProbeCapConf)
    // past Int.MaxValue: clamped -- cap+1 must not overflow limit()
    // into a negative (a conf whose purpose is a loud error must not
    // produce a confusing plan failure instead)
    spark.conf.set(Ann.ProbeCapConf, "9999999999")
    try assert(serve().nonEmpty)
    finally spark.conf.unset(Ann.ProbeCapConf)
  }

  test("pinned BATCH serving: the shuffle regime replays a pin across later appends AND a later publish") {
    // the composition of the two round-14 features: the batch regime's
    // stated user (a lake-annotation job) is exactly the long-running
    // training-shaped consumer pins exist for
    val dir = s"${tmp("annb")}/batchpin"
    Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    val pin = VersionedStore.pin(dir)
    val laterTwins =
      (0L until 6L).map(i => (i + 500L, vec(i))).toDF("id", "vec")
    val corpus3 = corpus.unionByName(laterTwins)
    val before = Ann.ivfQuantizedTopKFromStoreBatch(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
    // regime-identity under the pin too: pinned-batch == pinned-request
    assert(before == Ann.ivfQuantizedTopKFromStore(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet,
      "pinned shuffle and pinned request regimes must answer identically")
    // BOTH time-travel axes move: a later append, then a publish
    Ann.appendToIndexBatch(laterTwins, dir, batchId = 2L)
    Ann.compactIndexCells(spark, dir, keepGenerations = 1)
    assert(Ann.ivfQuantizedTopKFromStoreBatch(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
      == before, "the pinned batch read must replay exactly")
    // pinned rank-1 = the +1000 twin; the HEAD batch read serves the
    // +500 tie-winner (lowest cosine-1.0 id)
    Ann.ivfQuantizedTopKFromStoreBatch(queries, corpus3, dir, k = 3,
        nProbe = 4)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 500L, s"head query $q") }
    // IVF-PQ: the compressed tier composes the same way
    val idir = s"${tmp("annb")}/batchpinivfpq"
    Ann.writeIvfPqIndex(base, idir, k = 3, m = 4, ksub = 4, iters = 2,
      batchId = Some(0L))
    Ann.appendToIvfPqIndexBatch(twins, idir, batchId = 1L)
    val ipin = VersionedStore.pin(idir)
    Ann.appendToIvfPqIndexBatch(laterTwins, idir, batchId = 2L)
    val ipinned = Ann.ivfPqTopKFromStoreBatch(
      queries, corpus3, idir, k = 3, nProbe = 3, at = Some(ipin))
    assert(ipinned.collect().toSet == Ann.ivfPqTopKFromStore(
      queries, corpus3, idir, k = 3, nProbe = 3, at = Some(ipin))
      .collect().toSet)
    ipinned.where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 1000L, s"pinned query $q") }
    Ann.ivfPqTopKFromStoreBatch(queries, corpus3, idir, k = 3, nProbe = 3)
      .where(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .foreach { case (q, n) => assert(n == q + 500L, s"head query $q") }
    // a retired pin fails through the batch path with the same NAMED
    // retention error as the request path
    VersionedStore.gc(dir, keep = 0)
    val e = intercept[IllegalStateException] {
      Ann.ivfQuantizedTopKFromStoreBatch(queries, corpus3, dir,
        k = 3, nProbe = 4, at = Some(pin))
    }
    assert(e.getMessage.contains("outlived retention"), e.getMessage)
    assert(e.getMessage.contains("Ann.ivfQuantizedTopKFromStoreBatch:"),
      e.getMessage)
  }

  test("raw-IVF pin parity: the float-precision tier pins in BOTH regimes") {
    // the rerank tier: a job that pins its quantized retrieval but
    // reranks on raw IVF must not see the head move mid-epoch — the
    // last cells of the 3-family × {request,batch} × {head,pinned}
    // serving matrix
    val dir = s"${tmp("annb")}/rawpin"
    Ann.writeIndex(base, dir, k = 4, iters = 2, batchId = Some(0L))
    Ann.appendToIndexBatch(twins, dir, batchId = 1L)
    val pin = VersionedStore.pin(dir)
    val laterTwins =
      (0L until 6L).map(i => (i + 500L, vec(i))).toDF("id", "vec")
    val corpus3 = corpus.unionByName(laterTwins)
    val reqBefore = Ann.ivfTopKFromStore(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
    val batchBefore = Ann.ivfTopKFromStoreBatch(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
    assert(reqBefore == batchBefore,
      "pinned request and pinned shuffle regimes must answer identically")
    // BOTH time-travel axes move: a later append, then a publish
    Ann.appendToIndexBatch(laterTwins, dir, batchId = 2L)
    Ann.compactIndexCells(spark, dir, keepGenerations = 1)
    assert(Ann.ivfTopKFromStore(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
      == reqBefore, "the pinned request read must replay exactly")
    assert(Ann.ivfTopKFromStoreBatch(
      queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))
      .collect().toSet
      == batchBefore, "the pinned batch read must replay exactly")
    // pinned rank-1 = the +1000 twin (batch 2 pruned); head rank-1 =
    // the +500 tie-winner (exact tie-break keeps the smallest id)
    Seq(reqBefore, batchBefore).foreach(_.foreach { r =>
      if (r.getInt(2) == 1)
        assert(r.getLong(1) == r.getLong(0) + 1000L, r.toString)
    })
    Seq(
      Ann.ivfTopKFromStore(queries, corpus3, dir, k = 3, nProbe = 4),
      Ann.ivfTopKFromStoreBatch(queries, corpus3, dir, k = 3, nProbe = 4))
      .foreach(_.where(col("rank") === 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .foreach { case (q, n) => assert(n == q + 500L, s"head query $q") })
    // a retired pin fails with the NAMED retention error in both regimes
    VersionedStore.gc(dir, keep = 0)
    Seq(
      ("Ann.ivfTopKFromStore:", () => Ann.ivfTopKFromStore(
        queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))),
      ("Ann.ivfTopKFromStoreBatch:",
        () => Ann.ivfTopKFromStoreBatch(
          queries, corpus3, dir, k = 3, nProbe = 4, at = Some(pin))))
      .foreach { case (who, serve) =>
        val e = intercept[IllegalStateException] { serve() }
        assert(e.getMessage.contains("outlived retention"), e.getMessage)
        assert(e.getMessage.contains(who), e.getMessage)
      }
  }
}
