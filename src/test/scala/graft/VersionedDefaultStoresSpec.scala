package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, Dedup, Retrieval, StoreFsck, Tombstones, VersionedStore}

/** The round-11 migration: the incumbent PAIRED stores publish through
  * [[VersionedStore]] generations BY DEFAULT — postings+doclens
  * (Retrieval.writePostingsIndex), sigs+banded (Dedup.writeSignatureStore),
  * codebook+cells (Ann.writeIndex). Their documented two-commit crash
  * windows are structurally impossible on the publish path, so these
  * specs assert the PREVENTION contract ("a crashed rebuild leaves the
  * OLD generation serving, bit-identically") rather than the old
  * detection contract ("fsck finds the torn pair") — exactly the switch
  * the consumers make in the reference, which move to a new consistent
  * state only at the recorded boundary, never mid-copy
  * (databus-bootstrap-common/.../BootstrapCheckpointHandler.java:103-203).
  */
class VersionedDefaultStoresSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val corpus = Seq(
    (0L, "alpha table value beta"),
    (1L, "table value table value"),
    (2L, "gamma table value"),
    (3L, "no phrase here at all"),
    (4L, "table value ends this"),
    (5L, "delta epsilon zeta"),
    (6L, "the of data table value"))

  private def docsDf = corpus.toDF("doc_id", "text")

  test("postings store: a crashed rebuild leaves the old generation serving") {
    val dir = s"${tmp("vdef")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    assert(VersionedStore.isVersioned(dir),
      "writePostingsIndex must publish through generations by default")
    val served = Retrieval.phraseSearch(
        Retrieval.readPostingsIndex(spark, dir), Seq("table", "value"))
      .select("doc_id").as[Long].collect().toSet
    assert(served == Set(0L, 1L, 2L, 4L, 6L))

    // a rebuild that crashes mid-write: tables down in the next gen dir,
    // marker missing, pointer unmoved. THE OLD PAIR KEEPS SERVING —
    // there is no state in which postings exist without their norms.
    val crashedGen = VersionedStore.currentGen(dir).get + 1
    Retrieval.positionalPostings(docsDf.limit(2))
      .write.parquet(s"$dir/gen-$crashedGen/postings")
    // (doclens never landed — the exact torn-pair state the flat layout
    // documented as its hazard)
    assert(Retrieval.phraseSearch(
        Retrieval.readPostingsIndex(spark, dir), Seq("table", "value"))
      .select("doc_id").as[Long].collect().toSet == served,
      "a crashed rebuild must be invisible to readers")
    // fsck accounts for the dead bytes; the PAIR findings stay zero
    val vf = StoreFsck.versionedStore(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(vf("incomplete_generations") == 1L)
    assert(StoreFsck.postingsStore(spark, dir)
      .where(col("n_bad") > 0).isEmpty,
      "current-generation tables must audit clean")
    // the next successful rebuild walks around the crashed dir
    Retrieval.writePostingsIndex(docsDf.where(col("doc_id") < 3), dir)
    assert(Retrieval.readDocLengths(spark, dir).count() == 3)
  }

  test("signature store: signed-but-never-banded cannot exist on the publish path") {
    val dir = s"${tmp("vdef")}/mh"
    Dedup.writeSignatureStore(docsDf, dir, k = 64, bands = 16)
    assert(VersionedStore.isVersioned(dir))
    val sigCount = Dedup.readSignatureStore(spark, dir).count()
    assert(sigCount == 7L &&
      Dedup.readBandedStore(spark, dir).count() == 7L * 16L)

    // crashed re-onboarding: sigs written, banded never landed, no
    // marker — the exact window StoreFsck.minhashStore's headline
    // finding detects on flat stores. Readers never see it.
    val crashedGen = VersionedStore.currentGen(dir).get + 1
    Dedup.minhashSignatures(docsDf.limit(2), "text", "doc_id", 3, 64)
      .write.parquet(s"$dir/gen-$crashedGen/sigs")
    assert(Dedup.readSignatureStore(spark, dir).count() == sigCount)
    val mh = StoreFsck.minhashStore(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(mh.values.forall(_ == 0L),
      s"current generation must audit clean (crashed publish is dead bytes): $mh")
    assert(StoreFsck.versionedStore(spark, dir)
      .as[(String, Long)].collect().toMap
      .apply("incomplete_generations") == 1L)
  }

  test("ANN store: crashed retrain leaves old codebook+cells pair serving") {
    val base = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)), (3L, Seq(0f, 0f, 0f, 1f)))
    val all = base.toDF("id", "vec")
    val withTwins = all.unionByName(
      all.select((col("id") + 100L).as("id"), col("vec")))
    val dir = s"${tmp("vdef")}/ann"
    Ann.writeIndex(withTwins, dir, k = 4, iters = 2)
    assert(VersionedStore.isVersioned(dir))
    def rank1 = Ann.ivfQuantizedTopKFromStore(all, withTwins, dir,
        k = 1, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val served = rank1
    assert(served == Map(0L -> 100L, 1L -> 101L, 2L -> 102L, 3L -> 103L))

    // crashed retrain: a NEW codebook lands, cells never do — the state
    // that would break probe accounting on a flat store. Invisible here.
    val crashedGen = VersionedStore.currentGen(dir).get + 1
    Seq((0L, Seq(9f, 9f, 9f, 9f))).toDF("id", "vec")
      .write.parquet(s"$dir/gen-$crashedGen/codebook")
    assert(rank1 == served, "crashed retrain must be invisible to serving")
    assert(StoreFsck.annStore(spark, dir).where(col("n_bad") > 0).isEmpty)
  }

  test("versioned takedown: O(request) overlay erases from current AND pinned generations") {
    val dir = s"${tmp("vdef")}/index"
    val R = Retrieval
    R.writePostingsIndex(docsDf.where(col("doc_id") < 4), dir) // gen 1
    R.writePostingsIndex(docsDf, dir) // gen 2
    val g1 = 1L
    // the erasure request: doc 1 leaves EVERY serving surface at once —
    // the current generation and the pinned one (time travel must not
    // resurrect erased docs)
    R.tombstoneDocs(spark, dir, Seq(1L))
    assert(!R.readPostingsIndex(spark, dir)
      .select("doc_id").as[Long].collect().toSet.contains(1L))
    val at1 = Some(VersionedStore.Pin(g1, None))
    assert(R.readDocLengths(spark, dir, at1)
      .select("doc_id").as[Long].collect().toSet == Set(0L, 2L, 3L))
    // ... while the overlay stays request-sized: stored tables untouched
    assert(spark.read.parquet(s"$dir/gen-$g1/doclens").count() == 4L)
    // physical purge rides the next live-row publish (compaction):
    // fresh generation, no overlay, erased rows gone from raw bytes
    R.compactPostingsIndex(spark, dir)
    val gen = VersionedStore.tableRoot(dir)
    assert(Tombstones.readOpt(spark, gen).isEmpty)
    assert(spark.read.parquet(s"$gen/doclens")
      .where(col("doc_id") === 1L).isEmpty)
    // and the retired generations (including the pinned one) are gone —
    // gc bounds how long any pre-takedown bytes exist
    assert(intercept[IllegalStateException] {
      R.readDocLengths(spark, dir, at1)
    }.getMessage.contains("outlived retention"))
  }

  test("retrieval pin: one (gen, maxBatch) token replays across later appends AND a later publish") {
    val dir = s"${tmp("vdef")}/pin"
    val R = Retrieval
    R.writePostingsIndex(docsDf.where(col("doc_id") % 3 === 0), dir,
      batchId = Some(0L))
    assert(spark.read.parquet(s"${VersionedStore.tableRoot(dir)}/postings")
      .columns.contains("batch"),
      "batchId must bootstrap the batch-addressed layout at publish")
    R.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") % 3 === 1), dir, 1L)
    val pin = VersionedStore.pin(dir)
    assert(pin.maxBatch.contains(1L), pin.toString)
    val terms = Seq("the", "of", "data")
    val before = R.bm25TopKFromStorePinned(spark, dir, pin, terms, k = 10)
      .collect().toSet
    // BOTH axes move: one more append batch, then a compaction publish
    R.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") % 3 === 2), dir, 2L)
    R.compactPostingsIndex(spark, dir, keepGenerations = 1)
    assert(VersionedStore.currentGen(dir).exists(_ > pin.gen),
      "compaction must have published past the pinned generation")
    assert(R.bm25TopKFromStorePinned(spark, dir, pin, terms, k = 10)
      .collect().toSet == before,
      "the pin must replay the exact scores it captured")
    // pinned membership is the two pinned batches' docs — BM25's N and
    // avgdl come from the pinned norms (corpus statistics pin too)
    assert(R.readDocLengths(spark, dir, Some(pin))
      .select("doc_id").as[Long].collect().toSet ==
      corpus.map(_._1).filter(_ % 3 != 2).toSet)
    // erasure recorded AFTER the pin still holds under it (takedowns fan
    // into every retained generation — time travel never resurrects)
    R.tombstoneDocs(spark, dir, Seq(0L))
    assert(!R.readPostingsIndex(spark, dir, Some(pin))
      .select("doc_id").as[Long].collect().toSet.contains(0L),
      "a takedown after the pin must still erase from the pinned read")
    // a pin whose generation gc retired fails LOUDLY with the NAMED
    // retention error, never substitutes
    VersionedStore.gc(dir, keep = 0)
    val stale = intercept[IllegalStateException] {
      R.bm25TopKFromStorePinned(spark, dir, pin, terms, k = 10).collect()
    }
    assert(stale.getMessage.contains("outlived retention"),
      stale.getMessage)
    // VersionedStore.pin on an unversioned root refuses — legacy flat stores
    // carry no pinnable generation coordinate. A stream-born store is
    // published from its first batch, so only a hand-planted legacy
    // root is flat
    val flat = s"${tmp("vdef")}/flat"
    R.positionalPostings(docsDf).write.parquet(s"$flat/postings/batch=0")
    intercept[IllegalStateException] { VersionedStore.pin(flat) }
    val born = s"${tmp("vdef")}/born"
    R.appendToPostingsIndexBatch(docsDf, born, 0L)
    assert(VersionedStore.pin(born) == VersionedStore.Pin(1L, Some(0L)))
  }

  test("dedup pin: one (gen, maxBatch) token replays across later appends AND a later publish") {
    val dir = s"${tmp("vdef")}/dpin"
    val D = Dedup
    // twin corpus: every doc has an identical twin at id+100 — the
    // jaccard-1.0 pairs the store must serve. A twin's id lands in a
    // different %3 slice than its base ((d+100)%3 = (d+1)%3), so the
    // pinned membership cuts real pairs, not just rows
    val twins = docsDf.unionByName(
      docsDf.select((col("doc_id") + 100L).as("doc_id"), col("text")))
    def slice(b: Int) = twins.where(col("doc_id") % 3 === b)
    D.writeSignatureStore(slice(0), dir, batchId = Some(0L))
    assert(spark.read.parquet(s"${VersionedStore.tableRoot(dir)}/sigs")
      .columns.contains("batch"),
      "batchId must bootstrap the batch-addressed layout at publish")
    D.appendToSignatureStoreBatch(slice(1), dir, 1L)
    // REPLAY the append (at-least-once delivery): the overwrite rewrites
    // the same partial — proven below by the fsck's duplicate row and
    // the exact pinned pair set
    D.appendToSignatureStoreBatch(slice(1), dir, 1L)
    assert(StoreFsck.minhashStore(spark, dir).as[(String, Long)]
      .collect().toMap.forall(_._2 == 0L),
      "a replayed batch append must leave zero fsck findings")
    val pin = VersionedStore.pin(dir)
    assert(pin.maxBatch.contains(1L), pin.toString)
    // pinned slice {batch 0, 1} = ids %3 ∈ {0,1}: twin pairs survive
    // only for bases d%3==0 (their twins land in slice 1)
    val expectPinned = corpus.map(_._1).filter(_ % 3 == 0)
      .map(d => (d, d + 100L)).toSet
    val before = D.nearDupPairsFromStorePinned(spark, dir, pin)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(before == expectPinned, before.toString)
    // BOTH axes move: one more append batch, then a compaction publish
    D.appendToSignatureStoreBatch(slice(2), dir, 2L)
    D.compactSignatureStore(spark, dir, keepGenerations = 1)
    assert(VersionedStore.currentGen(dir).exists(_ > pin.gen),
      "compaction must have published past the pinned generation")
    assert(spark.read.parquet(s"${VersionedStore.tableRoot(dir)}/sigs")
      .columns.contains("batch"),
      "compaction must preserve the batch-addressed layout")
    assert(D.nearDupPairsFromStorePinned(spark, dir, pin)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == before,
      "the pin must replay the exact pair set it captured")
    // the raw as-of read cuts at the same boundary post-compaction
    assert(D.readSignatureStore(spark, dir, asOfBatch(dir, 1L))
      .select("id").as[Long].collect().toSet ==
      corpus.map(_._1).flatMap(d => Seq(d, d + 100L))
        .filter(_ % 3 != 2).toSet)
    // head serves every twin pair
    val headBanded = D.readBandedStore(spark, dir)
    assert(D.estimatePairsFromSignatures(
        D.incrementalCandidatesFromBanded(headBanded, headBanded),
        D.readSignatureStore(spark, dir))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      corpus.map(_._1).map(d => (d, d + 100L)).toSet)
    // erasure recorded AFTER the pin still holds under it
    D.tombstoneSignatures(spark, dir, Seq(0L))
    assert(!D.readSignatureStore(spark, dir, Some(pin))
      .select("id").as[Long].collect().toSet.contains(0L),
      "a takedown after the pin must still erase from the pinned read")
    // a pin whose generation gc retired fails LOUDLY with the NAMED
    // retention error, never substitutes
    VersionedStore.gc(dir, keep = 0)
    val stale = intercept[IllegalStateException] {
      D.nearDupPairsFromStorePinned(spark, dir, pin).collect()
    }
    assert(stale.getMessage.contains("outlived retention"),
      stale.getMessage)
    // a legacy flat (unversioned, batch-addressed) root carries no
    // pinnable generation — only a hand-planted one is flat, since a
    // stream-born store publishes its first batch; a FLAT-LAYOUT store
    // refuses the batch append outright
    val flat = s"${tmp("vdef")}/dflat"
    D.minhashSignatures(twins, "text", "doc_id", 3, 64)
      .write.parquet(s"$flat/sigs/batch=0")
    intercept[IllegalStateException] { VersionedStore.pin(flat) }
    val born = s"${tmp("vdef")}/dborn"
    D.appendToSignatureStoreBatch(twins, born, 0L)
    assert(VersionedStore.pin(born) == VersionedStore.Pin(1L, Some(0L)))
    val plain = s"${tmp("vdef")}/dplain"
    D.writeSignatureStore(docsDf, plain)
    intercept[IllegalArgumentException] {
      D.appendToSignatureStoreBatch(docsDf, plain, 0L)
    }
  }

  test("retention keeps pinned reads live-filtered; dangling pointers read loudly") {
    val dir = s"${tmp("vdef")}/index"
    val R = Retrieval
    R.writePostingsIndex(docsDf.where(col("doc_id") < 4), dir) // gen 1
    R.writePostingsIndex(docsDf, dir) // gen 2
    R.tombstoneDocs(spark, dir, Seq(1L))
    // compaction with retention: the purge publishes gen 3 but keeps one
    // predecessor pinned-readable — and the retained generation's
    // overlay KEEPS filtering the erased doc (retention affects raw
    // bytes, never serving)
    R.compactPostingsIndex(spark, dir, keepGenerations = 1)
    assert(VersionedStore.listGens(dir).map(_._1).sorted == Seq(2L, 3L))
    assert(R.readDocLengths(spark, dir, Some(VersionedStore.Pin(2L, None)))
      .select("doc_id").as[Long].collect().toSet ==
      Set(0L, 2L, 3L, 4L, 5L, 6L))
    // a takedown recorded NOW lands in both retained generations
    R.tombstoneDocs(spark, dir, Seq(4L))
    assert(R.readDocLengths(spark, dir, Some(VersionedStore.Pin(2L, None)))
      .select("doc_id").as[Long].collect().toSet ==
      Set(0L, 2L, 3L, 5L, 6L))
    assert(!R.readDocLengths(spark, dir)
      .select("doc_id").as[Long].collect().toSet.contains(4L))

    // a pointer whose generation someone hand-deleted must read loudly —
    // "empty store" would be the silent failure the protocol exists for
    graft.pipeline.StoreFs.deleteRecursive(s"$dir/gen-3")
    intercept[IllegalArgumentException] {
      VersionedStore.tableRoot(dir)
    }
    // adopt() repairs the dangling pointer: flip to the newest complete
    // survivor (a dangling reference is as unrecoverable as a corrupt
    // one, and gen 2 is immutable and whole — pointing at it is safe)
    assert(VersionedStore.adopt(dir).contains(2L))
    assert(Retrieval.readDocLengths(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      Set(0L, 2L, 3L, 5L, 6L)) // gen 2 serving, both takedowns filtered
  }

  /** A LEGACY store: flat postings + doclens at the root, the layout
    * written before generations existed. */
  private def legacyFlatRoot(): String = {
    val dir = s"${tmp("vdef")}/index"
    Retrieval.positionalPostings(docsDf).coalesce(1)
      .write.parquet(s"$dir/postings")
    Retrieval.docLengths(docsDf).coalesce(1).write.parquet(s"$dir/doclens")
    dir
  }

  /** `body` fails naming the rebuild, and leaves the flat root's data
    * as it was (the maintenance lock file aside). */
  private def refusesFlat(dir: String, what: String)(body: => Any): Unit = {
    def data = graft.pipeline.StoreFs.listFileStatusesRecursive(dir)
      .map(_.getPath.toString).filterNot(_.endsWith("_MAINTENANCE.lock"))
      .toSet
    val before = data
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains("no published generation") &&
      e.getMessage.contains("Rebuild it"), s"$what: ${e.getMessage}")
    assert(data == before, s"$what touched the flat root")
  }

  test("rebuilding over a legacy flat root is refused, naming the rebuild") {
    val dir = legacyFlatRoot()
    assert(!VersionedStore.isVersioned(dir))
    refusesFlat(dir, "writePostingsIndex")(
      Retrieval.writePostingsIndex(docsDf, dir))
    refusesFlat(dir, "appendToPostingsIndex")(
      Retrieval.appendToPostingsIndex(docsDf, dir))
    refusesFlat(dir, "readPostingsIndex")(
      Retrieval.readPostingsIndex(spark, dir))
    refusesFlat(dir, "tableRoot")(VersionedStore.tableRoot(dir))
    refusesFlat(dir, "postings fsck")(StoreFsck.postingsStore(spark, dir))
    // the named remedy works: delete the root, run the writer again
    graft.pipeline.StoreFs.deleteRecursive(dir)
    Retrieval.writePostingsIndex(docsDf, dir)
    assert(VersionedStore.isVersioned(dir))
    assert(Retrieval.readDocLengths(spark, dir).count() == corpus.size)
  }

  test("a takedown on a legacy flat root is refused, naming the rebuild") {
    val dir = legacyFlatRoot()
    refusesFlat(dir, "Tombstones.appendDf")(
      Tombstones.appendDf(Seq(2L).toDF("doc_id"), dir))
    refusesFlat(dir, "tombstoneDocs")(
      Retrieval.tombstoneDocs(spark, dir, Seq(2L)))
    refusesFlat(dir, "takedownDf")(
      VersionedStore.takedownDf(Seq(2L).toDF("doc_id"), dir))
    refusesFlat(dir, "takedownStreamBatch")(Tombstones.takedownStreamBatch(
      Seq((2L, "DELETE")).toDF("id", "opcode"), dir))
    assert(!graft.pipeline.StoreFs.exists(s"$dir/tombstones"))
  }

  test("takedown against an unpublished versioned root fails loudly") {
    val dir = s"${tmp("vdef")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    // delete the only generation's marker → no complete generation; a
    // takedown that silently recorded nothing would be the compliance
    // failure the loud contract exists to prevent
    graft.pipeline.StoreFs.deleteRecursive(
      s"${VersionedStore.tableRoot(dir)}/_COMPLETE")
    intercept[IllegalArgumentException] {
      VersionedStore.takedownDf(Seq(1L).toDF("doc_id"), dir)
    }
  }
}
