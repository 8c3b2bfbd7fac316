package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, Classifier, LangModel, Retrieval, Tombstones, VersionedStore}

/** Takedown discipline across the persisted stores: tombstone-only
  * serving ≡ an index that never saw the docs, GC physically purges and
  * clears, every intermediate crash state serves correctly, the ANN
  * planted contract flips twin → tritwin, a CDC feed maintains the
  * index (upserts append, deletes tombstone), and count-model EXACT
  * UNLEARNING is table-identical to retraining on train∖forget. */
class TombstoneSpec extends SparkSpec {
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
    (6L, "the of data table value")
  )

  private def docsDf = corpus.toDF("doc_id", "text")

  test("tombstoned postings store serves exactly like a live-only index") {
    val full = s"${tmp("tomb")}/index"
    val liveOnly = s"${tmp("tomb")}/index"
    Retrieval.writePostingsIndex(docsDf, full)
    Retrieval.tombstoneDocs(spark, full, Seq(1L, 4L))
    Retrieval.writePostingsIndex(
      docsDf.where(!col("doc_id").isin(1L, 4L)), liveOnly)

    // postings and norms: row-identical both ways
    val p1 = Retrieval.readPostingsIndex(spark, full)
    val p2 = Retrieval.readPostingsIndex(spark, liveOnly)
    assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty)
    val d1 = Retrieval.readDocLengths(spark, full)
    val d2 = Retrieval.readDocLengths(spark, liveOnly)
    assert(d1.exceptAll(d2).isEmpty && d2.exceptAll(d1).isEmpty)

    // BM25 from the tombstoned store: N/avgdl/df all shrink to the live
    // slice — bit-identical to the never-indexed store
    val b1 = Retrieval.bm25TopKFromIndex(p1, d1, Seq("the", "of"), k = 10)
      .collect().map(_.toSeq).toSeq
    val b2 = Retrieval.bm25TopKFromIndex(p2, d2, Seq("the", "of"), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(b1 == b2)

    // phrase hits exclude the tombstoned docs
    val hits = Retrieval.phraseSearch(p1, Seq("table", "value"))
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(0L, 2L, 6L))
  }

  test("non-castable takedown ids fail loudly; batch compaction keeps layout") {
    val dir = s"${tmp("tomb")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    // a null tombstone would anti-join nothing — the takedown must not
    // be recordable as a silent no-op
    intercept[IllegalArgumentException] {
      Tombstones.appendDf(Seq("doc-42").toDF("doc_id"), dir)
    }
    assert(Tombstones.readOpt(spark, dir).isEmpty)
    // batch-addressed stores compact under the compactIndexCells rule:
    // tombstoned rows drop, every surviving row KEEPS its batch identity
    // (as-of pins stay exact), and the next batch append still works
    val streamDir = s"${tmp("tomb")}/stream"
    Retrieval.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") < 4), streamDir, batchId = 0)
    Retrieval.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") >= 4), streamDir, batchId = 1)
    Retrieval.tombstoneDocs(spark, streamDir, Seq(1L))
    Retrieval.compactPostingsIndex(spark, streamDir)
    // the stream-born store is versioned: raw reads resolve the live
    // generation
    val streamGen = VersionedStore.tableRoot(streamDir)
    val raw = spark.read.parquet(s"$streamGen/postings")
    assert(raw.columns.contains("batch"),
      "compaction must preserve the batch-addressed layout")
    assert(raw.where(col("doc_id") === 1L).isEmpty,
      "compaction is the physical purge")
    assert(raw.select(col("doc_id"), col("batch").cast("long"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L)),
      "surviving rows keep their original batch identity")
    assert(Tombstones.readOpt(spark, streamGen).isEmpty)
    // post-compaction appends land under their own batch as before, and
    // the as-of pin still cuts exactly at the batch boundary
    Retrieval.appendToPostingsIndexBatch(
      docsDf.select((col("doc_id") + 100L).as("doc_id"), col("text")),
      streamDir, batchId = 2)
    val pinned = Retrieval.readPostingsIndex(spark, streamDir,
        asOfBatch(streamDir, 1L))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(pinned == Set(0L, 2L, 3L, 4L, 5L, 6L))
  }

  test("duplicate tombstone appends are idempotent (semantic set)") {
    val dir = s"${tmp("tomb")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    Retrieval.tombstoneDocs(spark, dir, Seq(1L))
    val once = Retrieval.readPostingsIndex(spark, dir).count()
    // a replayed takedown request appends the same id again
    Retrieval.tombstoneDocs(spark, dir, Seq(1L))
    assert(Retrieval.readPostingsIndex(spark, dir).count() == once)
  }

  test("compaction GC physically purges tombstoned rows and clears the set") {
    val dir = s"${tmp("tomb")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    Retrieval.tombstoneDocsDf(Seq(1L, 4L).toDF("doc_id"), dir)
    val before = Retrieval.phraseSearch(
      Retrieval.readPostingsIndex(spark, dir), Seq("table", "value"))
      .collect().map(_.toSeq).toSet
    Retrieval.compactPostingsIndex(spark, dir)
    // the overlay is gone (the purged generation was retired whole) and
    // the RAW store (read without the filter) no longer contains the
    // docs — the purge is physical
    val gen = VersionedStore.tableRoot(dir)
    assert(Tombstones.readOpt(spark, gen).isEmpty)
    val raw = spark.read.parquet(s"$gen/postings")
    assert(raw.where(col("doc_id").isin(1L, 4L)).isEmpty)
    assert(spark.read.parquet(s"$gen/doclens")
      .where(col("doc_id").isin(1L, 4L)).isEmpty)
    // pre-compaction generations are retired: pinned reads of erased
    // rows do not outlive the purge
    assert(VersionedStore.listGens(dir).map(_._1) == Seq(gen.split("gen-").last.toLong))
    // serving unchanged by the GC
    val after = Retrieval.phraseSearch(
      Retrieval.readPostingsIndex(spark, dir), Seq("table", "value"))
      .collect().map(_.toSeq).toSet
    assert(before == after)
    // crash-state invariant: tombstones of already-purged ids (the
    // window between the table swaps and the set clear) are a no-op
    Retrieval.tombstoneDocs(spark, dir, Seq(1L, 4L))
    val crashState = Retrieval.phraseSearch(
      Retrieval.readPostingsIndex(spark, dir), Seq("table", "value"))
      .collect().map(_.toSeq).toSet
    assert(crashState == after)
  }

  test("tombstone-aware read is a broadcast anti-join; clean read is a plain scan") {
    val dir = s"${tmp("tomb")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    val clean = Retrieval.readPostingsIndex(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("LeftAnti"), s"unexpected join in clean read:\n$clean")
    Retrieval.tombstoneDocs(spark, dir, Seq(1L))
    val tombed = Retrieval.readPostingsIndex(spark, dir)
      .queryExecution.executedPlan.toString
    assert(tombed.contains("BroadcastHashJoin") && tombed.contains("LeftAnti"),
      s"takedown read must broadcast anti-join:\n$tombed")
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("NB unlearn is table-identical to retraining on train minus forget") {
    // 'qux' appears ONLY in forget docs (vocab must shrink); label 'el'
    // exists ONLY on a forget doc (the class must disappear entirely)
    val train = Seq(
      (0L, "en", "the cat sat"), (1L, "en", "the dog ran qux"),
      (2L, "fr", "le chat qux qux"), (3L, "fr", "le chien"),
      (4L, "el", "alpha beta"), (5L, "en", "a cat ran")
    ).toDF("doc_id", "label", "text")
    val forget = train.where(col("doc_id").isin(1L, 2L, 4L))
    val unlearned = Classifier.unlearn(Classifier.train(train), forget)
    val retrained = Classifier.train(
      train.where(!col("doc_id").isin(1L, 2L, 4L)))
    assert(sameRows(unlearned.counts, retrained.counts))
    assert(sameRows(unlearned.classes, retrained.classes))
    assert(sameRows(unlearned.stats, retrained.stats))
    // and the scoring surface agrees on every doc
    val probe = Seq((9L, "the cat qux"), (10L, "le chien beta"))
      .toDF("doc_id", "text")
    assert(sameRows(Classifier.classify(unlearned, probe),
      Classifier.classify(retrained, probe)))
  }

  test("LM unlearn is table-identical to retraining on train minus forget") {
    val train = Seq(
      (0L, "a b c a b"), (1L, "b c d"), (2L, "zz only here zz"),
      (3L, "c a b c")).toDF("doc_id", "text")
    val forget = train.where(col("doc_id").isin(1L, 2L))
    val unlearned = LangModel.unlearn(LangModel.train(train), forget)
    val retrained = LangModel.train(train.where(!col("doc_id").isin(1L, 2L)))
    assert(sameRows(unlearned.uni, retrained.uni))
    assert(sameRows(unlearned.bi, retrained.bi))
    assert(sameRows(unlearned.vocab, retrained.vocab))
    val probe = Seq((9L, "a b zz c")).toDF("doc_id", "text")
    assert(sameRows(LangModel.scoreNll(unlearned, probe),
      LangModel.scoreNll(retrained, probe)))
  }

  test("CDC feed maintains the index: upserts append, deletes tombstone") {
    val dir = s"${tmp("cdc")}/index"
    // batch 0: docs 0-3 upserted
    Retrieval.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") < 4), dir, batchId = 0)
    // batch 1: docs 4-6 upserted, docs 1 and 2 deleted
    Retrieval.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") >= 4), dir, batchId = 1)
    Retrieval.tombstoneDocsDf(Seq(1L, 2L).toDF("doc_id"), dir)
    val hits = Retrieval.phraseSearch(
      Retrieval.readPostingsIndex(spark, dir), Seq("table", "value"))
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(0L, 4L, 6L))
  }

  test("as-of read pins the append history; tombstones still apply to it") {
    val dir = s"${tmp("asof")}/index"
    Retrieval.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") < 3), dir, batchId = 0)
    Retrieval.appendToPostingsIndexBatch(
      docsDf.where(col("doc_id") >= 3), dir, batchId = 1)
    def asOf0 = Retrieval.readPostingsIndex(spark, dir, asOfBatch(dir, 0L))
    // batch 1's docs are invisible at the pinned snapshot
    assert(asOf0.select("doc_id").as[Long].collect().toSet == Set(0L, 1L, 2L))
    // the pruning is PARTITION pruning: batch 1's files never enter the
    // scan (0 of 2 partition dirs would show as a filter, not a prune)
    val scanned = asOf0.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("batch=1"), s"batch 1 leaked into the scan")
    // a takedown recorded AFTER the snapshot still erases from it —
    // time travel must not resurrect deleted docs
    Retrieval.tombstoneDocs(spark, dir, Seq(1L))
    assert(asOf0.select("doc_id").as[Long].collect().toSet == Set(0L, 2L))
    // flat (non-batch-addressed) stores reject the as-of read loudly
    val flat = s"${tmp("asof")}/flat"
    Retrieval.writePostingsIndex(docsDf, flat)
    intercept[IllegalArgumentException] {
      Retrieval.readPostingsIndex(spark, flat, asOfBatch(flat, 0L))
    }
  }

  test("signature-store takedown removes a doc from candidate generation") {
    import graft.pipeline.Dedup
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again today"),
      (1L, "completely different text about spark catalyst plans here"),
      (2L, "unrelated third document mentioning tombstone discipline")
    ).toDF("doc_id", "text")
    val store = s"${tmp("sigstore")}/store"
    Dedup.writeSignatureStore(corpus, store)
    // a twin of doc 0 arrives; with doc 0 live it pairs at jaccard 1
    val twin = corpus.where(col("doc_id") === 0L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val sigsNew = Dedup.minhashSignatures(twin, "text", "doc_id", 3, 64)
    def pairs = Dedup.incrementalPairsFromSignatures(sigsNew,
        Dedup.readSignatureStore(spark, store), jaccardThreshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 100L)))
    // taken down: the stored partner is gone, the twin matches nothing
    Dedup.tombstoneSignatures(spark, store, Seq(0L))
    assert(pairs.isEmpty)
  }

  test("fsck: healthy stores audit to zero findings; planted ANN corruption detected") {
    import graft.pipeline.{Ann, StoreFsck}
    val pDir = s"${tmp("fsck")}/postings"
    Retrieval.writePostingsIndex(docsDf, pDir)
    val clean = StoreFsck.postingsStore(spark, pDir)
      .as[(String, Long)].collect().toMap
    assert(clean.size == 6 && clean.values.forall(_ == 0L), s"$clean")
    // a tombstone of a REAL doc is not a finding (that's just a takedown)
    Retrieval.tombstoneDocs(spark, pDir, Seq(1L))
    assert(StoreFsck.postingsStore(spark, pDir)
      .where(col("n_bad") > 0).isEmpty)
    val aDir = s"${tmp("fsck")}/ann"
    val vecs = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("id", "vec")
    Ann.writeIndex(vecs, aDir, k = 2, iters = 2)
    assert(StoreFsck.annStore(spark, aDir)
      .where(col("n_bad") > 0).isEmpty)
    // plant: vector 0 also assigned to a cell the codebook doesn't have
    // (inside the live generation — where in-generation appends land)
    val aGen = VersionedStore.tableRoot(aDir)
    spark.read.parquet(s"$aGen/cells").where(col("id") === 0L)
      .withColumn("cell_id", lit(99L))
      .write.mode("append").parquet(s"$aGen/cells")
    val bad = StoreFsck.annStore(spark, aDir)
      .as[(String, Long)].collect().toMap
    assert(bad("cells_with_unknown_centroid") == 1L &&
      bad("vectors_in_multiple_cells") == 1L &&
      bad("duplicate_cell_rows") == 0L, s"$bad")
  }

  test("ANN takedown: rank-1 flips twin to tritwin, GC purges cells") {
    // 4 base vectors, well separated; twin +100, tritwin +200 each
    val base = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)), (3L, Seq(0f, 0f, 0f, 1f)))
    val all = base.toDF("id", "vec")
    val tripled = all
      .unionByName(all.select((col("id") + 100L).as("id"), col("vec")))
      .unionByName(all.select((col("id") + 200L).as("id"), col("vec")))
    val dir = s"${tmp("tombann")}/index"
    Ann.writeIndex(tripled, dir, k = 4, iters = 2)
    // take down the twins of ids 0 and 1
    Ann.tombstoneVectors(spark, dir, Seq(100L, 101L))
    def rank1 = Ann.ivfQuantizedTopKFromStore(all, tripled, dir, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val served = rank1
    assert(served == Map(0L -> 200L, 1L -> 201L, 2L -> 102L, 3L -> 103L),
      s"takedown contract violated: $served")
    // GC: physical purge (fresh generation, old one retired), cleared
    // overlay, identical serving
    Ann.compactIndexCells(spark, dir)
    val gen = VersionedStore.tableRoot(dir)
    assert(Tombstones.readOpt(spark, gen).isEmpty)
    assert(spark.read.parquet(s"$gen/cells")
      .where(col("id").isin(100L, 101L)).isEmpty)
    assert(rank1 == served)
  }

  test("streaming takedown: resumed drains + at-least-once replay serve identically") {
    val root = tmp("tdstream")
    Retrieval.writePostingsIndex(docsDf, s"$root/index")
    def phraseHits = Retrieval.phraseSearch(
        Retrieval.readPostingsIndex(spark, s"$root/index"),
        Seq("table", "value"))
      .select("doc_id").as[Long].collect().toSet
    def feed(ids: Seq[Long], mode: String): Unit =
      ids.map(("DELETE", _)).toDF("opcode", "id")
        .coalesce(1).write.mode(mode).parquet(s"$root/feed")
    // drain 1 takes down doc 1; drain 2 RESUMES from the checkpoint
    // (only the new file is delivered) and takes down doc 4
    feed(Seq(1L), "overwrite")
    Tombstones.takedownStream(
      spark.readStream.schema("opcode STRING, id LONG")
        .parquet(s"$root/feed"),
      s"$root/index", s"$root/cp").awaitTermination()
    assert(phraseHits == Set(0L, 2L, 4L, 6L))
    feed(Seq(4L), "append")
    Tombstones.takedownStream(
      spark.readStream.schema("opcode STRING, id LONG")
        .parquet(s"$root/feed"),
      s"$root/index", s"$root/cp").awaitTermination()
    assert(phraseHits == Set(0L, 2L, 6L))
    // at-least-once REPLAY: re-delivering a drained trigger's batch
    // re-appends the same ids — a semantic-set no-op, serving unchanged
    val replayed = Seq(("DELETE", 1L), ("DELETE", 4L), ("UPSERT", 2L))
      .toDF("opcode", "id")
    assert(Tombstones.takedownStreamBatch(replayed, s"$root/index") == 2L)
    assert(phraseHits == Set(0L, 2L, 6L))
    // a batch with no DELETEs records nothing and writes no files
    val tombDir = s"${VersionedStore.tableRoot(s"$root/index")}/tombstones"
    val files = new java.io.File(tombDir).listFiles.length
    assert(Tombstones.takedownStreamBatch(
      Seq(("UPSERT", 9L)).toDF("opcode", "id"), s"$root/index") == 0L)
    assert(new java.io.File(tombDir).listFiles.length == files)
  }

  test("forget log: batch-addressed replay cannot double-subtract the model") {
    import graft.pipeline.ForgetLog
    val dir = s"${tmp("forget")}/log"
    val train = Seq(
      (0L, "en", "the cat sat"), (1L, "en", "the dog ran qux"),
      (2L, "fr", "le chat qux qux"), (3L, "fr", "le chien"),
      (4L, "el", "alpha beta"), (5L, "en", "a cat ran")
    ).toDF("doc_id", "label", "text")
    val model = Classifier.train(train)
    val forgetRows = train.where(col("doc_id").isin(1L, 4L))
    // the same trigger delivered twice (at-least-once foreachBatch):
    // batch=0 is OVERWRITTEN, not doubled — subtraction stays exact
    ForgetLog.appendBatch(forgetRows, dir, batchId = 0L)
    ForgetLog.appendBatch(forgetRows, dir, batchId = 0L)
    val unlearned = Classifier.unlearn(model,
      ForgetLog.readOpt(spark, dir).get)
    val retrained = Classifier.train(
      train.where(!col("doc_id").isin(1L, 4L)))
    assert(sameRows(unlearned.counts, retrained.counts))
    assert(sameRows(unlearned.classes, retrained.classes))
    assert(sameRows(unlearned.stats, retrained.stats))
    // fold-and-rotate GC: the folded generation serves identically and
    // the log clears ONLY AFTER the required promote callback ran (the
    // signature-enforced ordering — clear-before-flip would serve the
    // old root with an empty log, an un-unlearned model)
    val gen2 = s"${tmp("forget")}/model2"
    var promoted = false
    ForgetLog.foldInto(spark, dir) { log =>
      Classifier.save(Classifier.unlearn(model, log), gen2)
      assert(ForgetLog.readOpt(spark, dir).isDefined,
        "log must survive until the serving pointer flips")
    } { () => promoted = true }
    assert(promoted, "foldInto must run the promote step")
    assert(ForgetLog.readOpt(spark, dir).isEmpty)
    val folded = Classifier.load(spark, gen2)
    assert(sameRows(folded.counts, retrained.counts))
    assert(sameRows(folded.classes, retrained.classes))
  }
}
