package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Classifier, Dedup, LangModel, QuantileStore, StoreFsck, Tombstones}

/** Injected-corruption detection for the round-10 fsck families: every
  * planted violation of a store invariant must surface as a non-zero
  * finding, and the healthy baseline must stay all-zero — corruption a
  * fsck can't see is corruption a deployment serves. */
class StoreFsckSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private val train = Seq(
    (0L, "en", "the cat sat on the mat"),
    (1L, "en", "the dog ran far"),
    (2L, "fr", "le chat et le chien"),
    (3L, "fr", "le chien dort"),
    (4L, "el", "alpha beta gamma")
  ).toDF("doc_id", "label", "text")

  private def findings(df: org.apache.spark.sql.DataFrame)
      : Map[String, Long] =
    df.as[(String, Long)].collect().toMap

  test("NB model fsck: planted subtraction drift detected, healthy zero") {
    val dir = s"${tmp("fsck")}/nb"
    Classifier.save(Classifier.train(train), dir)
    assert(findings(StoreFsck.nbModelStore(spark, dir))
      .values.forall(_ == 0L))
    val gen = graft.pipeline.VersionedStore.tableRoot(dir)
    // plant: a zero count for an existing token (the unlearn crash
    // shape — subtraction that should have dropped the row) plus a
    // count row under a label the class table never had
    Seq(("en", "the", 0L), ("zz", "ghost", 3L))
      .toDF("label", "tok", "c_t")
      .write.mode("append").parquet(s"$gen/counts")
    val bad = findings(StoreFsck.nbModelStore(spark, dir))
    assert(bad("nonpositive_counts") == 1L)
    assert(bad("counts_without_class") == 1L)
    assert(bad("duplicate_count_rows") == 1L) // ("en","the") now twice
    assert(bad("vocab_scalar_drift") == 1L)   // "ghost" entered the vocab
  }

  test("LM model fsck: planted lost-token bigram detected, healthy zero") {
    val dir = s"${tmp("fsck")}/lm"
    LangModel.save(LangModel.train(train.select("doc_id", "text")), dir)
    assert(findings(StoreFsck.lmModelStore(spark, dir))
      .values.forall(_ == 0L))
    val gen = graft.pipeline.VersionedStore.tableRoot(dir)
    // plant: a bigram whose endpoints the unigram table doesn't hold
    // (impossible under correct subtraction) and a negative unigram
    Seq(("ghostA", "ghostB", 2L)).toDF("prev", "cur", "c_b")
      .write.mode("append").parquet(s"$gen/bi")
    Seq(("neg", -1L)).toDF("tok", "c_u")
      .write.mode("append").parquet(s"$gen/uni")
    val bad = findings(StoreFsck.lmModelStore(spark, dir))
    assert(bad("bigrams_of_lost_tokens") == 2L) // ghostA and ghostB
    assert(bad("nonpositive_unigrams") == 1L)
    assert(bad("vocab_scalar_drift") == 1L) // "neg" entered the vocab
  }

  test("minhash store fsck: the signed-not-banded crash window detected") {
    val dir = s"${tmp("fsck")}/mh"
    val sigs = Dedup.minhashSignatures(
      train.select("doc_id", "text"), "text", "doc_id", shingleN = 2, k = 8)
    // crash window, planted inside the published generation: doc 4's
    // banded rows never committed; doc 99 banded without a signature
    // (the reverse impossibility); doc 3 lost half its bands
    graft.pipeline.VersionedStore.publish(dir, Map("sigs" -> sigs,
      "banded" -> Dedup.bandedBucketsFromSignatures(sigs, k = 8, bands = 4)
        .where(!(col("id") === 4L) &&
          !(col("id") === 3L && col("band") >= 2))))
    Seq((99L, 0, 123L)).toDF("id", "band", "bucket").write.mode("append")
      .parquet(s"${graft.pipeline.VersionedStore.tableRoot(dir)}/banded")
    Tombstones.append(spark, dir, Seq(777L)) // names an unsigned id
    val bad = findings(StoreFsck.minhashStore(spark, dir, k = 8, bands = 4))
    assert(bad("signed_without_banding") == 1L)
    assert(bad("banded_without_signature") == 1L)
    assert(bad("wrong_band_count") == 2L) // doc 3 (2 bands) + doc 99 (1)
    assert(bad("wrong_signature_width") == 0L)
    assert(bad("tombstones_of_absent_ids") == 1L)
  }

  test("schema-coverage fsck: an unresolvable payload digest surfaces at audit time") {
    import graft.model.{VersionedSchema, VersionedSchemaSet}
    // the decode-by-digest path silently drops rows whose digest no
    // registered schema resolves (each branch filters on a known
    // digest) — the audit must name it BEFORE a query loses rows
    val v1 = VersionedSchemaSet.eventPayloadV1
    val v2 = VersionedSchemaSet.orderWithItemsV1
    val set = VersionedSchemaSet(Seq(v1, v2))
    val ghost = VersionedSchema("ghost", 1,
      """{"type":"record","name":"Ghost","fields":[]}""")
    val healthy = Seq(v1.digest, v2.digest, v1.digest)
      .toDF("schema_id")
    assert(findings(StoreFsck.schemaCoverage(spark, healthy, set))
      .values.forall(_ == 0L))
    val drifted = healthy.unionByName(Seq(ghost.digest).toDF("schema_id"))
    assert(findings(StoreFsck.schemaCoverage(spark, drifted, set))
      .apply("events_with_unregistered_schema") == 1L)
    // an EMPTY registry reports every distinct digest, not zero
    assert(findings(StoreFsck.schemaCoverage(spark, healthy,
      VersionedSchemaSet.empty))
      .apply("events_with_unregistered_schema") == 2L)
  }

  test("schema-evolution fsck: an incompatible latest reader fails digests at audit, not mid-query") {
    import graft.model.{VersionedSchema, VersionedSchemaSet}
    import graft.functions.AvroCodec
    val v1 = VersionedSchemaSet.eventPayloadV1
    // the COMPATIBLE evolution decodeByDigest serves every day: a new
    // field with a default — v1 payloads resolve under the v2 reader
    val v2 = VersionedSchema("events", 2,
      v1.schemaJson.dropRight(2) +
        """,{"name":"extra","type":["string","null"],"default":"x"}]}""")
    // the INCOMPATIBLE one: a new field with NO default — Avro
    // resolution of any older writer against it throws
    val v3bad = VersionedSchema("events", 3,
      v1.schemaJson.dropRight(2) +
        """,{"name":"required_new","type":"string"}]}""")
    val enc1 = AvroCodec.encodeEventPayload(v1.schemaJson)
    val enc2 = AvroCodec.encodeEventPayload(v2.schemaJson)
    val base = Seq((1L, 5L, "click", 1.5, Map("a" -> "b")),
      (2L, 6L, "view", 2.5, Map("c" -> "d")))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    val payloadStruct = struct(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val events = base.select(
      when(col("event_id") % 2 === 0, enc1(payloadStruct))
        .otherwise(enc2(payloadStruct)).as("payload"),
      when(col("event_id") % 2 === 0, lit(v1.digest))
        .otherwise(lit(v2.digest)).as("schema_id"))
    val good = VersionedSchemaSet(Seq(v1, v2))
    assert(findings(StoreFsck.schemaEvolution(spark, events, good,
      "events")).apply("digests_failing_latest_reader") == 0L)
    // ship the bad reader: BOTH stored digests stop decoding — the
    // audit names it before the first query loses its rows
    assert(findings(StoreFsck.schemaEvolution(spark, events,
        good.add(v3bad), "events"))
      .apply("digests_failing_latest_reader") == 2L)
    // unregistered digests are schemaCoverage's finding, never this one
    val ghost = VersionedSchema("ghost", 1,
      """{"type":"record","name":"Ghost","fields":[]}""")
    val withGhost = events.unionByName(events.limit(1)
      .select(col("payload"), lit(ghost.digest).as("schema_id")))
    assert(findings(StoreFsck.schemaEvolution(spark, withGhost, good,
      "events")).apply("digests_failing_latest_reader") == 0L)
  }

  test("PQ-tier fsck: planted width/range/book corruption detected; GC audits clean") {
    import graft.pipeline.{Ann, VersionedStore}
    val dir = s"${tmp("fsck")}/pq"
    val base = (0L until 8L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 + 1).toFloat))
    }.toDF("id", "vec")
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2)
    assert(findings(StoreFsck.pqStore(spark, dir)).values.forall(_ == 0L))
    val gen = VersionedStore.tableRoot(dir)
    // plant: a code word from a different training (wrong width), a
    // code referencing a sub-centroid the book lacks, a double-coded id
    Seq((50L, Seq(0, 1)), (51L, Seq(0, 1, 2, 9)))
      .toDF("id", "codes")
      .write.mode("append").parquet(s"$gen/codes")
    Seq((0L, Seq(0, 0, 0, 0))).toDF("id", "codes")
      .write.mode("append").parquet(s"$gen/codes")
    val bad = findings(StoreFsck.pqStore(spark, dir))
    assert(bad("wrong_code_width") == 1L, bad.toString)
    assert(bad("codes_out_of_range") == 1L, bad.toString)
    assert(bad("duplicate_code_ids") == 1L, bad.toString)
    assert(bad("sparse_subspace_books") == 0L)
    // the takedown GC publishes a clean generation: tombstone the
    // planted ids, compact, and the store audits clean again (wrong-
    // width rows are by definition dead rows the live rewrite keeps —
    // so purge them through the same takedown protocol)
    graft.pipeline.Tombstones.appendDf(
      Seq(50L, 51L, 0L).toDF("id"), dir)
    Ann.compactPqIndex(spark, dir)
    val after = findings(StoreFsck.pqStore(spark, dir))
    assert(after.values.forall(_ == 0L), after.toString)
    assert(Ann.readPqCodes(spark, dir).count() == 7L) // 0 erased too
  }

  test("PQ-tier fsck: a books table missing one whole subspace is flagged and refuses to load") {
    import graft.pipeline.{Ann, StoreFs, VersionedStore}
    val dir = s"${tmp("fsck")}/pqsub"
    val base = (0L until 8L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 7) % 13 + 1).toFloat))
    }.toDF("id", "vec")
    Ann.writePqIndex(base, dir, m = 4, ksub = 4, iters = 2)
    val gen = VersionedStore.tableRoot(dir)
    // plant: drop subspace 2's book wholesale — the dense 0..ksub-1
    // range INSIDE each surviving book still holds, so the old sparse
    // check alone would pass while a load would compact {0,1,3} into a
    // 3-book array and score code position 2 against subspace 3's book
    val kept = spark.read.parquet(s"$gen/books")
      .where(col("subspace") =!= 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toSeq)).toSeq
    StoreFs.deleteRecursive(s"$gen/books")
    kept.toDF("subspace", "id", "vec").coalesce(1)
      .write.parquet(s"$gen/books")
    val bad = findings(StoreFsck.pqStore(spark, dir))
    assert(bad("missing_subspace_books") >= 1L, bad.toString)
    assert(bad("sparse_subspace_books") == 0L, bad.toString)
    intercept[IllegalArgumentException] {
      Ann.readPqBooks(spark, dir)
    }
  }

  test("model save retention: repeated saves gc to one generation; unlearn+save erases the pre-unlearn counts") {
    import graft.pipeline.VersionedStore
    val dir = s"${tmp("fsck")}/nbret"
    val m1 = Classifier.train(train)
    Classifier.save(m1, dir)
    Classifier.save(Classifier.train(train.limit(4)), dir)
    // default keepGenerations=0: save is the erasure deadline — one
    // complete generation on disk, not an unbounded history
    assert(VersionedStore.listGens(dir).count(_._2) == 1)
    // unlearn → save to the SAME root: the pre-unlearn counts (the
    // forgotten training data) are physically deleted, matching the old
    // overwrite-in-place semantics the migration must not regress
    val before = VersionedStore.currentGen(dir).get
    val unlearned = Classifier.unlearn(Classifier.load(spark, dir),
      train.limit(1))
    Classifier.save(unlearned, dir)
    assert(VersionedStore.listGens(dir).map(_._1) == Seq(before + 1))
    // the retention knob keeps predecessors pinnable when asked
    Classifier.save(Classifier.load(spark, dir), dir, keepGenerations = 1)
    assert(VersionedStore.listGens(dir).count(_._2) == 2)
    // LangModel.save carries the same knob
    val lmDir = s"${tmp("fsck")}/lmret"
    val lm = LangModel.train(train.select("doc_id", "text"))
    LangModel.save(lm, lmDir)
    LangModel.save(lm, lmDir)
    assert(VersionedStore.listGens(lmDir).count(_._2) == 1)
  }

  test("model pin: a retained generation classifies with its own counts; a retired pin fails loudly") {
    import graft.pipeline.VersionedStore
    val dir = s"${tmp("fsck")}/nbpin"
    // gen 1: trained WITHOUT the 'el' doc — it must classify doc 4 by
    // the other classes' smoothing; gen 2 retrains with it
    val m1 = Classifier.train(train.where(col("doc_id") < 4))
    Classifier.save(m1, dir, keepGenerations = 1)
    val pin = VersionedStore.currentGen(dir).get
    Classifier.save(Classifier.train(train), dir, keepGenerations = 1)
    def preds(m: Classifier.Model) =
      Classifier.classify(m, train.select("doc_id", "text"))
        .select("doc_id", "label").as[(Long, String)].collect().toMap
    // the pinned load reproduces the OLD model's decisions exactly
    assert(preds(Classifier.loadPinned(spark, dir, pin)) == preds(m1))
    // head serves the retrained model: the 'el' doc now has its class
    assert(preds(Classifier.load(spark, dir))(4L) == "el")
    // LangModel pins the same way (bit-identical uni counts)
    val lmDir = s"${tmp("fsck")}/lmpin"
    val lmOld = LangModel.train(train.where(col("doc_id") < 4)
      .select("doc_id", "text"))
    LangModel.save(lmOld, lmDir, keepGenerations = 1)
    val lmPin = VersionedStore.currentGen(lmDir).get
    LangModel.save(LangModel.train(train.select("doc_id", "text")), lmDir,
      keepGenerations = 1)
    assert(LangModel.loadPinned(spark, lmDir, lmPin).uni
      .as[(String, Long)].collect().toSet ==
      lmOld.uni.as[(String, Long)].collect().toSet)
    // keepGenerations=0 (the erasure deadline) retires the pin — a
    // retired pin fails LOUDLY, never substitutes the head
    Classifier.save(Classifier.load(spark, dir), dir)
    val stale = intercept[IllegalStateException] {
      Classifier.loadPinned(spark, dir, pin)
    }
    assert(stale.getMessage.contains("outlived retention"),
      stale.getMessage)
  }

  test("event-log fsck: blind re-append, split windows and crash leftovers detected") {
    import graft.sources.ChangeFeed
    import graft.streaming.RelayStream
    val root = tmp("fsck")
    val dir = s"$root/eventlog"
    val events = ChangeFeed.envelope(ChangeFeed.raw(spark, sf()))
    RelayStream.writeEventLog(events, dir)
    assert(findings(StoreFsck.eventLogStore(spark, dir))
      .values.forall(_ == 0L))
    // plant the documented hazards:
    //  - a blind re-append of an scn slice (a retry that bypassed the
    //    offset log) → duplicate (scn, seq) keys AND those windows now
    //    span the original + replayed files
    events.orderBy("scn", "seq").limit(5)
      .write.mode("append").parquet(dir)
    //  - a compaction that crashed before its swap (tmp left behind)
    graft.pipeline.StoreFs.mkdirs(s"$dir.compact-tmp")
    val bad = findings(StoreFsck.eventLogStore(spark, dir))
    assert(bad("duplicate_log_events") == 5L, bad.toString)
    assert(bad("windows_split_across_files") >= 1L, bad.toString)
    assert(bad("orphan_compact_tmp") == 1L)
    assert(bad("orphan_compact_backup") == 0L)
    assert(bad("missing_with_backup") == 0L)
  }

  private def change(scn: Long, seq: Long, key: Long, op: String,
      value: Double) = (scn, seq, key, op, value)

  private def envelopeDf(rows: Seq[(Long, Long, Long, String, Double)]) =
    rows.toDF("scn", "seq", "key_long", "opcode", "value")

  /** Batch `i` of a deterministic change stream over keys 0-5: upserts,
    * and a DELETE of key `i % 6` every third batch. */
  private def streamBatch(i: Int) = envelopeDf(Seq(
    change(100L * (i + 1), 10L * i, i % 6, "UPSERT", i.toDouble),
    change(100L * (i + 1), 10L * i + 1, (i + 3) % 6,
      if (i % 3 == 2) "DELETE" else "UPSERT", 10.0 * i)))

  private def applierRows(df: org.apache.spark.sql.DataFrame) =
    df.select("key_long", "seq", "value").as[(Long, Long, Double)]
      .collect().toSet

  /** Apply stream batches from `from` on until a compaction publishes a
    * new generation (the first apply to an empty dir only publishes
    * generation 1); returns the next batch index. */
  private def applyUntilCompacted(dir: String, from: Int): Int = {
    import graft.pipeline.VersionedStore
    import graft.streaming.Applier
    var i = from
    def apply(): Unit = {
      require(i < from + 64, "no compaction within 64 applies")
      Applier.applyBatch(spark, streamBatch(i), dir)
      Applier.awaitFold(dir)
      i += 1
    }
    if (VersionedStore.currentGen(dir).isEmpty) apply()
    val gen = VersionedStore.currentGen(dir)
    while (VersionedStore.currentGen(dir) == gen) apply()
    i
  }

  test("applier-state fsck: versioned-store rows plus snapshot algebra violations") {
    import graft.pipeline.{StoreFs, VersionedStore}
    import graft.streaming.Applier
    val dir = s"${tmp("fsck")}/state"
    Applier.applyBatch(spark, streamBatch(0), dir)
    val clean = findings(StoreFsck.applierState(spark, dir))
    assert(clean.values.forall(_ == 0L), s"$clean")
    // one vocabulary: the state dir audits with the versioned-store rows
    assert(findings(StoreFsck.versionedStore(spark, dir)).keySet
      .subsetOf(clean.keySet))
    assert(clean.keySet -- findings(StoreFsck.versionedStore(spark, dir))
      .keySet == Set("duplicate_snapshot_keys", "delete_rows_in_snapshot"))
    applyUntilCompacted(dir, 1)
    val t = VersionedStore.tableRoot(dir)
    assert(StoreFs.isDirectory(s"$t/snapshot"))
    assert(findings(StoreFsck.applierState(spark, dir)).values.forall(_ == 0L))
    // plant: stored-snapshot rows violating the apply-log algebra (a
    // second row for a stored key, a DELETE row take-latest should have
    // dropped), a compaction that crashed before its marker, and a flip
    // that crashed before its rename
    val key = spark.read.parquet(s"$t/snapshot").select("key_long")
      .as[Long].head()
    envelopeDf(Seq(change(1L, 1L, key, "UPSERT", 9.0),
        change(2L, 2L, 99L, "DELETE", 0.0)))
      .write.mode("append").parquet(s"$t/snapshot")
    val cur = VersionedStore.currentGen(dir).get
    envelopeDf(Seq(change(1L, 1L, 1L, "UPSERT", 1.0)))
      .write.parquet(s"$dir/gen-${cur + 1}/snapshot")
    StoreFs.writeAtomic(s"$dir/${VersionedStore.PointerTmpPrefix}7",
      Array.empty)
    val bad = findings(StoreFsck.applierState(spark, dir))
    assert(bad("duplicate_snapshot_keys") == 1L, s"$bad")
    assert(bad("delete_rows_in_snapshot") == 1L, s"$bad")
    assert(bad("incomplete_generations") == 1L, s"$bad")
    assert(bad("orphan_pointer_tmps") == 1L, s"$bad")
    assert(bad.values.sum == 4L, s"$bad")
  }

  test("applier: a compaction crashed before its flip is named by fsck and healed by the next apply") {
    import graft.operators.Bootstrap
    import graft.pipeline.{StoreFs, VersionedStore}
    import graft.streaming.Applier
    val dir = s"${tmp("fsck")}/state"
    // the first compaction measures the cadence: it ran on the apply
    // that brought the log to `every` deltas
    val every = applyUntilCompacted(dir, 0)
    (every until 2 * every - 1).foreach(i =>
      Applier.applyBatch(spark, streamBatch(i), dir))
    val gen = VersionedStore.currentGen(dir).get
    // the crash: apply `crashed` landed its delta, then its compaction
    // wrote a COMPLETE generation and died before the pointer flip, and
    // an older attempt died mid-write under a dead publisher's token
    val crashed = 2 * every - 1
    val t = VersionedStore.tableRoot(dir)
    streamBatch(crashed).write.parquet(s"$t/log/batch=${every - 1}")
    envelopeDf(Seq(change(1L, 1L, 1L, "UPSERT", -1.0)))
      .write.parquet(s"$dir/gen-${gen + 1}/snapshot")
    StoreFs.writeAtomic(s"$dir/gen-${gen + 1}/_COMPLETE", Array.empty)
    StoreFs.writeAtomic(s"$dir/gen-${gen + 2}/_RESERVED",
      s"${VersionedStore.hostId} 2147483647 1".getBytes("UTF-8"))
    val replay = (0 to crashed).map(streamBatch).reduce(_ unionByName _)
    // readers stay on the old generation: its snapshot + log, whole
    assert(VersionedStore.currentGen(dir).contains(gen))
    assert(applierRows(Applier.snapshot(spark, dir).get) ==
      applierRows(Bootstrap.applyLog(replay)))
    val bad = findings(StoreFsck.applierState(spark, dir))
    assert(bad("unreferenced_complete_generations") == 1L, s"$bad")
    assert(bad("stale_reservations") == 1L, s"$bad")
    // the stream re-delivers the crashed batch (its checkpoint never
    // committed): the replay appends a duplicate delta, compacts past
    // the leftovers, and its gc retires them
    Applier.applyBatch(spark, streamBatch(crashed), dir)
    Applier.awaitFold(dir)
    assert(VersionedStore.currentGen(dir).exists(_ > gen + 2))
    assert(applierRows(Applier.snapshot(spark, dir).get) ==
      applierRows(Bootstrap.applyLog(replay)))
    assert(findings(StoreFsck.applierState(spark, dir)).values.forall(_ == 0L))
    assert(StoreFs.listDirNames(dir) ==
      Seq(s"gen-${VersionedStore.currentGen(dir).get}"))
  }

  test("applier: an apply replayed before its checkpoint commit leaves a harmless duplicate delta") {
    import graft.operators.Bootstrap
    import graft.pipeline.VersionedStore
    import graft.streaming.Applier
    val dir = s"${tmp("apply")}/state"
    // every batch is applied twice — the at-least-once replay of a crash
    // between the log write and the checkpoint commit — across at least
    // one compaction; the served state always equals a full replay
    var deltas = 0
    (0 until 12).foreach { i =>
      Applier.applyBatch(spark, streamBatch(i), dir)
      Applier.applyBatch(spark, streamBatch(i), dir)
      assert(applierRows(Applier.snapshot(spark, dir).get) == applierRows(
        Bootstrap.applyLog((0 to i).map(streamBatch).reduce(_ unionByName _))),
        s"state after replayed batch $i differs from a full replay")
      deltas = math.max(deltas, VersionedStore.batchIdsOf(
        s"${VersionedStore.tableRoot(dir)}/log").size)
    }
    assert(VersionedStore.currentGen(dir).exists(_ > 1L),
      "no compaction ran within 24 applies")
    assert(deltas >= 2, "the replayed batch left no duplicate delta")
  }

  test("applier: each batch applied over the existing state equals a full replay") {
    import graft.operators.Bootstrap
    import graft.pipeline.VersionedStore
    import graft.streaming.Applier
    val dir = s"${tmp("apply")}/state"
    // the log and the snapshot are read back with the batch's own
    // schema: nulls, strings and doubles must survive the round trip
    // through the state files, before and after a compaction
    val batches = Seq(
      Seq((100L, 0L, 1L, "UPSERT", Some(10.0), "a"),
        (100L, 1L, 2L, "UPSERT", None, "b"),
        (101L, 2L, 4L, "UPSERT", Some(40.0), null)),
      Seq((200L, 3L, 1L, "UPSERT", None, "a2"),
        (200L, 4L, 2L, "DELETE", Some(0.0), "b"),
        (200L, 5L, 3L, "UPSERT", Some(30.0), "c")),
      Seq((300L, 6L, 2L, "UPSERT", Some(21.0), null),
        (300L, 7L, 4L, "DELETE", None, null)))
      .map(_.toDF("scn", "seq", "key_long", "opcode", "value", "tag"))
    val stream = (0 until 4).flatMap(r => batches.map(
      _.withColumn("scn", $"scn" + r * 1000L)
        .withColumn("seq", $"seq" + r * 100L)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key_long", "seq", "value", "tag").collect().map(_.toSeq).toSet
    stream.indices.foreach { i =>
      Applier.applyBatch(spark, stream(i), dir)
      assert(rows(Applier.snapshot(spark, dir).get) ==
        rows(Bootstrap.applyLog(stream.take(i + 1).reduce(_ unionByName _))),
        s"state after batch $i differs from a full replay")
    }
    assert(VersionedStore.currentGen(dir).exists(_ > 1L),
      "no compaction ran within 12 applies")
    // an empty micro-batch writes nothing
    val before = graft.pipeline.StoreFs.listFileStatusesRecursive(dir)
      .map(_.getPath.toString).toSet
    Applier.applyBatch(spark, stream.head.limit(0), dir)
    assert(graft.pipeline.StoreFs.listFileStatusesRecursive(dir)
      .map(_.getPath.toString).toSet == before)
  }

  test("batch-partial store fsck: blind intra-batch append detected") {
    val dir = s"${tmp("fsck")}/sketch"
    val scored = Seq((10L, "a"), (20L, "a"), (80L, "b"))
      .toDF("score", "stratum")
    QuantileStore.appendBatch(scored, dir, 0L, "score", "stratum", 10L)
    assert(findings(StoreFsck.batchPartialStore(spark, dir,
      Seq("stratum", "bucket"), "cnt")).values.forall(_ == 0L))
    // plant: a blind append into batch 0's partition (the replay hazard
    // batch-addressed OVERWRITE exists to prevent) and a partial under
    // a batch id below the reserved compaction id
    val t = s"${graft.pipeline.VersionedStore.tableRoot(dir)}/partials"
    Seq(("a", 1L, 1L), ("zz", 0L, 0L)).toDF("stratum", "bucket", "cnt")
      .write.mode("append").parquet(s"$t/batch=0")
    Seq(("a", 1L, 1L)).toDF("stratum", "bucket", "cnt")
      .write.parquet(s"$t/batch=-7")
    val bad = findings(StoreFsck.batchPartialStore(spark, dir,
      Seq("stratum", "bucket"), "cnt"))
    assert(bad("intra_batch_duplicates") == 1L) // ("a", bucket 1) twice in batch 0
    assert(bad("nonpositive_partials") == 1L)
    assert(bad("invalid_batch_ids") == 1L)
    assert(bad("legacy_string_batch_dirs") == 0L)
  }

  test("batch-partial fsck: a legacy flat store is refused; string batch dirs flagged") {
    import graft.pipeline.{Dedup, StoreFs, VersionedStore}
    // a store compacted by pre-r10 code, still FLAT at its root, rolled
    // up under the STRING id batch=compacted: neither fsck nor the
    // compaction reads or migrates it — both fail naming the rebuild
    val flat = s"${tmp("fsck")}/gramdf"
    Seq(("g1", 2L), ("g2", 1L)).toDF("g", "df_part")
      .write.parquet(s"$flat/batch=compacted")
    Seq(("g1", 1L)).toDF("g", "df_part").write.parquet(s"$flat/batch=0")
    Seq[(String, () => Any)](
      "fsck" -> (() => StoreFsck.batchPartialStore(spark, flat, Seq("g"),
        "df_part")),
      "compact" -> (() => Dedup.compactGramDfStore(spark, flat)))
      .foreach { case (who, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("Rebuild it"), s"$who: ${e.getMessage}")
      }
    assert(StoreFs.exists(s"$flat/batch=compacted"))
    // a non-numeric batch dir inside a published generation flips
    // partition discovery all the same: flagged at the FS level, the
    // table rows unauditable (-1)
    val dir = s"${tmp("fsck")}/sketch"
    QuantileStore.appendBatch(Seq((10L, "a")).toDF("score", "stratum"), dir,
      0L, "score", "stratum", 10L)
    Seq(("a", 1L, 1L)).toDF("stratum", "bucket", "cnt").write.parquet(
      s"${VersionedStore.tableRoot(dir)}/partials/batch=compacted")
    val bad = findings(StoreFsck.batchPartialStore(spark, dir,
      Seq("stratum", "bucket"), "cnt"))
    assert(bad("legacy_string_batch_dirs") == 1L, s"$bad")
    assert(bad("nonpositive_partials") == -1L, s"$bad")
  }

  test("batch-layout fsck: torn appends, mixed layouts and invalid subdirs from listings alone") {
    import graft.pipeline.StoreFs
    val dir = s"${tmp("fsck")}/blsig"
    val docs = train.select(col("doc_id"), col("text"))
    Dedup.writeSignatureStore(docs.where(col("doc_id") < 3), dir,
      batchId = Some(0L))
    Dedup.appendToSignatureStoreBatch(docs.where(col("doc_id") >= 3), dir, 1L)
    val healthy = findings(StoreFsck.batchLayout(spark, dir,
      Seq("sigs", "banded")))
    assert(healthy.values.forall(_ == 0L), s"$healthy")
    // a flat store is a valid (unpinnable) layout — zero everywhere,
    // including with tables that don't exist on disk
    val flat = s"${tmp("fsck")}/blflat"
    Dedup.writeSignatureStore(docs, flat)
    assert(findings(StoreFsck.batchLayout(spark, flat,
      Seq("sigs", "banded", "absent"))).values.forall(_ == 0L))
    // plant the three states the write guards refuse to create:
    // torn append (sigs/batch=2 landed, banded/batch=2 never did),
    // mixed flat+batch (top-level data file in banded/), and an
    // invalid subdir (batch=abc would type the partition col string)
    val gen = graft.pipeline.VersionedStore.tableRoot(dir)
    Seq(900L).toDF("id").write.parquet(s"$gen/sigs/batch=2")
    Seq((901L, 0, 0L)).toDF("id", "band", "bucket")
      .write.mode("append").parquet(s"$gen/banded")
    StoreFs.mkdirs(s"$gen/sigs/batch=abc")
    val bad = findings(StoreFsck.batchLayout(spark, dir,
      Seq("sigs", "banded")))
    assert(bad("torn_batch_appends") == 1L, s"$bad")
    assert(bad("mixed_flat_and_batch_layout") == 1L, s"$bad")
    assert(bad("invalid_batch_subdirs") == 1L, s"$bad")
    // re-running the torn batch append HEALS the tear in place
    // (overwrite semantics) — the recovery the scaladoc prescribes;
    // the planted mixed/invalid states are external corruption and
    // stay flagged until an operator removes them
    Dedup.appendToSignatureStoreBatch(
      docs.select(col("doc_id") + 900L as "doc_id", col("text")), dir, 2L)
    val healed = findings(StoreFsck.batchLayout(spark, dir,
      Seq("sigs", "banded")))
    assert(healed("torn_batch_appends") == 0L, s"$healed")
  }
}
