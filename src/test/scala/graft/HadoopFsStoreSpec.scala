package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Retrieval, StoreFs, StoreFsck, Tombstones, VersionedStore}

/** Store MAINTENANCE through a Hadoop-FS URI scheme (`file:`), the
  * round-10 port from `java.io.File` to the `FileSystem` API.
  *
  * Why `file:` is the right probe: Spark's data plane resolves
  * `file:/...` URIs fine, but `new java.io.File("file:/x")` names a
  * literal relative path and sees NOTHING — exactly how hdfs:// and
  * s3a:// behaved against the old local-File maintenance code. So a
  * store exercised end-to-end (append → tombstone → serve → compact →
  * fsck) under a `file:` root proves every maintenance probe now goes
  * through `Path.getFileSystem`: with the old code the tombstone
  * existence probe would return None here and a RECORDED TAKEDOWN
  * would silently stop filtering reads — the correctness hazard this
  * spec pins shut. */
class HadoopFsStoreSpec extends SparkSpec {
  import spark.implicits._

  private def uriTmp(prefix: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(prefix).toString

  private val corpus = Seq(
    (0L, "alpha table value beta"),
    (1L, "table value table value"),
    (2L, "gamma table value"),
    (3L, "no phrase here at all"),
    (4L, "table value ends this"),
    (5L, "delta epsilon zeta"),
    (6L, "the of data table value"))

  private def docsDf = corpus.toDF("doc_id", "text")

  test("append → tombstone → serve → compact → fsck under a file: URI") {
    val dir = s"${uriTmp("fsuri")}/index"
    val liveOnly = s"${uriTmp("fsuri")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    Retrieval.writePostingsIndex(
      docsDf.where(!col("doc_id").isin(1L, 4L)), liveOnly)

    // the hazard case: the takedown is recorded under the URI root
    // (inside the current generation — the store publishes versioned
    // now) and MUST keep filtering reads (java.io.File saw nothing here)
    Retrieval.tombstoneDocs(spark, dir, Seq(1L, 4L))
    assert(Tombstones.readOpt(spark, VersionedStore.tableRoot(dir)).isDefined,
      "tombstone probe missed a recorded takedown under a file: URI")
    def sameLive(): Unit = {
      val p1 = Retrieval.readPostingsIndex(spark, dir)
      val p2 = Retrieval.readPostingsIndex(spark, liveOnly)
      assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty)
      val b1 = Retrieval.bm25TopKFromIndex(p1,
        Retrieval.readDocLengths(spark, dir), Seq("the", "of"), k = 10)
      val b2 = Retrieval.bm25TopKFromIndex(p2,
        Retrieval.readDocLengths(spark, liveOnly), Seq("the", "of"), k = 10)
      assert(b1.collect().map(_.toSeq).toSeq == b2.collect().map(_.toSeq).toSeq)
    }
    sameLive()

    // compaction = the GC: on a versioned root it is a fresh-generation
    // publish + gc, all through the FileSystem API under this URI root —
    // the purged generation (and its tombstone overlay) is gone
    Retrieval.compactPostingsIndex(spark, dir, numFiles = 2)
    assert(Tombstones.readOpt(spark, VersionedStore.tableRoot(dir)).isEmpty,
      "GC did not clear the tombstone overlay under a file: URI")
    sameLive()

    // fsck's generation listing sees crashed-maintenance leftovers under
    // the URI root (old code: empty listing, findings silently 0)
    val cur = VersionedStore.currentGen(dir).get
    StoreFs.mkdirs(s"$dir/gen-${cur + 1}/postings")
    StoreFs.writeAtomic(s"$dir/${VersionedStore.PointerTmpPrefix}12345",
      Array.empty)
    val art = StoreFsck.versionedStore(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(art("incomplete_generations") == 1L)
    assert(art("orphan_pointer_tmps") == 1L)
    assert(StoreFsck.postingsStore(spark, dir)
      .as[(String, Long)].collect().forall(_._2 == 0L))
  }

  test("fractional takedown ids fail loudly (no silent truncation)") {
    val dir = s"${uriTmp("fsuri")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    // Double 42.9 would cast("long") to 42 — recording the takedown
    // against the WRONG id; the round-trip guard must reject it
    intercept[IllegalArgumentException] {
      Tombstones.appendDf(Seq(42.9).toDF("doc_id"), dir)
    }
    // fractional STRING ids must not slip through either
    intercept[IllegalArgumentException] {
      Tombstones.appendDf(Seq("42.9").toDF("doc_id"), dir)
    }
    assert(Tombstones.readOpt(spark, VersionedStore.tableRoot(dir)).isEmpty)
    // integral values in non-long carriers still record fine
    Tombstones.appendDf(Seq(4.0).toDF("doc_id"), dir)
    Tombstones.appendDf(Seq("1").toDF("doc_id"), dir)
    assert(Tombstones.readOpt(spark, VersionedStore.tableRoot(dir)).get
      .as[Long].collect().toSet == Set(1L, 4L))
  }

  test("event-log compaction and applier snapshot swap work under a file: URI") {
    import graft.streaming.{Applier, RelayStream}
    import graft.sources.ChangeFeed
    // event log: write under the URI root in several generations, then
    // compact — listing, provenance snapshot and the two-rename swap
    // all run through the FileSystem API
    val logDir = s"${uriTmp("fsuri")}/eventlog"
    val events = ChangeFeed.envelope(ChangeFeed.raw(spark, sf()))
    RelayStream.writeEventLog(events.where(col("scn") % 2 === 0), logDir)
    RelayStream.writeEventLog(events.where(col("scn") % 2 =!= 0), logDir)
    val before = spark.read.parquet(logDir)
      .select("scn", "seq").as[(Long, Long)].collect().toSet
    RelayStream.compactEventLog(spark, logDir)
    val after = spark.read.parquet(logDir)
      .select("scn", "seq").as[(Long, Long)].collect().toSet
    assert(after == before, "compaction changed the served event set")
    assert(!StoreFs.exists(s"$logDir.compact-old") &&
      !StoreFs.exists(s"$logDir.compact-tmp"))

    // applier: the pointer probe and the staged delta renames under the
    // URI root (old code: java.nio probe saw no snapshot and batch 2
    // would silently re-materialize from itself)
    val stateDir = s"${uriTmp("fsuri")}/state"
    val b1 = Seq((100L, 0L, 1L, "UPSERT", 10.0), (100L, 1L, 2L, "UPSERT", 20.0))
      .toDF("scn", "seq", "key_long", "opcode", "value")
    val b2 = Seq((200L, 2L, 1L, "UPSERT", 11.0), (200L, 3L, 2L, "DELETE", 0.0),
      (200L, 4L, 3L, "UPSERT", 30.0))
      .toDF("scn", "seq", "key_long", "opcode", "value")
    Applier.applyBatch(spark, b1, stateDir)
    Applier.applyBatch(spark, b2, stateDir)
    val snap = Applier.snapshot(spark, stateDir).get
      .select("key_long", "value").as[(Long, Double)].collect().toMap
    assert(snap == Map(1L -> 11.0, 3L -> 30.0),
      s"snapshot lost the prior generation under a file: URI: $snap")
  }

  test("versioned-store pointer flip and generation reads work under a file: URI") {
    import graft.pipeline.VersionedStore
    // the flip is FileContext.rename(OVERWRITE) on a scheme-qualified
    // path — this pins that the pointer protocol resolves URI schemes
    // like the data plane does (a java.io pointer would see nothing)
    val root = s"${uriTmp("fsuri")}/vstore"
    val g1 = VersionedStore.publish(root,
      Map("t" -> Seq((1L, "g1")).toDF("id", "v")))
    val g2 = VersionedStore.publish(root,
      Map("t" -> Seq((1L, "g2")).toDF("id", "v")))
    assert(g1 == 1L && g2 == 2L)
    assert(VersionedStore.currentGen(root).contains(2L))
    def rows(at: Option[VersionedStore.Pin]) = VersionedStore.liveRows(
      spark, VersionedStore.resolve(root, at), "t", "id")
    assert(rows(None).as[(Long, String)].head() == ((1L, "g2")))
    assert(rows(Some(VersionedStore.Pin(1L, None)))
      .as[(Long, String)].head() == ((1L, "g1")))
    assert(VersionedStore.gc(root, keep = 0) == Seq(1L))
  }

  test("checkpoint store and schema registry work under a file: URI") {
    import graft.model.{Checkpoint, CheckpointMult, FileSystemCheckpointStore}
    // the r10 verdict's last java.nio holdouts in durable state: a
    // checkpoint store on a non-local root used to probe with
    // java.nio.Files → load() returned None and the consumer silently
    // restarted from scratch; a registry dir on a URI root loaded zero
    // schemas. Both now walk the FileSystem API.
    val root = uriTmp("fsuri")
    val store = new FileSystemCheckpointStore(s"$root/checkpoints")
    val cp = CheckpointMult(
      Map(0.toShort -> Checkpoint(windowScn = 42L, windowOffset = 7L),
        1.toShort -> Checkpoint(windowScn = 99L)),
      cursorPartition = Some(1.toShort))
    store.store("consumer-a", cp)
    assert(store.load("consumer-a").contains(cp),
      "checkpoint written under a file: URI must load back")
    // overwrite is the atomic-replace path (write-tmp + rename OVERWRITE)
    val cp2 = CheckpointMult(
      Map(0.toShort -> Checkpoint(windowScn = 43L)), None)
    store.store("consumer-a", cp2)
    assert(store.load("consumer-a").contains(cp2))
    assert(store.load("consumer-b").isEmpty, "absent is None, not an error")

    // registry walk: nested dirs, versioned names, stray files skipped
    val regDir = s"$root/registry"
    StoreFs.mkdirs(s"$regDir/nested")
    def put(rel: String, body: String): Unit =
      StoreFs.writeAtomic(s"$regDir/$rel", body.getBytes("UTF-8"))
    val s1 = """{"type":"record","name":"A","fields":[{"name":"x","type":"long"}]}"""
    val s2 = """{"type":"record","name":"A","fields":[{"name":"x","type":"long"},{"name":"y","type":["null","string"],"default":null}]}"""
    put("src.1.avsc", s1)
    put("nested/src.2.avsc", s2)
    put("README.txt", "not a schema")
    put("noversion.avsc", s1) // suffix matches, no version segment: skipped
    val set = graft.model.FileSystemSchemaProvider.loadSchemas(regDir)
    assert(set.schemas.map(s => (s.sourceName, s.version)).toSet ==
      Set(("src", 1.toShort), ("src", 2.toShort)),
      s"registry walk under a file: URI loaded ${set.schemas}")
    assert(set.getLatest("src").map(_.version).contains(2.toShort))
    // a missing root throws (the reference's unreadable-root contract) —
    // never an empty set that fails at decode time instead
    intercept[IllegalArgumentException] {
      graft.model.FileSystemSchemaProvider.loadSchemas(s"$root/absent")
    }
  }

  test("a publish that fails before its pointer flip leaves the store serving") {
    val dir = s"${uriTmp("fsuri")}/index"
    Retrieval.writePostingsIndex(docsDf, dir)
    val before = Retrieval.readPostingsIndex(spark, dir).count()
    val gen = VersionedStore.currentGen(dir)
    // the rewrite's table write fails mid-publish: no marker, no flip
    intercept[Exception] {
      VersionedStore.publish(dir, Map(
        "postings" -> Retrieval.readPostingsIndex(spark, dir)
          .withColumn("pos", raise_error(lit("disk gone")).cast("long")),
        "doclens" -> Retrieval.readDocLengths(spark, dir)))
    }
    assert(VersionedStore.currentGen(dir) == gen)
    assert(Retrieval.readPostingsIndex(spark, dir).count() == before)
    assert(StoreFsck.versionedStore(spark, dir).as[(String, Long)]
      .collect().toMap.apply("incomplete_generations") == 1L)
  }
}
