package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.Dedup

import Fixtures._

/** Store protocol and audit: fsck over every store family, pin listing, the
  * checkpoint store and the engine facade. */
object StoreQueries extends QueryFamily {

  val defs: Seq[QueryDef] = Seq(
    // ---- STORE FSCK: every documented failure window of the store
    // layout, planted and detected — a ghost doc indexed without norms
    // (the two-commit crash window), a blind double-append (the retry
    // hazard batch-addressed writes prevent), a corrupt position, a
    // duplicated norm row, and a tombstone naming an id the store never
    // held (the GC crash window — serving no-op, operator-visible).
    // The healthy ANN fixture store audits to all-zero findings in the
    // same pass. Oracle = the closed-form expected findings ----
    QueryDef("q_store_fsck", (s, dir) => {
      import s.implicits._
      val idx = tempQueryDir("fsck").toString +
        "/index"
      val d = docs(s, dir).select("doc_id", "text")
      graft.pipeline.Retrieval.writePostingsIndex(d, idx)
      // corruption is planted INSIDE the current generation (the store
      // is versioned now; in-generation appends are where the two-commit
      // and blind-re-append windows still live)
      val gen = graft.pipeline.VersionedStore.tableRoot(idx)
      // the hand-planted rows and the blind re-append land in ONE append
      // job per table (they always targeted the same dir; a union writes
      // the same rows with one commit instead of two)
      Seq(("ghost", 900001L, 0L), ("bad", 1L, -1L))
        .toDF("token", "doc_id", "pos")
        .unionByName(graft.pipeline.Retrieval.positionalPostings(
          d.where(col("doc_id") === 0L)))
        .write.mode("append").parquet(s"$gen/postings")
      Seq((900003L, 5L)).toDF("doc_id", "dl")
        .unionByName(
          graft.pipeline.Retrieval.docLengths(d.where(col("doc_id") === 2L)))
        .write.mode("append").parquet(s"$gen/doclens")
      graft.pipeline.Retrieval.tombstoneDocs(s, idx, Seq(999999L, 3L))
      // batch-layout audit (listing-sized, no rows read): plant by hand
      // the states the write guards refuse to create — a torn two-table
      // batch append (sigs/batch=2 landed, banded/batch=2 never did), a
      // MIXED flat+batch table (top-level data file next to batch=
      // dirs — the state that bricks partition discovery), and an
      // invalid batch subdir (would type the discovered batch column as
      // string, breaking every batch <= n pin lexicographically)
      val bl = tempQueryDir("fsckbl").toString +
        "/sig"
      Dedup.writeSignatureStore(d.where(col("doc_id") < 4), bl,
        batchId = Some(0L))
      Dedup.appendToSignatureStoreBatch(d.where(col("doc_id") >= 4), bl, 1L)
      val blGen = graft.pipeline.VersionedStore.tableRoot(bl)
      Seq(900100L).toDF("id").write.parquet(s"$blGen/sigs/batch=2")
      Seq((900101L, 0, 0L)).toDF("id", "band", "bucket")
        .write.mode("append").parquet(s"$blGen/banded")
      graft.pipeline.StoreFs.mkdirs(s"$blGen/sigs/batch=abc")
      graft.pipeline.StoreFsck.postingsStore(s, idx)
        .unionByName(graft.pipeline.StoreFsck.annStore(s,
            graft.sources.WireFixtures.annIndexDir(s, dir))
          .select(concat(lit("ann_"), col("check_name")).as("check_name"),
            col("n_bad")))
        .unionByName(graft.pipeline.StoreFsck.batchLayout(s, bl,
            Seq("sigs", "banded"))
          .select(concat(lit("batch_"), col("check_name")).as("check_name"),
            col("n_bad")))
        // the healthy baseline: a FLAT store is a valid (just unpinnable)
        // layout and must score zero on every batch-layout row
        .unionByName(graft.pipeline.StoreFsck.batchLayout(s, idx,
            Seq("postings", "doclens"))
          .select(concat(lit("flat_"), col("check_name")).as("check_name"),
            col("n_bad")))
    },
      // store fsck: closed-form expected findings — each planted
      // corruption counted exactly (the double-append contributes one
      // duplicate group per posting row of doc 0, i.e. its token count),
      // and the healthy ANN store audits to zeros
      oracle = "SELECT 'postings_without_doclens' AS check_name," +
        " CAST(1 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'doclens_without_postings', 1" +
        " UNION ALL SELECT 'duplicate_postings'," +
        " (SELECT CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)" +
        " FROM documents WHERE doc_id = 0)" +
        " UNION ALL SELECT 'duplicate_doclens', 1" +
        " UNION ALL SELECT 'negative_positions', 1" +
        " UNION ALL SELECT 'tombstones_of_absent_ids', 1" +
        " UNION ALL SELECT 'ann_cells_with_unknown_centroid', 0" +
        " UNION ALL SELECT 'ann_vectors_in_multiple_cells', 0" +
        " UNION ALL SELECT 'ann_duplicate_cell_rows', 0" +
        " UNION ALL SELECT 'batch_mixed_flat_and_batch_layout', 1" +
        " UNION ALL SELECT 'batch_invalid_batch_subdirs', 1" +
        " UNION ALL SELECT 'batch_torn_batch_appends', 1" +
        " UNION ALL SELECT 'flat_mixed_flat_and_batch_layout', 0" +
        " UNION ALL SELECT 'flat_invalid_batch_subdirs', 0" +
        " UNION ALL SELECT 'flat_torn_batch_appends', 0"),

    // ---- fsck of the GENERATION PROTOCOL itself: every documented
    // crash/sweep shape of the versioned-store lifecycle planted by
    // hand into one root — an incomplete publish, a complete-but-
    // unreferenced flip casualty, a table-less COMPLETE remnant (what
    // a swept-mid-commit publisher under older code could leave), a
    // crashed pointer flip's tmp and a dead-pid same-host reservation —
    // and every count oracled exactly ----
    QueryDef("q_store_fsck_versioned", (s, dir) => {
      import s.implicits._
      val V = graft.pipeline.VersionedStore
      val F = graft.pipeline.StoreFs
      val root = tempQueryDir("fsckv")
        .toString + "/store"
      V.publish(root, Map("a" -> Seq((1L, "g1")).toDF("id", "v")))
      V.publish(root, Map("a" -> Seq((1L, "g2")).toDF("id", "v")))
      // crash BEFORE the marker: incomplete generation
      Seq((9L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-3/a")
      // crash AFTER the marker, BEFORE the flip: complete, unreferenced
      Seq((8L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-4/a")
      F.mkdirs(s"$root/gen-4"); F.writeAtomic(s"$root/gen-4/_COMPLETE",
        Array.empty)
      // table-less COMPLETE remnant (empty_complete_generations)
      F.mkdirs(s"$root/gen-9"); F.writeAtomic(s"$root/gen-9/_COMPLETE",
        Array.empty)
      // crashed flip tmp
      F.writeAtomic(s"$root/${V.PointerTmpPrefix}12345", Array.empty)
      // dead-pid SAME-HOST reservation (gc's provably-abandoned shape)
      F.mkdirs(s"$root/gen-5")
      F.writeAtomic(s"$root/gen-5/_RESERVED",
        s"${V.hostId} 999999999 0".getBytes("UTF-8"))
      // a registered pin whose lease expired (crashed registrant that
      // never released): aged past the 7-day default — its generation
      // stops being spared, the file is dead bytes; a LIVE pin on the
      // current generation is NOT a finding (registered-and-working is
      // the healthy state)
      val tok = V.registerPin(root, 1L)
      F.setModificationTime(s"$root/gen-1/${V.PinPrefix}$tok",
        System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
      V.registerPin(root, 2L)
      graft.pipeline.StoreFsck.versionedStore(s, root)
    },
      // generation-protocol fsck: one planted instance of each documented
      // crash/sweep shape — counts are closed-form by construction
      oracle = "SELECT 'incomplete_generations' AS check_name," +
        " CAST(2 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'orphan_pointer_tmps', 1" +
        " UNION ALL SELECT 'unreferenced_complete_generations', 2" +
        " UNION ALL SELECT 'missing_pointer_with_generations', 0" +
        " UNION ALL SELECT 'corrupt_pointer', 0" +
        " UNION ALL SELECT 'pointer_to_missing_generation', 0" +
        " UNION ALL SELECT 'empty_complete_generations', 1" +
        " UNION ALL SELECT 'stale_reservations', 1" +
        " UNION ALL SELECT 'superseded_pointer_markers', 0" +
        " UNION ALL SELECT 'expired_pin_files', 1" +
        " UNION ALL SELECT 'live_pin_files', 1"),

    // ---- fsck COVERAGE for the remaining store families: the healthy
    // fixture stores (NB model, bigram-LM model, minhash signature)
    // plus a just-built batch-partial sketch store audit to ALL-ZERO
    // findings in one pass — the operational baseline every deployment
    // pins before trusting a store; injected-corruption detection per
    // family is spec-side (StoreFsckSpec) ----
    QueryDef("q_store_fsck_models", (s, dir) => {
      val F = graft.pipeline.StoreFsck
      val W = graft.sources.WireFixtures
      def pfx(p: String, df: DataFrame) =
        df.select(concat(lit(p), col("check_name")).as("check_name"),
          col("n_bad"))
      val dfDir = tempQueryDir("fsckdf")
        .toString + "/sketch"
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"))
      // two batch appends in order: the first publishes the store's
      // generation 1, the second lands inside it
      graft.pipeline.QuantileStore.appendBatch(
        scored.where(col("doc_id") % 2 === 0), dfDir, 0L, "len", "lang", 50L)
      graft.pipeline.QuantileStore.appendBatch(
        scored.where(col("doc_id") % 2 === 1), dfDir, 1L, "len", "lang", 50L)
      // registry coverage: the digest-dispatch decode silently drops
      // rows whose schema_id no registered schema resolves — audit it
      // like every other store hazard. Healthy store (all digests
      // registered) → 0; one event stamped with a digest the registry
      // never saw → 1, re-derived exactly by the oracle
      val v1 = graft.model.VersionedSchemaSet.eventPayloadV1
      val regSet = graft.model.VersionedSchemaSet(Seq(v1))
      val ghost = graft.model.VersionedSchema("ghost", 1,
        """{"type":"record","name":"Ghost","fields":[]}""")
      val stamped = env(s, dir).limit(100)
        .select(lit(v1.digest).as("schema_id"))
      // evolution round-trip: one sampled row per digest decodes
      // against the latest reader. Healthy: v1+v2 payloads, v2 reader
      // (the defaulted-field evolution decodeByDigest serves) → 0. A
      // planted v3 reader whose new field has NO default cannot resolve
      // either writer → both digests fail AT AUDIT TIME, not mid-query
      val encV1 = graft.functions.AvroCodec.encodeEventPayload(v1.schemaJson)
      val v2 = graft.model.VersionedSchema("events", 2,
        v1.schemaJson.dropRight(2) +
          """,{"name":"extra","type":["string","null"],"default":"x"}]}""")
      val v3bad = graft.model.VersionedSchema("events", 3,
        v1.schemaJson.dropRight(2) +
          """,{"name":"required_new","type":"string"}]}""")
      val encV2 = graft.functions.AvroCodec.encodeEventPayload(v2.schemaJson)
      val payloadStruct = struct(
        col("seq").as("event_id"), col("key_long").as("user_id"),
        graft.sources.ChangeFeed.registry.nameCol(col("source_id"))
          .as("event_type"),
        col("value"), col("props"))
      val mixed = env(s, dir).limit(200).select(col("seq"),
        when(col("seq") % 2 === 0, encV1(payloadStruct))
          .otherwise(encV2(payloadStruct)).as("payload"),
        when(col("seq") % 2 === 0, lit(v1.digest))
          .otherwise(lit(v2.digest)).as("schema_id"))
      val evoSet = graft.model.VersionedSchemaSet(Seq(v1, v2))
      pfx("nb_", F.nbModelStore(s, W.nbModelDir(s, dir)))
        .unionByName(pfx("lm_", F.lmModelStore(s, W.lmModelDir(s, dir))))
        .unionByName(pfx("mh_", F.minhashStore(s, W.minhashStoreDir(s, dir))))
        .unionByName(pfx("df_", F.batchPartialStore(s, dfDir,
          Seq("stratum", "bucket"), "cnt")))
        .unionByName(pfx("reg_ok_", F.schemaCoverage(s, stamped, regSet)))
        .unionByName(pfx("reg_", F.schemaCoverage(s,
          stamped.unionByName(
            stamped.limit(1).select(lit(ghost.digest).as("schema_id"))),
          regSet)))
        .unionByName(pfx("reg_ok_",
          F.schemaEvolution(s, mixed, evoSet, "events")))
        .unionByName(pfx("reg_evo_",
          F.schemaEvolution(s, mixed, evoSet.add(v3bad), "events")))
        // the PQ tier of both round-11 ANN stores: dense books, m-wide
        // in-range code words, no double-coded ids — all zero healthy
        .unionByName(pfx("pq_", F.pqStore(s,
          graft.sources.WireFixtures.pqIndexDir(s, dir))))
        .unionByName(pfx("ivfpq_", F.pqStore(s,
          graft.sources.WireFixtures.ivfPqIndexDir(s, dir), "cells")))
        // quantizer drift: the frozen books' live reconstruction error
        // vs the persisted at-train baseline — the twins append encodes
        // identically to its originals, so a healthy store measures
        // exactly the train figure (ratio 1 < threshold) and the audit
        // is deterministic; a shifted corpus flips the row (spec-pinned)
        .unionByName({
          val all = vecs(s, dir)
          val withTwins = all.unionByName(
            all.select((col("id") + 1000000L).as("id"), col("vec")))
          // the two drift audits hit different stores and each runs a
          // chain of driver-blocking probes — overlapped (guide §2.6)
          val O = graft.pipeline.Overlap
          val fPq = O.run(pfx("pq_", F.pqDrift(s,
            graft.sources.WireFixtures.pqIndexDir(s, dir), withTwins)))
          val fIvfPq = O.run(pfx("ivfpq_", F.pqDrift(s,
            graft.sources.WireFixtures.ivfPqIndexDir(s, dir), withTwins,
            "cells")))
          O.settle(fPq, fIvfPq)
          O.value(fPq).unionByName(O.value(fIvfPq))
        })
    },
      // model/signature/partial-store fsck: healthy stores audit to
      // all-zero findings — the closed-form operational baseline
      oracle = Seq("nb_nonpositive_counts", "nb_nonpositive_class_rows",
          "nb_duplicate_count_rows", "nb_duplicate_class_rows",
          "nb_counts_without_class", "nb_vocab_scalar_drift",
          "nb_doc_total_drift",
          "lm_nonpositive_unigrams", "lm_nonpositive_bigrams",
          "lm_duplicate_unigrams", "lm_duplicate_bigrams",
          "lm_bigrams_of_lost_tokens", "lm_vocab_scalar_drift",
          "mh_signed_without_banding", "mh_banded_without_signature",
          "mh_wrong_band_count", "mh_wrong_signature_width",
          "mh_duplicate_signatures", "mh_tombstones_of_absent_ids",
          "df_legacy_string_batch_dirs",
          "df_nonpositive_partials", "df_invalid_batch_ids",
          "df_intra_batch_duplicates",
          "reg_ok_events_with_unregistered_schema",
          "pq_sparse_subspace_books", "pq_missing_subspace_books",
          "pq_wrong_code_width",
          "pq_codes_out_of_range", "pq_duplicate_code_ids",
          "ivfpq_sparse_subspace_books", "ivfpq_missing_subspace_books",
          "ivfpq_wrong_code_width",
          "ivfpq_codes_out_of_range", "ivfpq_duplicate_code_ids",
          "pq_quantizer_stats_missing", "pq_adc_error_drift",
          "pq_corpus_binding_mismatch", "pq_drift_unmeasurable",
          "ivfpq_quantizer_stats_missing", "ivfpq_adc_error_drift",
          "ivfpq_corpus_binding_mismatch", "ivfpq_drift_unmeasurable",
          "reg_ok_digests_failing_latest_reader")
        .map(n => s"SELECT '$n' AS check_name, CAST(0 AS BIGINT) AS n_bad")
        .mkString(" UNION ALL ") +
        " UNION ALL SELECT 'reg_events_with_unregistered_schema'" +
        " AS check_name, CAST(1 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'reg_evo_digests_failing_latest_reader', 2"),

    // ---- fsck for the SERVING-STATE stores (event log + applier
    // state): the healthy protocols audit clean, and every injected
    // hazard — a blind re-append that bypassed the offset log (its
    // windows now span files AND duplicate their (scn, seq) identity), a
    // compaction tmp whose swap never ran, an applier compaction that
    // crashed between its marker and its pointer flip — surfaces as a
    // non-zero finding the oracle re-derives from the same envelope ----
    QueryDef("q_store_fsck_log", (s, dir) => {
      val F = graft.pipeline.StoreFsck
      def pfx(p: String, df: DataFrame) =
        df.select(concat(lit(p), col("check_name")).as("check_name"),
          col("n_bad"))
      val root = tempQueryDir("fscklog").toString
      val events = env(s, dir)
      graft.streaming.RelayStream.writeEventLog(events, s"$root/log")
      // inject: the 5 lowest (scn, seq) events re-appended blind, plus a
      // crashed compaction's tmp
      events.orderBy("scn", "seq").limit(5)
        .write.mode("append").parquet(s"$root/log")
      graft.pipeline.StoreFs.mkdirs(s"$root/log.compact-tmp")
      // applier: two healthy log deltas, then a crashed compaction — its
      // generation complete but never flipped to, and its pointer tmp
      graft.streaming.Applier.applyBatch(s,
        events.where(col("scn") % 2 === 0), s"$root/state")
      graft.streaming.Applier.applyBatch(s,
        events.where(col("scn") % 2 =!= 0), s"$root/state")
      graft.pipeline.StoreFs.mkdirs(s"$root/state/gen-2/snapshot")
      graft.pipeline.StoreFs.writeAtomic(s"$root/state/gen-2/_COMPLETE",
        Array.empty)
      graft.pipeline.StoreFs.writeAtomic(
        s"$root/state/${graft.pipeline.VersionedStore.PointerTmpPrefix}12345",
        Array.empty)
      pfx("log_", F.eventLogStore(s, s"$root/log"))
        .unionByName(pfx("state_", F.applierState(s, s"$root/state")))
    },
      // serving-state fsck: the injected hazards are exact (5 re-appended
      // events, one tmp dir, one unflipped generation and its pointer
      // tmp); the only
      // data-dependent finding — how many WINDOWS the re-appended slice
      // spans — re-derives from the envelope itself
      oracle = s"$ENV SELECT 'log_orphan_compact_tmp' AS check_name," +
        " CAST(1 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'log_orphan_compact_backup', 0" +
        " UNION ALL SELECT 'log_missing_with_backup', 0" +
        " UNION ALL SELECT 'log_duplicate_log_events', 5" +
        " UNION ALL SELECT 'log_windows_split_across_files'," +
        " (SELECT CAST(count(DISTINCT scn) AS BIGINT) FROM" +
        " (SELECT scn FROM envelope ORDER BY scn, seq LIMIT 5))" +
        " UNION ALL SELECT 'state_incomplete_generations', 0" +
        " UNION ALL SELECT 'state_orphan_pointer_tmps', 1" +
        " UNION ALL SELECT 'state_unreferenced_complete_generations', 1" +
        " UNION ALL SELECT 'state_missing_pointer_with_generations', 0" +
        " UNION ALL SELECT 'state_corrupt_pointer', 0" +
        " UNION ALL SELECT 'state_pointer_to_missing_generation', 0" +
        " UNION ALL SELECT 'state_empty_complete_generations', 0" +
        " UNION ALL SELECT 'state_stale_reservations', 0" +
        " UNION ALL SELECT 'state_superseded_pointer_markers', 0" +
        " UNION ALL SELECT 'state_expired_pin_files', 0" +
        " UNION ALL SELECT 'state_live_pin_files', 0" +
        " UNION ALL SELECT 'state_duplicate_snapshot_keys', 0" +
        " UNION ALL SELECT 'state_delete_rows_in_snapshot', 0"),

    // ---- C2: checkpoint persistence roundtrip — per-partition high-
    // watermark checkpoints stored + loaded through the FileSystem store
    // (FileSystemCheckpointPersistenceProvider staging-file protocol),
    // with the CheckpointMult round-robin cursor
    // (CheckpointMult.java:57-67) ----
    QueryDef("q_checkpoint_store", (s, dir) => {
      import s.implicits._
      val bounds = envCore(s, dir).groupBy(col("partition_id"))
        .agg(max(col("scn")).as("w"), min(col("scn")).as("p"))
        .collect() // bounded: one row per physical partition
      val mult = graft.model.CheckpointMult(
        bounds.map(r => r.getInt(0).toShort ->
          graft.model.Checkpoint.online(r.getLong(1), windowOffset = -1L,
            prevScn = r.getLong(2))).toMap,
        cursorPartition = Some(bounds.map(_.getInt(0)).min.toShort))
      val root = tempQueryDir("ckptstore").toString
      val store = new graft.model.FileSystemCheckpointStore(root)
      store.store("driver-consumer", mult)
      val loaded = store.load("driver-consumer").get
      val cursor = loaded.nextCursor.get.toInt
      loaded.checkpoints.toSeq
        .map { case (p, cp) => (p.toInt, cp.consumption_mode, cp.windowScn,
          cp.prevScn, cp.windowOffset, cursor) }
        .toDF("partition_id", "mode", "window_scn", "prev_scn",
          "window_offset", "next_cursor")
    },
      oracle = s"$ENV SELECT CAST(partition_id AS INT) AS partition_id," +
        " 'ONLINE_CONSUMPTION' AS mode, max(scn) AS window_scn," +
        " min(scn) AS prev_scn, CAST(-1 AS BIGINT) AS window_offset," +
        " (SELECT CAST(min(p2.partition_id) AS INT) FROM envelope p2" +
        "  WHERE p2.partition_id > (SELECT min(p3.partition_id) FROM envelope p3))" +
        " AS next_cursor FROM envelope GROUP BY partition_id"),

    // ---- §2.10: engine facade smoke — /bufferInfo, /stream after a
    // checkpoint, /targetSCN and /sources through one GraftEngine over a
    // log it loaded itself (loadDataEvents) ----
    QueryDef("q_engine_facade", (s, dir) => {
      val root = tempQueryDir("engine").toString
      val engine = new graft.GraftEngine(s, s"$root/log")
      engine.loadDataEvents(envCore(s, dir), filesHint = 4)
      val (minScn, maxScn) = engine.bufferInfo()
      engine.stream(graft.model.Checkpoint.online(500L))
        .agg(count(lit(1)).as("n_after_cp"),
          sum(col("key_long")).as("sum_keys_after"))
        .withColumn("min_scn", lit(minScn))
        .withColumn("max_scn", lit(maxScn))
        .withColumn("target_scn", lit(engine.targetScn()))
        .withColumn("n_sources", lit(engine.sources.size))
    },
      oracle = s"$ENV SELECT (SELECT count(*) FROM envelope WHERE scn > 500) AS n_after_cp," +
        " CAST((SELECT sum(key_long) FROM envelope WHERE scn > 500) AS BIGINT) AS sum_keys_after," +
        " (SELECT min(scn) FROM envelope) AS min_scn," +
        " (SELECT max(scn) FROM envelope) AS max_scn," +
        " (SELECT max(scn) FROM envelope) AS target_scn," +
        " 5 AS n_sources"),

    // ---- PIN OBSERVABILITY oracled: listPins is the API answering
    // "which jobs hold generations on this store, until when?" — the
    // fsck rows count its classifications, this row oracles the LISTING
    // itself against planted registrations (two live, one expired) with
    // wall-clock timestamps normalized to structure: which generation,
    // gc's own live classification, and expiry = registration + the
    // default 7-day lease ----
    QueryDef("q_list_pins", (s, dir) => {
      import s.implicits._
      val V = graft.pipeline.VersionedStore
      val F = graft.pipeline.StoreFs
      val root = tempQueryDir("listpins").toString + "/store"
      V.publish(root, Map("a" -> Seq((1L, "g1")).toDF("id", "v")))
      V.publish(root, Map("a" -> Seq((1L, "g2")).toDF("id", "v")))
      val expired = V.registerPin(root, 1L)
      F.setModificationTime(s"$root/gen-1/${V.PinPrefix}$expired",
        System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
      V.registerPin(root, 1L)
      V.registerPin(root, 2L)
      V.listPins(root).map(p => (p.gen, p.live,
          p.expiresAtMs.contains(p.registeredAtMs + 7L * 24 * 3600 * 1000L),
          p.token.nonEmpty))
        .toDF("gen", "live", "expires_at_lease", "has_token")
    },
      // pin observability: three planted registrations (gen 1 expired +
      // live, gen 2 live) as listPins reports them, timestamps normalized
      // to structure — liveness is gc's own classification, expiry is
      // registration + the default 7-day lease
      oracle = "SELECT CAST(1 AS BIGINT) AS gen, FALSE AS live," +
        " TRUE AS expires_at_lease, TRUE AS has_token" +
        " UNION ALL SELECT CAST(1 AS BIGINT), TRUE, TRUE, TRUE" +
        " UNION ALL SELECT CAST(2 AS BIGINT), TRUE, TRUE, TRUE")
  )
}
