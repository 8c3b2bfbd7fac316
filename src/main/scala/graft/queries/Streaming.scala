package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Checkpoint
import graft.operators._
import graft.pipeline.{Ann, Dedup, Multimodal}
import graft.functions.{TextFunctions => TF}
import graft.sources.ChangeFeed

import Fixtures._

/** Streaming state: every query whose name contains `_stream`, each driven
  * through checkpointed micro-batch drains. */
object StreamingQueries extends QueryFamily {

  /** Streaming-drift oracle: the q_drift_stats derivation instantiated
    * once per deterministic micro-batch slice (file mtime order makes
    * slice = batch), sharing the reference CTEs. */
  private lazy val driftStreamSql: String = {
    def batchPart(sfx: String, pred: String, id: Int): (String, String) = {
      val ctes =
        s" bt$sfx AS (SELECT b, count(*) AS cnt_batch FROM tokd" +
          s" WHERE $pred GROUP BY b)," +
          s" tb$sfx AS (SELECT count(*) AS n FROM tokd WHERE $pred)," +
          s" al$sfx AS (SELECT b AS bucket, coalesce(cnt_ref, 0) AS cnt_ref," +
          s" coalesce(cnt_batch, 0) AS cnt_batch" +
          s" FROM r FULL OUTER JOIN bt$sfx USING (b))"
      val expRaw = s"CAST(cnt_ref AS DOUBLE) * (SELECT n FROM tb$sfx)" +
        " / (SELECT n FROM tr)"
      val sel =
        s"SELECT CAST($id AS BIGINT) AS batch_id, bucket, cnt_ref, cnt_batch," +
          s" CAST(floor(CAST(cnt_ref * (SELECT n FROM tb$sfx) AS DOUBLE)" +
          " * 1000000.0 / (SELECT n FROM tr)) AS BIGINT) AS expected_e6," +
          s" CAST(floor((CAST(cnt_batch AS DOUBLE) - $expRaw)" +
          s" * (CAST(cnt_batch AS DOUBLE) - $expRaw)" +
          s" / greatest($expRaw, 1.0) * 1000000.0) AS BIGINT)" +
          s" AS chi2_contrib_e6 FROM al$sfx"
      (ctes, sel)
    }
    val (c0, s0) = batchPart("0", "doc_id % 10 = 0", 0)
    val (c1, s1) = batchPart("1", "doc_id % 10 = 5", 1)
    "WITH tokd AS (SELECT doc_id," +
      " CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS b" +
      " FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok" +
      " FROM documents))," +
      " r AS (SELECT b, count(*) AS cnt_ref FROM tokd WHERE doc_id % 5 <> 0" +
      " GROUP BY b)," +
      " tr AS (SELECT count(*) AS n FROM tokd WHERE doc_id % 5 <> 0)," +
      c0 + "," + c1 + " " + s0 + " UNION ALL " + s1
  }

  /** Drain `stream` to its end through `body`, checkpointed at `cp`: the
    * AvailableNow run each resumed drain of this family makes. */
  private def drain(stream: DataFrame, cp: String)(
      body: (DataFrame, Long) => Unit): Unit =
    graft.streaming.HomeSink.start(stream, Some(cp))(body).awaitTermination()

  val defs: Seq[QueryDef] = Seq(
    // ---- K1/K2: /stream from a checkpoint (partial-window resume) ----
    QueryDef("q_stream_checkpoint", (s, dir) =>
      Relay.streamEvents(envCore(s, dir), cp = Checkpoint.online(500L, 3L)),
      oracle = s"$ENV SELECT * FROM envelope WHERE scn > 500" +
        " OR (scn = 500 AND seq - scn >= 3)"),

    // ---- K1: time-based start (flexible checkpoint + tsNsecs) ----
    QueryDef("q_stream_since_ts", (s, dir) =>
      Relay.streamEvents(envCore(s, dir), // 2024-01-15T00:00:00Z
        cp = Checkpoint(tsNsecs = 1705276800000000000L)),
      oracle = s"$ENV SELECT * FROM envelope WHERE ts_us >= 1705276800000000"),

    // ---- K1: /stream with an event budget (size param analog) ----
    QueryDef("q_stream_budget", (s, dir) =>
      Relay.streamEvents(envCore(s, dir), maxEvents = Some(500)),
      oracle = s"$ENV SELECT * FROM envelope ORDER BY scn, seq LIMIT 500"),

    // ---- stateful analytics, STREAMING form: flatMapGroupsWithState
    // sessionizer driven over the event log in three resumed runs (two
    // time-slices + a per-key sentinel past the gap that closes every
    // open session) — per-key open-session state survives each restart
    // through the checkpointed state store; the emitted closed sessions
    // at completion equal the batch q_sessionize derivation (same
    // oracle) with session_seq re-derived from session order ----
    QueryDef("q_sessionize_stream", (s, dir) => {
      val gapUs = 4L * 3600L * 1000000L
      val root = tempQueryDir("sessstream").toString
      // a 20% key slice: the state-machine demo needs stateful coverage,
      // not the full envelope volume (the batch form q_sessionize covers
      // that); oracle mirrors the slice
      val ev = envCore(s, dir).where(col("key_long") % 5 === 0)
        .select(col("key_long").as("key"), col("ts_us").as("ts"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (tMin, tMax) = (mm.getLong(0), mm.getLong(1))
      val mid = tMin + (tMax - tMin) / 2
      // three time-ordered slices driven through three RESUMED
      // AvailableNow runs off one checkpoint: write slice → drain →
      // write next slice → drain. Batch order is STRUCTURAL (a slice is
      // the only unadmitted data when its run starts), so no mtime /
      // file-admission-order trust remains — the earlier mtime-stamped
      // single-run form still flaked under heavy box load (observed
      // 1361-row output in a 151-query session, correct alone). Per-key
      // open-session state survives each restart through the
      // checkpointed state store, which is the property this query
      // demonstrates.
      //
      // the stateful shuffle/state-store width follows the session's
      // shuffle partitions; this demo's state is thousands of keys, so a
      // session clone pinned to 4 partitions cuts 32× state-store commit
      // overhead per micro-batch (at 100 TB you'd size it to the cluster)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      import s2.implicits._
      def drainOnce(): Unit = {
        val feed = s2.readStream.schema("key LONG, ts LONG")
          .parquet(s"$root/in")
          .as[graft.operators.Sessions.SessionEvent]
          .transform(in => Sessions.sessionizeStream(in, gapMs = gapUs,
          useTimeout = false).toDF())
        drain(feed, s"$root/cp") { (b, batchId) =>
          // batch-addressed sink: a foreachBatch retry (at-least-once)
          // rewrites its own partial instead of doubling rows
          b.coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId"); ()
        }
      }
      ev.where(col("ts") <= mid).coalesce(2).write.parquet(s"$root/in")
      drainOnce()
      ev.where(col("ts") > mid).coalesce(2)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      // per-key sentinels past the gap close every still-open session
      ev.select(col("key")).distinct()
        .select(col("key"), lit(tMax + gapUs + 1).as("ts"))
        .coalesce(1).write.mode("append").parquet(s"$root/in")
      drainOnce()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("session_start"))
      s.read.parquet(s"$root/out").drop("batch")
        .withColumn("session_seq", row_number().over(w).cast("long") - 1L)
        .select(col("key").as("key_long"), col("session_seq"),
          col("session_start"), col("session_end"), col("n_events"))
    },
      oracle = s"$ENV SELECT key_long, session_seq, min(ts_us) AS session_start," +
        " max(ts_us) AS session_end, count(*) AS n_events FROM" +
        " (SELECT key_long, ts_us, CAST(sum(new_session) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM" +
        " (SELECT key_long, ts_us, CASE WHEN ts_us - lag(ts_us, 1) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us) > 14400000000 THEN 1 ELSE 0 END AS new_session" +
        " FROM envelope WHERE key_long % 5 = 0)) GROUP BY key_long, session_seq"),

    // ---- dedup: STREAMING incremental — the fresh batch arrives as a
    // file stream in micro-batches, and the signature table is a PERSISTED
    // parquet store: each trigger signs ONLY its micro-batch (one
    // minhashSignatures call on the batch — O(batch) signing, the grown
    // corpus is never re-signed), bands new-vs-stored, then appends the
    // batch's signatures and docs to the stores. This is the production
    // incremental protocol at 100 TB; the union over batches is exactly
    // the touching-new edge set (same oracle as q_dedup_incremental) ----
    QueryDef("q_dedup_stream_incr", (s, dir) => {
      val root = tempQueryDir("streamincr").toString
      val old = docs(s, dir).select("doc_id", "text")
      // the stream carries INCREMENTS — 25% of the corpus size in two
      // micro-batches (increment ≪ corpus is the store protocol's
      // operating point; O(batch) signing is proven by the
      // PipelineOpsSpec accumulator independent of demo sizing)
      old.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .repartition(4).write.parquet(s"$root/in")
      // corpus onboarding — sign + band ONCE into the store fixture (the
      // one-time cost a production corpus pays at first signing, not per
      // increment; WireFixtures memoizes it per sfDir like the relay
      // segment logs). Increment appends land in a per-invocation OVERLAY
      // (a new store generation), never in the onboarded store. Doc TEXT
      // needs no store — it lives in the lake (base docs + the stream's
      // own input files), and the verify join only touches ids that
      // appeared in pairs, all on disk by the time they can collide.
      // Store writes coalesce: signature/banded rows are narrow, a
      // handful of files per generation keeps store re-reads cheap.
      val store = graft.sources.WireFixtures.minhashStoreDir(s, dir)
      val over = s"$root/overlay"
      // banded rows for overlay increments are DERIVED from their
      // signatures per trigger (a cheap kernel over increment-sized
      // frames), so signatures are the only store the protocol appends
      // to; before the first append the overlay is simply absent
      // overlay writes are BATCH-ADDRESSED (batch=<id> overwrite, the
      // appendToSignatureStoreBatch idiom): a foreachBatch retry
      // rewrites its own partial instead of double-appending replayed
      // signatures into every later estimate join; the discovered batch
      // column is layout, not data
      def overlaySigs() =
        if (graft.pipeline.StoreFs.isDirectory(s"$over/sigs"))
          s.read.parquet(s"$over/sigs").drop("batch")
        else Dedup.readSignatureStore(s, store).limit(0)
      val corpusText = old.unionByName(
        s.read.schema("doc_id LONG, text STRING").parquet(s"$root/in"))
      val stream = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 2)
        .parquet(s"$root/in")
      drain(stream, s"$root/cp") { (batch, batchId) =>
        // THREE jobs per trigger — detach, candidates, append — because
        // local-mode job latency, not data, dominates a micro-batch:
        // sign + band THE BATCH ONLY (O(batch); the PipelineOpsSpec
        // accumulator proves the corpus is never re-signed), broadcast
        // the increment's banded keys against the stored banded table
        // (increment ≪ corpus ⇒ the store streams through with no
        // shuffle), write candidates, append the batch signatures. The
        // estimate/verify stages run once after the stream drains —
        // signatures are immutable per id, so that is bit-identical to
        // estimating per increment. Both overlay writes land in their
        // own batch=<id> subdir with OVERWRITE semantics: a replayed
        // trigger recomputes the identical rows (minhash is
        // deterministic; the candidate set is distinct under the
        // replay's already-landed sigs) and rewrites its own partial
        val b = batch.localCheckpoint(true)
        try {
          val sigsNew = Dedup.minhashSignatures(b, "text", "doc_id", 3, 64)
          val bandedNew = Dedup.bandedBucketsFromSignatures(sigsNew)
          val bandedAll = Dedup.readBandedStore(s, store)
            .unionByName(Dedup.bandedBucketsFromSignatures(overlaySigs()))
            .unionByName(bandedNew)
          Dedup.incrementalCandidatesFromBanded(bandedNew, bandedAll,
              broadcastNew = true)
            .coalesce(4).write.mode("overwrite")
            .parquet(s"$over/cand/batch=$batchId")
          sigsNew.coalesce(4).write.mode("overwrite")
            .parquet(s"$over/sigs/batch=$batchId")
          ()
          // release the barrier blocks once the trigger's actions are
          // done — without this every micro-batch's MEMORY_AND_DISK
          // set lingers until ContextCleaner GC
        } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
      }
      // candidates touch overlay ids on one side and store∪overlay on the
      // other; the estimate reads both signature generations
      val sigsAll = Dedup.readSignatureStore(s, store)
        .unionByName(overlaySigs())
      // candidates are collision-sized — broadcast them through the
      // estimate and verify joins so the signature/text tables stream
      // through build-side-free (no shuffle of the big sides)
      val cand = Dedup.estimatePairsFromSignatures(
        broadcast(s.read.parquet(s"$over/cand").drop("batch").distinct()),
        sigsAll, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(corpusText,
          broadcast(cand.select("id_a", "id_b")))
        .where(col("jaccard") >= 0.8).distinct()
    },
      // streaming form: the INCREMENT is realistically sized (25% of the
      // corpus arriving over the stream — increment ≪ corpus is the
      // operating point of the store protocol); accumulates the identical
      // touching-new edge set over the restricted fresh side
      oracle = jaccardPairsOracleSql(0.8, "",
        " AND (p.id_a >= 1000000 OR p.id_b >= 1000000)",
        " WHERE doc_id % 4 = 0")),

    // ---- CDC-maintained SIGNATURE store — the production streaming
    // dedup shape (the q_index_cdc_stream / q_ivfpq_cdc_stream
    // discipline on the dedup store family): the change feed's
    // UPSERT/DELETE opcodes drive the store per micro-batch. The first
    // micro-batch bootstraps the batch-addressed layout at publish;
    // later upserts sign+band O(batch) into their own batch=<id>
    // overwrite dirs (a replayed trigger rewrites its partial); deletes
    // append tombstones (replay-safe by set semantics). Serving after
    // the drain equals the near-dup pair set over an index built from
    // the net surviving docs ----
    QueryDef("q_sigstore_cdc_stream", (s, dir) => {
      val root = tempQueryDir("cdcsig").toString
      val old = docs(s, dir).select("doc_id", "text")
      val corpus = old.unionByName(
        old.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val store = s"$root/store"
      def drainOnce(): Unit = {
        val feed = s.readStream
          .schema("opcode STRING, doc_id LONG, text STRING")
          .parquet(s"$root/feed")
        drain(feed, s"$root/cp") { (b0, batchId) =>
          // one feed read per trigger: the UPSERT write and the DELETE
          // probe are separate actions over the same micro-batch (the
          // localCheckpoint idiom of the sigstore/image streams)
          val b = b0.localCheckpoint(true)
          try {
            val ups = b.where(col("opcode") === "UPSERT")
              .select("doc_id", "text")
            if (graft.pipeline.VersionedStore.currentGen(store).isEmpty)
              Dedup.writeSignatureStore(ups, store,
                batchId = Some(batchId))
            else
              Dedup.appendToSignatureStoreBatch(ups, store, batchId)
            val dels = b.where(col("opcode") === "DELETE").select("doc_id")
            if (!dels.isEmpty) Dedup.tombstoneSignaturesDf(dels, store)
            ()
          } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
        }
      }
      // feed batch 1: upsert the even half of the twin corpus (a twin's
      // id has its base's parity — 1e6 is even — so twin pairs never
      // straddle a batch here)
      corpus.where(col("doc_id") % 2 === 0)
        .select(lit("UPSERT").as("opcode"), col("doc_id"), col("text"))
        .coalesce(1).write.parquet(s"$root/feed")
      drainOnce()
      // feed batch 2: upsert the odd half + take down doc_id % 8 = 0
      // (rows the FIRST batch indexed — the delete must reach stored
      // rows; 1e6 % 8 = 0, so a deleted base's twin is deleted too)
      corpus.where(col("doc_id") % 2 === 1)
        .select(lit("UPSERT").as("opcode"), col("doc_id"), col("text"))
        .unionByName(corpus.where(col("doc_id") % 8 === 0)
          .select(lit("DELETE").as("opcode"), col("doc_id"),
            lit(null).cast("string").as("text")))
        .coalesce(1).write.mode("append").parquet(s"$root/feed")
      drainOnce()
      val banded = Dedup.readBandedStore(s, store)
      val est = Dedup.estimatePairsFromSignatures(
        Dedup.incrementalCandidatesFromBanded(banded, banded),
        Dedup.readSignatureStore(s, store), jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(corpus,
          broadcast(est.select("id_a", "id_b")))
        .where(col("jaccard") >= 0.8)
    },
      // CDC-maintained signature store: pairs over the net surviving docs
      // — every combined-corpus id with doc_id % 8 = 0 was taken down by
      // the second feed batch (twin ids included: 1e6 % 8 = 0)
      oracle = jaccardPairsOracleSql(0.8, "",
        corpusWhere = " WHERE doc_id % 8 <> 0")),

    // ---- K1/C4: CheckpointMult multi-timeline serve — per-partition
    // checkpoint bands + round-robin visit order after the cursor ----
    QueryDef("q_stream_mult", (s, dir) => {
      val cpMult = graft.model.CheckpointMult(
        checkpoints = Map(
          (0: Short) -> Checkpoint.online(200L),
          (1: Short) -> Checkpoint.online(400L),
          (2: Short) -> Checkpoint.online(600L),
          (3: Short) -> Checkpoint.flexible),
        cursorPartition = Some(1: Short))
      Relay.streamMult(envCore(s, dir), cpMult)
    },
      oracle = s"$ENV SELECT *," +
        " CAST(CASE partition_id WHEN 2 THEN 0 WHEN 3 THEN 1" +
        " WHEN 0 THEN 2 WHEN 1 THEN 3 END AS INT) AS serve_rank" +
        " FROM envelope WHERE (partition_id = 0 AND scn > 200)" +
        " OR (partition_id = 1 AND scn > 400)" +
        " OR (partition_id = 2 AND scn > 600)" +
        " OR partition_id = 3"),

    // ---- streaming dedup (batch form): an at-least-once replay (the
    // envelope unioned with itself) collapses back to exactly-once ----
    QueryDef("q_stream_dedup", (s, dir) => {
      val env = envCore(s, dir)
      graft.streaming.RelayStream.dedupStream(env.unionAll(env))
    },
      oracle = envelopeSql),

    // ---- PERSISTED quantile-sketch store: per-trigger histogram
    // partials (O(batch + buckets) each, batch-addressed overwrite →
    // replay-safe) merge at serve into per-lang median cutoffs that are
    // BIT-REPRODUCIBLE (histogram merge is sum — order-free, unlike
    // GK), then gate the corpus through one broadcast join. The rollup
    // compaction runs mid-query (reserved batch=-1, publish + gc) and
    // must not change a single served row ----
    QueryDef("q_quantile_stream", (s, dir) => {
      val root = tempQueryDir("qstore").toString
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        floor(TF.qualityScore(col("text")) * 10000.0 + lit(1e-6))
          .cast("long").as("q_e4"))
      scored.where(col("doc_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$root/in")
      scored.where(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(s"$root/in")
      val feed = s.readStream.schema("doc_id LONG, lang STRING, q_e4 LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/in")
      drain(feed, s"$root/cp") { (b, batchId) =>
        graft.pipeline.QuantileStore.appendBatch(b, s"$root/sketch",
          batchId, "q_e4", "lang", bucketWidth = 50L)
      }
      graft.pipeline.QuantileStore.compact(s, s"$root/sketch")
      graft.pipeline.QuantileStore.gateFromStore(scored, s"$root/sketch",
        "q_e4", "lang", qBp = 5000, bucketWidth = 50L)
    },
      // persisted histogram-sketch gate: the merged-store cutoff is
      // bit-reproducible (sum-merge), so the oracle re-derives the FULL
      // per-doc gate — bucket counts, cumulative cross-multiplied
      // boundary, lower-bound cutoff — not just a contract boolean
      oracle = s"WITH s AS (SELECT doc_id, lang," +
        s" CAST(floor(round($qualityExprSql, 6) * 10000.0 + 1e-6) AS BIGINT)" +
        " AS q_e4 FROM documents)," +
        " b AS (SELECT lang, q_e4 // 50 AS bucket, count(*) AS cnt" +
        " FROM s GROUP BY 1, 2)," +
        " c AS (SELECT lang, bucket, cnt," +
        " sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum," +
        " sum(cnt) OVER (PARTITION BY lang) AS n FROM b)," +
        " cut AS (SELECT lang, min(bucket) * 50 AS cutoff FROM c" +
        " WHERE cum * 10000 > 5000 * n GROUP BY lang)" +
        " SELECT doc_id, lang, q_e4, (q_e4 >= cutoff) AS selected" +
        " FROM s JOIN cut USING (lang)"),

    // ---- STREAMING LM scoring against the persisted model store: two
    // corpus slices drain through two resumed AvailableNow runs (the
    // structural-order discipline of q_drift_stream); each micro-batch
    // scores against the stored counts only — the model trains zero
    // times in this session. Completes the batch / store / streaming
    // triad of the perplexity filter ----
    QueryDef("q_lm_stream", (s, dir) => {
      val root = tempQueryDir("lmstream").toString
      val modelDir = graft.sources.WireFixtures.lmModelDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b, batchId) =>
          val model = graft.pipeline.LangModel.load(b.sparkSession, modelDir)
          graft.pipeline.LangModel.scoreNll(model, b)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
      }
      d.where(col("doc_id") % 10 === 1).coalesce(1)
        .write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 6).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "doc_id", "n_terms", "nll_e4")
    },
      // streaming LM scoring: slice → batch_id is structural (resumed
      // runs), so the oracle is the per-slice restriction of the same
      // derivation stamped with its batch id
      oracle = s"WITH $lmNllCtes," +
        " scored AS (SELECT d.doc_id," +
        " CAST(coalesce(sc.n_terms, 0) AS BIGINT) AS n_terms," +
        " CAST(coalesce(sc.nll_e4, 0) AS BIGINT) AS nll_e4" +
        " FROM documents d LEFT JOIN sc USING (doc_id))" +
        " SELECT CAST(0 AS BIGINT) AS batch_id, doc_id, n_terms, nll_e4" +
        " FROM scored WHERE doc_id % 10 = 1" +
        " UNION ALL" +
        " SELECT CAST(1 AS BIGINT) AS batch_id, doc_id, n_terms, nll_e4" +
        " FROM scored WHERE doc_id % 10 = 6"),

    // ---- STREAMING phrase audit: each arriving doc batch appends its
    // own postings to the persisted index (O(batch) — the ScnIndex
    // append-listener discipline) and records its membership; the final
    // attribution is ONE phrase search over the STORE the stream built,
    // hits attributed to the batch that delivered the doc ----
    QueryDef("q_phrase_stream", (s, dir) => {
      val root = tempQueryDir("phrstream").toString
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b0, batchId) =>
          // batch-addressed writes: a foreachBatch retry rewrites its
          // own partial (overwrite) instead of double-appending it.
          // localCheckpoint: the postings append and the membership
          // write are separate actions over the same micro-batch
          val b = b0.localCheckpoint(true)
          try {
            graft.pipeline.Retrieval.appendToPostingsIndexBatch(
              b, s"$root/index", batchId)
            b.select(col("doc_id")).withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$root/member/batch=$batchId")
            ()
          } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
        }
      }
      d.where(col("doc_id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      graft.pipeline.Retrieval.phraseSearch(
          graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
          Seq("table", "value"))
        .join(s.read.parquet(s"$root/member"), "doc_id")
        .select("batch_id", "doc_id", "n_hits", "first_pos")
    },
      // streaming phrase audit: hits restricted to the streamed slices,
      // attributed to the batch that delivered the doc
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents WHERE doc_id % 10 IN (3, 8))," +
        " h AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)" +
        " SELECT CAST(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE 1 END AS BIGINT)" +
        " AS batch_id, doc_id, CAST(len(st) AS BIGINT) AS n_hits," +
        " CAST(st[1] - 1 AS BIGINT) AS first_pos" +
        " FROM h WHERE len(st) > 0"),

    // ---- STREAMING takedown: DELETE opcodes arrive on a checkpointed
    // CDC feed and the first-class Tombstones.takedownStream sink
    // routes them into the store's tombstone set per micro-batch —
    // replay-safe with NO batch addressing because the tombstone set is
    // a semantic set (re-appending ids changes nothing an anti-join
    // observes). Two drains (the second feed file lands after the first
    // drain checkpointed) prove resume; serving afterwards is identical
    // to an index that never saw the deleted docs ----
    QueryDef("q_takedown_stream", (s, dir) => {
      val root = tempQueryDir("tdstream").toString
      val d = docs(s, dir).select("doc_id", "text")
      graft.pipeline.Retrieval.writePostingsIndex(d, s"$root/index")
      def feed(m: Long, mode: String): Unit =
        d.select(lit("DELETE").as("opcode"), col("doc_id").as("id"))
          .where(col("id") % 9 === m)
          .coalesce(1).write.mode(mode).parquet(s"$root/feed")
      def drainOnce(): Unit =
        graft.pipeline.Tombstones.takedownStream(
          s.readStream.schema("opcode STRING, id LONG")
            .parquet(s"$root/feed"),
          s"$root/index", s"$root/cp").awaitTermination()
      feed(4L, "overwrite"); drainOnce()
      feed(7L, "append"); drainOnce()
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        Seq("table", "value"))
    },
      // streaming takedown: both drained DELETE slices gone from serving
      oracle = phraseSearchSqlFor(
        "(SELECT * FROM documents WHERE doc_id % 9 NOT IN (4, 7))")),

    // ---- STREAMING exact unlearning (NB): forget rows ride a DELETE
    // feed; each micro-batch lands in the batch-addressed FORGET LOG
    // (overwrite per batch=<id> — subtraction is NOT idempotent, so
    // replay safety comes from batch addressing, not set semantics),
    // and serving composes unlearn(model, log) lazily — row-identical
    // to retraining on train ∖ forgotten (q_nb_unlearn's oracle,
    // reused verbatim) ----
    QueryDef("q_nb_unlearn_stream", (s, dir) => {
      val root = tempQueryDir("nbforget").toString
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.Classifier.train(train, labelCol = "lang")
      train.where(col("doc_id") % 6 === 1)
        .coalesce(1).write.parquet(s"$root/feed")
      val feed = s.readStream.schema("doc_id LONG, lang STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/feed")
      drain(feed, s"$root/cp") { (b, batchId) =>
        graft.pipeline.ForgetLog.appendBatch(b, s"$root/forget", batchId)
      }
      val unlearned = graft.pipeline.ForgetLog.readOpt(s, s"$root/forget")
        .map(log => graft.pipeline.Classifier.unlearn(model, log,
          labelCol = "lang"))
        .getOrElse(model)
      graft.pipeline.Classifier.classify(unlearned, d)
    },
      // streaming unlearn: identical derivations to the batch unlearn
      // queries — the forget-log protocol must land on the same model
      oracle = nbUnlearnSql),

    // ---- STREAMING exact unlearning (bigram LM): same forget-log
    // protocol, scored over the full corpus — q_lm_unlearn's oracle ----
    QueryDef("q_lm_unlearn_stream", (s, dir) => {
      val root = tempQueryDir("lmforget").toString
      val d = docs(s, dir).select("doc_id", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.LangModel.train(train)
      train.where(col("doc_id") % 6 === 1)
        .coalesce(1).write.parquet(s"$root/feed")
      val feed = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/feed")
      drain(feed, s"$root/cp") { (b, batchId) =>
        graft.pipeline.ForgetLog.appendBatch(b, s"$root/forget", batchId)
      }
      val unlearned = graft.pipeline.ForgetLog.readOpt(s, s"$root/forget")
        .map(graft.pipeline.LangModel.unlearn(model, _))
        .getOrElse(model)
      graft.pipeline.LangModel.scoreNll(unlearned, d)
    },
      oracle = lmUnlearnSql),

    // ---- CDC-maintained search index: a change FEED with the
    // reference's opcode semantics (UPSERT/DELETE — DbusOpcode.java:
    // 22-26) drives the postings store per micro-batch: upserts append
    // batch-addressed postings (replay = overwrite of the same
    // partial), deletes append tombstones (replay-safe by set
    // semantics). Serving after the drain must equal an index built
    // from the net surviving docs — the oracle re-derives exactly that.
    // Takedowns here are permanent (ids never return); a doc UPDATE in
    // this discipline is a new doc id, as in any append-only store ----
    QueryDef("q_index_cdc_stream", (s, dir) => {
      val root = tempQueryDir("cdcidx").toString
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val feed = s.readStream
          .schema("opcode STRING, doc_id LONG, text STRING")
          .parquet(s"$root/feed")
        drain(feed, s"$root/cp") { (b0, batchId) =>
          // one feed read per trigger (the localCheckpoint idiom)
          val b = b0.localCheckpoint(true)
          try {
            graft.pipeline.Retrieval.appendToPostingsIndexBatch(
              b.where(col("opcode") === "UPSERT").select("doc_id", "text"),
              s"$root/index", batchId)
            val dels = b.where(col("opcode") === "DELETE").select("doc_id")
            if (!dels.isEmpty)
              graft.pipeline.Retrieval.tombstoneDocsDf(dels, s"$root/index")
            ()
          } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
        }
      }
      // feed batch 1: upsert the even half of the corpus
      d.where(col("doc_id") % 2 === 0)
        .select(lit("UPSERT").as("opcode"), col("doc_id"), col("text"))
        .coalesce(1).write.parquet(s"$root/feed")
      drainOnce()
      // feed batch 2: upsert the odd half + take down doc_id % 8 = 0
      // (docs indexed by batch 1 — the delete must reach stored rows)
      d.where(col("doc_id") % 2 === 1)
        .select(lit("UPSERT").as("opcode"), col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 8 === 0)
          .select(lit("DELETE").as("opcode"), col("doc_id"),
            lit(null).cast("string").as("text")))
        .coalesce(1).write.mode("append").parquet(s"$root/feed")
      drainOnce()
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        Seq("table", "value"))
    },
      // CDC stream: every doc upserted across the two batches minus the
      // DELETE-opcode takedowns — serving must equal an index over the
      // net surviving set
      oracle = phraseSearchSqlFor("(SELECT * FROM documents WHERE doc_id % 8 <> 0)")),

    // ---- S1 LIVE streaming form: the capture as a MicroBatchStream —
    // offsets are txlog high-watermark SCNs, each micro-batch pulls one
    // (start, end] band from the database (the reference's poll loop as
    // streaming offset algebra); drained with AvailableNow in ~3 bounded
    // batches via the scn admission cap ----
    QueryDef("q_capture_jdbc_stream", (s, dir) => {
      val db = graft.sources.DerbyTxlogFixture.ensure(s, dir)
      val root = tempQueryDir("jdbccap").toString
      val span = graft.sources.JdbcTxlogCapture.maxScn(db.url,
        db.txlogTable) - 100000L
      val feed = s.readStream.format("graft-jdbc-capture")
        .option("url", db.url).option("view", db.viewTable)
        .option("txlog", db.txlogTable)
        .option("startingScn", 100000L)
        .option("maxScnPerBatch", math.max(span / 3 + 1, 1L))
        .load()
      drain(feed, s"$root/cp") { (batch, batchId) =>
        // batch-addressed sink: a retried trigger rewrites its partial
        batch.select(col("txn"), col("scn"), col("l_partkey"),
            col("l_quantity"))
          .coalesce(4).write.mode("overwrite")
          .parquet(s"$root/out/batch=$batchId")
        ()
      }
      s.read.parquet(s"$root/out").drop("batch")
    },
      oracle = jdbcCaptureSql),

    // ---- S5 streaming: the graft-ggtrail micro-batch source drained over
    // the same fixture trail — tailing must be lossless, so the identical
    // aggregation hash-matches q_ggtrail_parse's oracle ----
    QueryDef("q_ggtrail_stream", (s, dir) => {
      val trailDir = graft.sources.WireFixtures.goldenGateTrailDir(s, dir)
      val outDir = tempQueryDir("ggstream").toString
      val feed = graft.sources.GoldenGateTrail.stream(s, trailDir)
      drain(feed, s"$outDir/cp") { (batch, batchId) =>
        // batch-addressed sink: a retried trigger rewrites its partial
        batch.write.mode("overwrite").parquet(s"$outDir/out/batch=$batchId")
        ()
      }
      graft.sources.GoldenGateTrail.toEnvelope(
          s.read.parquet(s"$outDir/out").drop("batch"), ChangeFeed.registry)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          countDistinct(col("key_long")).as("n_keys"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
    },
      oracle = trailTotalsSql),

    // ---- S3/S4 streaming: continuous binlog assembly — the dump tailed
    // as a file stream, per-batch transaction assembly appended to a log,
    // read back and hash-matched against the batch parse's oracle ----
    QueryDef("q_binlog_stream", (s, dir) => {
      val dumpDir = graft.sources.WireFixtures.binlogDumpDir(s, dir)
      val root = tempQueryDir("binlogstream").toString
      graft.sources.BinlogFeed.startAssembled(s, dumpDir,
          ChangeFeed.registry, s"$root/out", s"$root/cp",
          maxFilesPerTrigger = 4)
        .awaitTermination()
      s.read.schema(graft.streaming.RelayStream.schema).parquet(s"$root/out")
        .drop("batch")
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
    },
      // streaming assembly is lossless → same derivation
      oracle = binlogParseSql),

    // ---- drift monitor, STREAMING form: each micro-batch of incoming
    // documents is chi-squared against the static reference corpus
    // inside foreachBatch — the per-batch gate a production ingestion
    // stream runs. The reference is reduced to its (bucket, count)
    // distribution ONCE and persisted before the stream starts (the
    // signature-store discipline); each trigger scans only its own batch
    // against the stored table. Two deterministic micro-batches (one
    // file per trigger, mtime-stamped). Oracle = the batch drift
    // derivation per slice. ----
    QueryDef("q_drift_stream", (s, dir) => {
      val root = tempQueryDir("driftstream").toString
      val d = docs(s, dir).select("doc_id", "text")
      // reference distribution: computed + persisted ONCE, ≤256 rows
      graft.pipeline.Monitor.referenceDistribution(
          docs(s, dir).where(col("doc_id") % 5 =!= 0).select("text"),
          buckets = 256)
        .coalesce(1).write.parquet(s"$root/refdist")
      // two slices through two RESUMED AvailableNow runs off one
      // checkpoint — batch order is STRUCTURAL (write → drain → write →
      // drain), the same no-mtime-trust discipline as
      // q_sessionize_stream: its mtime-ordered single-run form was
      // observed flaking under heavy box load
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b, batchId) =>
          val refCounts = b.sparkSession.read.parquet(s"$root/refdist")
          graft.pipeline.Monitor
            .tokenDriftFromCounts(refCounts, b, buckets = 256)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
      }
      d.where(col("doc_id") % 10 === 0).coalesce(1)
        .write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 5).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "bucket", "cnt_ref", "cnt_batch",
          "expected_e6", "chi2_contrib_e6")
    },
      // streaming drift: the same derivation once per deterministic slice
      oracle = driftStreamSql),

    // ---- ANN CDC feed: the vector store maintained from an
    // UPSERT/DELETE change stream (q_index_cdc_stream's discipline on
    // the IVF store): the first micro-batch BOOTSTRAPS the store
    // (writeIndex trains the codebook on it), every later batch
    // appends under the frozen codebook (O(batch)) and deletes append
    // tombstones. Batch 1 carries base + twins, batch 2 upserts
    // tritwins and takes down the twins of query ids < 8 — serving
    // lands on the q_ann_delete planted contract: rank-1 is the twin
    // where live, the tritwin where taken down (identical vectors share
    // every argmin, so the later-arriving tritwin joins its family's
    // cell whatever the codebook saw first) ----
    QueryDef("q_ann_cdc_stream", (s, dir) => {
      val root = tempQueryDir("anncdc").toString
      val all = vecs(s, dir)
      def drainOnce(): Unit = {
        val feed = s.readStream
          .schema("opcode STRING, id LONG, vec ARRAY<FLOAT>")
          .parquet(s"$root/feed")
        drain(feed, s"$root/cp") { (b0, bid) =>
          // one feed read per trigger (the localCheckpoint idiom)
          val b = b0.localCheckpoint(true)
          try {
            val ups = b.where(col("opcode") === "UPSERT").select("id", "vec")
            // the batchId THREADS THROUGH to the store writes: a
            // replayed micro-batch (foreachBatch is at-least-once)
            // overwrites its own batch=<id> partition instead of
            // double-appending cell rows — replay-idempotent appends,
            // the appendToPostingsIndexBatch discipline on the ANN
            // store (deletes were already idempotent by tombstone-set
            // semantics)
            if (graft.pipeline.VersionedStore.isVersioned(s"$root/index"))
              Ann.appendToIndexBatch(ups, s"$root/index", bid)
            else Ann.writeIndex(ups, s"$root/index", k = 8, iters = 3,
              batchId = Some(bid))
            val dels = b.where(col("opcode") === "DELETE").select("id")
            if (!dels.isEmpty)
              Ann.tombstoneVectorsDf(dels, s"$root/index")
            ()
          } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
        }
      }
      val up = lit("UPSERT")
      all.select(up.as("opcode"), col("id"), col("vec"))
        .unionByName(all.select(up.as("opcode"),
          (col("id") + 1000000L).as("id"), col("vec")))
        .coalesce(1).write.parquet(s"$root/feed")
      drainOnce()
      all.select(up.as("opcode"), (col("id") + 2000000L).as("id"), col("vec"))
        .unionByName(all.where(col("id") < 8)
          .select(lit("DELETE").as("opcode"),
            (col("id") + 1000000L).as("id"),
            lit(null).cast("array<float>").as("vec")))
        .coalesce(1).write.mode("append").parquet(s"$root/feed")
      drainOnce()
      val tripled = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 2000000L).as("id"), col("vec")))
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), tripled,
        s"$root/index", k = 5)
        .where(col("rank") === 1)
    },
      // ANN CDC feed: the stream-maintained store lands on the same
      // planted takedown contract as q_ann_delete (identical vectors
      // share every argmin, whichever batch trained the codebook)
      oracle = annTakedownTop1Sql),

    // ---- CDC maintenance of the PRODUCTION ANN shape (IVF-PQ):
    // q_ann_cdc_stream's protocol on the three-table residual-PQ store
    // — the first micro-batch bootstraps it (writeIvfPqIndex trains
    // coarse codebook + residual books on the batch, born
    // batch-addressed), every later batch assigns + residual-encodes
    // under BOTH frozen quantizers into its own batch=<id> partition
    // (replay overwrites its exact partial), deletes append tombstones.
    // Serving lands on the q_ann_delete planted contract: identical
    // vectors share the coarse argmin AND the code word whatever the
    // quantizers trained on, so rank-1 is the twin where live, the
    // tritwin where taken down ----
    QueryDef("q_ivfpq_cdc_stream", (s, dir) => {
      val root = tempQueryDir("ivfpqcdc").toString
      val all = vecs(s, dir)
      def drainOnce(): Unit = {
        val feed = s.readStream
          .schema("opcode STRING, id LONG, vec ARRAY<FLOAT>")
          .parquet(s"$root/feed")
        drain(feed, s"$root/cp") { (b0, bid) =>
          // one feed read per trigger (the localCheckpoint idiom)
          val b = b0.localCheckpoint(true)
          try {
            val ups = b.where(col("opcode") === "UPSERT").select("id", "vec")
            if (graft.pipeline.VersionedStore.isVersioned(s"$root/index"))
              Ann.appendToIvfPqIndexBatch(ups, s"$root/index", bid)
            else Ann.writeIvfPqIndex(ups, s"$root/index", k = 8,
              batchId = Some(bid))
            val dels = b.where(col("opcode") === "DELETE").select("id")
            if (!dels.isEmpty)
              Ann.tombstoneVectorsDf(dels, s"$root/index")
            ()
          } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
        }
      }
      val up = lit("UPSERT")
      all.select(up.as("opcode"), col("id"), col("vec"))
        .unionByName(all.select(up.as("opcode"),
          (col("id") + 1000000L).as("id"), col("vec")))
        .coalesce(1).write.parquet(s"$root/feed")
      drainOnce()
      all.select(up.as("opcode"), (col("id") + 2000000L).as("id"), col("vec"))
        .unionByName(all.where(col("id") < 8)
          .select(lit("DELETE").as("opcode"),
            (col("id") + 1000000L).as("id"),
            lit(null).cast("array<float>").as("vec")))
        .coalesce(1).write.mode("append").parquet(s"$root/feed")
      drainOnce()
      val tripled = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 2000000L).as("id"), col("vec")))
      Ann.ivfPqTopKFromStore(all.where(col("id") < 15), tripled,
        s"$root/index", k = 5)
        .where(col("rank") === 1)
    },
      // same planted contract on the CDC-maintained IVF-PQ store
      // (identical vectors share the coarse argmin AND the residual code
      // word under any training state)
      oracle = annTakedownTop1Sql),

    // ---- multimodal dedup, STREAMING store protocol: image batches
    // arrive as a file stream; each trigger DECODES ONLY ITS BATCH into
    // dHash signatures, hamming-joins them against the persisted store
    // plus the overlay of earlier triggers, and appends the batch's
    // signatures to the overlay (the corpus store itself is immutable —
    // same generation discipline as q_dedup_stream_incr). The final pair
    // set is batch-boundary-independent: every planted pair is found by
    // exactly the trigger that carries its derivative. Same recall
    // contract as q_image_incr ----
    QueryDef("q_image_stream_incr", (s, dir) => {
      implicit val sp: SparkSession = s
      val root = tempQueryDir("mediastream").toString
      val base = docs(s, dir).select("doc_id").where(col("doc_id") < 2000)
      Multimodal.resizeImages(Multimodal.attachSmoothImages(base), maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
        .repartition(4).write.parquet(s"$root/in")
      val store = graft.sources.WireFixtures.imageSigStoreDir(s, dir)
      val over = s"$root/overlay"
      // overlay writes are BATCH-ADDRESSED (batch=<id> overwrite, the
      // appendToSignatureStoreBatch idiom): a foreachBatch retry
      // rewrites its own partial instead of double-appending replayed
      // signatures; the discovered batch column is layout, not data
      def overlaySigs() =
        if (graft.pipeline.StoreFs.isDirectory(s"$over/sigs"))
          s.read.parquet(s"$over/sigs").drop("batch")
        else s.read.parquet(store).limit(0)
      val stream = s.readStream
        .schema("doc_id LONG, payload BINARY")
        .option("maxFilesPerTrigger", 2)
        .parquet(s"$root/in")
      drain(stream, s"$root/cp") { (batch, batchId) =>
        val b = batch.localCheckpoint(true)
        try {
          val sigsNew = Multimodal.imageSignatures(b)
          Dedup.incrementalHammingPairs(sigsNew,
              s.read.parquet(store).unionByName(overlaySigs()),
              maxHamming = 7, chunks = 8)
            .coalesce(4).write.mode("overwrite")
            .parquet(s"$over/pairs/batch=$batchId")
          sigsNew.coalesce(4).write.mode("overwrite")
            .parquet(s"$over/sigs/batch=$batchId")
          ()
        } finally graft.pipeline.PlanCache.freeLocalCheckpoint(b)
      }
      s.read.parquet(s"$over/pairs").drop("batch").distinct()
        .where(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))
    },
      // streaming form accumulates the same touching-new pair set over
      // micro-batches (batch-boundary-independent by construction)
      oracle = imageNeardupSql),

    // ---- STREAMING NB classification: each micro-batch classifies
    // against the PERSISTED model store — the model trains zero times
    // in the scoring session (q_lm_stream's resumed-run structural
    // batch order: drain, append, drain again) ----
    QueryDef("q_nb_stream", (s, dir) => {
      val root = tempQueryDir("nbstream").toString
      val modelDir = graft.sources.WireFixtures.nbModelDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b, batchId) =>
          val model = graft.pipeline.Classifier.load(b.sparkSession, modelDir)
          graft.pipeline.Classifier.classify(model, b)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
      }
      d.where(col("doc_id") % 10 === 2).coalesce(1)
        .write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 7).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "doc_id", "label", "nll_e4")
    },
      // streaming NB: same persisted-model derivation restricted to the
      // two slices, stamped with their structural batch ids
      oracle = s"WITH $nbCtes," +
        " pred AS (SELECT doc_id, label," +
        " CAST(score_e4 AS BIGINT) AS nll_e4 FROM pairs" +
        " QUALIFY row_number() OVER (PARTITION BY doc_id" +
        " ORDER BY score_e4, label) = 1)" +
        " SELECT CAST(0 AS BIGINT) AS batch_id, doc_id, label, nll_e4" +
        " FROM pred WHERE doc_id % 10 = 2" +
        " UNION ALL" +
        " SELECT CAST(1 AS BIGINT) AS batch_id, doc_id, label, nll_e4" +
        " FROM pred WHERE doc_id % 10 = 7"),

    // ---- STREAMING semantic decontamination: every micro-batch of
    // arriving train vectors anti-joins the PERSISTED eval-embedding
    // store (exact twins of vec_id < 10) — the broadcast nested-loop
    // scrub runs per trigger, the eval store is never recomputed.
    // Contract: batch slices %10==3 / %10==8 lose exactly their one
    // eval twin (vec_id 3 and 8) ----
    QueryDef("q_decontaminate_stream", (s, dir) => {
      val root = tempQueryDir("semdecon").toString
      val evalDir = graft.sources.WireFixtures.evalEmbStoreDir(s, dir)
      val e = vecs(s, dir)
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("id LONG, vec ARRAY<FLOAT>")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b, batchId) =>
          graft.pipeline.Semantic.semanticDecontaminate(b,
              b.sparkSession.read.parquet(evalDir), cosineThreshold = 0.99)
            .select(col("id"))
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
      }
      e.where(col("id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      e.where(col("id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out").select("batch_id", "id")
    },
      oracle = "SELECT CAST(0 AS BIGINT) AS batch_id, vec_id AS id FROM embeddings" +
        " WHERE vec_id % 10 = 3 AND vec_id <> 3" +
        " UNION ALL" +
        " SELECT CAST(1 AS BIGINT) AS batch_id, vec_id AS id FROM embeddings" +
        " WHERE vec_id % 10 = 8 AND vec_id <> 8"),

    // ---- STREAMING contamination audit: each arriving train batch is
    // shingled and attributed against the PERSISTED eval gram store
    // (doc_id < 50, rendered once) — per-batch cost O(batch), the store
    // scanned per trigger, never re-shingled. Same report surface as
    // q_contamination_report plus the batch id ----
    QueryDef("q_contamination_stream", (s, dir) => {
      val root = tempQueryDir("contam").toString
      val storeDir = graft.sources.WireFixtures.evalGramStoreDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b, batchId) =>
          // explicit exact mode: a df cap over ONE micro-batch would
          // measure within-batch frequency, not the corpus-global
          // boilerplate df the cap is defined on — a streaming
          // deployment caps against a maintained global df store or
          // not at all, and batch-bounded fan-out is already small
          graft.pipeline.Dedup.contaminationReportFromGrams(b,
              b.sparkSession.read.parquet(storeDir),
              maxGramDf = Int.MaxValue)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
      }
      d.where(col("doc_id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "train_id", "eval_id", "n_shared",
          "eval_grams", "leak_bp")
    },
      // streaming audit: same attribution re-derived per batch slice
      // (%10==3 → batch 0, %10==8 → batch 1) against the same eval set
      oracle = "WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " tg AS (SELECT CAST(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE 1 END" +
        " AS BIGINT) AS batch_id, doc_id AS train_id, unnest(s) AS g" +
        " FROM sh WHERE doc_id % 10 IN (3, 8))," +
        " p AS (SELECT batch_id, train_id, eval_id," +
        " CAST(count(*) AS BIGINT) AS n_shared" +
        " FROM tg JOIN eg USING (g) GROUP BY 1, 2, 3)" +
        " SELECT batch_id, train_id, eval_id, n_shared, eval_grams," +
        " CAST(n_shared * 10000 // eval_grams AS BIGINT) AS leak_bp" +
        " FROM p JOIN es USING (eval_id)"),

    // ---- CAPPED streaming contamination audit: the df cap decided on
    // the RUNNING GLOBAL train df maintained as a (g, df_part) append
    // store — a gram is reported while rare and suppressed from the
    // batch where its global df crosses the cap (batch-local capping
    // cannot express this; see contaminationAuditStreamBatch) ----
    QueryDef("q_contamination_stream_capped", (s, dir) => {
      val root = tempQueryDir("contamcap").toString
      val storeDir = graft.sources.WireFixtures.evalGramStoreDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val feed = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
        drain(feed, s"$root/cp") { (b, batchId) =>
          graft.pipeline.Dedup.contaminationAuditStreamBatch(b,
              b.sparkSession.read.parquet(storeDir),
              s"$root/dfstore", maxGramDf = 2, batchId = batchId)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
      }
      d.where(col("doc_id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "train_id", "eval_id", "n_shared",
          "eval_grams", "leak_bp")
    },
      // capped streaming audit: batch 0 caps on batch-0 df (the store
      // holds one batch), batch 1 on the df over BOTH batches — the
      // running-global-df semantics re-derived per batch prefix
      oracle = "WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " tg3 AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id % 10 = 3)," +
        " tg8 AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id % 10 = 8)," +
        " keep0 AS (SELECT g FROM tg3 GROUP BY g HAVING count(*) <= 2)," +
        " keep1 AS (SELECT g FROM (SELECT g FROM tg3 UNION ALL" +
        " SELECT g FROM tg8) GROUP BY g HAVING count(*) <= 2)," +
        " p AS (SELECT CAST(0 AS BIGINT) AS batch_id, train_id, eval_id," +
        " CAST(count(*) AS BIGINT) AS n_shared" +
        " FROM tg3 JOIN keep0 USING (g) JOIN eg USING (g) GROUP BY 2, 3" +
        " UNION ALL SELECT CAST(1 AS BIGINT), train_id, eval_id," +
        " CAST(count(*) AS BIGINT)" +
        " FROM tg8 JOIN keep1 USING (g) JOIN eg USING (g) GROUP BY 2, 3)" +
        " SELECT batch_id, train_id, eval_id, n_shared, eval_grams," +
        " CAST(n_shared * 10000 // eval_grams AS BIGINT) AS leak_bp" +
        " FROM p JOIN es USING (eval_id)")
  )
}
