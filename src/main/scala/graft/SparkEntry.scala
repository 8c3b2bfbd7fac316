package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Checkpoint
import graft.operators._
import graft.pipeline.{Ann, Dedup, Multimodal}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.sources.ChangeFeed

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data analytics ops), each with a DuckDB
  * oracle where the semantics are ANSI-SQL-expressible. See Scaladoc on the
  * operator implementations for reference citations.
  */
object SparkEntry {

  /** Flagship: bootstrap materialization (log → snapshot apply, A2/K6) of
    * the CDC feed on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Bootstrap.applyLog(env(spark, "/root/testdata/sf0.001"))

  /** All queries read the ingest-once serving layout (Store), not the raw
    * single-file source tables — see Store's Scaladoc for why. */
  private def env(s: SparkSession, dir: String): DataFrame =
    graft.sources.Store.eventLog(s, dir)

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Store.table(s, dir, name)

  /** Envelope view minus free-form props (the stable, hashable projection). */
  private def envCore(s: SparkSession, dir: String): DataFrame =
    env(s, dir).select("scn", "seq", "ts_us", "source_id", "partition_id",
      "opcode", "key_long", "value")

  /** Per-evaluation scratch root for the store/stream harness queries.
    * `Files.createTempDirectory` alone leaks: every Verify/Bench
    * evaluation of a store-building query (index write + appends +
    * compaction, streaming checkpoints, …) would accumulate a directory
    * tree under /tmp for the life of the box. Each dir registers in a
    * single JVM shutdown hook that deletes the trees recursively — the
    * dirs stay alive for the whole session (queries are lazily
    * re-evaluated, and a min-of-2 bench must reuse its fixture), then
    * leave with the process. */
  private val tempQueryDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempQueryDirs.forEach { p =>
        try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
        catch { case _: java.io.IOException => () } // exit-time best effort
      }))
  }
  private def tempQueryDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempQueryDirs.add(p)
    p
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")

  /** Pinned organic recall@10 floors for q_ann_recall — measured on the
    * natural embedding corpus at sf0.01 / sf0.1 / sf1 (values in
    * COVERAGE.md) and pinned with headroom below the minimum; the
    * deliberate low-budget case that proves the floors DISCRIMINATE is
    * AnnBatchStoreSpec's. Fully deterministic (deterministic k-means
    * init, no RNG), so a drop below a floor is a code or store change,
    * never box variance. */
  private val RecallFloorIvfQ = 0.78
  private val RecallFloorPq = 0.74
  private val RecallFloorIvfPq = 0.74

  /** Pinned pair-recall floor for q_semdedup_recall — the intra-cell
    * hyperplane-LSH configuration (8 planes × 4 tables, semdedup's
    * stated 100 TB regime) measured on the banded near-dup corpus
    * ([[graft.sources.WireFixtures.nearDupBandCorpus]]) at cosine 0.95:
    * 0.9724 / 0.9718 / 0.9697 at sf0.001 / sf0.01 / sf0.1, pinned with
    * headroom below the minimum. Deterministic (hash-derived jitter,
    * seeded k-means, seeded planes). The discriminating
    * too-concentrated case (16 planes × 1 table ≈ 0.44) is
    * SemanticWeightingSpec's. */
  private val RecallFloorSemdedupLsh = 0.93

  /** Documents corpus with planted exact duplicates (each doc twice, the
    * copy shifted by +1,000,000 in id) — exercises the near-dup pipeline on
    * data that genuinely contains duplicates. */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** The exact-Jaccard ≥ 0.8 verified duplicate pair set over
    * [[dupCorpus]] — LSH candidates → n-gram verify. Persisted through
    * PlanCache (same discipline as the signature tables): the production
    * composition computes pairs ONCE and feeds both the component
    * assignment and keep-one materialization from them, so the two driver
    * queries share this frame instead of re-blocking the corpus each.
    *
    * Oracle-equality caveat: the component/keep-one oracles define the
    * edge set by brute-force exact Jaccard, so their match depends on the
    * LSH prefilter (k=64, 16 bands, est ≥ 0.5) recalling every true
    * ≥ 0.8 pair — deterministic (hashing is seedless) and hash-proven on
    * the current corpora by q_dedup_minhash, but a NEW document corpus
    * with borderline ~0.8 pairs must re-validate q_dedup_minhash before
    * the component queries' oracle equality can be trusted (a band-miss
    * there is ~2e-4 per borderline pair and would diverge permanently). */
  private def verifiedDupPairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    pipeline.PlanCache.getOrPersist(corpus, "verified_pairs|0.8", {
      val cand = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(corpus, cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    })
  }

  /** One-time shared-fixture onboarding at a measured SF dir, for Bench's
    * untimed setup phase: every memoized fixture a timed query can
    * first-touch is built here instead, so per-query timings measure
    * plans, not whichever query happens to run first paying a shared
    * build (the r5/r6 bench-attribution artifact: q_cluster_keep_one
    * charged ~2.8s of verifiedDupPairs onboarding that a warm run does in
    * ~1s). Keep in sync with WireFixtures' builder list and the memoized
    * codebook/pair-set helpers below. */
  private[graft] def benchOnboard(s: SparkSession, dir: String): Unit = {
    import graft.sources.WireFixtures
    // SPARK_GRAFT_SETUP_DEBUG=1: per-fixture wall times to stderr, for
    // attributing setup_sec moves to a specific shared fixture build
    val dbg = sys.env.get("SPARK_GRAFT_SETUP_DEBUG").contains("1")
    def t[A](name: String)(f: => A): A =
      if (!dbg) f else {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(
          f"[setup] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        r
      }
    t("goldenGateTrailDir")(WireFixtures.goldenGateTrailDir(s, dir))
    t("minhashStoreDir")(WireFixtures.minhashStoreDir(s, dir))
    t("relayLogDir")(WireFixtures.relayLogDir(s, dir))
    t("chainedRelayLogDir")(WireFixtures.chainedRelayLogDir(s, dir))
    t("dbusv2LogDir")(WireFixtures.dbusv2LogDir(s, dir))
    t("dbusv2MixedLogDir")(WireFixtures.dbusv2MixedLogDir(s, dir))
    t("dbusv1LogDir")(WireFixtures.dbusv1LogDir(s, dir))
    t("avroSnapshotDir")(WireFixtures.avroSnapshotDir(s, dir))
    t("binlogDumpDir")(WireFixtures.binlogDumpDir(s, dir))
    t("annIndexDir")(WireFixtures.annIndexDir(s, dir))
    t("annIncrIndexDir")(WireFixtures.annIncrIndexDir(s, dir))
    t("annTakedownIndexDir")(WireFixtures.annTakedownIndexDir(s, dir))
    t("postingsTakedownDir")(WireFixtures.postingsTakedownDir(s, dir))
    t("minhashTakedownStoreDir")(WireFixtures.minhashTakedownStoreDir(s, dir))
    t("postingsStoreDir")(WireFixtures.postingsStoreDir(s, dir))
    t("evalGramStoreDir")(WireFixtures.evalGramStoreDir(s, dir))
    t("bpeMergesDir")(WireFixtures.bpeMergesDir(s, dir))
    t("imageSigStoreDir")(WireFixtures.imageSigStoreDir(s, dir))
    t("winnowFpStoreDir")(WireFixtures.winnowFpStoreDir(s, dir))
    t("cdcChunkStoreDir")(WireFixtures.cdcChunkStoreDir(s, dir))
    t("evalEmbStoreDir")(WireFixtures.evalEmbStoreDir(s, dir))
    // LSH→verify pair set shared by the component/keep-one/soft-weight
    // queries (persisted via PlanCache on first use)
    t("verifiedDupPairs")(verifiedDupPairs(s, dir).count())
    // persisted scoring models (train-once stores; without these the
    // first lm/nb query in a pass pays the training scan)
    t("lmModelDir")(WireFixtures.lmModelDir(s, dir))
    t("nbModelDir")(WireFixtures.nbModelDir(s, dir))
    // IVF codebook memo entries used by q_kmeans_train / q_ann_ivf_trained
    val all = emb(s, dir).select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    t("trainCentroids k8 i5")(Ann.trainCentroids(all, k = 8, iters = 5))
    t("trainCentroids k8 i3")(Ann.trainCentroids(all, k = 8, iters = 3))
    // PQ sub-codebooks for q_ann_pq's twin-planted corpus
    t("trainPqCodebooks")(Ann.trainPqCodebooks(all.unionByName(
      all.select((col("id") + 1000000L).as("id"), col("vec"))),
      m = 4, ksub = 16, iters = 3))
    ()
  }

  private val compositeFilterJson =
    """{"1":{"partitionType":"MOD","filters":[{"numBuckets":4,"bktRange":{"start":0,"end":2}}]},
      |"3":{"partitionType":"RANGE","filters":[{"keyRange":{"start":0,"end":75}},{"keyRange":{"start":100,"end":200}}]}}"""
      .stripMargin.replaceAll("\n", "")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S2/P13: envelope projection of the CDC feed ----
    "q_envelope" -> ((s, dir) => envCore(s, dir)),

    // ---- P4: source-set filter ----
    "q_filter_source" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir), filter = SourceFilter(Set(1, 3)))),

    // ---- P7: key-range filter [25, 100) ----
    "q_filter_keyrange" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir), filter = KeyRangeFilter(25, 100))),

    // ---- P8: key-mod filter, buckets [0,2) of 4 ----
    "q_filter_keymod" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir), filter = KeyModFilter(4, 0, 2))),

    // ---- P10/P11: composite per-source key filter from JSON config ----
    "q_filter_composite" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = Filters.parseCompositeConfig(compositeFilterJson))),

    // ---- §2.8: subscription URIs → serving filter (modern + legacy
    // grammars; the consumer's registered union) ----
    "q_filter_subscription" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = Filters.fromSubscriptions(
          "cdc://*/click/*, view:1, purchase", ChangeFeed.registry))),

    // ---- P5: physical partition filter with nested filter ----
    "q_filter_physical" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = PhysicalPartitionFilter(Some(2: Short),
          Some(SourceFilter(Set(1, 2, 4)))))),

    // ---- P6: logical source+partition subscription filter ----
    "q_filter_logical" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = LogicalSourceAndPartitionFilter(
          Map(1 -> None, 2 -> Some(Set(0: Short, 1: Short)))))),

    // ---- K1/K2: /stream from a checkpoint (partial-window resume) ----
    "q_stream_checkpoint" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir), cp = Checkpoint.online(500L, 3L))),

    // ---- K1: time-based start (flexible checkpoint + tsNsecs) ----
    "q_stream_since_ts" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir), // 2024-01-15T00:00:00Z
        cp = Checkpoint(tsNsecs = 1705276800000000000L))),

    // ---- K1: /stream with an event budget (size param analog) ----
    "q_stream_budget" -> ((s, dir) =>
      Relay.streamEvents(envCore(s, dir), maxEvents = Some(500))),

    // ---- /bufferInfo: per-partition min/max SCN ----
    "q_buffer_info" -> ((s, dir) => Relay.bufferInfo(envCore(s, dir))),

    // ---- A3: per-source stats totals (value summed as exact cents) ----
    "q_stats_totals" -> ((s, dir) =>
      Relay.statsTotals(envCore(s, dir)
          .withColumn("value", round(col("value") * 100).cast("long")))
        .select(col("source_id"), col("num_events"),
          col("sum_value").cast("long").as("sum_value_c"),
          col("min_scn"), col("max_scn"), col("max_ts_us"))),

    // ---- A4: percentile stats ----
    "q_percentiles" -> ((s, dir) =>
      Relay.percentiles(envCore(s, dir), col("value"))
        .select(col("source_id"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
          round(col("p95"), 4).as("p95"), round(col("p99"), 4).as("p99"))),

    // ---- A5: SCN high-watermark per partition ----
    "q_max_scn" -> ((s, dir) => Relay.maxScn(envCore(s, dir))),

    // ---- A1/S6: last-writer-wins merge within txn window ----
    "q_merge_txn" -> ((s, dir) => Relay.mergeTransaction(envCore(s, dir))),

    // ---- A2/K6: log → snapshot apply (latest per key, deletes drop) ----
    "q_apply_log" -> ((s, dir) => Bootstrap.applyLog(envCore(s, dir))),

    // ---- B1: bootstrap snapshot-phase banded scan ----
    "q_snapshot_scan" -> ((s, dir) =>
      Bootstrap.snapshotScan(
        envCore(s, dir).withColumnRenamed("seq", "id"),
        sinceId = 100L, targetScn = 800L, startRowScn = 0L, limit = Some(2000))),

    // ---- B2: bootstrap catchup-phase banded scan ----
    "q_catchup_scan" -> ((s, dir) =>
      Bootstrap.catchupScan(
        envCore(s, dir).withColumnRenamed("seq", "id")
          .withColumnRenamed("scn", "windowscn"),
        sinceId = 0L, startScn = 300L, targetScn = 700L)),

    // ---- J3/B6: snapshot ∪ catchup stitch (as-of materialization) ----
    "q_bootstrap_stitch" -> ((s, dir) =>
      Bootstrap.snapshotPlusCatchup(envCore(s, dir), startScn = 500L,
        targetScn = 900L)),

    // ---- B7: seeder chunk assignment ----
    "q_seeder_chunks" -> ((s, dir) =>
      Bootstrap.seederChunks(
        tbl(s, dir, "orders"), "o_orderkey", 500L)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))),

    // ---- K3 shape: window-grouped delivery stats (txn windows) ----
    "q_window_delivery" -> ((s, dir) =>
      envCore(s, dir).groupBy(col("scn"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("source_id")).as("n_sources"),
          min(col("seq")).as("first_seq"), max(col("seq")).as("last_seq"))),

    // ---- engine query surface: aggregation (TPC-H Q1 shape). Money is
    // summed in exact integer cents (prices/discounts are 2-decimal), so
    // results are bit-identical across engines regardless of summation
    // order — the right discipline for distributed sums generally. ----
    "q1_agg" -> ((s, dir) => {
      val priceC = round(col("l_extendedprice") * 100).cast("long")
      val discBp = round(col("l_discount") * 100).cast("long")
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(priceC).as("sum_base_price_c"),
          sum(priceC * (lit(100L) - discBp)).as("sum_disc_price_c4"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sum(discBp).cast("double") / (count(lit(1)) * 100).cast("double"))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // ---- engine query surface: selective 3-way join (TPC-H Q3 shape) ----
    "q3_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      val revC4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(revC4).as("revenue_c4"))
    }),

    // ---- same Q3 semantics on bucketed tables: lineitem⋈orders hash-
    // clustered on orderkey at write time → the fact-fact join runs with
    // no exchange on either side (the co-located layout for the hottest
    // join edge at 100 TB); dims still broadcast ----
    "q3_join_bucketed" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val o = graft.sources.Store.bucketedTable(s, dir, "orders", "o_orderkey", 8)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = graft.sources.Store.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      val revC4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      // merge-hinted so the co-located path is what actually runs (at this
      // SF AQE would otherwise pick broadcast and never exercise it):
      // SortMergeJoin over matching bucket specs = no exchange, no sort
      l.hint("merge").join(o.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(revC4).as("revenue_c4"))
    }),

    // ---- engine query surface: snowflake join (TPC-H Q5 shape). The
    // fact tables read from the orderkey-bucketed layout BY DEFAULT (the
    // co-located layout a 100 TB deployment maintains for its hottest
    // join edge): when the optimizer picks SMJ for l⋈o, matching bucket
    // specs make it exchange-free; at tiny SF, AQE is free to broadcast
    // the filtered orders side instead — also shuffle-free. The
    // merge-hinted twin below pins the SMJ path so both plans stay
    // exercised. ----
    "q5_join" -> ((s, dir) => {
      val r = s.read.parquet(s"$dir/region.parquet").where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val su = s.read.parquet(s"$dir/supplier.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = graft.sources.Store.bucketedTable(s, dir, "orders", "o_orderkey", 8)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = graft.sources.Store.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"))
    }),

    // ---- Q5 on the bucketed layout: the fact-fact edge (l⋈o on
    // orderkey) runs exchange-free over co-located buckets; dims still
    // broadcast — the same discipline as q3_join_bucketed on the
    // snowflake shape ----
    "q5_join_bucketed" -> ((s, dir) => {
      val r = s.read.parquet(s"$dir/region.parquet").where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val su = s.read.parquet(s"$dir/supplier.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = graft.sources.Store.bucketedTable(s, dir, "orders", "o_orderkey", 8)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = graft.sources.Store.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
      l.hint("merge").join(o.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"))
    }),

    // ---- engine query surface: per-group top-k window ----
    "q_topk_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"), col("o_totalprice"))
    }),

    // ---- Z-ORDER layout: rewrite lineitem clustered on the Morton
    // key of (l_orderkey, l_partkey) — the multi-dimensional lake
    // layout a 2-D box predicate prunes against (every file's footer
    // range is tight in BOTH columns; LayoutSpec measures the file-skip
    // vs a single-column sort). The query serves a box read from the
    // rewritten layout; zkey re-derived per row proves the native
    // codegen interleave bit-for-bit against DuckDB shift-mask math ----
    "q_zorder_box" -> ((s, dir) => {
      val out = tempQueryDir("zorder").toString +
        "/layout"
      graft.pipeline.Layout.zorderWrite(
        tbl(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
        out, "l_orderkey", "l_partkey", numFiles = 8)
      s.read.parquet(out)
        .where(col("l_orderkey").between(100, 1200) &&
          col("l_partkey").between(20, 150))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          graft.pipeline.Layout.zorderKey(
            col("l_orderkey"), col("l_partkey")).as("zkey"))
    }),

    // ---- 3-D Z-ORDER layout: lineitem clustered on the Morton key of
    // (l_partkey, l_suppkey, ship-day) — part × supplier × time, the
    // box shape a lake tables' OPTIMIZE ZORDER actually uses. 21-bit
    // budget per dim (loud overflow); the 3-predicate box serves from
    // the rewritten layout and the key re-derivation proves the native
    // 3-way interleave bit-for-bit against DuckDB shift-mask math ----
    "q_zorder_box3" -> ((s, dir) => {
      val out = tempQueryDir("zorder3").toString +
        "/layout"
      val src = tbl(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          datediff(col("l_shipdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("long").as("ship_day"),
          col("l_quantity"))
      graft.pipeline.Layout.zorderWriteN(src, out,
        Seq("l_partkey", "l_suppkey", "ship_day"), numFiles = 8)
      s.read.parquet(out)
        .where(col("l_partkey").between(20, 150) &&
          col("l_suppkey").between(2, 60) &&
          col("ship_day").between(400, 1400))
        .select(col("l_partkey"), col("l_suppkey"), col("ship_day"),
          col("l_quantity"),
          graft.pipeline.Layout.zorderKeyN(col("l_partkey"),
            col("l_suppkey"), col("ship_day")).as("zkey3"))
    }),

    // ---- INCREMENTAL Z-ORDER maintenance: the layout built once, two
    // later generations APPENDED (O(batch) each — no table rewrite on
    // the write path), the clustering debt then MEASURED from parquet
    // footers only (zero rows scanned) and repaired by one swap-rewrite.
    // Three full-range generations must stack past depth 2, so the
    // recluster is require()d to have run — a silent no-op would serve
    // the degraded layout while claiming maintenance happened. Row
    // identity through append+recluster is the oracle (the box read is
    // generation-independent); LayoutSpec pins the depth math ----
    "q_zorder_incr" -> ((s, dir) => {
      val out = tempQueryDir("zinc").toString +
        "/layout"
      val src = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val L = graft.pipeline.Layout
      L.zorderWrite(src.where(col("l_orderkey") % 3 === 0), out,
        "l_orderkey", "l_partkey", numFiles = 4)
      L.zorderAppend(src.where(col("l_orderkey") % 3 === 1), out,
        "l_orderkey", "l_partkey", numFiles = 4)
      L.zorderAppend(src.where(col("l_orderkey") % 3 === 2), out,
        "l_orderkey", "l_partkey", numFiles = 4)
      val (depth, ran) = L.reclusterIfNeeded(s, out,
        "l_orderkey", "l_partkey", maxDepth = 2, numFiles = 8)
      require(ran, s"recluster did not trigger: measured depth $depth")
      s.read.parquet(out)
        .where(col("l_orderkey").between(100, 1200) &&
          col("l_partkey").between(20, 150))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          L.zorderKey(col("l_orderkey"), col("l_partkey")).as("zkey"))
    }),

    // ---- engine query surface: TPC-H Q18 shape (large-volume orders) —
    // agg-then-semi-join: the qualifying key set comes out of a grouped
    // HAVING and re-joins the facts. AQE broadcasts the (small) qualifying
    // set into the fact join; the heavy groupBy gets map-side combine ----
    "q18_large_orders" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val qualifying = l.groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 250L)
      tbl(s, dir, "orders")
        .join(qualifying, col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("totalprice_c"),
          col("sum_qty"))
    }),

    // ---- stateful analytics: gap sessionization ----
    "q_sessionize" -> ((s, dir) =>
      Sessions.sessionSummary(
        envCore(s, dir).select("key_long", "ts_us"),
        keyCol = "key_long", tsCol = "ts_us", gap = 4L * 3600L * 1000000L)),

    // ---- stateful analytics, STREAMING form: flatMapGroupsWithState
    // sessionizer driven over the event log in three resumed runs (two
    // time-slices + a per-key sentinel past the gap that closes every
    // open session) — per-key open-session state survives each restart
    // through the checkpointed state store; the emitted closed sessions
    // at completion equal the batch q_sessionize derivation (same
    // oracle) with session_seq re-derived from session order ----
    "q_sessionize_stream" -> ((s, dir) => {
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
        val q = s2.readStream.schema("key LONG, ts LONG")
          .parquet(s"$root/in")
          .as[graft.operators.Sessions.SessionEvent]
          .transform(in => Sessions.sessionizeStream(in, gapMs = gapUs,
            useTimeout = false).toDF())
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            // batch-addressed sink: a foreachBatch retry (at-least-once)
            // rewrites its own partial instead of doubling rows
            b.coalesce(1).write.mode("overwrite")
              .parquet(s"$root/out/batch=$batchId"); ()
          }
          .outputMode("append")
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

    // ---- as-of join: latest purchase at-or-before each event ----
    "q_asof_join" -> ((s, dir) => {
      val env = envCore(s, dir)
      AsOfJoin.asofBackward(
        probe = env.select("seq", "key_long"),
        build = env.where(col("source_id") === 3)
          .select(col("key_long"), col("seq").as("pseq")),
        keyCol = "key_long", probeTs = "seq", buildTs = "pseq",
        asofCols = Seq("pseq"))
        .select(col("seq"), col("key_long"), col("asof_pseq"))
    }),

    // ---- grouping sets: rollup aggregation ----
    "q_rollup" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"))),

    // ---- sketch aggregates: HLL distinct (approximate; rows-only) ----
    // HLL++ estimates aren't SQL-reproducible across engines, but the
    // error CONTRACT is: emit the exact count plus a bound check (3× the
    // default 5% rsd), so the driver hash-verifies the approximation is
    // within its advertised envelope instead of a rows-only count
    "q_hll_distinct" -> ((s, dir) =>
      envCore(s, dir).groupBy(col("source_id"))
        .agg(approx_count_distinct(col("key_long")).as("approx"),
          countDistinct(col("key_long")).as("exact_keys"))
        .select(col("source_id"), col("exact_keys"),
          (abs(col("approx") - col("exact_keys")) <=
            greatest(lit(1L), (col("exact_keys") * 0.15).cast("long")))
            .as("within_bound"))),

    // ---- text analysis: Gopher-style repetition quality signals ----
    "q_repetition" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TF.duplicateTokenFraction(col("text")), 6).as("dup_token_frac"),
        round(TF.topBigramFraction(col("text")), 6).as("top_bigram_frac"))),

    // ---- text analysis: per-doc stats ----
    "q_text_stats" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        col("n_chars"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.bpeishTokenCount(col("text")).as("n_bpeish"),
        round(TF.meanTokenLen(col("text")), 6).as("mean_token_len"),
        TF.occurrences(col("text"), "the").as("the_count"))),

    // ---- text analysis: heuristic language id ----
    "q_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
        TF.langId(col("text")).as("lang_pred"))),

    // ---- heavy hitters: tokens above 1% corpus share, EXACT via
    // Misra-Gries candidates (provable superset for freq > n/k) + a
    // broadcast recount — the full-vocabulary shuffle never happens ----
    "q_heavy_hitters" -> ((s, dir) =>
      graft.pipeline.Sketches.heavyHitters(
        docs(s, dir).select(explode(TF.tokens(col("text"))).as("token")),
        valueCol = "token", minShareBp = 100)),

    // ---- co-occurrence PMI over the top-30 vocabulary: doc-frequency
    // association mining — pair explode bounded at V²/2 per doc, the
    // pair aggregate has ≤ V² keys so map-side combine collapses the
    // shuffle to vocab size; integer-1e-4 PMI with the entropy nudge ----
    "q_cooccurrence_pmi" -> ((s, dir) =>
      graft.pipeline.Sketches.cooccurrencePmi(
        docs(s, dir).select("doc_id", "text"), topV = 30)),

    // ---- text analysis: per-language vocabulary top-k. The token-count
    // aggregate is Zipf-skewed (stopwords dominate) — partial map-side
    // combine absorbs the skew before the shuffle; the top-k window runs
    // per language over the already-aggregated counts ----
    "q_vocab_topk" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(col("lang"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token"))
      counts.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
    }),

    // ---- text analysis: quality score ----
    "q_quality_score" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality"))),

    // ---- exact BPE, planted-count contract: a fixed hand-ranked merges
    // table over doc_id-derived texts — every word's token count is a
    // closed form the oracle re-derives, and the counts only come out
    // right if the merge loop applies ranks in order ("lower" fuses to 1
    // token only through the full (e,r)→(er,\0)→(l,o)→(lo,w)→
    // (low,er\0) cascade; "low" stops at 2; un-merged "wide" stays
    // chars+1) ----
    "q_bpe_tokens" -> ((s, dir) =>
      plantedBpeCorpus(s, dir).select(col("doc_id"),
        graft.functions.Bpe.tokenCount(plantedBpeModel)(col("text"))
          .as("n_tokens"))),

    // ---- exact BPE over the REAL corpus with the trained, persisted
    // merges table: encode→decode must reproduce every document
    // byte-for-byte (hash-oracled against the raw text column) ----
    "q_bpe_roundtrip" -> ((s, dir) => {
      import graft.functions.Bpe
      val model = Bpe.load(s, graft.sources.WireFixtures.bpeMergesDir(s, dir))
      docs(s, dir).select(col("doc_id"),
        Bpe.roundtrip(model)(col("text")).as("text"))
    }),

    // ---- text analysis: char-distribution entropy (gibberish /
    // degenerate-repetition signal) in integer 1e-4-bit units ----
    "q_char_entropy" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TF.charEntropyE4(col("text")).as("entropy_e4"))),

    // ---- per-language quality TERTILES (the CCNet head/middle/tail
    // artifact): exact integer rank bands per stratum ----
    "q_quality_tertile" -> ((s, dir) =>
      graft.pipeline.Weighting.quantileBuckets(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality")),
        scoreCol = "quality", stratumCol = "lang",
        cutsBp = Seq(3333, 6666),
        labels = Seq("tail", "middle", "head"))),

    // ---- text analysis: Gopher rule battery — per-rule booleans + the
    // keep conjunction, auditable per doc ----
    "q_gopher_rules" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TF.gopherRules(col("text")).as("r"))
        .select(col("doc_id"), col("r.len_ok"), col("r.mean_len_ok"),
          col("r.dup_ok"), col("r.bigram_ok"), col("r.punct_ok"),
          col("r.stop_ok"), col("r.keep"))),

    // ---- text analysis: content fingerprint ----
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TF.fingerprintHex(col("text")).as("fp_hex"),
        substring(TF.fingerprintHex(col("text")), 1, 16).as("fp16"))),

    // ---- text analysis: PII scrub — emails/IPv4s/phones → placeholder
    // tokens, with per-kind audit counts. PII is PLANTED deterministically
    // (doc_id mod 4 picks the kind) so the oracle re-derives both the
    // counts and the byte-exact scrubbed text; the scrub itself is a pure
    // codegen regexp_replace chain with RE2-safe patterns ----
    "q_pii_scrub" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" server 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 logged")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" call +1 (555) 123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today")))
        .otherwise(lit(""))).as("text"))
      val c = TF.piiCounts(col("text"))
      injected.select(col("doc_id"),
        c.getField("n_emails").cast("long").as("n_emails"),
        c.getField("n_phones").cast("long").as("n_phones"),
        c.getField("n_ips").cast("long").as("n_ips"),
        md5(TF.scrubPii(col("text")).cast("binary")).as("scrubbed_md5"))
    }),

    // ---- text analysis: per-DOMAIN corpus stats — URLs planted
    // deterministically (doc_id picks domain + count), extracted,
    // domain-normalized (lowercase, www-stripped), aggregated: the
    // grouping/provenance stage of a web-corpus pipeline ----
    "q_domain_stats" -> ((s, dir) => {
      val domains = Seq("example.com", "WWW.Example.com", "data.example.org",
        "news.site.net", "www.site.net")
      val injected = docs(s, dir).select(col("doc_id"), concat(col("text"),
        lit(" see https://"),
        element_at(array(domains.map(lit): _*),
          (col("doc_id") % 5 + 1).cast("int")),
        lit("/p/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" and http://mirror.example.com/x"),
            (col("doc_id") % 11).cast("string")))
          .otherwise(lit(""))).as("text"))
      injected
        .select(col("doc_id"), explode(TF.extractUrls(col("text"))).as("url"))
        .select(col("doc_id"), TF.domainOf(col("url")).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),

    // ---- dedup: exact content-hash ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(dupCorpus(s, dir))),

    // ---- dedup: normalize-before-hash — planted copies perturbed with
    // spacing/punctuation jitter defeat raw content hashing (dup_count 1)
    // but collapse under normalized hashing (dup_count 2+) ----
    "q_dedup_normalized" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val perturbed = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(regexp_replace(col("text"), " ", "  "), lit(" !!")).as("text"))
      val corpus = d.unionByName(perturbed)
        .select(col("doc_id"), TF.normalizeText(col("text")).as("text"))
      Dedup.exact(corpus)
    }),

    // ---- dedup: minhash LSH candidates → exact n-gram-Jaccard verify ----
    "q_dedup_minhash" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val cand = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(corpus, cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    }),

    // ---- dedup: INCREMENTAL near-dup — the shifted copies arrive as a
    // new batch against the already-signed original corpus; only pairs
    // touching the batch are (re)computed and verified ----
    "q_dedup_incremental" -> ((s, dir) => {
      val old = docs(s, dir).select("doc_id", "text")
      val fresh = old.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val cand = Dedup.incrementalMinhashPairs(fresh, old, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(old.unionByName(fresh),
          cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    }),

    // ---- dedup: TAKEDOWN-aware incremental — the store's signature
    // table has doc_id % 7 = 2 tombstoned; a fresh twin batch (docs
    // % 4 = 0, ids +1e6) is signed and banded against the LIVE stored
    // rows only, so the twin of a taken-down doc pairs with nothing.
    // Without the tombstone filter a deleted doc keeps generating
    // candidate pairs from its stored signatures forever ----
    "q_dedup_delete" -> ((s, dir) => {
      val store = graft.sources.WireFixtures.minhashTakedownStoreDir(s, dir)
      val old = docs(s, dir).select("doc_id", "text")
      val fresh = old.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val sigsNew = Dedup.minhashSignatures(fresh, "text", "doc_id", 3, 64)
      // the store-protocol shape: the increment bands only itself, the
      // stored side serves its PERSISTED banded table (live rows only —
      // the takedown filter applies at candidate generation), and the
      // estimate joins signatures for candidate ids alone
      val bNew = Dedup.bandedBucketsFromSignatures(sigsNew)
      val cand = Dedup.incrementalPairsFromBanded(bNew,
        Dedup.readBandedStore(s, store).unionByName(bNew),
        Dedup.readSignatureStore(s, store).unionByName(sigsNew),
        jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(old.unionByName(fresh),
          cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    }),

    // ---- dedup: STREAMING incremental — the fresh batch arrives as a
    // file stream in micro-batches, and the signature table is a PERSISTED
    // parquet store: each trigger signs ONLY its micro-batch (one
    // minhashSignatures call on the batch — O(batch) signing, the grown
    // corpus is never re-signed), bands new-vs-stored, then appends the
    // batch's signatures and docs to the stores. This is the production
    // incremental protocol at 100 TB; the union over batches is exactly
    // the touching-new edge set (same oracle as q_dedup_incremental) ----
    "q_dedup_stream_incr" -> ((s, dir) => {
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
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
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
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
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
    }),

    // ---- ONE time-travel coordinate for the dedup signature store —
    // the dedup twin of q_ann_pin / q_retrieval_pin: BOTH axes move
    // after the capture (one more append batch, then a compaction that
    // publishes a fresh generation), and the pinned read still serves
    // the snapshot's near-dup pair set while the head serves the full
    // post-compaction store. keepGenerations=1 keeps the pin alive ----
    "q_dedup_pin" -> ((s, dir) => {
      val root = tempQueryDir("dedpin").toString
      val old = docs(s, dir).select("doc_id", "text")
      val corpus = old.unionByName(
        old.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      def slice(b: Int) = corpus.where(col("doc_id") % 3 === b)
      val store = s"$root/store"
      Dedup.writeSignatureStore(slice(0), store, batchId = Some(0L))
      Dedup.appendToSignatureStoreBatch(slice(1), store, 1L)
      val pin = Dedup.pinSignatureStore(store)
      Dedup.appendToSignatureStoreBatch(slice(2), store, 2L)
      Dedup.compactSignatureStore(s, store, keepGenerations = 1)
      def verified(pairs: org.apache.spark.sql.DataFrame) =
        Dedup.ngramJaccardVerify(corpus,
            broadcast(pairs.select("id_a", "id_b")))
          .where(col("jaccard") >= 0.8)
      val headBanded = Dedup.readBandedStore(s, store)
      val headPairs = Dedup.estimatePairsFromSignatures(
        Dedup.incrementalCandidatesFromBanded(headBanded, headBanded),
        Dedup.readSignatureStore(s, store), jaccardThreshold = 0.5)
      verified(Dedup.nearDupPairsFromStorePinned(s, store, pin))
        .withColumn("probe_view", lit("pinned"))
        .unionByName(
          verified(headPairs).withColumn("probe_view", lit("head")))
    }),

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
    "q_sigstore_cdc_stream" -> ((s, dir) => {
      val root = tempQueryDir("cdcsig").toString
      val old = docs(s, dir).select("doc_id", "text")
      val corpus = old.unionByName(
        old.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val store = s"$root/store"
      def drainOnce(): Unit = {
        val q = s.readStream
          .schema("opcode STRING, doc_id LONG, text STRING")
          .parquet(s"$root/feed")
          .writeStream
          .foreachBatch { (b0: DataFrame, batchId: Long) =>
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
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

    // ---- dedup: exact n-gram Jaccard (brute, small subset baseline) ----
    "q_dedup_ngram" -> ((s, dir) => {
      val d = docs(s, dir).where(col("doc_id") < 100).select("doc_id", "text")
      val corpus = d.unionByName(
        d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val ids = corpus.select(col("doc_id").as("id_a"))
        .crossJoin(corpus.select(col("doc_id").as("id_b")))
        .where(col("id_a") < col("id_b"))
      Dedup.ngramJaccardVerify(corpus, ids).where(col("jaccard") >= 0.6)
    }),

    // ---- dedup: connected components over the dup-pair edge list —
    // transitive closure via min-label propagation (cluster assignment
    // between pair generation and keep-one). Driven by the PRODUCTION
    // candidate generator (minhash LSH → Jaccard verify, the same edge
    // set q_dedup_minhash hash-proves equal to brute-force ≥0.8); the
    // crossJoin edge definition survives only inside the DuckDB oracle. ----
    "q_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(verifiedDupPairs(s, dir))),

    // ---- dedup: keep one representative per near-dup cluster (same
    // LSH-driven composition the spec exercises: lshPairs → components →
    // keep-one) ----
    "q_cluster_keep_one" -> ((s, dir) =>
      Dedup.keepOnePerComponent(dupCorpus(s, dir), verifiedDupPairs(s, dir))
        .select("doc_id")),

    // ---- dedup: PRIORITY keep-one — the cross-source rule. Priority =
    // doc_id % 3 (deterministic stand-in for a source rank): within each
    // planted-dup cluster the lowest (priority, id) survives, so a
    // higher-priority +1M copy can now beat its original — exactly what
    // min-id keep-one cannot express ----
    "q_priority_keep_one" -> ((s, dir) =>
      Dedup.keepOneByPriority(
        dupCorpus(s, dir).withColumn("prio", col("doc_id") % 3),
        verifiedDupPairs(s, dir), priorityCol = "prio")
        .select("doc_id")),

    // ---- dedup: simhash signature-quality contract. Signatures aren't
    // SQL-reproducible (fnv1a64 votes), but simhash's defining CONTRACT
    // is: near-identical documents get near-identical signatures. Emit
    // the exact-Jaccard ≥0.9 ground-truth pairs (the provable-recall LSH
    // generator, same derivation the minhash oracle hash-proves) with a
    // hamming ≤ 16 bound per pair — measured max on the planted corpora
    // is 8 (sf0.01) / 13 (sf0.1, one 0.917-jaccard pair; p99 is 6-7), so
    // the bound holds with margin while a broken signature kernel (~32
    // expected hamming, σ≈4) still fails it by ~4σ instantly.
    // Chunk-blocking recall stays spec-covered (DedupAnnSpec). ----
    "q_dedup_simhash" -> ((s, dir) => {
      val corpus = dupCorpus(s, dir)
      val truth = verifiedDupPairs(s, dir).where(col("jaccard") >= 0.9)
      val sigs = Dedup.simhashSignatures(corpus)
      truth
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 16)
            .as("within_hamming"))
    }),

    // ---- dedup: embedding-cosine near-dup via hyperplane LSH. Oracled:
    // identical planted twins collide in EVERY hyperplane table (recall 1
    // by construction) and the corpus has no natural ≥0.99 pair (random
    // embeddings concentrate near cosine 0), so the result is exactly the
    // planted twin set at cosine 1.0 — SQL-derivable. ----
    "q_dedup_embedding" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      val withDups = e.unionByName(
        e.select((col("doc_id") + 1000000L).as("doc_id"), col("embedding")))
      Dedup.embeddingNearDups(withDups, vecCol = "embedding", idCol = "doc_id",
        cosineThreshold = 0.99)
    }),

    // ---- semantic dedup (SemDeDup shape): k-means cells + within-cell
    // cosine pair search, greedy lowest-id-wins. Oracled by the planted-
    // twin contract: identical twins share every argmin (same cell,
    // deterministic expression) at cosine 1.0 ≥ 0.99, and the corpus has
    // no natural ≥0.99 pair (q_dedup_embedding hash-proves that corpus
    // fact) — so kept = "original ids true, +1M copies false" exactly. ----
    "q_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Semantic.semanticDedup(withDups, k = 8, iters = 3,
        cosineThreshold = 0.99)
    }),

    // ---- semantic dedup, hot-cell LSH path: within-cell pair search
    // blocked by (cell, hyperplane bucket). Identical twins collide in
    // every table AND share every argmin, so the planted contract (and
    // oracle) is unchanged — only the candidate cost is bucket-bounded.
    // Slower than q_semdedup at this SF by design: small cells make
    // all-pairs cheaper than 4×-table blocking; the blocked path exists
    // for cells too hot to all-pair at corpus scale ----
    "q_semdedup_lsh" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Semantic.semanticDedup(withDups, k = 8, iters = 3,
        cosineThreshold = 0.99, intraCellPlanes = 8, intraCellTables = 4)
    }),

    // ---- ORGANIC pair-recall floor for semdedup's LSH regime: every
    // semdedup oracle is a planted-twin invariant (exact copies collide
    // in every LSH table with probability 1 — they measure nothing
    // about the plane/table choice), and the natural corpus is
    // measured isotropic (max within-cell cosine ≈ 0.51: no organic
    // near-dup mass at any dedup threshold). This gate measures the
    // fraction of exact within-cell ≥0.95-cosine pairs the intra-cell
    // hyperplane-LSH blocking recovers on the BANDED near-dup corpus
    // (deterministic jittered copies spanning cosine ~0.91-0.999 —
    // delivered-vs-generated parity, the q_ann_recall discipline on
    // the dedup tier) and fails loudly below the pinned floor. Both
    // configurations share one training and one cell assignment, and
    // LSH candidates are a subset of cell co-membership, so the ratio
    // is a true recall ----
    "q_semdedup_recall" -> ((s, dir) => {
      import s.implicits._
      val corpus = graft.sources.WireFixtures.nearDupBandCorpus(s, dir)
      val exact = graft.pipeline.Semantic.withinCellDupPairs(
        corpus, k = 8, iters = 3, cosineThreshold = 0.95).count()
      val lsh = graft.pipeline.Semantic.withinCellDupPairs(
        corpus, k = 8, iters = 3, cosineThreshold = 0.95,
        intraCellPlanes = 8, intraCellTables = 4).count()
      require(exact > 0, "q_semdedup_recall: banded corpus produced no" +
        " exact within-cell pairs — the measurement denominator is gone")
      val r = lsh.toDouble / exact
      println(f"[recall] sf=$dir%s method=semdedup_lsh pair_recall=$r%.4f" +
        f" floor=$RecallFloorSemdedupLsh%.2f (exact=$exact lsh=$lsh)")
      require(r >= RecallFloorSemdedupLsh,
        s"q_semdedup_recall: pair recall $r below the pinned floor" +
          s" $RecallFloorSemdedupLsh — the LSH regime lost near-dup" +
          " recall")
      Seq(("lsh_planes8_tables4", RecallFloorSemdedupLsh, true))
        .toDF("method", "floor", "floor_ok")
    }),

    // ---- semantic dedup, HIERARCHICAL assignment: two-level codebook
    // (kCoarse cells, then a kSub sub-codebook per cell), leaf = coarse
    // × kSub + sub — the configuration that stays near-linear when the
    // leaf count must grow with the corpus (flat k∝N assignment is
    // O(N·k); the sf10 probe measured 121×). Identical twins share the
    // coarse AND sub argmins, so the planted contract — and the oracle
    // — is exactly q_semdedup's ----
    "q_semdedup_hier" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Semantic.semanticDedupHier(withDups, kCoarse = 4,
        kSub = 4, iters = 3, cosineThreshold = 0.99)
    }),

    // ---- K1/C4: CheckpointMult multi-timeline serve — per-partition
    // checkpoint bands + round-robin visit order after the cursor ----
    "q_stream_mult" -> ((s, dir) => {
      val cpMult = graft.model.CheckpointMult(
        checkpoints = Map(
          (0: Short) -> Checkpoint.online(200L),
          (1: Short) -> Checkpoint.online(400L),
          (2: Short) -> Checkpoint.online(600L),
          (3: Short) -> Checkpoint.flexible),
        cursorPartition = Some(1: Short))
      Relay.streamMult(envCore(s, dir), cpMult)
    }),

    // ---- streaming dedup (batch form): an at-least-once replay (the
    // envelope unioned with itself) collapses back to exactly-once ----
    "q_stream_dedup" -> ((s, dir) => {
      val env = envCore(s, dir)
      graft.streaming.RelayStream.dedupStream(env.unionAll(env))
    }),

    // ---- decontamination: drop training docs sharing any word n-gram
    // with the eval corpus (train/test overlap scrub; n-gram hashes
    // explode narrow, eval side distinct + broadcast) ----
    "q_decontaminate" -> ((s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      Dedup.decontaminate(train, eval).select("doc_id")
    }),

    // ---- contamination ATTRIBUTION: the per-(train, eval) audit the
    // scrub discards — shared distinct-gram counts plus the integer-bp
    // share of each eval item covered ("how much of this benchmark is
    // in my corpus"). Everything past the shingle kernel is hash
    // aggregates over (id, gram-hash) longs ----
    "q_contamination_report" -> ((s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      // explicit exact mode: this query's oracle is the UNcapped
      // derivation, and the exact report is the audit-grade surface —
      // the capped default (and its accounting) is q_contamination_capped
      Dedup.contaminationReport(train, eval, maxGramDf = Int.MaxValue)
    }),

    // ---- capped attribution: the boilerplate-gram guard exercised —
    // grams in more than 5 train docs are dropped BEFORE pairing (the
    // fan-out control that matters at corpus scale), and the drop is
    // accounted exactly (GramDfStats, asserted by spec) ----
    "q_contamination_capped" -> ((s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      Dedup.contaminationReport(train, eval, maxGramDf = 5)
    }),

    // ---- decontamination, giant-holdout scale path: bloom prefilter on
    // the train grams, exact confirming join — bit-identical output to
    // q_decontaminate (shared oracle) with the shuffle pruned to
    // suspected grams only ----
    "q_decontaminate_bloom" -> ((s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      Dedup.decontaminateBloom(train, eval).select("doc_id")
    }),

    // ---- sequence packing: concat-and-chunk token layout per language
    // (absolute token offsets + context-window chunk ids) ----
    "q_pack_chunks" -> ((s, dir) =>
      graft.pipeline.Packing.packChunks(
        docs(s, dir).select("lang", "doc_id", "text"), budgetTokens = 256L)),

    // ---- sliding context windows: 32-token chunks advancing by 24
    // (overlap 8) within each doc — the RAG/long-context layout ----
    "q_sliding_chunks" -> ((s, dir) =>
      graft.pipeline.Packing.slidingChunks(
        docs(s, dir).select("doc_id", "text"), window = 32, stride = 24)),

    // ---- span-level exact dedup (the line/paragraph-dedup stage of
    // CCNet/RefinedWeb over 20-token blocks): every repeated span keeps
    // only its corpus-wide first occurrence; planted duplicate docs lose
    // every span ----
    "q_span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(dupCorpus(s, dir), spanTokens = 20)),

    // ---- exact-substring duplication detection: sliding 16-token
    // windows at stride 1 catch shifted duplicates the fixed span grid
    // misses; corpus = documents + planted copies of the first 100 docs,
    // so the flagged mass is a strict, oracle-re-derivable subset ----
    "q_substring_dup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(d.where(col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.substringDupStats(corpus, windowTokens = 16)
    }),

    // ---- per-language EXACT-quantile quality threshold (median): the
    // calibration stage — cutoffs adapt per stratum, ties integer-decided ----
    "q_quality_quantile" -> ((s, dir) =>
      graft.pipeline.Weighting.quantileThreshold(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality")),
        scoreCol = "quality", stratumCol = "lang", qBp = 5000)),

    // ---- SKETCH quantile gate (the 100 TB scale path for the exact
    // q_quality_quantile): per-stratum GK sketch in ONE mergeable hash
    // aggregate — no sort anywhere — with the rank-error guarantee
    // surfaced as a contract boolean (the HLL/LSH/IVF oracle
    // discipline: the cutoff is merge-order-dependent, the BOUND is
    // not; exact n per stratum plus uniformly-true within_bound) ----
    "q_quantile_sketch" -> ((s, dir) =>
      graft.pipeline.Weighting.quantileSketchContract(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality")),
        scoreCol = "quality", stratumCol = "lang", qBp = 5000,
        accuracy = 1000)),

    // ---- PERSISTED quantile-sketch store: per-trigger histogram
    // partials (O(batch + buckets) each, batch-addressed overwrite →
    // replay-safe) merge at serve into per-lang median cutoffs that are
    // BIT-REPRODUCIBLE (histogram merge is sum — order-free, unlike
    // GK), then gate the corpus through one broadcast join. The rollup
    // compaction runs mid-query (reserved batch=-1, atomic swap) and
    // must not change a single served row ----
    "q_quantile_stream" -> ((s, dir) => {
      val root = tempQueryDir("qstore").toString
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        floor(TF.qualityScore(col("text")) * 10000.0 + lit(1e-6))
          .cast("long").as("q_e4"))
      scored.where(col("doc_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$root/in")
      scored.where(col("doc_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(s"$root/in")
      val q = s.readStream.schema("doc_id LONG, lang STRING, q_e4 LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/in")
        .writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          graft.pipeline.QuantileStore.appendBatch(b, s"$root/sketch",
            batchId, "q_e4", "lang", bucketWidth = 50L)
        }
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.pipeline.QuantileStore.compact(s, s"$root/sketch")
      graft.pipeline.QuantileStore.gateFromStore(scored, s"$root/sketch",
        "q_e4", "lang", qBp = 5000, bucketWidth = 50L)
    }),

    // ---- deterministic stratified sampling: per-language basis-point
    // rates over an integer-exact hash stream — map-only, resumable,
    // re-derivable in plain SQL (upsample en, downsample zh) ----
    "q_sample_stratified" -> ((s, dir) =>
      graft.pipeline.Sampling.stratifiedSample(
        docs(s, dir).select("doc_id", "lang"), keyCol = "doc_id",
        stratumCol = "lang", ratesBp = Map("en" -> 8000, "zh" -> 2500),
        defaultBp = 1000, salt = 42L)),

    // ---- deterministic global training order: exact distributed rank
    // over the per-key hash (reproducible corpus shuffle, no
    // single-partition sort) ----
    "q_shuffle_order" -> ((s, dir) =>
      graft.pipeline.Sampling.shuffleOrder(
        docs(s, dir).select("doc_id"), keyCol = "doc_id", salt = 7L)),

    // ---- soft dedup: down-weight instead of drop — weight_bp =
    // floor(10000/|component|) over the shared verified-pair set (each
    // near-dup component carries one doc's worth of training mass) ----
    "q_dedup_softweight" -> ((s, dir) =>
      graft.pipeline.Semantic.softDedupWeights(
        dupCorpus(s, dir), verifiedDupPairs(s, dir).select("id_a", "id_b"))),

    // ---- DSIR-shaped hashed-bigram importance selection: target = the
    // en subset of the corpus; selection is the integer-exact
    // cross-multiplied average-likelihood-ratio test ----
    "q_dsir_select" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang")
      graft.pipeline.Weighting.importanceWeights(
        d.select("doc_id", "text"),
        d.where(col("lang") === "en").select("doc_id", "text"))
    }),

    // ---- token-budget domain mixing: per-language token budgets filled
    // in MINSTD hash order (the data-mixture stage; integer-exact) ----
    "q_mix_budget" -> ((s, dir) =>
      graft.pipeline.Sampling.mixToBudget(
        docs(s, dir).select("doc_id", "lang", "text"),
        idCol = "doc_id", domainCol = "lang", textCol = "text",
        budgetTokens = Map("en" -> 1500L, "de" -> 400L, "zh" -> 300L),
        defaultBudget = 250L, salt = 11L)),

    // ---- temperature mixing: τ=1/2 budgets apportioned from the
    // per-language token masses (√-flattened, largest-remainder rounded
    // to sum exactly), then the same deterministic budget fill as
    // q_mix_budget — the full "compute the mixture, then mix" stage of
    // a multilingual pretraining pipeline, integer-exact end-to-end ----
    "q_mix_temperature" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val budgets = graft.pipeline.Sampling.sqrtTemperatureBudgets(
        d, "lang", "text", totalBudget = 3000L)
      graft.pipeline.Sampling.mixToBudget(d, idCol = "doc_id",
        domainCol = "lang", textCol = "text", budgetTokens = budgets,
        defaultBudget = 0L, salt = 11L)
    }),

    // ---- line-level boilerplate removal (CCNet/RefinedWeb line-wise
    // dedup): lines planted into ≥1% of documents (newsletter CTA on
    // even ids, copyright footer on ids %3) are stripped from every
    // document; the per-doc unique "ref <id>" line survives. Frequency
    // threshold is integer cross-multiplied; output hashes the cleaned
    // text byte-for-byte ----
    "q_line_dedup" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"), concat_ws("\n",
        col("text"),
        when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter")),
        when(col("doc_id") % 3 === 0, lit("all rights reserved - example corp")),
        concat(lit("ref "), col("doc_id").cast("string"))).as("text"))
      graft.pipeline.Lines.stripFrequentLines(injected, shareBp = 100)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("n_kept"), col("n_dropped"))
    }),

    // ---- within-doc consecutive duplicate-line collapse (uniq rule):
    // planted runs ("repeat me" ×(id%3+1), double blanks) collapse to
    // their heads; a pure higher-order array filter — zero shuffles ----
    "q_line_collapse" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"), concat(
        col("text"),
        expr("repeat(chr(10) || 'repeat me', CAST(doc_id % 3 AS INT) + 1)"),
        lit("\n\n\n"),
        concat(lit("tail "), col("doc_id").cast("string"))).as("text"))
      graft.pipeline.Lines.collapseRepeatedLines(injected)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("n_collapsed"))
    }),

    // ---- bigram-LM NLL scoring (the CCNet perplexity-filter shape):
    // model trained on the 80% doc_id%5≠0 slice, every document scored —
    // held-out docs exercise the unseen-bigram smoothing path. Per-
    // position terms floor to integer 1e-4-bit units before the sum, so
    // the aggregate is order-independent and engine-exact ----
    "q_lm_perplexity" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val model = graft.pipeline.LangModel.train(
        d.where(col("doc_id") % 5 =!= 0))
      graft.pipeline.LangModel.scoreNll(model, d)
    }),

    // ---- model-store pin, LM twin of q_nb_pin: gen 1 trains the
    // bigram counts on the even train slice, gen 2 on the full slice;
    // the pinned load scores every doc under the OLD counts while the
    // head scores under the new — perplexity gates replay exactly ----
    "q_lm_pin" -> ((s, dir) => {
      val root = tempQueryDir("lmpin").toString
      val L = graft.pipeline.LangModel
      val d = docs(s, dir).select("doc_id", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      L.save(L.train(train.where(col("doc_id") % 2 === 0)),
        s"$root/model", keepGenerations = 1)
      val pin = graft.pipeline.VersionedStore.currentGen(s"$root/model").get
      L.save(L.train(train), s"$root/model", keepGenerations = 1)
      L.scoreNll(L.loadPinned(s, s"$root/model", pin), d)
        .withColumn("probe_view", lit("pinned"))
        .unionByName(L.scoreNll(L.load(s, s"$root/model"), d)
          .withColumn("probe_view", lit("head")))
    }),

    // ---- EXACT UNLEARNING (bigram LM): same algebra as q_nb_unlearn
    // on the (uni, bi, vocab) tables — scoring under the unlearned
    // model must match scoring under a model retrained without the
    // forget slice, bigram-for-bigram ----
    "q_lm_unlearn" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.LangModel.train(train)
      val unlearned = graft.pipeline.LangModel.unlearn(model,
        train.where(col("doc_id") % 6 === 1))
      graft.pipeline.LangModel.scoreNll(unlearned, d)
    }),

    // ---- bigram-LM scoring against the PERSISTED model store: same
    // output contract as q_lm_perplexity (identical oracle), but the
    // counts come from the parquet model written once by the fixture
    // trainer — proves the store roundtrip preserves the model exactly,
    // the discipline every reference-model filter needs at 100 TB
    // (train once, score many corpora) ----
    "q_lm_store" -> ((s, dir) => {
      val model = graft.pipeline.LangModel.load(s,
        graft.sources.WireFixtures.lmModelDir(s, dir))
      graft.pipeline.LangModel.scoreNll(model,
        docs(s, dir).select("doc_id", "text"))
    }),

    // ---- unicode NFC canonicalization (native codegen expression):
    // DECOMPOSED combining sequences planted after every document
    // (e+U+0301 acute, i+U+0308 diaeresis, A+U+030A ring) compose to
    // their precomposed forms; output hashes the normalized text byte-
    // for-byte against DuckDB utf8proc NFC ----
    "q_normalize_text" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 nai\u0308ve A\u030angstro\u0308m")).as("text"))
      val nfc = graft.functions.GraftFunctions.nfc_normalize(col("text"))
      injected.select(col("doc_id"),
        length(col("text")).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"),
        md5(nfc.cast("binary")).as("text_md5"))
    }),

    // ---- STREAMING LM scoring against the persisted model store: two
    // corpus slices drain through two resumed AvailableNow runs (the
    // structural-order discipline of q_drift_stream); each micro-batch
    // scores against the stored counts only — the model trains zero
    // times in this session. Completes the batch / store / streaming
    // triad of the perplexity filter ----
    "q_lm_stream" -> ((s, dir) => {
      val root = tempQueryDir("lmstream").toString
      val modelDir = graft.sources.WireFixtures.lmModelDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val q = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            val model = graft.pipeline.LangModel.load(b.sparkSession, modelDir)
            graft.pipeline.LangModel.scoreNll(model, b)
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$root/out/batch=$batchId")
            ()
          }
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      d.where(col("doc_id") % 10 === 1).coalesce(1)
        .write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 6).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "doc_id", "n_terms", "nll_e4")
    }),

    // ---- leakage-free split: near-dup CLUSTERS assigned wholly to
    // train or test by MINSTD hash of the component label — a test doc
    // can never have a near-duplicate in train. Runs over the planted-
    // duplicate corpus with the production LSH-verified edge set ----
    "q_leakage_split" -> ((s, dir) =>
      Dedup.leakageFreeSplit(dupCorpus(s, dir), verifiedDupPairs(s, dir),
        testBp = 2000, salt = 23L)),

    // ---- three-way variant: same hash stream cut at two thresholds —
    // test membership is unchanged from q_leakage_split (same salt and
    // testBp), which IS the stability property the op promises ----
    "q_leakage_split3" -> ((s, dir) =>
      Dedup.leakageFreeSplit3(dupCorpus(s, dir), verifiedDupPairs(s, dir),
        valBp = 1000, testBp = 2000, salt = 23L)),

    // ---- BM25 relevance scoring: one corpus pass, document frequencies
    // and length stats as a single cross-joined scalar row, per-term
    // contributions floored to integer 1e-4 units before the sum ----
    "q_bm25" -> ((s, dir) =>
      graft.pipeline.Retrieval.bm25(docs(s, dir), Seq("the", "of", "data"))),

    // ---- BM25 top-k retrieval: per-partition k-heaps merge on one
    // reducer (TakeOrderedAndProject), never a global sort ----
    "q_bm25_topk" -> ((s, dir) =>
      graft.pipeline.Retrieval.bm25TopK(docs(s, dir),
        Seq("the", "of", "data"), k = 20)),

    // ---- sharded export + manifest: deterministic MINSTD shard
    // assignment, one file per shard (repartition-before-partitionBy),
    // manifest computed from the WRITTEN data read back — proves the
    // export roundtrip, not just the plan ----
    "q_export_shards" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val root = tempQueryDir("export").toString
      graft.pipeline.Export.writeShards(
        docs(s, dir).select("doc_id", "text"), s"$root/data",
        numShards = 8, salt = 17L)
    }),

    // ---- inverted index: per-token true document frequency + capped
    // posting list (lowest 5 doc ids with aligned tfs — the cap is
    // exercised by every stopword at this SF; n_docs > 5 marks
    // truncation). The cap applies BEFORE any list materializes.
    // Driver surface flattens the aligned arrays to ','-joined strings:
    // the harness comparator sorts columns with pandas, which cannot
    // order list cells — the ONLY query whose natural output carries
    // arrays, so keep every driver query array-free ----
    "q_postings" -> ((s, dir) =>
      graft.pipeline.Retrieval.postings(docs(s, dir), maxPostings = 5)
        .select(col("token"), col("n_docs"),
          expr("array_join(transform(post_ids, x -> cast(x as string)), ',')")
            .as("post_ids"),
          expr("array_join(transform(post_tfs, x -> cast(x as string)), ',')")
            .as("post_tfs"))),

    // ---- exact phrase search over the POSITIONAL postings index:
    // per-token scan pruning (only the phrase's tokens' rows are read),
    // occurrence→start voting, one map-side-combined aggregate ----
    "q_phrase_search" -> ((s, dir) =>
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.positionalPostings(docs(s, dir)),
        Seq("table", "value"))),

    // ---- proximity search: 'spark' and 'table' within a 6-token
    // window, any order — the phrase voting frame with the slot
    // constraint relaxed to distinct-term votes per start; served from
    // the PERSISTED index (token-pruned point read, no re-tokenize) ----
    "q_proximity_search" -> ((s, dir) =>
      graft.pipeline.Retrieval.proximitySearch(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsStoreDir(s, dir)),
        Seq("spark", "table"), window = 6)),

    // ---- KWIC snippets over the phrase hits: ±3 tokens of context
    // around each doc's first occurrence, edge-clamped; hits come from
    // the PERSISTED index, text enters via one id-keyed join against
    // the hit set (the only corpus touch), never a shuffle ----
    "q_kwic_snippets" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.Retrieval.kwicSnippets(d,
        graft.pipeline.Retrieval.phraseSearch(
          graft.pipeline.Retrieval.readPostingsIndex(s,
            graft.sources.WireFixtures.postingsStoreDir(s, dir)),
          Seq("table", "value")),
        phraseLen = 2, context = 3)
    }),

    // ---- KWIC for PROXIMITY hits: the relaxed query's triage surface —
    // the 6-token window at each doc's first matching start, ±3 context
    // tokens, edge-clamped; same hit-sized id join as the phrase KWIC ----
    "q_kwic_proximity" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.Retrieval.kwicProximity(d,
        graft.pipeline.Retrieval.proximitySearch(
          graft.pipeline.Retrieval.readPostingsIndex(s,
            graft.sources.WireFixtures.postingsStoreDir(s, dir)),
          Seq("spark", "table"), window = 6),
        window = 6, context = 3)
    }),

    // ---- INCREMENTALLY-built postings index, served: the store's base
    // slice was written once, the held-back slice appended later (only
    // the batch tokenized, stored rows never rewritten) — phrase search
    // over the persisted index must equal the full-corpus derivation ----
    "q_postings_incr" -> ((s, dir) =>
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsStoreDir(s, dir)),
        Seq("table", "value"))),

    // ---- BM25 top-k served FROM the persisted index: tf from the
    // token-pruned postings scan, df from a terms-sized aggregate, dl
    // from the doclens norms — document text never read; scores
    // bit-identical to q_bm25_topk (same oracle) ----
    "q_bm25_index" -> ((s, dir) => {
      val store = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndex(s, store),
        graft.pipeline.Retrieval.readDocLengths(s, store),
        Seq("the", "of", "data"), k = 20)
    }),

    // ---- the composed SEARCH/AUDIT pipeline (retrieval flagship):
    // everything serves from the INCREMENTALLY-built postings store —
    // BM25 top-20 from pruned postings + doclens, fused (RRF) with the
    // brute-cosine top-20 for query vector 0, each fused hit annotated
    // with its phrase-audit flag (one pruned index pass) and its length
    // norm. Four round-9 surfaces chained the way a search result page
    // chains them; integer-exact end-to-end ----
    "q_pipeline_search" -> ((s, dir) => {
      val R = graft.pipeline.Retrieval
      val store = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      val postings = R.readPostingsIndex(s, store)
      val doclens = R.readDocLengths(s, store)
      val bm = R.bm25TopKFromIndex(postings, doclens,
        Seq("the", "of", "data"), k = 20).select("doc_id", "rank")
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val vecRank = Ann.bruteForceTopK(e.where(col("id") === 0), e, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      val fused = R.rrfFuse(Seq(bm, vecRank), topK = 10)
      val hits = R.phraseSearch(postings, Seq("table", "value"))
      fused
        .join(hits.select(col("doc_id"), lit(true).as("has_phrase")),
          Seq("doc_id"), "left")
        .join(doclens, "doc_id")
        .select(col("rank"), col("doc_id"), col("rrf_e8"),
          coalesce(col("has_phrase"), lit(false)).as("has_phrase"),
          col("dl"))
    }),

    // ---- HYBRID retrieval: reciprocal-rank fusion of the BM25 top-20
    // (lexical) with the brute-cosine top-20 for query vector 0
    // (semantic) — integer-exact floor(1e8/(60+rank)) contributions,
    // k-sized inputs, TakeOrderedAndProject final ----
    "q_hybrid_rrf" -> ((s, dir) => {
      val textRank = graft.pipeline.Retrieval.bm25TopK(docs(s, dir),
        Seq("the", "of", "data"), k = 20).select("doc_id", "rank")
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val vecRank = Ann.bruteForceTopK(e.where(col("id") === 0), e, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.pipeline.Retrieval.rrfFuse(Seq(textRank, vecRank), topK = 10)
    }),

    // ---- STORE-SERVED hybrid retrieval: the same RRF fusion with both
    // legs reading MAINTAINED INDEXES, never sources — the high-QPS
    // twin of q_hybrid_rrf (which stays the exactness oracle for the
    // fusion algebra over scan-path legs). Lexical leg: BM25 top-20
    // from the postings store (token-pruned scan, bit-identical to the
    // corpus-scan path by q_bm25_index's contract). Semantic leg: each
    // query id < 15 probes the persisted IVF store and its planted
    // rank-1 twin (cosine 1.0 — deterministic under any codebook, the
    // q_ann_store contract) forms the related-docs ranking ordered by
    // query id. Document text is never read and only the probed cells'
    // int8 rows are scanned — PlansSpec holds both. Reference
    // analogue: serving reads the maintained index, never the source
    // (databus-core/.../ScnIndex.java:623 skip-scan) ----
    "q_hybrid_rrf_store" -> ((s, dir) => {
      val R = graft.pipeline.Retrieval
      val pstore = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      val textRank = R.bm25TopKFromIndex(
        R.readPostingsIndex(s, pstore), R.readDocLengths(s, pstore),
        Seq("the", "of", "data"), k = 20).select("doc_id", "rank")
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val vecRank = Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15),
          withTwins, graft.sources.WireFixtures.annIndexDir(s, dir), k = 5)
        .where(col("rank") === 1)
        .select(col("neighbor_id").as("doc_id"),
          graft.pipeline.Ranks.globalRowNumber(col("query_id"),
            col("query_id")).cast("long").as("rank"))
      R.rrfFuse(Seq(textRank, vecRank), topK = 10)
    }),

    // ---- BATCH phrase suite: every phrase answered by ONE pass over
    // the union of the suite's token postings (vs a per-phrase rescan);
    // single-token and multi-token phrases share the voting frame ----
    "q_phrase_batch" -> ((s, dir) =>
      graft.pipeline.Retrieval.phraseSearchAll(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsStoreDir(s, dir)),
        Seq(Seq("table", "value"), Seq("the", "data"), Seq("spark")))),

    // ---- store COMPACTION: five trickle appends (the first one
    // publishes the store's generation 1) leave five overlapping token
    // ranges; compaction publishes the canonical range layout as the
    // next generation and serving over the compacted store is
    // row-identical to the full-corpus derivation ----
    "q_postings_compact" -> ((s, dir) => {
      val root = tempQueryDir("pcompact").toString
      val d = docs(s, dir).select("doc_id", "text")
      (0 until 5).foreach(i =>
        graft.pipeline.Retrieval.appendToPostingsIndex(
          d.where(col("doc_id") % 5 === i), s"$root/index"))
      graft.pipeline.Retrieval.compactPostingsIndex(s, s"$root/index")
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        Seq("table", "value"))
    }),

    // ---- BATCH BM25 serving: two term queries answered by ONE pruned
    // pass over the postings store (df/norms shared — corpus
    // properties); per-query scores bit-identical to the single-query
    // index path, rank a per-query window ----
    "q_bm25_multi" -> ((s, dir) => {
      val store = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      graft.pipeline.Retrieval.bm25TopKFromIndexBatch(
        graft.pipeline.Retrieval.readPostingsIndex(s, store),
        graft.pipeline.Retrieval.readDocLengths(s, store),
        Seq(0L -> Seq("the", "of", "data"), 1L -> Seq("table", "value")),
        k = 10)
    }),

    // ---- STREAMING phrase audit: each arriving doc batch appends its
    // own postings to the persisted index (O(batch) — the ScnIndex
    // append-listener discipline) and records its membership; the final
    // attribution is ONE phrase search over the STORE the stream built,
    // hits attributed to the batch that delivered the doc ----
    "q_phrase_stream" -> ((s, dir) => {
      val root = tempQueryDir("phrstream").toString
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val q = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b0: DataFrame, batchId: Long) =>
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
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

    // ---- TAKEDOWN-aware phrase serving: the store holds the full
    // corpus but doc_id % 7 = 2 is tombstoned (O(request) — stored rows
    // untouched); the read's broadcast anti-join must make the hits
    // indistinguishable from an index that never saw those docs ----
    "q_phrase_delete" -> ((s, dir) =>
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsTakedownDir(s, dir)),
        Seq("table", "value"))),

    // ---- TAKEDOWN-aware BM25 serving: the deleted docs must leave not
    // just the result set but the CORPUS STATISTICS — N, avgdl and
    // every df shrink to the live slice (the oracle recomputes all of
    // them over live docs only), or deleted documents keep distorting
    // every score ----
    "q_bm25_delete" -> ((s, dir) => {
      val store = graft.sources.WireFixtures.postingsTakedownDir(s, dir)
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndex(s, store),
        graft.pipeline.Retrieval.readDocLengths(s, store),
        Seq("the", "of", "data"), k = 20)
    }),

    // ---- takedown GC: tombstone, then COMPACT — the rewrite publishes
    // a fresh generation of the live rows (empty overlay) and gc retires
    // the old one, physically dropping the tombstoned rows — then serve;
    // results identical to the tombstone-only read ----
    "q_postings_gc" -> ((s, dir) => {
      val root = tempQueryDir("pgc").toString
      val d = docs(s, dir).select("doc_id", "text")
      graft.pipeline.Retrieval.writePostingsIndex(d, s"$root/index")
      graft.pipeline.Retrieval.tombstoneDocsDf(
        d.select("doc_id").where(col("doc_id") % 7 === 2), s"$root/index")
      graft.pipeline.Retrieval.compactPostingsIndex(s, s"$root/index")
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        Seq("table", "value"))
    }),

    // ---- STREAMING takedown: DELETE opcodes arrive on a checkpointed
    // CDC feed and the first-class Tombstones.takedownStream sink
    // routes them into the store's tombstone set per micro-batch —
    // replay-safe with NO batch addressing because the tombstone set is
    // a semantic set (re-appending ids changes nothing an anti-join
    // observes). Two drains (the second feed file lands after the first
    // drain checkpointed) prove resume; serving afterwards is identical
    // to an index that never saw the deleted docs ----
    "q_takedown_stream" -> ((s, dir) => {
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
    }),

    // ---- STREAMING exact unlearning (NB): forget rows ride a DELETE
    // feed; each micro-batch lands in the batch-addressed FORGET LOG
    // (overwrite per batch=<id> — subtraction is NOT idempotent, so
    // replay safety comes from batch addressing, not set semantics),
    // and serving composes unlearn(model, log) lazily — row-identical
    // to retraining on train ∖ forgotten (q_nb_unlearn's oracle,
    // reused verbatim) ----
    "q_nb_unlearn_stream" -> ((s, dir) => {
      val root = tempQueryDir("nbforget").toString
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.Classifier.train(train, labelCol = "lang")
      train.where(col("doc_id") % 6 === 1)
        .coalesce(1).write.parquet(s"$root/feed")
      val q = s.readStream.schema("doc_id LONG, lang STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/feed")
        .writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          graft.pipeline.ForgetLog.appendBatch(b, s"$root/forget", batchId)
        }
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val unlearned = graft.pipeline.ForgetLog.readOpt(s, s"$root/forget")
        .map(log => graft.pipeline.Classifier.unlearn(model, log,
          labelCol = "lang"))
        .getOrElse(model)
      graft.pipeline.Classifier.classify(unlearned, d)
    }),

    // ---- STREAMING exact unlearning (bigram LM): same forget-log
    // protocol, scored over the full corpus — q_lm_unlearn's oracle ----
    "q_lm_unlearn_stream" -> ((s, dir) => {
      val root = tempQueryDir("lmforget").toString
      val d = docs(s, dir).select("doc_id", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.LangModel.train(train)
      train.where(col("doc_id") % 6 === 1)
        .coalesce(1).write.parquet(s"$root/feed")
      val q = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/feed")
        .writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          graft.pipeline.ForgetLog.appendBatch(b, s"$root/forget", batchId)
        }
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val unlearned = graft.pipeline.ForgetLog.readOpt(s, s"$root/forget")
        .map(graft.pipeline.LangModel.unlearn(model, _))
        .getOrElse(model)
      graft.pipeline.LangModel.scoreNll(unlearned, d)
    }),

    // ---- STORE FSCK: every documented failure window of the store
    // layout, planted and detected — a ghost doc indexed without norms
    // (the two-commit crash window), a blind double-append (the retry
    // hazard batch-addressed writes prevent), a corrupt position, a
    // duplicated norm row, and a tombstone naming an id the store never
    // held (the GC crash window — serving no-op, operator-visible).
    // The healthy ANN fixture store audits to all-zero findings in the
    // same pass. Oracle = the closed-form expected findings ----
    "q_store_fsck" -> ((s, dir) => {
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
      // crashed-maintenance leftovers: a compaction tmp that never
      // swapped in and a backup that never got deleted (the single-table
      // swaps still run the swap protocol — the artifact audit stays)
      graft.pipeline.StoreFs.mkdirs(s"$gen/postings.compact.12345")
      graft.pipeline.StoreFs.mkdirs(s"$gen/doclens.old.12345")
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
        .unionByName(graft.pipeline.StoreFsck.layoutArtifacts(s, gen))
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
    }),

    // ---- fsck of the GENERATION PROTOCOL itself: every documented
    // crash/sweep shape of the versioned-store lifecycle planted by
    // hand into one root — an incomplete publish, a complete-but-
    // unreferenced flip casualty, a table-less COMPLETE remnant (what
    // a swept-mid-commit publisher under older code could leave), a
    // crashed pointer flip's tmp, a superseded flat dir, and a dead-pid
    // same-host reservation — and every count oracled exactly ----
    "q_store_fsck_versioned" -> ((s, dir) => {
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
      // crashed flip tmp + a superseded flat-layout dir
      F.writeAtomic(s"$root/${V.PointerTmpPrefix}12345", Array.empty)
      F.mkdirs(s"$root/oldflat")
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
    }),

    // ---- fsck COVERAGE for the remaining store families: the healthy
    // fixture stores (NB model, bigram-LM model, minhash signature)
    // plus a just-built batch-partial sketch store audit to ALL-ZERO
    // findings in one pass — the operational baseline every deployment
    // pins before trusting a store; injected-corruption detection per
    // family is spec-side (StoreFsckSpec) ----
    "q_store_fsck_models" -> ((s, dir) => {
      val F = graft.pipeline.StoreFsck
      val W = graft.sources.WireFixtures
      def pfx(p: String, df: DataFrame) =
        df.select(concat(lit(p), col("check_name")).as("check_name"),
          col("n_bad"))
      val dfDir = tempQueryDir("fsckdf")
        .toString + "/sketch"
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"))
      // the two batch appends land in disjoint batch=<id> partition dirs
      // of a fresh store — independent writes, overlapped (guide §2.6)
      locally {
        val a = graft.pipeline.Overlap.run(
          graft.pipeline.QuantileStore.appendBatch(
            scored.where(col("doc_id") % 2 === 0), dfDir, 0L, "len", "lang",
            50L))
        val b = graft.pipeline.Overlap.run(
          graft.pipeline.QuantileStore.appendBatch(
            scored.where(col("doc_id") % 2 === 1), dfDir, 1L, "len", "lang",
            50L))
        graft.pipeline.Overlap.settle(a, b)
      }
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
          val all = emb(s, dir).select(col("vec_id").as("id"),
            col("embedding").as("vec"))
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
    }),

    // ---- fsck for the SERVING-STATE stores (event log + applier
    // snapshot): the healthy protocols audit clean, and every injected
    // hazard — a blind re-append that bypassed the offset log (its
    // windows now span files AND duplicate their (scn, seq) identity), a
    // compaction tmp whose swap never ran, applier generations stranded
    // mid-promote — surfaces as a non-zero finding the oracle re-derives
    // from the same envelope ----
    "q_store_fsck_log" -> ((s, dir) => {
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
      // applier: two healthy generations, then swap leftovers injected
      graft.pipeline.StoreFs.mkdirs(s"$root/state")
      graft.streaming.Applier.applyBatch(s,
        events.where(col("scn") % 2 === 0), s"$root/state")
      graft.streaming.Applier.applyBatch(s,
        events.where(col("scn") % 2 =!= 0), s"$root/state")
      graft.pipeline.StoreFs.mkdirs(s"$root/state/next-12345")
      graft.pipeline.StoreFs.mkdirs(s"$root/state/old-12345")
      pfx("log_", F.eventLogStore(s, s"$root/log"))
        .unionByName(pfx("state_", F.applierState(s, s"$root/state")))
    }),

    // ---- SNAPSHOT-PINNED serving: three append batches land in the
    // store, but the read pins `as of batch 1` — batch 2's files are
    // partition-pruned out of the plan, and BM25's N/avgdl/df are the
    // snapshot's, not the store head's. The reproducibility contract a
    // training run needs: pin the index state it saw, replay it after
    // any number of later appends ----
    "q_postings_asof" -> ((s, dir) => {
      val root = tempQueryDir("asof").toString
      val d = docs(s, dir).select("doc_id", "text")
      (0 until 3).foreach(b =>
        graft.pipeline.Retrieval.appendToPostingsIndexBatch(
          d.where(col("doc_id") % 3 === b), s"$root/index", b))
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndexAsOf(s, s"$root/index", 1L),
        graft.pipeline.Retrieval.readDocLengthsAsOf(s, s"$root/index", 1L),
        Seq("the", "of", "data"), k = 20)
    }),

    // ---- ONE time-travel coordinate for the postings store — the
    // retrieval twin of q_ann_pin: BOTH axes move after the capture
    // (one more append batch, then a compaction that publishes a fresh
    // generation), and the pinned BM25 still serves the snapshot's
    // scores — corpus statistics included — while the head serves the
    // full post-compaction store. keepGenerations=1 is the retention
    // policy that keeps the pin alive ----
    "q_retrieval_pin" -> ((s, dir) => {
      val root = tempQueryDir("retpin").toString
      val R = graft.pipeline.Retrieval
      val d = docs(s, dir).select("doc_id", "text")
      R.writePostingsIndex(d.where(col("doc_id") % 3 === 0), s"$root/index",
        batchId = Some(0L))
      R.appendToPostingsIndexBatch(
        d.where(col("doc_id") % 3 === 1), s"$root/index", 1L)
      val pin = R.pinPostings(s"$root/index")
      R.appendToPostingsIndexBatch(
        d.where(col("doc_id") % 3 === 2), s"$root/index", 2L)
      R.compactPostingsIndex(s, s"$root/index", keepGenerations = 1)
      val terms = Seq("the", "of", "data")
      R.bm25TopKFromStorePinned(s, s"$root/index", pin, terms, k = 20)
        .withColumn("probe_view", lit("pinned"))
        .unionByName(R.bm25TopKFromIndex(
            R.readPostingsIndex(s, s"$root/index"),
            R.readDocLengths(s, s"$root/index"), terms, k = 20)
          .withColumn("probe_view", lit("head")))
    }),

    // ---- VERSIONED multi-table index: the postings+doclens PAIR
    // published as atomic generations behind one pointer flip — the
    // protocol that ELIMINATES the two-commit crash window (docs
    // indexed without norms) instead of detecting it. Generation 1
    // indexes half the corpus, generation 2 the whole; a third publish
    // CRASHES before its completeness marker (simulated) and must be
    // invisible. Serving reads BOTH: the current generation (BM25 over
    // the full corpus) and the PINNED generation 1 (BM25 over the half
    // corpus — whole-rebuild snapshot reproducibility), tagged by gen;
    // the oracle re-derives each from its slice ----
    "q_bm25_versioned" -> ((s, dir) => {
      val root = tempQueryDir("vidx").toString +
        "/index"
      val R = graft.pipeline.Retrieval
      val V = graft.pipeline.VersionedStore
      val d = docs(s, dir).select("doc_id", "text")
      def tables(slice: DataFrame) = Map(
        "postings" -> R.positionalPostings(slice)
          .repartitionByRange(4, col("token"))
          .sortWithinPartitions("token", "doc_id", "pos"),
        "doclens" -> R.docLengths(slice).coalesce(2))
      val g1 = V.publish(root, tables(d.where(col("doc_id") % 2 === 0)))
      val g2 = V.publish(root, tables(d))
      // a publish that crashes mid-write leaves dead bytes, never a
      // torn pair: tables down, marker missing, pointer unmoved
      R.docLengths(d.limit(3)).write.parquet(s"$root/gen-9/doclens")
      val terms = Seq("the", "of", "data")
      R.bm25TopKFromIndex(V.read(s, root, "postings"),
          V.read(s, root, "doclens"), terms, k = 20)
        .withColumn("gen", lit(g2))
        .unionByName(R.bm25TopKFromIndex(
            V.readAsOf(s, root, "postings", g1),
            V.readAsOf(s, root, "doclens", g1), terms, k = 20)
          .withColumn("gen", lit(g1)))
    }),

    // ---- VERSIONED takedown: the O(request) erasure path for
    // generation-published stores — the id set lands as a tombstone
    // OVERLAY under EVERY retained complete generation (request-sized
    // appends; no table read or rewritten, no immediate corpus-sized
    // republish), and live serving filters it everywhere: the current
    // generation's BM25 (N/avgdl/df shrink) AND the pinned generation
    // (time travel must not resurrect erased docs). The physical purge
    // rides the next live-row publish; gc bounds pinned-read
    // reachability. Oracle re-derives both generations from their live
    // slices ----
    "q_takedown_versioned" -> ((s, dir) => {
      val root = tempQueryDir("vtd").toString +
        "/index"
      val R = graft.pipeline.Retrieval
      val V = graft.pipeline.VersionedStore
      val d = docs(s, dir).select("doc_id", "text")
      R.writePostingsIndex(d.where(col("doc_id") % 2 === 0), root) // gen 1
      R.writePostingsIndex(d, root) // gen 2
      // the erasure request — one O(request) overlay append per
      // retained generation, routed by the store-root layout dispatch
      R.tombstoneDocsDf(d.select("doc_id").where(col("doc_id") % 7 === 2),
        root)
      val terms = Seq("the", "of", "data")
      R.bm25TopKFromIndex(R.readPostingsIndex(s, root),
          R.readDocLengths(s, root), terms, k = 20)
        .withColumn("gen", lit(2L))
        .unionByName(R.bm25TopKFromIndex(
            V.readAsOfLive(s, root, "postings", 1L, "doc_id"),
            V.readAsOfLive(s, root, "doclens", 1L, "doc_id"), terms, k = 20)
          .withColumn("gen", lit(1L)))
    }),

    // ---- the composed TAKEDOWN pipeline — the round trip a real
    // leak response runs: (1) AUDIT: contamination attribution names
    // every train doc sharing ≥10% of an eval item's shingles
    // (self-matches excluded — eval ids overlap the corpus here);
    // (2) PURGE: the attributed ids tombstone the persisted postings
    // index in one O(request) write; (3) SERVE: BM25 from the store —
    // scores must match a corpus that never contained the leaked docs
    // (N, avgdl, df all shrink), which the oracle re-derives end-to-end
    // from the same attribution predicate ----
    "q_pipeline_takedown" -> ((s, dir) => {
      val root = tempQueryDir("tdpipe").toString
      val d = docs(s, dir).select("doc_id", "text")
      val purge = Dedup.contaminationReport(d,
          d.where(col("doc_id") < 50), maxGramDf = Int.MaxValue)
        .where(col("train_id") >= 50 && col("leak_bp") >= 1000)
        .select(col("train_id").as("doc_id")).distinct().persist()
      // the contamination scan and the index build are independent —
      // overlapped (guide §2.6); the tombstone append still lands only
      // after the store exists, from the cached purge set
      locally {
        val fIdx = graft.pipeline.Overlap.run(
          graft.pipeline.Retrieval.writePostingsIndex(d, s"$root/index"))
        val fPurge = graft.pipeline.Overlap.run { purge.count(); () }
        graft.pipeline.Overlap.settle(fIdx, fPurge)
      }
      graft.pipeline.Retrieval.tombstoneDocsDf(purge, s"$root/index")
      purge.unpersist()
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        graft.pipeline.Retrieval.readDocLengths(s, s"$root/index"),
        Seq("the", "of", "data"), k = 20)
    }),

    // ---- CDC-maintained search index: a change FEED with the
    // reference's opcode semantics (UPSERT/DELETE — DbusOpcode.java:
    // 22-26) drives the postings store per micro-batch: upserts append
    // batch-addressed postings (replay = overwrite of the same
    // partial), deletes append tombstones (replay-safe by set
    // semantics). Serving after the drain must equal an index built
    // from the net surviving docs — the oracle re-derives exactly that.
    // Takedowns here are permanent (ids never return); a doc UPDATE in
    // this discipline is a new doc id, as in any append-only store ----
    "q_index_cdc_stream" -> ((s, dir) => {
      val root = tempQueryDir("cdcidx").toString
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val q = s.readStream
          .schema("opcode STRING, doc_id LONG, text STRING")
          .parquet(s"$root/feed")
          .writeStream
          .foreachBatch { (b0: DataFrame, batchId: Long) =>
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
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

    // ---- the composed CCNet-shape pipeline: boilerplate line strip →
    // bigram-LM NLL over the CLEANED corpus (model trained on its 80%
    // slice) → per-language exact-quantile gate keeping the low-
    // perplexity 70% head. Three first-class stages chained the way
    // CCNet chains them; every decision integer-exact except the one
    // double (mean NLL), a single division of two engine-exact ints ----
    "q_pipeline_ccnet" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val injected = d.select(col("doc_id"), concat_ws("\n",
        col("text"),
        when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter")),
        when(col("doc_id") % 3 === 0, lit("all rights reserved - example corp")),
        concat(lit("ref "), col("doc_id").cast("string"))).as("text"))
      // persisted: the cleaned corpus feeds FIVE consumers (uni/bi/vocab
      // training scans, the scoring bigram explode, the membership left
      // join) — without the persist every one re-runs the whole strip
      // chain (explode + threshold + reassembly shuffle). Same PlanCache
      // discipline as the LSH signature tables; at 100 TB this is "write
      // the cleaned snapshot once, read it five times".
      val cleaned = graft.pipeline.PlanCache.getOrPersist(d,
        "ccnet-cleaned|shareBp=100",
        graft.pipeline.Lines.stripFrequentLines(injected, shareBp = 100)
          .select("doc_id", "text"))
      val model = graft.pipeline.LangModel.train(
        cleaned.where(col("doc_id") % 5 =!= 0))
      val scored = graft.pipeline.LangModel.scoreNll(model, cleaned)
        .where(col("n_terms") > 0)
        .join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("neg_mean_nll",
          -(col("nll_e4").cast("double") / col("n_terms").cast("double")))
      graft.pipeline.Weighting.quantileThreshold(scored,
        scoreCol = "neg_mean_nll", stratumCol = "lang", qBp = 3000)
    }),

    // ---- the composed CURATION pipeline: DSIR importance selection →
    // per-language quantile calibration over the survivors → token-budget
    // mixing of what remains. Three selection ops chained the way a
    // production curation run chains them; every stage's decision is
    // integer-exact, so the composition stays hash-oracled ----
    "q_pipeline_curation" -> ((s, dir) => {
      val W = graft.pipeline.Weighting
      val d = docs(s, dir).select("doc_id", "text", "lang")
      val dsirKeep = W.importanceWeights(
          d.select("doc_id", "text"),
          d.where(col("lang") === "en").select("doc_id", "text"))
        .where(col("selected")).select("doc_id")
      // persisted: the DSIR-selected scored slice feeds TWO consumers
      // (the gate's value-count aggregate and the gate join itself) —
      // without the persist the whole importance-weight chain runs
      // twice. Same "write the snapshot once" PlanCache discipline as
      // the ccnet cleaned corpus
      val scored = graft.pipeline.PlanCache.getOrPersist(d,
        "curation-scored|dsir-en|q6",
        d.join(dsirKeep, "doc_id")
          .select(col("doc_id"), col("lang"), col("text"),
            TF.qualityScore(col("text")).as("quality")))
      // the quantile gate's rank is FOLDED INTO THE STRATUM AGGREGATE
      // (quantileSelectByValue): selection is value-determined, so the
      // cutoff derives from a narrow (lang, quality) count table and
      // broadcasts back — the corpus text rows never sort and never
      // shuffle for the gate; with the mix window deriving n_tokens
      // before ITS exchange, document text now crosses the wire zero
      // times in the whole pipeline (PlansSpec pins it)
      val afterQual = W.quantileSelectByValue(scored,
          scoreCol = "quality", stratumCol = "lang", qBp = 2500)
        .where(col("selected"))
      graft.pipeline.Sampling.mixToBudget(
          afterQual.select("doc_id", "lang", "text"),
          idCol = "doc_id", domainCol = "lang", textCol = "text",
          budgetTokens = Map("en" -> 800L, "de" -> 300L),
          defaultBudget = 200L, salt = 13L)
        .where(col("selected"))
        .select("doc_id", "domain", "n_tokens", "cum_before")
    }),

    // ---- the end-to-end training-data pipeline, composed: quality
    // filter → predicted-language filter → exact dedup keep-one →
    // decontamination vs the eval slice → sequence packing. Every stage
    // is the first-class operator; the whole composition hash-matches a
    // DuckDB re-derivation ----
    "q_pipeline_e2e" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val filtered = d
        .where(round(TF.qualityScore(col("text")), 6) >= 0.5)
        .where(TF.langId(col("text")) === "en")
      val deduped = Dedup.exactKeepOne(filtered)
      val eval = docs(s, dir).where(col("doc_id") < 30)
        .select("doc_id", "text")
      val clean = Dedup.decontaminate(deduped, eval)
      graft.pipeline.Packing.packChunks(clean, budgetTokens = 512L)
        .select("lang", "doc_id", "n_tokens", "tok_offset", "chunk_id")
    }),

    // ---- the NEAR-DUP composed pipeline: quality filter → minhash-LSH
    // verified pairs (restricted to surviving docs) → connected-components
    // keep-one → sequence packing. The second flagship composition: where
    // q_pipeline_e2e dedups exactly, this one runs the full fuzzy-dedup
    // graph machinery end-to-end, hash-matched against a DuckDB
    // re-derivation (shared-shingle ≥0.8 edges + recursive-CTE closure) ----
    "q_pipeline_neardup" -> ((s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
      val corpus = d0.unionByName(d0.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text")))
      val filtered = corpus
        .where(round(TF.qualityScore(col("text")), 6) >= 0.5)
      // near-dup edges among survivors: the cached verified pair set
      // (computed ONCE for all dedup queries) restricted per endpoint
      val ids = filtered.select(col("doc_id"))
      val pairs = verifiedDupPairs(s, dir)
        .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
        .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      val kept = Dedup.keepOnePerComponent(filtered, pairs)
      graft.pipeline.Packing.packChunks(
        kept.select("lang", "doc_id", "text"), budgetTokens = 512L)
    }),

    // ---- similarity search: brute-force cosine top-k (baseline) ----
    "q_ann_brute" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.bruteForceTopK(all.where(col("id") < 10), all, k = 5)
    }),

    // ---- similarity search: LSH-bucketed ANN (scale path), oracled as a
    // planted-retrieval contract: each query's identical twin rides the
    // corpus, collides in every hash table by construction, and uniquely
    // tops the ranking at cosine 1.0 — so rank-1 per query is fully
    // deterministic and SQL-derivable. Recall over the natural corpus
    // stays spec-covered (DedupAnnSpec subset-of-brute). ----
    "q_ann_lsh" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.lshTopK(all.where(col("id") < 50), withTwins, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- embeddings: norms (vector function surface) ----
    "q_embed_norms" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(VF.norm2(col("embedding")), 6).as("norm"))),

    // ---- similarity search: quantized scan + exact re-rank — the int8
    // storage tier integrated into retrieval; planted-twin contract holds
    // end-to-end (identical vectors quantize identically) ----
    "q_ann_quantized" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.quantizedTopK(all.where(col("id") < 25), withTwins, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- embeddings: int8 quantization contract — reconstruction error
    // is bounded by half a quantum per element BY CONSTRUCTION (round
    // error ≤ 0.5·scale), and quantized values stay in [-127, 127] ----
    "q_quantize_int8" -> ((s, dir) =>
      emb(s, dir)
        .withColumn("scale", VF.int8Scale(col("embedding")))
        .withColumn("q", VF.quantizeInt8(col("embedding"), col("scale")))
        .withColumn("deq", VF.dequantizeInt8(col("q"), col("scale")))
        .select(col("vec_id"),
          size(col("q")).cast("long").as("dim"),
          (aggregate(
            zip_with(col("embedding"), col("deq"),
              (a, b) => abs(a.cast("double") - b)),
            lit(0.0), (acc, x) => greatest(acc, x))
            <= col("scale") * 0.5000001).as("within_bound"),
          (array_max(transform(col("q"), x => abs(x))) <= 127)
            .as("range_ok"))),

    // ---- S7: deterministic synthetic generator (load harness) ----
    "q_synthetic_feed" -> ((s, dir) =>
      graft.sources.SyntheticFeed.generate(s, 10000)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          max(col("key_long")).as("max_key"))),

    // ---- S1/J1: txlog capture join (source view ⋈ txlog tail) ----
    "q_capture_txlog" -> ((s, dir) => {
      val txlog = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("txn"), (col("o_orderkey") * 10).as("scn"),
          col("o_orderdate").as("ts"))
      val view = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("txn"), col("l_partkey"), col("l_quantity"))
      graft.sources.TxlogCapture.capture(view, txlog, sinceScn = 100000L)
        .select("txn", "scn", "l_partkey", "l_quantity")
    }),

    // ---- S1 LIVE form: the same capture against an actual JDBC database
    // (embedded Derby; the reference's sy$view ⋈ sy$txlog poll query with
    // scn > lastScn pushed into the database, split into 4 parallel scn
    // bands — OracleTxlogEventReader.java:613-704) ----
    "q_capture_jdbc" -> ((s, dir) => {
      val db = graft.sources.DerbyTxlogFixture.ensure(s, dir)
      graft.sources.JdbcTxlogCapture.read(s, db.url, db.viewTable,
          db.txlogTable, sinceScn = 100000L, numPartitions = 4)
        .select(col("txn"), col("scn"), col("l_partkey"), col("l_quantity"))
    }),

    // ---- S1 LIVE streaming form: the capture as a MicroBatchStream —
    // offsets are txlog high-watermark SCNs, each micro-batch pulls one
    // (start, end] band from the database (the reference's poll loop as
    // streaming offset algebra); drained with AvailableNow in ~3 bounded
    // batches via the scn admission cap ----
    "q_capture_jdbc_stream" -> ((s, dir) => {
      val db = graft.sources.DerbyTxlogFixture.ensure(s, dir)
      val root = tempQueryDir("jdbccap").toString
      val span = graft.sources.JdbcTxlogCapture.maxScn(db.url,
        db.txlogTable) - 100000L
      val q = s.readStream.format("graft-jdbc-capture")
        .option("url", db.url).option("view", db.viewTable)
        .option("txlog", db.txlogTable)
        .option("startingScn", 100000L)
        .option("maxScnPerBatch", math.max(span / 3 + 1, 1L))
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batch-addressed sink: a retried trigger rewrites its partial
          batch.select(col("txn"), col("scn"), col("l_partkey"),
              col("l_quantity"))
            .coalesce(4).write.mode("overwrite")
            .parquet(s"$root/out/batch=$batchId")
          ()
        }
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$root/out").drop("batch")
    }),

    // ---- P16: CRC stamp + validate (self-checking; no SQL oracle) ----
    "q_crc_integrity" -> ((s, dir) => {
      val schema = graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson
      val enc = graft.functions.AvroCodec.encodeEventPayload(schema)
      val stamped = graft.operators.Integrity.withCrc(
        ChangeFeed.raw(s, dir).withColumn("payload",
          enc(struct(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("props")))))
      // failure count rides the same plan as the per-type totals (one job,
      // one scan) instead of an eager side-job at query-construction time
      val bad = graft.operators.Integrity.validate(stamped)
        .agg(count(lit(1)).as("n_bad"))
      stamped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_valid"))
        .crossJoin(bad).where(col("n_bad") === 0).drop("n_bad")
    }),

    // ---- P15: wire-payload gzip roundtrip (CompressUtil analog) — every
    // non-null payload must survive compress→uncompress bit-exactly ----
    "q_gzip_roundtrip" -> ((s, dir) => {
      val e = env(s, dir)
      val rt = graft.operators.Compression.gunzip(
        graft.operators.Compression.gzip(col("props").cast("binary")))
        .cast("string")
      e.select(col("source_id"), col("props"), rt.as("rt"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("props")).as("n_nonnull"),
          count(when(col("rt") <=> col("props") && col("rt").isNotNull,
            1)).as("n_match"))
    }),

    // ---- capture-path band scan through the ImpliedScnBandPushdown rule:
    // scn is derived arithmetic on the raw feed, yet the implied event_id
    // bounds reach the parquet scan (PlansSpec asserts the pushed filters)
    "q_capture_band" -> ((s, dir) => {
      graft.plans.GraftRules.install(s)
      ChangeFeed.envelope(s, dir)
        .where(col("scn") > 300 && col("scn") <= 700)
        .select("scn", "seq", "ts_us", "source_id", "partition_id",
          "opcode", "key_long", "value")
    }),

    // ---- the custom DataSource V2 relay source (SURVEY §4): binary
    // segment log read through format("graft-relay") with scn-band
    // pruning; checkpoint-band filter applied on top (K1 over the source)
    "q_relay_source" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.relayLogDir(s, dir)).load()
      log.where(col("scn") > 300)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"))
    }),

    // ---- log compaction: an append-fragmented event log (5 generations)
    // compacted back to scn-banded segments serves the identical event
    // set — the small-file remedy an append-heavy stream needs at scale ----
    "q_compact_log" -> ((s, dir) => {
      val root = tempQueryDir("compact").toString
      val e = envCore(s, dir).where(col("scn") < 3000)
      // 5 append generations fragment the log...
      (0 until 5).foreach { g =>
        graft.streaming.RelayStream.writeEventLog(
          e.where(pmod(col("scn"), lit(5)) === g), s"$root/log", filesHint = 4)
      }
      graft.streaming.RelayStream.compactEventLog(s, s"$root/log", filesHint = 4)
      s.read.schema(graft.streaming.RelayStream.schema).parquet(s"$root/log")
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"))
    }),

    // ---- skew discipline: per-source exact distinct keys via value-space
    // salting (hot group's state splits across slices; equals countDistinct)
    "q_salted_distinct" -> ((s, dir) =>
      Skew.saltedDistinctCount(envCore(s, dir), "source_id", "key_long", 8)
        .select(col("source_id"), col("distinct_count"))),

    // ---- streaming analytics: event-time tumbling-window stats (the
    // watermark op; batch form checked here, stream form in StreamingSpec)
    "q_windowed_stats" -> ((s, dir) =>
      graft.streaming.RelayStream.windowedStats(envCore(s, dir), "1 minute")
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("source_id"), col("n_events"), col("n_deletes"),
          col("min_scn"), col("max_scn"))),

    // ---- S5: GoldenGate trail parse → envelope (files rendered from the
    // events table, parsed back by the production StAX source) ----
    "q_ggtrail_parse" -> ((s, dir) => {
      val trail = graft.sources.GoldenGateTrail.read(
        s, graft.sources.WireFixtures.goldenGateTrailDir(s, dir))
      graft.sources.GoldenGateTrail.toEnvelope(trail, ChangeFeed.registry)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          countDistinct(col("key_long")).as("n_keys"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
    }),

    // ---- S5 streaming: the graft-ggtrail micro-batch source drained over
    // the same fixture trail — tailing must be lossless, so the identical
    // aggregation hash-matches q_ggtrail_parse's oracle ----
    "q_ggtrail_stream" -> ((s, dir) => {
      val trailDir = graft.sources.WireFixtures.goldenGateTrailDir(s, dir)
      val outDir = tempQueryDir("ggstream").toString
      val q = graft.sources.GoldenGateTrail.stream(s, trailDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batch-addressed sink: a retried trigger rewrites its partial
          batch.write.mode("overwrite").parquet(s"$outDir/out/batch=$batchId")
          ()
        }
        .option("checkpointLocation", s"$outDir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.sources.GoldenGateTrail.toEnvelope(
          s.read.parquet(s"$outDir/out").drop("batch"), ChangeFeed.registry)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          countDistinct(col("key_long")).as("n_keys"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
    }),

    // ---- S3/S4: binlog dump parse → composite-SCN envelope ----
    "q_binlog_parse" -> ((s, dir) => {
      val recs = graft.sources.BinlogFeed.parseJsonLines(
        s, graft.sources.WireFixtures.binlogDumpDir(s, dir))
      graft.sources.BinlogFeed.toEnvelope(recs, ChangeFeed.registry)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
    }),

    // ---- S3/S4 streaming: continuous binlog assembly — the dump tailed
    // as a file stream, per-batch transaction assembly appended to a log,
    // read back and hash-matched against the batch parse's oracle ----
    "q_binlog_stream" -> ((s, dir) => {
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
    }),

    // ---- S9: chained relay — the second relay's producer is the first
    // relay's served segment log (read back through the DataSource, then
    // re-served); chaining must be lossless, so the same band aggregation
    // as q_relay_source hash-matches the same oracle ----
    "q_chained_relay" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.chainedRelayLogDir(s, dir))
        .load()
      log.where(col("scn") > 300)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"))
    }),

    // ---- K3: dispatcher delivery order materialized as a frame — the
    // per-physical-partition (scn, seq) total order with its delivery
    // index (GenericDispatcher.java:420-459 ordering contract) ----
    "q_dispatch_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("partition_id"))
        .orderBy(col("scn"), col("seq"))
      Relay.streamOrdered(envCore(s, dir))
        .select(col("partition_id"), col("scn"), col("seq"),
          row_number().over(w).cast("long").as("delivery_idx"))
    }),

    // ---- K4: dtail output formats as pure frames (DtailCliBase.java:
    // 34-60; the XxxDtailPrinter family). EVENT_INFO is plain string
    // arithmetic → hash-oracled line-for-line; JSON and AVRO_BIN are
    // proven by round-trip (parse/decode the rendered line back and
    // aggregate the typed fields against the envelope oracle) ----
    "q_dtail_event_info" -> ((s, dir) =>
      graft.streaming.Dtail.format(envCore(s, dir), "EVENT_INFO")),

    "q_dtail_json" -> ((s, dir) => {
      val lineSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("scn", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source_id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("partition_id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("opcode", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("key_long", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      graft.streaming.Dtail.format(env(s, dir), "JSON")
        .select(from_json(col("line"), lineSchema).as("e"))
        .select(col("e.*"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("seq")).as("sum_seq"),
          sum(col("key_long")).as("sum_keys"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
          max(col("ts_us")).as("max_ts_us"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"))
    }),

    "q_dtail_avro_bin" -> ((s, dir) => {
      val dec = graft.functions.AvroCodec.decodeEventPayload(
        graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson)
      graft.streaming.Dtail.format(env(s, dir), "AVRO_BIN")
        .select(dec(unbase64(col("line"))).as("p"))
        .select(col("p.*"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"),
          sum(col("user_id")).as("sum_keys"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
    }),

    "q_dtail_avro_json" -> ((s, dir) => {
      val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      graft.streaming.Dtail.format(env(s, dir), "AVRO_JSON")
        .select(from_json(col("line"), payloadSchema).as("p"))
        .select(col("p.*"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"),
          sum(col("user_id")).as("sum_keys"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
    }),

    // ---- P17: FNV-1a 64 key-hash parity — the native codegen expression
    // against independent modular arithmetic in the oracle (reference
    // util/Fnv1aHashImpl.java constants: offset 0xcbf29ce484222325,
    // prime 0x100000001b3) ----
    "q_fnv_parity" -> ((s, dir) =>
      ChangeFeed.raw(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("fnv",
          graft.functions.GraftFunctions.fnv_hash64(col("event_type")))),

    // ---- C2: checkpoint persistence roundtrip — per-partition high-
    // watermark checkpoints stored + loaded through the FileSystem store
    // (FileSystemCheckpointPersistenceProvider staging-file protocol),
    // with the CheckpointMult round-robin cursor
    // (CheckpointMult.java:57-67) ----
    "q_checkpoint_store" -> ((s, dir) => {
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
    }),

    // ---- C5: SCN-regress detection as a control frame — a log whose
    // second segment regresses below the delivered watermark must fire
    // onRollback with the regressed batch's start (SCNRegressMessage.java:
    // 31; DbusEventBuffer.reset(prevScn)) between the two checkpoints ----
    "q_scn_regress" -> ((s, dir) => {
      import s.implicits._
      val root = tempQueryDir("regress").toString
      // bounded slice: this is a protocol control query (regress → rollback
      // callback ordering), not a throughput query — no need to rewrite
      // the whole envelope per run
      val e = envCore(s, dir).where(col("scn") < 2000)
      val split = 500L
      graft.streaming.RelayStream.writeEventLog(
        e.where(col("scn") >= split), s"$root/log", filesHint = 1)
      graft.streaming.RelayStream.writeEventLog(
        e.where(col("scn") < split), s"$root/log", filesHint = 1)
      val rec = new java.util.concurrent.CopyOnWriteArrayList[(String, Long)]()
      val consumer = new graft.streaming.DatabusConsumer {
        override def onEvent(ev: graft.streaming.EnvelopeRow): Boolean = true
        override def onCheckpoint(cp: graft.model.Checkpoint): Unit = {
          rec.add(("checkpoint", cp.windowScn)); ()
        }
        override def onRollback(cp: graft.model.Checkpoint): Unit = {
          rec.add(("rollback", cp.windowScn)); ()
        }
      }
      graft.streaming.Dispatcher.start(
        graft.streaming.RelayStream.read(s, s"$root/log",
          maxFilesPerTrigger = 1),
        consumer, s"$root/cp").awaitTermination()
      scala.jdk.CollectionConverters.IteratorHasAsScala(rec.iterator).asScala
        .toSeq.zipWithIndex
        .map { case ((kind, scn), i) => (i + 1, kind, scn) }
        .toDF("ord", "kind", "scn")
    }),

    // ---- K5: file-logging consumer — every delivered event persisted by
    // the parquet sink, read back and proven complete ----
    "q_file_log_consumer" -> ((s, dir) => {
      val logDir = graft.sources.Store.eventLogDir(s, dir)
      val root = tempQueryDir("filelog").toString
      graft.streaming.Dispatcher.fileLog(
        graft.streaming.RelayStream.read(s, logDir, maxFilesPerTrigger = 8),
        s"$root/out", s"$root/cp").awaitTermination()
      s.read.schema(graft.streaming.RelayStream.schema).parquet(s"$root/out")
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("seq")).as("sum_seq"),
          sum(col("key_long")).as("sum_keys"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
    }),

    // ---- §3.3: fall-off switchover — a checkpoint below retention
    // triggers bootstrap (snapshot+catchup to the log head) and resumes
    // online from the head (ScnNotFoundException → BOOTSTRAP,
    // RelayPullThread.java:96-121); the materialized bootstrap state and
    // resume point, hash-oracled ----
    "q_falloff_bootstrap" -> ((s, dir) => {
      val root = tempQueryDir("falloff").toString
      // bounded retention slice (protocol control query, see q_scn_regress)
      val retained = envCore(s, dir)
        .where(col("scn") >= 300 && col("scn") < 5000)
      graft.streaming.RelayStream.writeEventLog(retained, s"$root/log",
        filesHint = 4)
      val (state, _, resumeCp) = graft.streaming.RelayStream
        .streamWithBootstrap(s, s"$root/log",
          graft.model.Checkpoint.online(100L))
      state.get
        .select("scn", "seq", "ts_us", "source_id", "partition_id",
          "opcode", "key_long", "value")
        .withColumn("resume_scn", lit(resumeCp.windowScn))
    }),

    // ---- §2.10: engine facade smoke — /bufferInfo, /stream after a
    // checkpoint, /targetSCN and /sources through one GraftEngine over a
    // log it loaded itself (loadDataEvents) ----
    "q_engine_facade" -> ((s, dir) => {
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
    }),

    // ---- P13/J2: schema-by-digest decode of a mixed-version payload
    // column (even seq → v1 writer schema, odd → v2-with-extra-field);
    // reader = latest, so v1 rows resolve through Avro evolution ----
    "q_decode_digest" -> ((s, dir) => {
      val v1 = graft.model.VersionedSchemaSet.eventPayloadV1
      val v2 = graft.model.VersionedSchema("events", 2,
        v1.schemaJson.dropRight(2) +
          """,{"name":"extra","type":["string","null"],"default":"x"}]}""")
      val set = graft.model.VersionedSchemaSet(Seq(v1, v2))
      val encV1 = graft.functions.AvroCodec.encodeEventPayload(v1.schemaJson)
      val encV2 = graft.functions.AvroCodec.encodeEventPayload(v2.schemaJson)
      val payloadStruct = struct(
        col("seq").as("event_id"), col("key_long").as("user_id"),
        ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
        col("value"), col("props"))
      val mixed = env(s, dir).select(col("seq"),
        when(col("seq") % 2 === 0, encV1(payloadStruct))
          .otherwise(encV2(payloadStruct)).as("payload"),
        when(col("seq") % 2 === 0, lit(v1.digest))
          .otherwise(lit(v2.digest)).as("schema_id"))
      graft.functions.AvroCodec.decodeByDigest(mixed, set, "events")
        .groupBy(col("payload_rec.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("payload_rec.value") * 100).cast("long"))
            .as("sum_value_c"),
          max(col("payload_rec.event_id")).as("max_id"))
    }),

    // ---- S2 generic form: schema-WALKING payload codec over a second
    // registered source with a nested schema — every simple type the
    // reference factory supports (BOOLEAN, BYTES/BLOB, DOUBLE, FLOAT, INT,
    // LONG/TIMESTAMP-as-millis, STRING/CLOB with planted nulls through the
    // nullable union) plus ARRAY-of-RECORD, encoded → decoded → re-flattened
    // and verified field-by-field against the base tables ----
    "q_decode_generic" -> ((s, dir) => {
      val vs = graft.model.VersionedSchemaSet.orderWithItemsV1
      val items = tbl(s, dir, "lineitem")
        // same predicate as the orders side, stated where the scan can use
        // it — the collect_list agg then sees 1/5th of the fact rows
        .where(col("l_orderkey") % 5 === 0)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_returnflag")))).as("items"))
      val rec = tbl(s, dir, "orders")
        .where(col("o_orderkey") % 5 === 0)
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .select(struct(
          col("o_orderkey"),
          (col("o_totalprice") > 150000.0).as("o_urgent"),
          (col("o_orderkey") % 97).cast("int").as("o_bucket"),
          (col("o_totalprice") / 1000.0).cast("float").as("o_rate"),
          col("o_totalprice"),
          concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
            .cast("binary").as("o_blob"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")).as("o_clob"),
          // parquet dates are TIMESTAMP_NTZ; session TZ is pinned UTC, so
          // the cast matches DuckDB's epoch_ms over the naive timestamp
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("items")).as("rec"))
      val enc = graft.functions.GenericAvroCodec.encode(vs.schemaJson)
      val dec = graft.functions.GenericAvroCodec.decode(vs.schemaJson)
      rec.select(dec(enc(col("rec"))).as("r"))
        .select(col("r.o_orderkey").as("o_orderkey"),
          col("r.o_urgent").as("o_urgent"),
          col("r.o_bucket").as("o_bucket"),
          // float widens exactly to double; floor(×1e4) is deterministic on
          // both engines where round-half could straddle representations
          floor(col("r.o_rate").cast("double") * 10000).cast("long")
            .as("o_rate_e4"),
          round(col("r.o_totalprice") * 100).cast("long").as("price_c"),
          col("r.o_blob").cast("string").as("o_blob_text"),
          col("r.o_clob").as("o_clob"),
          col("r.o_date_ms").as("o_date_ms"),
          explode(col("r.items")).as("item"))
        .select(col("o_orderkey"), col("o_urgent"), col("o_bucket"),
          col("o_rate_e4"), col("price_c"), col("o_blob_text"), col("o_clob"),
          col("o_date_ms"), col("item.l_linenumber").as("l_linenumber"),
          col("item.l_quantity").as("l_quantity"),
          col("item.l_returnflag").as("l_returnflag"))
    }),

    // ---- P14: V2→V1 envelope down-conversion (drop metadata shape, ms
    // timestamps — DbusEventV1.java:166-183 projection) ----
    "q_to_v1" -> ((s, dir) => Relay.toV1(envCore(s, dir))),

    // ---- B3/B4: startSCN (snapshot-consistent start) + targetSCN (dirty-
    // read upper bound) as a one-row control frame ----
    "q_bootstrap_scns" -> ((s, dir) => {
      val log = envCore(s, dir).withColumnRenamed("scn", "windowscn")
      val start = Bootstrap.startScn(log, sinceScn = 0L)
      val target = Bootstrap.targetScn(log)
      s.range(1).select(lit(start).as("start_scn"),
        lit(target).as("target_scn"))
    }),

    // ---- B8: bootstrap DB cleaner — retention drop below the watermark ----
    "q_clean_log" -> ((s, dir) =>
      Bootstrap.cleanLog(
        envCore(s, dir).withColumnRenamed("scn", "windowscn"),
        scnWatermark = 500L)),

    // ---- snapshot diff → CDC events: the seeding/audit direction — the
    // minimal UPSERT/DELETE stream carrying one table state to another
    // (before/after are deterministic slices of orders with planted
    // changes) ----
    "q_snapshot_diff" -> ((s, dir) => {
      val base = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val before = base.where(pmod(col("o_orderkey"), lit(5)) =!= 0)
      val after = base.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("price_c",
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            col("price_c") + 1000L).otherwise(col("price_c")))
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(11)) === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      Bootstrap.snapshotDiff(before, after, keyCols = Seq("o_orderkey"))
    }),

    // ---- B9: Avro container-file bootstrap — read the seeded snapshot
    // (one task per container file) and prove it serves the full state ----
    "q_avro_bootstrap" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val snapDir = graft.sources.WireFixtures.avroSnapshotDir(s, dir)
      graft.sources.AvroFileBootstrap.readSnapshot(s, snapDir).toDF()
        .agg(count(lit(1)).as("n_rows"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          sum(col("srckey")).as("sum_srckey"))
    }),

    // ---- §2.8: hash partition router — distribution of keys over
    // consumer instances (DbusHashPartitionRouter.java:1) ----
    "q_route_partitions" -> ((s, dir) =>
      envCore(s, dir)
        .groupBy(Routers.hashPartition(col("key_long"), 8).as("route"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("key_long")).as("n_keys"))),

    // ---- A6: observed per-source event rate (RateMonitor measurement
    // surface; the throttle's feedback signal) ----
    "q_rate_observed" -> ((s, dir) =>
      Relay.observedRate(envCore(s, dir))),

    // ---- P13/§1.2: reference-layout DbusEventV2 envelope codec — encode
    // every event into the exact 45B-header binary format (magic, CRCs,
    // key, Avro payload part), decode it back, aggregate the recovered
    // fields. Hash-oracled: the wire format must be information-lossless.
    "q_dbusv2_roundtrip" -> ((s, dir) => {
      val wire = dbusV2Wire(s, dir)
      val dec = graft.functions.DbusV2.decodeUdf(col("wire"))
      val pdec = graft.functions.AvroCodec.decodeEventPayload(
        graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson)
      wire.select(dec.as("e"))
        .select(col("e.sequence").as("scn"), col("e.source_id"),
          col("e.partition_id"), col("e.opcode"), col("e.key_long"),
          expr("e.ts_ns div 1000").as("ts_us"),
          pdec(col("e.payload")).as("p"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"),
          min(col("p.event_id")).as("min_seq"),
          max(col("p.event_id")).as("max_seq"),
          sum(round(col("p.value") * 100).cast("long")).as("sum_value_c"),
          max(col("ts_us")).as("max_ts_us"))
    }),

    // ---- event-corruption detection (DbusEventCorrupter contract): flip
    // header-CRC / payload bytes on a deterministic subset, classify every
    // event by the validator's verdict — counts are exactly predictable.
    "q_dbusv2_corruption" -> ((s, dir) => {
      val corrupt = udf { (bytes: Array[Byte], seq: Long) =>
        val b = bytes.clone()
        if (seq % 17 == 0) graft.functions.DbusV2.toggleHeaderCrc(b)
        if (seq % 13 == 0) graft.functions.DbusV2.togglePayloadByte(b)
        b
      }
      val wire = dbusV2Wire(s, dir)
      wire.select(graft.functions.DbusV2.errorUdf(
          corrupt(col("wire"), col("seq"))).as("e"))
        .select(coalesce(col("e"), lit("ok")).as("err"))
        .groupBy(col("err")).agg(count(lit(1)).as("n"))
    }),

    // ---- §1.2 full key model: LONG | STRING | SCHEMA keys through the
    // wire segment log and the graft-relay DataSource (DbusEventKey.java:
    // 30-35). key_long carries the reference's numeric coercion for
    // string/schema keys (parse-as-long else Java String.hashCode,
    // KeyModFilter.java:55-70) — the oracle recomputes the hashCode
    // arithmetically, so the coercion itself is hash-verified. ----
    "q_dbusv2_mixed_roundtrip" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
      log.groupBy(col("source_id"),
          when(col("key_string").isNotNull, "STRING")
            .when(col("key_schema").isNotNull, "SCHEMA")
            .otherwise("LONG").as("key_kind"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("key_long")).as("sum_keys"),
          min(col("key_string")).as("min_key_string"),
          max(col("key_string")).as("max_key_string"),
          coalesce(sum(length(col("key_schema"))), lit(0L)).as("sum_schema_len"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
          max(col("seq")).as("max_seq"))
    }),

    // ---- P8 on STRING keys: the serving mod-filter over a string-keyed
    // stream — the parse-as-long-else-hashCode bucket rule end-to-end
    // (KeyModFilter.java:55-70). Projection skips value/props, so the
    // source's column pruning skips the Avro payload decode entirely. ----
    "q_filter_keymod_string" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
        .select("scn", "seq", "source_id", "partition_id", "opcode",
          "key_long", "key_string")
      Relay.streamEvents(log, filter = KeyModFilter(4, 0, 2))
    }),

    // ---- P7 on STRING keys: KeyRange over the mixed-key wire log — the
    // reference's range filter is parse-as-long ONLY (an unparseable
    // string key throws, KeyRangeFilter.java:50-57, no hashCode fallback
    // like KeyMod), so the serving range EXCLUDES events whose string key
    // doesn't parse instead of silently ranging over their hash ----
    "q_filter_keyrange_string" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
        .select("scn", "seq", "source_id", "partition_id", "opcode",
          "key_long", "key_string")
      Relay.streamEvents(log,
        filter = DbusKeyFilter("RANGE", Seq(KeyRangeFilter(100L, 600L))))
    }),

    // ---- metadata DbusEventPart surfaced as an envelope column
    // (DbusEventPart.java:41; DbusEventAvroDecoder.getMetadata): user
    // metadata rides behind the engine's seq prefix and decodes back. ----
    "q_dbusv2_metadata" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
      log.where(col("meta").isNotNull)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_meta"),
          countDistinct(col("meta").cast("string")).as("n_distinct_meta"),
          min(col("meta").cast("string")).as("min_meta"),
          max(col("meta").cast("string")).as("max_meta"),
          sum(col("seq")).as("sum_seq"))
    }),

    // ---- §1.2 legacy wire: DbusEventV1 exact binary layout
    // (DbusEventV1.java:166-183) through the segment log and the
    // graft-relay DataSource — per-event seq recovered from the payload
    // (V1 has no metadata part), string-key coercion hash-oracled. ----
    "q_dbusv1_roundtrip" -> ((s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv1LogDir(s, dir))
        .load()
      log.groupBy(col("source_id"),
          when(col("key_string").isNotNull, "STRING")
            .otherwise("LONG").as("key_kind"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("key_long")).as("sum_keys"),
          min(col("key_string")).as("min_key_string"),
          max(col("key_string")).as("max_key_string"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
          max(col("seq")).as("max_seq"))
    }),

    // ---- version negotiation: the `/stream` max-event-version=1 serve
    // path (ReadEventsRequestProcessor.java:125-128) — V2 wire events
    // down-converted to exact V1 wire bytes
    // (DbusEventBuffer.convertToDifferentVersion:2411-2416), decoded
    // back as V1, payload resolved; must reproduce the V2 roundtrip. ----
    "q_serve_v1_downconvert" -> ((s, dir) => {
      val wire = dbusV2Wire(s, dir)
      val dec = graft.functions.DbusV1.decodeUdf(
        graft.functions.DbusV1.downConvertUdf(col("wire")))
      val pdec = graft.functions.AvroCodec.decodeEventPayload(
        graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson)
      wire.select(dec.as("e"))
        .select(col("e.sequence").as("scn"), col("e.source_id"),
          col("e.opcode"), col("e.key_long"),
          expr("e.ts_ns div 1000").as("ts_us"),
          pdec(col("e.payload")).as("p"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"),
          min(col("p.event_id")).as("min_seq"),
          max(col("p.event_id")).as("max_seq"),
          sum(round(col("p.value") * 100).cast("long")).as("sum_value_c"),
          max(col("ts_us")).as("max_ts_us"))
    }),

    // ---- similarity search: IVF cell-probe variant, oracled via the same
    // planted-retrieval contract as q_ann_lsh: a query's identical twin
    // is assigned to the query's own nearest cell (identical vector ⇒
    // identical argmin, identical tie-break), the query always probes
    // that cell first (nProbe ≥ 1), so rank-1 = twin at cosine 1.0. ----
    "q_ann_ivf" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.ivfTopK(all.where(col("id") < 20), withTwins,
        centroids = all.where(col("id") < 8), k = 5)
        .where(col("rank") === 1)
    }),

    // ---- IVF + quantized scan composed (IVF-PQ-lite): cell-bounded
    // candidates scanned in int8, exact float re-rank. Twins share every
    // argmin and quantize identically → rank-1 retrieval at cosine 1.0
    // is still deterministic ----
    "q_ann_ivf_quantized" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.ivfQuantizedTopK(all.where(col("id") < 20), withTwins,
        centroids = all.where(col("id") < 8), k = 5)
        .where(col("rank") === 1)
    }),

    // ---- IVF codebook training: Lloyd's k-means, oracled through the
    // algorithm's own invariant — WCSS never increases across iterations
    // (fp-tolerant; parallel double sums are last-bit nondeterministic) ----
    "q_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val (_, wcss) = Ann.trainCentroids(all, k = 8, iters = 5)
      wcss.sliding(2).zipWithIndex.map { case (pair, i) =>
        (i + 1, pair(1) <= pair(0) * (1 + 1e-9) + 1e-9)
      }.toSeq.toDF("iter", "wcss_non_increasing")
    }),

    // ---- distributed PCA by power iteration, contract-oracled: the
    // Rayleigh quotient is non-decreasing on a PSD covariance (the power-
    // iteration invariant, fp-tolerant like WCSS), and with dimension 7's
    // variance inflated 100× the learned top component must align to the
    // planted axis (|v₇| ≥ 0.95 — measured ≈0.999; an isotropic-corpus
    // accident cannot produce it) ----
    "q_pca_power" -> ((s, dir) => {
      import s.implicits._
      val planted = emb(s, dir).select(
        transform(col("embedding"),
          (x, i) => when(i === 7, x * lit(10.0f)).otherwise(x)).as("vec"))
      val (v, ray) = graft.pipeline.Pca.topComponent(planted, "vec", iters = 5)
      val aligned = math.abs(v(7)) >= 0.95
      ray.sliding(2).zipWithIndex.map { case (pair, i) =>
        (i + 1, pair(1) >= pair(0) * (1 - 1e-9) - 1e-9, aligned)
      }.toSeq.toDF("iter", "rayleigh_non_decreasing", "aligned_to_planted")
    }),

    // ---- ingestion drift monitor: per-bucket chi-square between the
    // reference corpus and an incoming batch over hashed token buckets —
    // counts integer-exact, expected/contribution in floored micro-units
    // over an identical double op chain ----
    "q_drift_stats" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      graft.pipeline.Monitor.tokenDrift(
        reference = d.where(col("doc_id") % 5 =!= 0),
        batch = d.where(col("doc_id") % 5 === 0), buckets = 256)
    }),

    // ---- PCA top-2 by deflation: two planted anisotropic axes (dim 7
    // ×10, dim 3 ×5) must come out in order — component 1 aligns to the
    // stronger axis, component 2 to the weaker after deflation, and the
    // learned eigenvalue estimates are ordered ----
    "q_pca_components" -> ((s, dir) => {
      import s.implicits._
      val planted = emb(s, dir).select(
        transform(col("embedding"), (x, i) =>
          when(i === 7, x * lit(10.0f))
            .when(i === 3, x * lit(5.0f)).otherwise(x)).as("vec"))
      val comps = graft.pipeline.Pca.topComponents(planted, c = 2, iters = 5)
      val ordered = comps(0)._2 >= comps(1)._2 - 1e-9
      Seq(
        (1, math.abs(comps(0)._1(7)) >= 0.95, ordered),
        (2, math.abs(comps(1)._1(3)) >= 0.95, ordered))
        .toDF("component", "aligned_to_planted", "lambda_ordered")
    }),

    // ---- drift monitor, STREAMING form: each micro-batch of incoming
    // documents is chi-squared against the static reference corpus
    // inside foreachBatch — the per-batch gate a production ingestion
    // stream runs. The reference is reduced to its (bucket, count)
    // distribution ONCE and persisted before the stream starts (the
    // signature-store discipline); each trigger scans only its own batch
    // against the stored table. Two deterministic micro-batches (one
    // file per trigger, mtime-stamped). Oracle = the batch drift
    // derivation per slice. ----
    "q_drift_stream" -> ((s, dir) => {
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
        val q = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            val refCounts = b.sparkSession.read.parquet(s"$root/refdist")
            graft.pipeline.Monitor
              .tokenDriftFromCounts(refCounts, b, buckets = 256)
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$root/out/batch=$batchId")
            ()
          }
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

    // ---- the composed index pipeline: train codebook → build IVF →
    // retrieve. The planted-twin contract holds for ANY codebook
    // (identical vectors share every argmin), so the trained index is
    // still exactly SQL-checkable ----
    "q_ann_ivf_trained" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val (codebook, _) = Ann.trainCentroids(all, k = 8, iters = 3)
      Ann.ivfTopK(all.where(col("id") < 15), withTwins,
        centroids = Ann.centroidsDf(s, codebook), k = 5)
        .where(col("rank") === 1)
    }),

    // ---- ANN served from the PERSISTED index: codebook + quantized cell
    // assignments come from the on-disk store (built once per corpus
    // snapshot; a fresh session re-trains nothing), and only the exact
    // re-rank touches float vectors. Same planted-twin contract ----
    "q_ann_store" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.annIndexDir(s, dir)
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), withTwins,
        store, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- the SECOND serving regime on the same store: shuffle-join
    // batch annotation (ivfQuantizedTopKFromStoreBatch — no driver
    // probe collect, no pushed literal; the path the request-sized
    // regime's graft.ann.maxProbeRows guard names for corpus-sized
    // query batches). Same planted contract, same oracle rows as
    // q_ann_store — the two regimes must be answer-identical
    // (AnnBatchStoreSpec proves it pairwise on the organic corpus) ----
    "q_ann_store_batch" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.annIndexDir(s, dir)
      Ann.ivfQuantizedTopKFromStoreBatch(all.where(col("id") < 15),
        withTwins, store, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- shuffle-regime batch serving on the RAW (float-precision)
    // IVF family — batch parity: the scan path exists for every family
    // the seek path serves (reference: BootstrapProcessor.java:122-160
    // iterates ALL sources). Exact scoring, so the planted twin is
    // rank-1 at cosine 1.0 with no rerank pass ----
    "q_ann_ivf_batch" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.annIndexDir(s, dir)
      Ann.ivfTopKFromStoreBatch(all.where(col("id") < 15), withTwins,
        store, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- shuffle-regime batch serving on the IVF-PQ store — the
    // COMPRESSED tier a 100 TB deployment actually serves, so its
    // corpus-sized path must be a real regime, not an error naming a
    // different family's function. Per-(query,cell) residual ADC LUTs
    // ride the distributed probe frame; candidates come from a plain
    // cell_id hash join; the planted twin shares coarse argmin AND code
    // word, so rank-1 at cosine 1.0 survives the regime change ----
    "q_ann_ivfpq_batch" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.ivfPqIndexDir(s, dir)
      Ann.ivfPqTopKFromStoreBatch(all.where(col("id") < 15), withTwins,
        store, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- PINNED batch serving: the two round-14 features composed —
    // a lake-annotation job (the batch regime's stated user) registers
    // a pin and annotates against a FROZEN index while both time-travel
    // axes move underneath (a later append batch of tie-winning lower-id
    // twins, then a compaction publish). q_ann_pin's contract through
    // the shuffle regime: pinned serves the +1e6 twin, head the +5e5 ----
    "q_ann_batch_pin" -> ((s, dir) => {
      val root = tempQueryDir("annbpin").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      val pin = Ann.pinIndex(s"$root/index")
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      Ann.compactIndexCells(s, s"$root/index", keepGenerations = 1)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      Ann.ivfQuantizedTopKFromStoreBatchPinned(q, corpus, s"$root/index",
          k = 5, pin, nProbe = 8)
        .where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit("pinned").as("probe_view"))
        .unionByName(
          Ann.ivfQuantizedTopKFromStoreBatch(q, corpus, s"$root/index",
              k = 5, nProbe = 8)
            .where(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id"),
              lit("head").as("probe_view")))
    }),

    // ---- RAW-IVF PIN PARITY: the float-precision tier is the one a
    // training job RERANKS against, so it pins exactly like the coded
    // tiers — otherwise a job that pins its quantized retrieval still
    // sees the head move mid-epoch on the rerank side. One store, both
    // time-travel axes moving after the capture (append batch 2, then a
    // compaction publish), served through ALL FOUR raw-family cells:
    // {request, batch} × {pinned, head}. Exact scoring tie-break keeps
    // the smallest neighbor_id, so pinned views serve the +1e6 twin
    // (batch 2 pruned from the plan) and head views the +5e5 one ----
    "q_ann_ivf_pin" -> ((s, dir) => {
      val root = tempQueryDir("annivfpin").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      val pin = Ann.pinIndex(s"$root/index")
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      Ann.compactIndexCells(s, s"$root/index", keepGenerations = 1)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      def view(df: DataFrame, v: String): DataFrame =
        df.where(col("rank") === 1)
          .select(col("query_id"), col("neighbor_id"),
            lit(v).as("probe_view"))
      view(Ann.ivfTopKFromStorePinned(q, corpus, s"$root/index", k = 5,
          pin, nProbe = 8), "pinned")
        .unionByName(view(Ann.ivfTopKFromStore(q, corpus, s"$root/index",
          k = 5, nProbe = 8), "head"))
        .unionByName(view(Ann.ivfTopKFromStoreBatchPinned(q, corpus,
          s"$root/index", k = 5, pin, nProbe = 8), "pinned_batch"))
        .unionByName(view(Ann.ivfTopKFromStoreBatch(q, corpus,
          s"$root/index", k = 5, nProbe = 8), "head_batch"))
    }),

    // ---- PIN OBSERVABILITY oracled: listPins is the API answering
    // "which jobs hold generations on this store, until when?" — the
    // fsck rows count its classifications, this row oracles the LISTING
    // itself against planted registrations (two live, one expired) with
    // wall-clock timestamps normalized to structure: which generation,
    // gc's own live classification, and expiry = registration + the
    // default 7-day lease ----
    "q_list_pins" -> ((s, dir) => {
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
    }),

    // ---- ANN served from an INCREMENTALLY-built index: the base corpus
    // indexed once, the twin batch appended later (frozen codebook, only
    // the batch assigned, stored cells never re-scanned). Identical
    // vectors share every argmin, so each appended twin lands in its
    // original's cell — retrieval from the incremental store matches the
    // all-at-once index, same planted contract ----
    "q_ann_store_incr" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.annIncrIndexDir(s, dir)
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), withTwins,
        store, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- IVF REBALANCE: a deliberately coarse index (k=4) whose cells
    // are all far over the size cap gets its oversized cells SPLIT in
    // place — per-cell k-means over that cell's members only, three
    // atomic swaps, untouched rows never re-assigned. Serving after the
    // split probes every sub-cell (the fixture is tiny; the point here
    // is the maintenance protocol, LayoutSpec/DedupAnnSpec measure the
    // balance) and must land on the same planted-twin contract as every
    // other ANN store query — identical vectors share every argmin, so
    // a twin follows its original through any split ----
    "q_ann_rebalance" -> ((s, dir) => {
      val root = tempQueryDir("annreb").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      // iters=2: the planted contract is codebook-independent (identical
      // vectors share every argmin at ANY training state), so the
      // fixture build doesn't buy correctness with more k-means passes
      Ann.writeIndex(withTwins, s"$root/index", k = 4, iters = 2)
      // n/5 < n/4 ≤ the largest cell, so at least one split always runs
      val cap = math.max(1L, withTwins.count() / 5)
      val report = Ann.rebalanceCells(s, s"$root/index", withTwins,
        maxCellSize = cap, splitFactor = 2, iters = 2)
      require(report.nonEmpty,
        s"rebalance split nothing at cap $cap — the guard the query exists for")
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), withTwins,
        s"$root/index", k = 5, nProbe = 8)
        .where(col("rank") === 1)
    }),

    // ---- IVF cell MERGE: the codebook-shrinking counterpart of
    // q_ann_rebalance — thin cells' members reassign to their nearest
    // surviving centroid in ONE fused assignment job (no training) and
    // the dead/thin centroids leave the codebook, so churn never grows
    // probe cost monotonically. k=8 with floor=avg: pigeonhole
    // guarantees a survivor (largest cell ≥ avg) and the fixture's
    // k-means leaves thin cells below it (require-guarded). Serving
    // after the merge probes every surviving cell (nProbe=8 ≥ post-merge
    // codebook) — exact, so the planted twins stay rank-1 ----
    "q_ann_merge" -> ((s, dir) => {
      val root = tempQueryDir("annmrg").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.writeIndex(withTwins, s"$root/index", k = 8, iters = 2)
      val floor = math.max(2L, withTwins.count() / 8)
      val report = Ann.mergeCells(s, s"$root/index", withTwins,
        minCellSize = floor)
      require(report.nonEmpty,
        s"merge absorbed nothing at floor $floor — the guard the query" +
          " exists for")
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), withTwins,
        s"$root/index", k = 5, nProbe = 8)
        .where(col("rank") === 1)
    }),

    // ---- IVF-PQ retrieval from the persisted store — the production
    // ANN shape: the coarse quantizer bounds CANDIDATES (only probed
    // cells' rows scan), residual product quantization bounds BYTES
    // (m-entry code words, per-(query,cell) residual ADC LUTs), exact
    // re-rank on the survivors only. The store is a three-table
    // generation (codebook + books + cells — each meaningless under the
    // others' alternatives); twins arrived through a frozen-quantizer
    // O(batch) append and share their original's cell AND code word, so
    // rank-1 is the planted twin at cosine 1.0 ----
    "q_ann_ivfpq" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.ivfPqIndexDir(s, dir)
      Ann.ivfPqTopKFromStore(all.where(col("id") < 15), withTwins, store,
        k = 5).where(col("rank") === 1)
    }),

    // ---- TAKEDOWN-aware ANN serving: the store holds each vector plus
    // a twin (+1e6) and a tritwin (+2e6); the twins of query ids < 8
    // are tombstoned. Identical vectors share a cell and the exact
    // re-rank breaks cosine-1.0 ties by lowest neighbor id, so rank-1
    // is the twin where it is live and the tritwin where it was taken
    // down — the planted takedown contract, fully determined ----
    "q_ann_delete" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val tripled = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 2000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.annTakedownIndexDir(s, dir)
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), tripled,
        store, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- SNAPSHOT-PINNED ANN serving (q_postings_asof's contract on
    // the batch-addressed IVF store): batch 0 = base corpus, batch 1 =
    // twins at +1e6, batch 2 = twins at +5e5 — LOWER ids, so at the
    // store head they win the cosine-1.0 tie (re-rank breaks ties by
    // lowest neighbor id) while the `as of batch 1` pin partition-prunes
    // their files out of the plan entirely and serves the +1e6 twin.
    // The training run that recorded maxBatch=1 replays the exact
    // retrieval it saw, after any number of later appends ----
    "q_ann_asof" -> ((s, dir) => {
      val root = tempQueryDir("annasof").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      Ann.ivfQuantizedTopKFromStoreAsOf(q, corpus, s"$root/index", k = 5,
          maxBatch = 1L, nProbe = 8)
        .where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit("pinned").as("probe_view"))
        .unionByName(
          Ann.ivfQuantizedTopKFromStore(q, corpus, s"$root/index", k = 5,
              nProbe = 8)
            .where(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id"),
              lit("head").as("probe_view")))
    }),

    // ---- UNIFIED TIME-TRAVEL PIN: as-of has two axes — generation
    // (whole rebuilds) and append batch (within a generation) — and a
    // reader wanting "the store as served at T" must otherwise know
    // both. Ann.pinIndex captures ONE (gen, maxBatch) token; the pinned
    // server replays it across a later APPEND (batch 2, lower-id twins
    // that would win the cosine tie) AND a later PUBLISH (compaction →
    // fresh generation): pinned serves the +1e6 twin, head the +5e5 —
    // q_ann_asof's contract with the publish axis moving too ----
    "q_ann_pin" -> ((s, dir) => {
      val root = tempQueryDir("annpin").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      val pin = Ann.pinIndex(s"$root/index")
      // BOTH axes move after the capture: one more append batch, then a
      // compaction that publishes a fresh generation (keepGenerations=1
      // is the retention policy that keeps the pin alive)
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      Ann.compactIndexCells(s, s"$root/index", keepGenerations = 1)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      Ann.ivfQuantizedTopKFromStorePinned(q, corpus, s"$root/index", k = 5,
          pin, nProbe = 8)
        .where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit("pinned").as("probe_view"))
        .unionByName(
          Ann.ivfQuantizedTopKFromStore(q, corpus, s"$root/index", k = 5,
              nProbe = 8)
            .where(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id"),
              lit("head").as("probe_view")))
    }),

    // ---- ORGANIC recall floor for the quantized ANN tier: every other
    // ANN oracle is a planted-twin invariant; this one measures
    // recall@10 of the three store-served quantized paths against the
    // exact brute-force answer ON THE NATURAL CORPUS (no twins) at the
    // serving probe budgets, and fails loudly below the pinned floors
    // (measured first, documented in COVERAGE.md; the discriminating
    // nProbe=1/ksub=2 case is AnnBatchStoreSpec's). A bad m/ksub/nProbe
    // interaction never drifts and passes every structural gate — this
    // is the gate that sees it ----
    "q_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val q = all.where(col("id") < 30)
      val exact = Ann.bruteForceTopK(q, all, k = 10)
      // budgets are the production shape for dim=64: m=8 → 8-dim
      // subspaces (8 code bytes vs 256 float bytes, still a 32× scan
      // cut), probe 6 of 16 cells, rerank 100 exact — recall measured
      // under exactly what a deployment would run, not a demo setting
      val ivf = graft.sources.WireFixtures.annOrganicIndexDir(s, dir)
      val pq = graft.sources.WireFixtures.pqOrganicIndexDir(s, dir, m = 8)
      val ivfpq =
        graft.sources.WireFixtures.ivfPqOrganicIndexDir(s, dir, m = 8)
      val served = Seq(
        ("ivf_quantized", Ann.ivfQuantizedTopKFromStore(q, all, ivf,
          k = 10, nProbe = 6, rerank = 100), RecallFloorIvfQ),
        ("pq_adc", Ann.pqTopKFromStore(q, all, pq, k = 10, rerank = 200),
          RecallFloorPq),
        ("ivf_pq", Ann.ivfPqTopKFromStore(q, all, ivfpq, k = 10,
          nProbe = 6, rerank = 100), RecallFloorIvfPq))
      // the three serve→recall chains are independent (different stores,
      // shared read-only exact frame) — overlapped (guide §2.6); each
      // chain's own jobs, measured recall and floor gate are unchanged
      locally {
        val O = graft.pipeline.Overlap
        val chains = served.map { case (m, approx, floor) =>
          (m, floor, O.run(Ann.recallAtK(approx, exact)))
        }
        O.settle(chains.map(_._3): _*)
        chains.map { case (m, floor, fr) =>
          val r = O.value(fr)
          // the measured value is the scale-probe datum (SCALING.md) —
          // print it; the FLOOR is the gate
          println(f"[recall] sf=$dir%s method=$m%s recall_at_10=$r%.4f" +
            f" floor=$floor%.2f")
          require(r >= floor,
            s"q_ann_recall: $m recall@10 = $r below the pinned floor $floor" +
              " — the quantized tier lost organic retrieval quality")
          (m, floor, true)
        }
      }.toDF("method", "floor", "floor_ok").orderBy("method")
    }),

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
    "q_ann_cdc_stream" -> ((s, dir) => {
      val root = tempQueryDir("anncdc").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      def drainOnce(): Unit = {
        val q = s.readStream
          .schema("opcode STRING, id LONG, vec ARRAY<FLOAT>")
          .parquet(s"$root/feed")
          .writeStream
          .foreachBatch { (b0: DataFrame, bid: Long) =>
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
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

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
    "q_ivfpq_cdc_stream" -> ((s, dir) => {
      val root = tempQueryDir("ivfpqcdc").toString
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      def drainOnce(): Unit = {
        val q = s.readStream
          .schema("opcode STRING, id LONG, vec ARRAY<FLOAT>")
          .parquet(s"$root/feed")
          .writeStream
          .foreachBatch { (b0: DataFrame, bid: Long) =>
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
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
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
    }),

    // ---- multimodal: binary payload plumbing + magic-sniffing decode ----
    "q_multimodal_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeMeta(
        Multimodal.attachFakeMedia(docs(s, dir).select("doc_id"))).toDF()
    }),

    // ---- multimodal: REAL image decode — genuine PNG/JPEG bytes are
    // encoded per-partition then decoded via javax.imageio; format,
    // width, height and channel count all come from the codec ----
    "q_image_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeImages(
        Multimodal.attachRealImages(docs(s, dir).select("doc_id")))
    }),

    // ---- multimodal: deterministic frame-sampling plan over videos ----
    "q_frame_sample" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.frameSamplePlan(
        Multimodal.decodeMeta(
          Multimodal.attachFakeMedia(docs(s, dir).select("doc_id"))).toDF(),
        stride = 7)
    }),

    // ---- multimodal: REAL audio decode — genuine RIFF/WAVE bytes
    // (16-bit mono PCM) parsed by javax.sound.sampled; rate, frames,
    // channels and the 44-byte-header size all come from the codec ----
    "q_audio_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeAudio(
        Multimodal.attachRealAudio(docs(s, dir).select("doc_id")))
    }),

    // ---- multimodal: REAL resize materialization — decode, bilinear
    // resample to fit 48px (the plan's exact integer dims), re-encode,
    // then re-decode: output dims come from the codec reading genuinely
    // resampled bytes ----
    "q_image_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeImages(
        Multimodal.resizeImages(
          Multimodal.attachRealImages(docs(s, dir).select("doc_id")),
          maxDim = 48))
    }),

    // ---- multimodal: integer-exact resize plan for images/videos ----
    "q_resize_plan" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.resizePlan(
        Multimodal.decodeMeta(
          Multimodal.attachFakeMedia(docs(s, dir).select("doc_id"))).toDF(),
        maxDim = 48)
    }),

    // ---- multimodal dedup: PERCEPTUAL image near-dup — smooth-content
    // real images (the content class dHash is built for), bilinear-
    // resized derivatives planted at id+1M, block-averaged dHash over
    // the DECODED rasters, then Dedup's 8×8-bit chunk-blocked hamming
    // join (exact recall at radius 7). Recall contract: every planted
    // derivative must be found — precision over synthetic smooth
    // content is content-defined (gradient-sign collisions are what a
    // perceptual hash MEANS by "same image"), hence the derivative-pair
    // projection. doc_id < 2000 bounds the corpus to the measured
    // operating envelope (beyond it ~4e-4 of resamples flip >7 bits —
    // near-tie margins, documented at Multimodal.imageDHash) ----
    "q_image_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val base = docs(s, dir).select("doc_id").where(col("doc_id") < 2000)
      val orig = Multimodal.attachSmoothImages(base)
      val deriv = Multimodal.resizeImages(orig, maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      Multimodal.imageNearDups(orig.unionByName(deriv), maxHamming = 7)
        .where(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- multimodal dedup: ACOUSTIC near-dup — real WAV fixtures,
    // gain-halved derivatives planted at id+1M (a genuine amplitude
    // change re-encoded through the codec), energy-envelope fingerprints
    // over the DECODED PCM, 4×16-bit chunk-blocked hamming join at
    // radius 3. Full precision+recall contract: the output must be
    // EXACTLY the planted pairs — energy comparisons are gain-invariant
    // (≤1 bit flips) while unrelated clips sit ≥10 bits apart ----
    "q_audio_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val orig = Multimodal.attachRealAudio(docs(s, dir).select("doc_id"))
      val deriv = Multimodal.gainHalvedAudio(orig)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      Multimodal.audioNearDups(orig.unionByName(deriv), maxHamming = 3)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- multimodal dedup, INCREMENTAL store protocol: the corpus's
    // dHash signatures live in a persisted parquet store (decoded and
    // signed once — WireFixtures.imageSigStoreDir); an arriving batch of
    // resized derivatives signs ONLY itself and chunk-joins against the
    // store scan. Per-batch cost is O(batch) decode + a collision-sized
    // join no matter how large the stored corpus — the media analog of
    // the minhash incremental protocol (q_dedup_incremental). Same
    // recall contract and envelope bound as q_image_neardup ----
    "q_image_incr" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val stored = s.read.parquet(
        graft.sources.WireFixtures.imageSigStoreDir(s, dir))
      val batch = Multimodal.resizeImages(
        Multimodal.attachSmoothImages(
          docs(s, dir).select("doc_id").where(col("doc_id") < 2000)),
        maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      Dedup.incrementalHammingPairs(Multimodal.imageSignatures(batch),
          stored, maxHamming = 7, chunks = 8)
        .where(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- multimodal → embedding composition: blobs through the feature
    // extractor (deterministic stub encoder — the documented stand-in
    // for a vision model; bytes in, array<float> out, batched per
    // partition) straight into the hyperplane-LSH near-dup op. Planted
    // identical payloads at id+1M yield identical feature vectors, which
    // collide in every hash table at cosine 1.0 — same contract shape as
    // q_dedup_embedding, proving media features plug into the embedding
    // dedup/ANN family unchanged ----
    "q_media_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.attachSmoothImages(docs(s, dir).select("doc_id"))
      val withTwins = media.unionByName(
        media.select((col("doc_id") + 1000000L).as("doc_id"), col("payload")))
      Dedup.embeddingNearDups(Multimodal.extractFeatures(withTwins),
        vecCol = "embedding", idCol = "doc_id", cosineThreshold = 0.99)
    }),

    // ---- COMPOSED MULTIMODAL PIPELINE: ingest blobs → REAL decode →
    // resolution quality gate (on decoded dims, not metadata claims) →
    // perceptual near-dup → cluster keep-one. Every stage is a
    // first-class op; the oracle re-derives the whole chain in closed
    // form (encoder dim arithmetic + resize-plan integer scaling +
    // planted-pair keep-one: an original always wins its cluster, a
    // derivative survives only when its original failed the gate) ----
    "q_pipeline_media" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val base = docs(s, dir).select("doc_id").where(col("doc_id") < 2000)
      val orig = Multimodal.attachSmoothImages(base)
      val deriv = Multimodal.resizeImages(orig, maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      val media = orig.unionByName(deriv)
      val kept = Multimodal.decodeImages(media)
        .where(col("width") * col("height") >= 576)
        .select("doc_id")
      val pairs = Multimodal.imageNearDups(media.join(kept, "doc_id"),
          maxHamming = 7)
        .where(col("id_b") === col("id_a") + 1000000L)
        .select("id_a", "id_b")
      Dedup.keepOnePerComponent(kept, pairs).select("doc_id")
    }),

    // ---- multimodal dedup, STREAMING store protocol: image batches
    // arrive as a file stream; each trigger DECODES ONLY ITS BATCH into
    // dHash signatures, hamming-joins them against the persisted store
    // plus the overlay of earlier triggers, and appends the batch's
    // signatures to the overlay (the corpus store itself is immutable —
    // same generation discipline as q_dedup_stream_incr). The final pair
    // set is batch-boundary-independent: every planted pair is found by
    // exactly the trigger that carries its derivative. Same recall
    // contract as q_image_incr ----
    "q_image_stream_incr" -> ((s, dir) => {
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
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
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
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$over/pairs").drop("batch").distinct()
        .where(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- packing × exact BPE: context windows packed against the
    // merges-table token counts a trainer would see — the planted-merge
    // corpus of q_bpe_tokens (closed-form counts) flowing through
    // packChunks' cumulative-offset window, grouped by doc_id%3 ----
    "q_pack_bpe" -> ((s, dir) =>
      graft.pipeline.Packing.packChunks(
        plantedBpeCorpus(s, dir).withColumn("grp",
          (col("doc_id") % 3).cast("int")),
        budgetTokens = 64, groupCol = "grp", idCol = "doc_id",
        textCol = "text",
        tokenCounter = graft.functions.Bpe.tokenCount(plantedBpeModel))),

    // ---- WEB CURATION: the raw-crawl → text stage every web corpus
    // starts with. Deterministic crawl-page shell (title, nav,
    // script/style blocks, comment, entity escapes, footer) wrapped
    // around the document text; extraction is the codegen'd
    // WebFunctions chain — script/style strip, comment strip, tag
    // strip, entity decode, whitespace collapse — plus the link-density
    // boilerplate signal, all integer/md5-exact ----
    "q_html_extract" -> ((s, dir) => {
      import graft.functions.{WebFunctions => W}
      // two-stage select: the extraction chain runs ONCE into `clean`
      // and the stats derive from the materialized column (a single
      // select naming htmlToText three times would expand the whole
      // regexp chain per use — Catalyst does not CSE across
      // independent top-level expressions)
      webFixture(docs(s, dir))
        .select(col("doc_id"), col("html"),
          W.htmlToText(col("html")).as("clean"))
        .select(col("doc_id"),
          W.htmlTitle(col("html")).as("title"),
          W.linkCount(col("html")).cast("long").as("n_links"),
          W.linkDensityE4(col("html"), col("clean")).as("link_density_e4"),
          length(col("clean")).cast("long").as("n_chars_clean"),
          md5(col("clean").cast("binary")).as("clean_md5"))
    }),

    // ---- URL canonicalization: scheme/host lowercase, www. and
    // default-port strip, fragment drop, tracking-param removal — the
    // normalization that makes URL-level dedup and per-domain caps
    // mean what they say ----
    "q_url_canonical" -> ((s, dir) =>
      urlFixture(docs(s, dir)).select(col("doc_id"), col("url"),
        graft.functions.WebFunctions.canonicalizeUrl(col("url"))
          .as("canonical"))),

    // ---- per-domain document cap: bound any single host's influence on
    // the corpus — deterministic keep-top-k by (n_chars desc, doc_id) ----
    "q_domain_cap" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("domain",
        concat(lit("site"), (col("doc_id") % 7).cast("string"), lit(".com")))
      graft.pipeline.Sampling.capPerGroup(d, "domain", 5,
          col("n_chars").desc, col("doc_id").asc)
        .select("doc_id", "domain", "n_chars")
    }),

    // ---- host-graph PageRank in fixed-point integer arithmetic (the
    // crawl-quality prior): 5 rounds over a deterministic link graph
    // derived from doc ids; bigint micro-unit ranks hash-oracle exactly
    // because every sum and division is order-independent ----
    "q_pagerank" -> ((s, dir) => {
      val d = docs(s, dir)
      val e1 = d.select((col("doc_id") % 97).as("src"),
        ((col("doc_id") * 31 + 7) % 89).as("dst"))
      val e2 = d.select(((col("doc_id") * 13 + 5) % 83).as("src"),
        (col("doc_id") % 97).as("dst"))
      graft.pipeline.Graph.pageRank(e1.unionByName(e2), iters = 5)
    }),

    // ---- product-quantization ANN (ADC + exact re-rank): corpus scans
    // m-byte code words instead of float vectors; planted-twin contract
    // (identical vector → the query's own argmin code → minimal ADC sum
    // → survives the cut → rank 1 at cosine 1.0 after exact re-rank) ----
    "q_ann_pq" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.pqTopK(all.where(col("id") < 20), withTwins, k = 5)
        .where(col("rank") === 1)
    }),

    // ---- PQ retrieval served FROM the persisted store (books + code
    // words as one atomic generation; the twins arrived through a
    // frozen-book O(batch) append): ADC scans m-entry code words, never
    // floats; only the rerank survivors touch the lake. Identical
    // vectors encode to identical code words under any training, so
    // the planted twin is the unique minimal-ADC candidate and rank-1
    // after the exact re-rank — the q_ann_pq contract, store-served ----
    "q_ann_pq_store" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.pqIndexDir(s, dir)
      Ann.pqTopKFromStore(all.where(col("id") < 20), withTwins, store,
        k = 5).where(col("rank") === 1)
    }),

    // ---- Naive Bayes document classification (the model-based filter
    // tier — language routing here; quality tiers are the same machinery
    // with different labels): train on the 80% slice's own lang labels,
    // classify the whole corpus. Integer 1e-4-unit NLL scoring, argmin
    // with lexicographic tie-break — engine-exact, fully SQL-mirrored ----
    "q_nb_classify" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val model = graft.pipeline.Classifier.train(
        d.where(col("doc_id") % 5 =!= 0), labelCol = "lang")
      graft.pipeline.Classifier.classify(model, d)
    }),

    // ---- model-store pin: the one-token family on the MODEL stores —
    // the tables have no append-batch axis, so the generation IS the
    // coordinate. A model trained on the even train slice publishes
    // gen 1 (keepGenerations=1 — the caller's deliberate trade of the
    // erasure deadline for reproducible pins); a retrain on the full
    // train slice publishes gen 2; the pinned load still classifies
    // with the OLD counts while the head serves the new ones ----
    "q_nb_pin" -> ((s, dir) => {
      val root = tempQueryDir("nbpin").toString
      val C = graft.pipeline.Classifier
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      C.save(C.train(train.where(col("doc_id") % 2 === 0),
        labelCol = "lang"), s"$root/model", keepGenerations = 1)
      val pin = graft.pipeline.VersionedStore.currentGen(s"$root/model").get
      C.save(C.train(train, labelCol = "lang"), s"$root/model",
        keepGenerations = 1)
      C.classify(C.loadPinned(s, s"$root/model", pin), d)
        .withColumn("probe_view", lit("pinned"))
        .unionByName(C.classify(C.load(s, s"$root/model"), d)
          .withColumn("probe_view", lit("head")))
    }),

    // ---- EXACT UNLEARNING (NB): the takedown request against a
    // trained model — the forget slice's counts are subtracted from
    // the persisted tables (O(forget) + O(model); the corpus is never
    // rescanned) and v/n_all re-derive from the shrunken counts. The
    // oracle RETRAINS on train∖forget: for count models, exact
    // unlearning and retraining are the same function ----
    "q_nb_unlearn" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.Classifier.train(train, labelCol = "lang")
      val unlearned = graft.pipeline.Classifier.unlearn(model,
        train.where(col("doc_id") % 6 === 1), labelCol = "lang")
      graft.pipeline.Classifier.classify(unlearned, d)
    }),

    // ---- STREAMING NB classification: each micro-batch classifies
    // against the PERSISTED model store — the model trains zero times
    // in the scoring session (q_lm_stream's resumed-run structural
    // batch order: drain, append, drain again) ----
    "q_nb_stream" -> ((s, dir) => {
      val root = tempQueryDir("nbstream").toString
      val modelDir = graft.sources.WireFixtures.nbModelDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val q = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            val model = graft.pipeline.Classifier.load(b.sparkSession, modelDir)
            graft.pipeline.Classifier.classify(model, b)
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$root/out/batch=$batchId")
            ()
          }
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      d.where(col("doc_id") % 10 === 2).coalesce(1)
        .write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 7).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "doc_id", "label", "nll_e4")
    }),

    // ---- winnowing fingerprints (MOSS scheme): positional partial-copy
    // detection. The contract oracled here is the winnowing GUARANTEE:
    // a shared substring of length ≥ w+k-1 yields ≥ 1 shared selected
    // fingerprint. Planted partial copies (junk prefix ‖ full text ‖
    // junk suffix, junk from letters rare in the corpus) therefore MUST
    // share fingerprints with their originals — computed by an id-keyed
    // join of the two fingerprint sets (pair-local, no df-capped
    // self-join in the contract path). A missing planted pair would
    // surface as a row-count mismatch ----
    "q_winnow_guarantee" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val partial = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("repeat('zq', 8 + doc_id % 7)"), lit(" "),
            col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val fps = Dedup.winnowFingerprints(d.unionByName(partial),
        k = 8, w = 8)
      val orig = fps.where(col("doc_id") < 1000000L)
        .select(col("doc_id").as("id_a"), col("fp"))
      val copies = fps.where(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("id_a"), col("fp"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(orig.join(copies, Seq("id_a", "fp"))
            .groupBy("id_a")
            .agg(count_distinct(col("fp")).as("n_shared")),
          Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_shared"), lit(0L)) >= 1L).as("guarantee_holds"))
    }),

    // ---- dataset card: the corpus-statistics rollup every published
    // dataset ships — doc/token/char totals at every (lang × source)
    // granularity in ONE cube pass (grouping-sets partial aggregation;
    // integer-exact metrics only) ----
    "q_data_card" -> ((s, dir) =>
      docs(s, dir)
        .select(col("lang"), col("source"),
          col("n_chars").cast("long").as("nc"),
          TF.tokenCount(col("text")).cast("long").as("nt"))
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nc")).as("sum_chars"),
          max(col("nc")).as("max_chars"))),

    // ---- content-defined chunking (Rabin-style CDC): the contract
    // oracled is APPEND LOCALITY — an appended suffix may only change
    // the original's FINAL chunk: boundaries are content-decided, every
    // boundary gram of the original lies intact in the appended copy,
    // and no new boundary can appear below the original's last one, so
    // (orig chunks except the last) ⊆ copy chunks, md5 for md5. The
    // check is an id-keyed anti-join per planted pair — a violated
    // inclusion surfaces as append_local = false ----
    "q_cdc_append_local" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val copies = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val chunks = Dedup.cdcChunks(d.unionByName(copies), k = 8,
        divisor = 32)
      val orig = chunks.where(col("doc_id") < 1000000L)
      val copy = chunks.where(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("id_a"),
          col("chunk_md5"))
      val lastIdx = orig.groupBy(col("doc_id").as("id_a"))
        .agg(max(col("chunk_idx")).as("last_idx"))
      val missing = orig.select(col("doc_id").as("id_a"),
          col("chunk_idx"), col("chunk_md5"))
        .join(lastIdx, "id_a")
        .where(col("chunk_idx") < col("last_idx"))
        .join(copy, Seq("id_a", "chunk_md5"), "left_anti")
        .groupBy("id_a").agg(count(lit(1)).as("n_missing"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(missing, Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_missing"), lit(0L)) === 0L).as("append_local"))
    }),

    // ---- the composed TRAINING-FILE pipeline — the materialization
    // chain a corpus build ends in: token-count gate → deterministic
    // shard assignment (the export hash) → within-shard training-order
    // shuffle (MINSTD rank) → packing into 256-token context windows.
    // Packing is per shard, so the cumulative window parallelizes by
    // shard instead of one global sort; every decision integer-exact ----
    "q_pipeline_train" -> ((s, dir) => {
      import graft.pipeline.Sampling
      // tokenize ONCE: the gate filters on the materialized count and
      // packChunks re-reads the same column (a tokenCounter over text
      // would re-split every document — no CSE across filter + project)
      val gated = docs(s, dir)
        .withColumn("n_toks", TF.tokenCount(col("text")).cast("long"))
        .where(col("n_toks") >= 40L)
      val assigned = gated
        .withColumn("shard",
          pmod(Sampling.minstd(col("doc_id"), 17L), lit(8L)))
        // unique orderable shuffle key: hash major, id tiebreak minor
        // (minstd < 2^31 and ids ≪ 1e7, so the packing never collides)
        .withColumn("ord",
          Sampling.minstd(col("doc_id"), 7L) * 10000000L + col("doc_id"))
      graft.pipeline.Packing.packChunks(assigned, budgetTokens = 256,
        groupCol = "shard", idCol = "ord", textCol = "text",
        tokenCounter = _ => col("n_toks"))
    }),

    // ---- INCREMENTAL winnowing against the persisted fingerprint
    // store: the new batch (junk-flanked partial copies) fingerprints
    // ONLY ITSELF — the stored corpus is a (doc_id, fp) parquet scan,
    // never re-fingerprinted (PlansSpec asserts exactly one
    // winnow_select in the plan). Same guarantee contract as
    // q_winnow_guarantee, served through the store protocol ----
    "q_winnow_incr" -> ((s, dir) => {
      val store = s.read.parquet(
        graft.sources.WireFixtures.winnowFpStoreDir(s, dir))
      val d = docs(s, dir).select("doc_id", "text")
      val inc = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("repeat('zq', 8 + doc_id % 7)"), lit(" "),
            col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val copies = Dedup.winnowFingerprints(inc, k = 8, w = 8)
        .select((col("doc_id") - 1000000L).as("id_a"), col("fp"))
      val orig = store.select(col("doc_id").as("id_a"), col("fp"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(orig.join(copies, Seq("id_a", "fp"))
            .groupBy("id_a")
            .agg(count_distinct(col("fp")).as("n_shared")),
          Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_shared"), lit(0L)) >= 1L).as("guarantee_holds"))
    }),

    // ---- winnowing ALIGNMENT: the step after overlap detection — the
    // copied region's OFFSET, recovered by unique-fingerprint offset
    // voting. The planted junk prefix has closed-form length
    // 2·(8 + id%7) + 1 (the `zq` repeat plus the separator space), so
    // the oracle derives the expected delta EXACTLY — a non-trivial
    // recovered VALUE, not a boolean ----
    "q_winnow_align" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val copies = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("repeat('zq', 8 + doc_id % 7)"), lit(" "),
            col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val fps = Dedup.winnowFingerprints(d.unionByName(copies), k = 8, w = 8)
      val pairs = d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1000000L).as("id_b"))
      Dedup.winnowAlignment(fps, pairs)
        .select("id_a", "id_b", "best_delta")
    }),

    // ---- INCREMENTAL CDC re-ingestion check against the persisted
    // chunk store: the new batch (byte-identical re-uploads of stored
    // docs under fresh ids) chunks ONLY ITSELF; identical text chunks
    // identically (content-defined boundaries), so every new chunk md5
    // finds its stored twin — the storage-dedup recognition path,
    // PlansSpec-asserted single-kernel ----
    "q_cdc_incr" -> ((s, dir) => {
      val store = s.read.parquet(
        graft.sources.WireFixtures.cdcChunkStoreDir(s, dir))
      val d = docs(s, dir).select("doc_id", "text")
      val inc = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val incChunks = Dedup.cdcChunks(inc, k = 8, divisor = 32)
        .select((col("doc_id") - 1000000L).as("id_a"), col("chunk_md5"))
      val stored = store.select(col("doc_id").as("id_a"), col("chunk_md5"))
      val missing = incChunks
        .join(stored, Seq("id_a", "chunk_md5"), "left_anti")
        .groupBy("id_a").agg(count(lit(1)).as("n_missing"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(missing, Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_missing"), lit(0L)) === 0L).as("all_chunks_known"))
    }),

    // ---- host blocklist filter: exact anti-join of canonicalized
    // hosts against a curated block set (opt-out / abuse domains) —
    // broadcast LEFT ANTI, one corpus scan, nothing shuffles ----
    "q_host_blocklist" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.{WebFunctions => W}
      val hosted = urlFixture(docs(s, dir))
        .select(col("doc_id"),
          W.hostOf(W.canonicalizeUrl(col("url"))).as("host"))
      W.dropBlockedHosts(hosted, Seq("site0.com", "site3.com").toDF("host"))
    }),

    // ---- the composed WEB-CURATION pipeline: raw crawl pages → HTML →
    // text extraction → link-density boilerplate gate (pure density:
    // fixed anchor mass over variable text, so the gate is also a
    // minimum-content gate) → URL canonicalization → per-host cap →
    // host-level PageRank quality prior joined onto the kept docs.
    // Five first-class stages chained the way a web corpus build chains
    // them; every decision integer/md5-exact, oracle = the proven stage
    // derivations composed ----
    "q_pipeline_web" -> ((s, dir) => {
      import graft.functions.{WebFunctions => W}
      val d = docs(s, dir)
      val pages = webFixture(d).join(urlFixture(d), "doc_id")
      // same two-stage select as q_html_extract: the chain runs once
      val extracted = pages
        .select(col("doc_id"), col("url"), col("html"),
          W.htmlToText(col("html")).as("clean"))
        .select(col("doc_id"), col("url"), col("clean"),
          W.linkDensityE4(col("html"), col("clean")).as("link_density_e4"))
      val gated = extracted.where(col("link_density_e4") <= 1300)
      // narrow BEFORE the cap: everything downstream needs only
      // (id, host, len, md5), so the text column dies here and the
      // host-partitioned window shuffles 4 thin columns, not documents
      // (with text riding the window this stage measured 5.9× at the
      // 10× probe — host cardinality bounds the window's parallelism,
      // so wide rows through few partitions is the one shape to avoid)
      val hosted = gated
        .withColumn("host", W.hostOf(W.canonicalizeUrl(col("url"))))
        .select(col("doc_id"), col("host"),
          length(col("clean")).cast("long").as("n_chars_clean"),
          md5(col("clean").cast("binary")).as("clean_md5"))
      val capped = graft.pipeline.Sampling.capPerGroup(hosted, "host", 40,
        col("n_chars_clean").desc, col("doc_id").asc)
      val hostEdges = d.select((col("doc_id") % 5).as("src"),
        ((col("doc_id") * 3 + 1) % 5).as("dst"))
      val ranks = graft.pipeline.Graph.pageRank(hostEdges, iters = 3)
        .select(col("node"), col("rank").as("host_rank"))
      capped
        .withColumn("node",
          regexp_extract(col("host"), "site([0-9]+)\\.com", 1).cast("long"))
        .join(ranks, "node")
        .select(col("doc_id"), col("host"), col("host_rank"),
          col("n_chars_clean"), col("clean_md5"))
    }),

    // ---- embedding-space decontamination: the semantic analog of the
    // n-gram scrub — train rows whose vector hits cosine ≥ 0.99 against
    // ANY eval vector drop via ONE broadcast nested-loop anti-join
    // (short-circuit per row, nothing shuffles). Planted contract: eval
    // = exact twins of ids < 10 under fresh ids, and 0.99 separates
    // twins (cosine 1.0) from every natural pair on this corpus (the
    // q_semdedup bound, driver-proven at both SFs) ----
    "q_decontaminate_semantic" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val eval = e.where(col("id") < 10)
        .select((col("id") + 5000000L).as("id"), col("vec"))
      graft.pipeline.Semantic.semanticDecontaminate(e, eval,
        cosineThreshold = 0.99).select(col("id"))
    }),

    // ---- the SAME scrub for eval stores too big to broadcast:
    // hyperplane-LSH band join (ids only in the wide shuffle) → exact
    // cosine confirm at the same threshold → anti-join. Exact twins
    // collide in every table, so the planted contract — and the output
    // hash — is bit-identical to the BNLJ path above; the oracle is
    // literally shared ----
    "q_decontaminate_semantic_lsh" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val eval = e.where(col("id") < 10)
        .select((col("id") + 5000000L).as("id"), col("vec"))
      graft.pipeline.Semantic.semanticDecontaminateLsh(e, eval,
        cosineThreshold = 0.99).select(col("id"))
    }),

    // ---- STREAMING semantic decontamination: every micro-batch of
    // arriving train vectors anti-joins the PERSISTED eval-embedding
    // store (exact twins of vec_id < 10) — the broadcast nested-loop
    // scrub runs per trigger, the eval store is never recomputed.
    // Contract: batch slices %10==3 / %10==8 lose exactly their one
    // eval twin (vec_id 3 and 8) ----
    "q_decontaminate_stream" -> ((s, dir) => {
      val root = tempQueryDir("semdecon").toString
      val evalDir = graft.sources.WireFixtures.evalEmbStoreDir(s, dir)
      val e = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      def drainOnce(): Unit = {
        val q = s.readStream.schema("id LONG, vec ARRAY<FLOAT>")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            graft.pipeline.Semantic.semanticDecontaminate(b,
                b.sparkSession.read.parquet(evalDir), cosineThreshold = 0.99)
              .select(col("id"))
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$root/out/batch=$batchId")
            ()
          }
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      e.where(col("id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      e.where(col("id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out").select("batch_id", "id")
    }),

    // ---- STREAMING contamination audit: each arriving train batch is
    // shingled and attributed against the PERSISTED eval gram store
    // (doc_id < 50, rendered once) — per-batch cost O(batch), the store
    // scanned per trigger, never re-shingled. Same report surface as
    // q_contamination_report plus the batch id ----
    "q_contamination_stream" -> ((s, dir) => {
      val root = tempQueryDir("contam").toString
      val storeDir = graft.sources.WireFixtures.evalGramStoreDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val q = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
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
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      d.where(col("doc_id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "train_id", "eval_id", "n_shared",
          "eval_grams", "leak_bp")
    }),

    // ---- CAPPED streaming contamination audit: the df cap decided on
    // the RUNNING GLOBAL train df maintained as a (g, df_part) append
    // store — a gram is reported while rare and suppressed from the
    // batch where its global df crosses the cap (batch-local capping
    // cannot express this; see contaminationAuditStreamBatch) ----
    "q_contamination_stream_capped" -> ((s, dir) => {
      val root = tempQueryDir("contamcap").toString
      val storeDir = graft.sources.WireFixtures.evalGramStoreDir(s, dir)
      val d = docs(s, dir).select("doc_id", "text")
      def drainOnce(): Unit = {
        val q = s.readStream.schema("doc_id LONG, text STRING")
          .parquet(s"$root/in")
          .writeStream
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            graft.pipeline.Dedup.contaminationAuditStreamBatch(b,
                b.sparkSession.read.parquet(storeDir),
                s"$root/dfstore", maxGramDf = 2, batchId = batchId)
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$root/out/batch=$batchId")
            ()
          }
          .option("checkpointLocation", s"$root/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      d.where(col("doc_id") % 10 === 3).coalesce(1).write.parquet(s"$root/in")
      drainOnce()
      d.where(col("doc_id") % 10 === 8).coalesce(1)
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select("batch_id", "train_id", "eval_id", "n_shared",
          "eval_grams", "leak_bp")
    }),

    // ---- JSONL sharded export roundtrip: the interchange format LLM
    // tooling ingests — written one file per deterministic shard, read
    // back with an explicit schema; every value re-derived by the oracle
    // from the source table (shard = minstd mod, text by md5) ----
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val root = tempQueryDir("jsonl").toString
      graft.pipeline.Export.writeJsonlShards(
        docs(s, dir).select("doc_id", "lang", "text"), s"$root/data",
        numShards = 8, salt = 17L)
      graft.pipeline.Export.readJsonl(s, s"$root/data",
          "doc_id BIGINT, lang STRING, text STRING")
        .select(col("doc_id"), col("lang"),
          col("shard").cast("long").as("shard"),
          md5(col("text").cast("binary")).as("text_md5"))
    }))

  /** Planted-merge BPE fixture shared by q_bpe_tokens and q_pack_bpe:
    * a fixed merges table plus a corpus whose per-doc token counts have
    * the closed form 2a+3b+2c+3d+5 the oracles re-derive — ONE
    * construction so the two queries can never drift apart. */
  private lazy val plantedBpeModel = graft.functions.Bpe.Model(Seq(
    ("e", "r"), ("er", graft.functions.Bpe.EndOfWord), ("l", "o"),
    ("lo", "w"), ("low", "er" + graft.functions.Bpe.EndOfWord), ("r", "e")))

  private def plantedBpeCorpus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .withColumn("a", (col("doc_id") % 3 + 1).cast("int"))
      .withColumn("b", (col("doc_id") % 4 + 1).cast("int"))
      .withColumn("c", (col("doc_id") % 2 + 1).cast("int"))
      .withColumn("d", (col("doc_id") % 5 + 1).cast("int"))
      .withColumn("text", concat(
        expr("repeat('lower ', a)"), expr("repeat('low ', b)"),
        expr("repeat('er ', c)"), expr("repeat('re ', d)"), lit("wide")))

  /** Deterministic crawl-page fixture: the document text wrapped in a
    * realistic page shell — title (with an entity), style + script blocks
    * (the script body contains a bare `<` that would corrupt a naive tag
    * strip), nav/footer link boilerplate, a comment, and an
    * entity-escaped paragraph on every third doc. Every byte derives
    * from (doc_id, text) with arithmetic the oracle mirrors. */
  private def webFixture(d: DataFrame): DataFrame =
    d.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; friends</title><style>body { color: #000; }</style>"),
      lit("<script type=\"text/javascript\">var id = "),
      col("doc_id").cast("string"),
      lit("; if (id < 7) { track(); }</script></head><body>"),
      lit("<nav><a href=\"/home\">Home</a>" +
        " <a href=\"/about\">About &amp; Contact</a></nav>"),
      lit("<!-- build "), (col("doc_id") % 13).cast("string"), lit(" -->"),
      lit("<h1>Doc "), col("doc_id").cast("string"), lit("</h1><p>"),
      col("text"), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<p>Special &lt;tag&gt; &quot;quoted&quot; &#39;s&nbsp;here</p>"))
        .otherwise(lit("")),
      lit("<footer><a href=\"/tos\">Terms of Service</a>" +
        " &copy; 2026</footer></body></html>")).as("html"))

  /** Deterministic messy-URL fixture: uppercase scheme/host, www.
    * prefix, default ports on every third doc, tracking params around a
    * real one, a fragment on every fourth — each branch of the
    * canonicalizer exercised, all mirrored by the oracle. */
  private def urlFixture(d: DataFrame): DataFrame =
    d.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://WWW.Site"), (col("doc_id") % 5).cast("string"), lit(".COM"),
      when(col("doc_id") % 3 === 0,
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .otherwise(lit("")),
      lit("/Path/p"), (col("doc_id") % 7).cast("string"),
      lit("?utm_source=feed&id="), (col("doc_id") % 13).cast("string"),
      lit("&utm_campaign=c"), (col("doc_id") % 4).cast("string"),
      when(col("doc_id") % 5 === 0, lit("&ref=tw")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("#sec2")).otherwise(lit("")))
      .as("url"))

  /** Envelope events encoded into reference-layout DbusEventV2 wire bytes
    * (Avro payload part carrying the events record), keeping `seq` beside
    * the wire column for the corruption query's deterministic targeting. */
  private def dbusV2Wire(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.model.VersionedSchemaSet.eventPayloadV1
    val enc = graft.functions.AvroCodec.encodeEventPayload(schema.schemaJson)
    val payload = enc(struct(
      col("seq").as("event_id"), col("key_long").as("user_id"),
      ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
      col("value"), col("props")))
    val v2 = graft.functions.DbusV2.encodeUdf(schema.digest, 1)
    env(s, dir).select(col("seq"),
      v2(col("scn"), col("ts_us") * 1000, col("source_id"),
        col("partition_id"), col("opcode"), col("key_long"),
        payload, lit(null).cast("binary")).as("wire"))
  }

  /** DuckDB-runnable ANSI SQL oracles. Key alignment rule: column names and
    * types match the Spark output exactly (driver hash compares by sorted
    * column name). Non-SQL-expressible ops (xxhash64-based signatures) are
    * omitted → rows-only check. */
  private val ENV =
    """WITH envelope AS (SELECT event_id - event_id % 10 AS scn, event_id AS seq,
      | epoch_us(ts) AS ts_us,
      | CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 3
      |   WHEN 'signup' THEN 4 WHEN 'error' THEN 5 ELSE -1 END AS source_id,
      | CAST(user_id % 4 AS INT) AS partition_id,
      | CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS opcode,
      | user_id AS key_long, value AS value FROM events)"""
      .stripMargin.replaceAll("\n", "")

  /** Mixed-key envelope oracle (see WireFixtures.dbusv2MixedLogDir): the
    * key kind cycles by seq%3, and `key_long` reproduces the reference's
    * parse-as-long-else-`String.hashCode` coercion (KeyModFilter.java:
    * 55-70). Keys are ≤5 ASCII chars, so Java's 32-bit hash never wraps
    * and equals the plain polynomial Σ c_i·31^(n-i) — computed here with
    * DuckDB list arithmetic. */
  private val MIXED =
    """WITH base AS (SELECT *, CASE WHEN event_id % 3 = 1 AND user_id % 2 <> 0
      |  THEN 'u' || CAST(user_id % 1000 AS VARCHAR) || 'x' END AS odd_key FROM events),
      |envelope AS (SELECT event_id - event_id % 10 AS scn, event_id AS seq,
      | epoch_us(ts) AS ts_us,
      | CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 3
      |   WHEN 'signup' THEN 4 WHEN 'error' THEN 5 ELSE -1 END AS source_id,
      | CAST(user_id % 4 AS INT) AS partition_id,
      | CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS opcode,
      | CASE WHEN event_id % 3 = 1 THEN coalesce(odd_key, CAST(user_id AS VARCHAR)) END AS key_string,
      | CASE WHEN event_id % 3 = 2 THEN CAST(user_id AS VARCHAR) END AS key_schema_str,
      | CAST(CASE WHEN odd_key IS NULL THEN user_id
      |   ELSE list_sum(list_transform(range(1, length(odd_key) + 1),
      |     i -> unicode(odd_key[i]) * CAST(round(31 ** (length(odd_key) - i)) AS BIGINT)))
      |   END AS BIGINT) AS key_long,
      | value FROM base)"""
      .stripMargin.replaceAll("\n", "")

  /** Binlog envelope oracle: composite (file<<32)|offset SCN with the
    * COMMIT marker's offset as the whole transaction's SCN — shared by the
    * batch parse and the streaming assembly (lossless by construction). */
  private lazy val binlogParseSql: String =
    "WITH b AS (SELECT" +
      " CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 3" +
      "   WHEN 'signup' THEN 4 WHEN 'error' THEN 5 ELSE -1 END AS source_id," +
      " CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_delete," +
      " ((event_id // 10000) + 1) * 4294967296 + ((max(event_id) OVER (PARTITION BY event_id - event_id % 10)) % 10000) * 2 + 1 AS scn," +
      " ((event_id // 10000) + 1) * 4294967296 + (event_id % 10000) * 2 AS seq" +
      " FROM events)" +
      " SELECT source_id, count(*) AS n_events, CAST(sum(is_delete) AS BIGINT) AS n_deletes," +
      " min(scn) AS min_scn, max(scn) AS max_scn," +
      " min(seq) AS min_seq, max(seq) AS max_seq FROM b GROUP BY source_id"

  /** V1 envelope oracle (WireFixtures.dbusv1LogDir): key kind alternates
    * by seq%2, same hashCode coercion arithmetic as [[MIXED]]. */
  private val V1ENV =
    """WITH base AS (SELECT *, CASE WHEN event_id % 2 = 1 AND user_id % 2 <> 0
      |  THEN 'u' || CAST(user_id % 1000 AS VARCHAR) || 'x' END AS odd_key FROM events),
      |envelope AS (SELECT event_id - event_id % 10 AS scn, event_id AS seq,
      | CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 3
      |   WHEN 'signup' THEN 4 WHEN 'error' THEN 5 ELSE -1 END AS source_id,
      | CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS opcode,
      | CASE WHEN event_id % 2 = 1 THEN coalesce(odd_key, CAST(user_id AS VARCHAR)) END AS key_string,
      | CAST(CASE WHEN odd_key IS NULL THEN user_id
      |   ELSE list_sum(list_transform(range(1, length(odd_key) + 1),
      |     i -> unicode(odd_key[i]) * CAST(round(31 ** (length(odd_key) - i)) AS BIGINT)))
      |   END AS BIGINT) AS key_long,
      | value FROM base)"""
      .stripMargin.replaceAll("\n", "")

  /** SQL mirror of WebFunctions.decodeEntities: same table, same order
    * (`&amp;` last so double-escapes decode one level). */
  private def sqlEnt(e: String): String =
    Seq(("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "''"),
      ("&nbsp;", " "), ("&amp;", "&"))
      .foldLeft(e) { case (acc, (p, r)) =>
        s"regexp_replace($acc, '$p', '$r', 'g')"
      }

  /** SQL mirror of the webFixture HTML shell. */
  private val WEBHTML =
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||" +
    " ' &amp; friends</title><style>body { color: #000; }</style>" +
    "<script type=\"text/javascript\">var id = ' || CAST(doc_id AS VARCHAR) ||" +
    " '; if (id < 7) { track(); }</script></head><body>" +
    "<nav><a href=\"/home\">Home</a>" +
    " <a href=\"/about\">About &amp; Contact</a></nav>" +
    "<!-- build ' || CAST(doc_id % 13 AS VARCHAR) || ' -->" +
    "<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'" +
    " || CASE WHEN doc_id % 3 = 0 THEN" +
    " '<p>Special &lt;tag&gt; &quot;quoted&quot; &#39;s&nbsp;here</p>'" +
    " ELSE '' END ||" +
    " '<footer><a href=\"/tos\">Terms of Service</a>" +
    " &copy; 2026</footer></body></html>'"

  /** SQL mirror of WebFunctions.htmlToText over a column named html
    * (same step ORDER: comments first, then script/style, then tags). */
  private lazy val WEBCLEAN: String =
    "trim(regexp_replace(" + sqlEnt(
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(html," +
      " '(?s)<!--.*?-->', ' ', 'g')," +
      " '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g')," +
      " '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'), '<[^>]*>', ' ', 'g')") +
    ", '\\s+', ' ', 'g'))"

  /** SQL mirror of the urlFixture messy URLs. */
  private val WEBURL =
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) ||" +
    " '://WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.COM' ||" +
    " (CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':80'" +
    " ELSE ':443' END) ELSE '' END) ||" +
    " '/Path/p' || CAST(doc_id % 7 AS VARCHAR) ||" +
    " '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) ||" +
    " '&utm_campaign=c' || CAST(doc_id % 4 AS VARCHAR) ||" +
    " (CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END) ||" +
    " (CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END)"

  /** CTE fragment mirroring Graph.pageRank's bigint recurrence over the
    * given raw-edge subquery, unrolled to `iters` rounds (fixed round
    * count is part of the op's contract — see Graph.scala). Final ranks
    * land in CTE `r{iters}` (node, rank). */
  private def pageRankCtes(rawEdges: String, iters: Int): String = {
    val base = s"e AS (SELECT DISTINCT src, dst FROM ($rawEdges)" +
      " WHERE src <> dst)," +
      " nodes AS (SELECT DISTINCT src AS node FROM e" +
      " UNION SELECT DISTINCT dst FROM e)," +
      " deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)," +
      " r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"
    val rounds = (1 to iters).map { k =>
      s", r$k AS (SELECT n.node," +
      " CAST(150000 + (85 * coalesce(sum(c.contrib), 0)) // 100 AS BIGINT)" +
      " AS rank FROM nodes n LEFT JOIN" +
      " (SELECT e.dst, r.rank // d.outdeg AS contrib FROM e" +
      s" JOIN deg d ON e.src = d.src JOIN r${k - 1} r ON r.node = e.src) c" +
      " ON c.dst = n.node GROUP BY n.node)"
    }.mkString
    base + rounds
  }

  /** Naive Bayes oracle CTEs — mirror of Classifier.train + classify
    * over the 80% lang-labeled slice; per-(doc, class) scores land in
    * CTE `pairs` (doc_id, label, score_e4). */
  private lazy val nbCtes: String = nbCtesFor("doc_id % 5 <> 0")

  private def nbCtesFor(trainWhere: String): String =
    "tr AS (SELECT doc_id, lang AS label, text FROM documents" +
      s" WHERE $trainWhere)," +
      " trtok AS (SELECT label," +
      " unnest(string_split_regex(text, '\\s+')) AS tok FROM tr)," +
      " counts AS (SELECT label, tok, count(*) AS c_t FROM trtok" +
      " GROUP BY 1, 2)," +
      " cls AS (SELECT t.label, t.n_toks, d.n_docs FROM" +
      " (SELECT label, count(*) AS n_toks FROM trtok GROUP BY label) t" +
      " JOIN (SELECT label, count(*) AS n_docs FROM tr GROUP BY label) d" +
      " USING (label))," +
      " st AS (SELECT (SELECT count(DISTINCT tok) FROM trtok) AS v," +
      " (SELECT count(*) FROM tr) AS n_all)," +
      " lbl AS (SELECT label, n_toks, n_docs, v, n_all," +
      " CAST(floor(log2(CAST(n_all AS DOUBLE) / CAST(n_docs AS DOUBLE))" +
      " * 10000.0 + 1e-6) AS BIGINT) AS prior_e4 FROM cls, st)," +
      " dtok AS (SELECT doc_id," +
      " unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)," +
      " sums AS (SELECT dtok.doc_id, l.label," +
      " sum(CAST(floor(log2(CAST(l.n_toks + l.v AS DOUBLE) /" +
      " CAST(coalesce(c.c_t, 0) + 1 AS DOUBLE)) * 10000.0 + 1e-6)" +
      " AS BIGINT)) AS tok_e4 FROM dtok CROSS JOIN lbl l" +
      " LEFT JOIN counts c ON c.label = l.label AND c.tok = dtok.tok" +
      " GROUP BY 1, 2)," +
      " pairs AS (SELECT d.doc_id, l.label," +
      " l.prior_e4 + coalesce(s.tok_e4, 0) AS score_e4" +
      " FROM documents d CROSS JOIN lbl l" +
      " LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.label = l.label)"

  /** Naive Bayes classification oracle (q_nb_classify; q_nb_unlearn
    * re-derives with the forget slice removed from the train set —
    * exact unlearning means the retrained model IS the oracle). */
  private lazy val nbClassifySql: String = nbClassifySqlFor(nbCtes)

  private def nbClassifySqlFor(ctes: String): String =
    s"WITH $ctes" +
      " SELECT doc_id, label, CAST(score_e4 AS BIGINT) AS nll_e4" +
      " FROM pairs QUALIFY row_number() OVER (PARTITION BY doc_id" +
      " ORDER BY score_e4, label) = 1"

  /** Fixed-point PageRank oracle for q_pagerank's doc-id-derived graph. */
  private lazy val pagerankSql: String =
    "WITH " + pageRankCtes(
      "SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 89 AS dst" +
      " FROM documents UNION ALL" +
      " SELECT (doc_id * 13 + 5) % 83, doc_id % 97 FROM documents",
      iters = 5) + " SELECT node, rank FROM r5"

  def oracleSql: Map[String, String] = Map(
    "q_html_extract" ->
      (s"WITH h AS (SELECT doc_id, $WEBHTML AS html FROM documents)," +
        s" t AS (SELECT doc_id, html, $WEBCLEAN AS clean FROM h)" +
        " SELECT doc_id," +
        " trim(" + sqlEnt(
          "regexp_extract(html, '(?is)<title>(.*?)</title>', 1)") +
        ") AS title," +
        " CAST(len(regexp_extract_all(html, '(?i)<a\\b')) AS BIGINT)" +
        " AS n_links," +
        " CASE WHEN len(clean) <= 0 THEN CAST(0 AS BIGINT) ELSE" +
        " CAST((coalesce(list_sum(list_transform(regexp_extract_all(html," +
        " '(?is)<a\\b[^>]*>(.*?)</a>', 1), x -> len(x))), 0) * 10000)" +
        " // len(clean) AS BIGINT) END AS link_density_e4," +
        " CAST(len(clean) AS BIGINT) AS n_chars_clean," +
        " md5(clean) AS clean_md5 FROM t"),

    "q_url_canonical" ->
      (s"WITH u AS (SELECT doc_id, $WEBURL AS url FROM documents)," +
        " p AS (SELECT doc_id, url," +
        " lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))" +
        " AS scheme," +
        " regexp_replace(lower(regexp_extract(url," +
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '', 'g')" +
        " AS hostraw," +
        " regexp_extract(url," +
        " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest0 FROM u)," +
        " q AS (SELECT doc_id, url, scheme," +
        " CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '', 'g')" +
        " WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '', 'g')" +
        " ELSE hostraw END AS host," +
        " regexp_extract(rest0, '^([^?]*)', 1) ||" +
        " regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        " regexp_extract(rest0, '\\?.*')," +
        " '(?i)&(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g')," +
        " '(?i)\\?(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '?', 'g')," +
        " '\\?&', '?', 'g'), '[?&]$', '', 'g') AS rest3 FROM p)" +
        " SELECT doc_id, url, CASE WHEN scheme = '' THEN url" +
        " ELSE scheme || '://' || host ||" +
        " (CASE WHEN rest3 = '' THEN '/' ELSE rest3 END) END AS canonical" +
        " FROM q"),

    "q_domain_cap" ->
      ("SELECT doc_id," +
        " 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain, n_chars" +
        " FROM documents QUALIFY row_number() OVER" +
        " (PARTITION BY 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com'" +
        " ORDER BY n_chars DESC, doc_id) <= 5"),

    "q_pagerank" -> pagerankSql,

    "q_ann_pq" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 20"),

    // store-served PQ: same planted contract — frozen-book appends
    // encode a twin to its original's code word, ADC keeps it minimal,
    // the exact re-rank puts it first
    "q_ann_pq_store" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 20"),

    // IVF-PQ: identical vectors share the coarse argmin AND the
    // residual code word — the twin is in the query's first-probed cell
    // at the minimal ADC sum, and the exact re-rank fixes rank 1
    "q_ann_ivfpq" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    "q_decontaminate_semantic" ->
      "SELECT vec_id AS id FROM embeddings WHERE vec_id >= 10",

    // LSH-prefiltered variant: same planted contract, same output —
    // exact twins collide in every hyperplane table, and the exact
    // cosine confirm discards every sub-threshold bucket collision
    "q_decontaminate_semantic_lsh" ->
      "SELECT vec_id AS id FROM embeddings WHERE vec_id >= 10",

    "q_decontaminate_stream" ->
      ("SELECT CAST(0 AS BIGINT) AS batch_id, vec_id AS id FROM embeddings" +
        " WHERE vec_id % 10 = 3 AND vec_id <> 3" +
        " UNION ALL" +
        " SELECT CAST(1 AS BIGINT) AS batch_id, vec_id AS id FROM embeddings" +
        " WHERE vec_id % 10 = 8 AND vec_id <> 8"),

    "q_winnow_guarantee" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " TRUE AS guarantee_holds FROM documents WHERE doc_id % 4 = 0"),

    "q_cdc_append_local" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " TRUE AS append_local FROM documents WHERE doc_id % 4 = 0"),

    "q_winnow_incr" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " TRUE AS guarantee_holds FROM documents WHERE doc_id % 4 = 0"),

    "q_cdc_incr" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " TRUE AS all_chunks_known FROM documents WHERE doc_id % 4 = 0"),

    "q_winnow_align" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " CAST(2 * (8 + doc_id % 7) + 1 AS BIGINT) AS best_delta" +
        " FROM documents WHERE doc_id % 4 = 0"),

    "q_pipeline_train" ->
      ("WITH g AS (SELECT doc_id," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens" +
        " FROM documents" +
        " WHERE len(string_split_regex(text, '\\s+')) >= 40)," +
        " a AS (SELECT" +
        " ((doc_id + 17) % 2147483647) * 48271 % 2147483647 % 8 AS shard," +
        " (((doc_id + 7) % 2147483647) * 48271 % 2147483647) * 10000000" +
        " + doc_id AS ord, n_tokens FROM g)" +
        " SELECT shard, ord, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
        " CAST((sum(n_tokens) OVER w - n_tokens) // 256 AS BIGINT)" +
        " AS chunk_id FROM a WINDOW w AS (PARTITION BY shard ORDER BY ord" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    "q_data_card" ->
      ("SELECT lang, source, count(*) AS n_docs," +
        " CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)" +
        " AS n_tokens," +
        " CAST(sum(n_chars) AS BIGINT) AS sum_chars," +
        " CAST(max(n_chars) AS BIGINT) AS max_chars" +
        " FROM documents GROUP BY CUBE (lang, source)"),

    "q_nb_classify" -> nbClassifySql,

    // exact unlearning: the oracle retrains from scratch on
    // train∖forget — count subtraction must land on the identical model
    "q_nb_unlearn" -> nbClassifySqlFor(
      nbCtesFor("doc_id % 5 <> 0 AND NOT (doc_id % 6 = 1)")),

    // model-store pin: the pinned view re-derives from the even train
    // slice (generation 1's training set), the head from the full
    // train slice (generation 2's)
    "q_nb_pin" ->
      ("SELECT *, 'pinned' AS probe_view FROM (" +
        nbClassifySqlFor(
          nbCtesFor("doc_id % 5 <> 0 AND doc_id % 2 = 0")) +
        ") UNION ALL SELECT *, 'head' FROM (" + nbClassifySql + ")"),

    // streaming NB: same persisted-model derivation restricted to the
    // two slices, stamped with their structural batch ids
    "q_nb_stream" ->
      (s"WITH $nbCtes," +
        " pred AS (SELECT doc_id, label," +
        " CAST(score_e4 AS BIGINT) AS nll_e4 FROM pairs" +
        " QUALIFY row_number() OVER (PARTITION BY doc_id" +
        " ORDER BY score_e4, label) = 1)" +
        " SELECT CAST(0 AS BIGINT) AS batch_id, doc_id, label, nll_e4" +
        " FROM pred WHERE doc_id % 10 = 2" +
        " UNION ALL" +
        " SELECT CAST(1 AS BIGINT) AS batch_id, doc_id, label, nll_e4" +
        " FROM pred WHERE doc_id % 10 = 7"),

    "q_host_blocklist" ->
      ("SELECT doc_id," +
        " 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host" +
        " FROM documents WHERE doc_id % 5 NOT IN (0, 3)"),

    "q_pipeline_web" ->
      ("WITH " + pageRankCtes(
        "SELECT doc_id % 5 AS src, (doc_id * 3 + 1) % 5 AS dst" +
        " FROM documents", iters = 3) + "," +
        s" pg AS (SELECT doc_id, $WEBHTML AS html, $WEBURL AS url" +
        " FROM documents)," +
        s" t AS (SELECT doc_id, url, $WEBCLEAN AS clean, html FROM pg)," +
        " g AS (SELECT doc_id, url, clean," +
        " CASE WHEN len(clean) <= 0 THEN CAST(0 AS BIGINT) ELSE" +
        " CAST((coalesce(list_sum(list_transform(regexp_extract_all(html," +
        " '(?is)<a\\b[^>]*>(.*?)</a>', 1), x -> len(x))), 0) * 10000)" +
        " // len(clean) AS BIGINT) END AS link_density_e4 FROM t)," +
        " g2 AS (SELECT * FROM g WHERE link_density_e4 <= 1300)," +
        " h AS (SELECT doc_id, clean," +
        " regexp_replace(lower(regexp_extract(url," +
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '', 'g')" +
        " AS hostport FROM g2)," +
        " h2 AS (SELECT doc_id, clean," +
        " regexp_replace(regexp_replace(hostport, ':80$', '', 'g')," +
        " ':443$', '', 'g') AS host FROM h)," +
        " c AS (SELECT doc_id, clean, host FROM h2" +
        " QUALIFY row_number() OVER (PARTITION BY host" +
        " ORDER BY len(clean) DESC, doc_id) <= 40)" +
        " SELECT c.doc_id, c.host, r3.rank AS host_rank," +
        " CAST(len(c.clean) AS BIGINT) AS n_chars_clean," +
        " md5(c.clean) AS clean_md5 FROM c JOIN r3 ON r3.node =" +
        " CAST(regexp_extract(c.host, 'site([0-9]+)\\.com', 1) AS BIGINT)"),

    "q_jsonl_roundtrip" ->
      ("SELECT doc_id, lang," +
        " ((doc_id + 17) % 2147483647) * 48271 % 2147483647 % 8 AS shard," +
        " md5(text) AS text_md5 FROM documents"),

    "q_dbusv2_mixed_roundtrip" ->
      (s"$MIXED SELECT source_id," +
        " CASE WHEN key_string IS NOT NULL THEN 'STRING'" +
        " WHEN key_schema_str IS NOT NULL THEN 'SCHEMA' ELSE 'LONG' END AS key_kind," +
        " count(*) AS n_events, CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(key_string) AS min_key_string, max(key_string) AS max_key_string," +
        " CAST(coalesce(sum(length(key_schema_str)), 0) AS BIGINT) AS sum_schema_len," +
        " min(scn) AS min_scn, max(scn) AS max_scn," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(seq) AS max_seq FROM envelope GROUP BY 1, 2"),

    "q_filter_keymod_string" ->
      (s"$MIXED SELECT scn, seq, source_id, partition_id, opcode, key_long," +
        " key_string FROM envelope" +
        " WHERE abs(key_long) % 4 >= 0 AND abs(key_long) % 4 < 2"),

    "q_filter_keyrange_string" ->
      (s"$MIXED SELECT scn, seq, source_id, partition_id, opcode, key_long," +
        " key_string FROM envelope" +
        " WHERE (key_string IS NULL OR (regexp_full_match(key_string, '-?\\d+')" +
        " AND TRY_CAST(key_string AS BIGINT) IS NOT NULL))" +
        " AND key_long >= 100 AND key_long < 600"),

    "q_dbusv1_roundtrip" ->
      (s"$V1ENV SELECT source_id," +
        " CASE WHEN key_string IS NOT NULL THEN 'STRING' ELSE 'LONG' END AS key_kind," +
        " count(*) AS n_events, CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(key_string) AS min_key_string, max(key_string) AS max_key_string," +
        " min(scn) AS min_scn, max(scn) AS max_scn," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(seq) AS max_seq FROM envelope GROUP BY 1, 2"),

    "q_serve_v1_downconvert" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " min(scn) AS min_scn, max(scn) AS max_scn," +
        " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(seq) AS min_seq, max(seq) AS max_seq," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(ts_us) AS max_ts_us FROM envelope GROUP BY source_id"),

    "q_dbusv2_metadata" ->
      (s"$ENV SELECT source_id, count(*) AS n_meta," +
        " count(DISTINCT 'm' || CAST(seq % 97 AS VARCHAR)) AS n_distinct_meta," +
        " min('m' || CAST(seq % 97 AS VARCHAR)) AS min_meta," +
        " max('m' || CAST(seq % 97 AS VARCHAR)) AS max_meta," +
        " CAST(sum(seq) AS BIGINT) AS sum_seq" +
        " FROM envelope WHERE seq % 5 = 0 GROUP BY source_id"),

    "q_envelope" -> s"$ENV SELECT * FROM envelope",

    "q_filter_source" ->
      s"$ENV SELECT * FROM envelope WHERE source_id IN (1, 3)",

    "q_filter_keyrange" ->
      s"$ENV SELECT * FROM envelope WHERE key_long >= 25 AND key_long < 100",

    "q_filter_keymod" ->
      s"$ENV SELECT * FROM envelope WHERE abs(key_long) % 4 >= 0 AND abs(key_long) % 4 < 2",

    "q_filter_composite" ->
      (s"$ENV SELECT * FROM envelope WHERE CASE" +
        " WHEN source_id = 3 THEN (key_long >= 0 AND key_long < 75) OR (key_long >= 100 AND key_long < 200)" +
        " WHEN source_id = 1 THEN abs(key_long) % 4 >= 0 AND abs(key_long) % 4 < 2" +
        " ELSE TRUE END"),

    "q_filter_subscription" ->
      (s"$ENV SELECT * FROM envelope WHERE source_id = 1" +
        " OR (source_id = 2 AND partition_id = 1) OR source_id = 3"),

    "q_filter_physical" ->
      (s"$ENV SELECT * FROM envelope WHERE partition_id = 2" +
        " AND source_id IN (1, 2, 4)"),

    "q_filter_logical" ->
      (s"$ENV SELECT * FROM envelope WHERE (source_id = 1)" +
        " OR (source_id = 2 AND partition_id IN (0, 1)) OR opcode IS NULL"),

    "q_stream_checkpoint" ->
      (s"$ENV SELECT * FROM envelope WHERE scn > 500" +
        " OR (scn = 500 AND seq - scn >= 3)"),

    "q_stream_budget" ->
      s"$ENV SELECT * FROM envelope ORDER BY scn, seq LIMIT 500",

    "q_stream_since_ts" ->
      s"$ENV SELECT * FROM envelope WHERE ts_us >= 1705276800000000",

    "q_buffer_info" ->
      (s"$ENV SELECT partition_id, min(scn) AS min_scn, max(scn) AS max_scn," +
        " count(*) AS num_events FROM envelope GROUP BY partition_id"),

    "q_hll_distinct" ->
      (s"$ENV SELECT source_id, count(DISTINCT key_long) AS exact_keys," +
        " TRUE AS within_bound FROM envelope GROUP BY source_id"),

    "q_stats_totals" ->
      (s"$ENV SELECT source_id, count(*) AS num_events," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " min(scn) AS min_scn," +
        " max(scn) AS max_scn, max(ts_us) AS max_ts_us FROM envelope GROUP BY source_id"),

    "q_percentiles" ->
      (s"$ENV SELECT source_id," +
        " round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50," +
        " round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90," +
        " round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 4) AS p95," +
        " round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99" +
        " FROM envelope GROUP BY source_id"),

    "q_max_scn" ->
      (s"$ENV SELECT partition_id, max(scn) AS max_scn, max(seq) AS max_seq" +
        " FROM envelope GROUP BY partition_id"),

    "q_merge_txn" ->
      (s"$ENV SELECT scn, source_id, key_long," +
        " arg_max(opcode, seq) AS opcode, arg_max(value, seq) AS value," +
        " max(seq) AS seq, count(*) AS merged_updates" +
        " FROM envelope GROUP BY scn, source_id, key_long"),

    "q_apply_log" ->
      (s"$ENV SELECT * FROM (SELECT * FROM envelope QUALIFY" +
        " row_number() OVER (PARTITION BY key_long ORDER BY scn DESC, seq DESC) = 1)" +
        " WHERE opcode <> 'DELETE'"),

    "q_snapshot_scan" ->
      (s"$ENV SELECT scn, seq AS id, ts_us, source_id, partition_id, opcode, key_long, value" +
        " FROM envelope WHERE seq > 100 AND scn < 800 AND scn >= 0" +
        " ORDER BY seq LIMIT 2000"),

    "q_catchup_scan" ->
      (s"$ENV SELECT scn AS windowscn, seq AS id, ts_us, source_id, partition_id, opcode, key_long, value" +
        " FROM envelope WHERE seq > 0 AND scn BETWEEN 300 AND 700"),

    "q_bootstrap_stitch" ->
      (s"$ENV SELECT * FROM (SELECT * FROM envelope WHERE scn <= 900 QUALIFY" +
        " row_number() OVER (PARTITION BY key_long ORDER BY scn DESC, seq DESC) = 1)" +
        " WHERE opcode <> 'DELETE'"),

    "q_seeder_chunks" ->
      ("SELECT chunk_id, count(*) AS n_rows, min(o_orderkey) AS min_key," +
        " max(o_orderkey) AS max_key FROM (SELECT o_orderkey," +
        " CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 500 AS BIGINT) AS chunk_id" +
        " FROM orders) GROUP BY chunk_id"),

    "q_window_delivery" ->
      (s"$ENV SELECT scn, count(*) AS n_events," +
        " count(DISTINCT source_id) AS n_sources, min(seq) AS first_seq," +
        " max(seq) AS last_seq FROM envelope GROUP BY scn"),

    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus," +
        " CAST(sum(l_quantity) AS BIGINT) AS sum_qty," +
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c," +
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_c4," +
        " sum(l_quantity) / count(*) AS avg_qty," +
        " CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / CAST(count(*) * 100 AS DOUBLE) AS avg_disc," +
        " count(*) AS count_order FROM lineitem" +
        " WHERE l_shipdate <= TIMESTAMP '2001-09-01' GROUP BY l_returnflag, l_linestatus"),

    "q3_join" -> oracleSqlQ3,

    "q3_join_bucketed" -> oracleSqlQ3,

    "q5_join_bucketed" -> oracleSqlQ5,

    "q5_join" -> oracleSqlQ5,

    "q18_large_orders" ->
      ("WITH q AS (SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty" +
        " FROM lineitem GROUP BY 1 HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250)" +
        " SELECT c_custkey, c_name, o_orderkey," +
        " strftime(o_orderdate, '%Y-%m-%d') AS orderdate," +
        " CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_c, sum_qty" +
        " FROM orders JOIN q ON o_orderkey = l_orderkey" +
        " JOIN customer ON o_custkey = c_custkey"),

    // z-order box read: row-identical to the raw box filter (the layout
    // rewrite moves bytes, never rows), zkey re-derived by the same
    // shift-mask spread the native expression generates
    "q_zorder_box" ->
      ("SELECT l_orderkey, l_partkey, l_quantity," +
        s" (${zorderSpreadSql("l_orderkey")}" +
        s" + 2 * ${zorderSpreadSql("l_partkey")}) AS zkey" +
        " FROM lineitem WHERE l_orderkey BETWEEN 100 AND 1200" +
        " AND l_partkey BETWEEN 20 AND 150"),

    // incremental layout: append + recluster move bytes, never rows —
    // the box read over the maintained layout is row-identical to the
    // raw box filter, zkey re-derivation included
    "q_zorder_incr" ->
      ("SELECT l_orderkey, l_partkey, l_quantity," +
        s" (${zorderSpreadSql("l_orderkey")}" +
        s" + 2 * ${zorderSpreadSql("l_partkey")}) AS zkey" +
        " FROM lineitem WHERE l_orderkey BETWEEN 100 AND 1200" +
        " AND l_partkey BETWEEN 20 AND 150"),

    // 3-D layout box: the 3-way interleave re-derived by the stride-3
    // shift-mask cascade over (part, supplier, ship-day)
    "q_zorder_box3" ->
      ("SELECT l_partkey, l_suppkey, ship_day, l_quantity," +
        s" (${zorderSpread3Sql("l_partkey")}" +
        s" + 2 * ${zorderSpread3Sql("l_suppkey")}" +
        s" + 4 * ${zorderSpread3Sql("ship_day")}) AS zkey3" +
        " FROM (SELECT l_partkey, l_suppkey," +
        " CAST(date_diff('day', DATE '1992-01-01'," +
        " CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day, l_quantity" +
        " FROM lineitem)" +
        " WHERE l_partkey BETWEEN 20 AND 150" +
        " AND l_suppkey BETWEEN 2 AND 60" +
        " AND ship_day BETWEEN 400 AND 1400"),

    "q_topk_orders" ->
      ("SELECT o_custkey, o_orderkey, rk, o_totalprice FROM (SELECT o_custkey," +
        " o_orderkey, o_totalprice, CAST(row_number() OVER (PARTITION BY o_custkey" +
        " ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk FROM orders)" +
        " WHERE rk <= 3"),

    "q_sessionize" ->
      (s"$ENV SELECT key_long, session_seq, min(ts_us) AS session_start," +
        " max(ts_us) AS session_end, count(*) AS n_events FROM" +
        " (SELECT key_long, ts_us, CAST(sum(new_session) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM" +
        " (SELECT key_long, ts_us, CASE WHEN ts_us - lag(ts_us, 1) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us) > 14400000000 THEN 1 ELSE 0 END AS new_session" +
        " FROM envelope)) GROUP BY key_long, session_seq"),

    "q_sessionize_stream" ->
      (s"$ENV SELECT key_long, session_seq, min(ts_us) AS session_start," +
        " max(ts_us) AS session_end, count(*) AS n_events FROM" +
        " (SELECT key_long, ts_us, CAST(sum(new_session) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM" +
        " (SELECT key_long, ts_us, CASE WHEN ts_us - lag(ts_us, 1) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us) > 14400000000 THEN 1 ELSE 0 END AS new_session" +
        " FROM envelope WHERE key_long % 5 = 0)) GROUP BY key_long, session_seq"),

    "q_asof_join" ->
      (s"$ENV SELECT a.seq, a.key_long, b.pseq AS asof_pseq FROM" +
        " (SELECT seq, key_long FROM envelope) a ASOF LEFT JOIN" +
        " (SELECT key_long, seq AS pseq FROM envelope WHERE source_id = 3) b" +
        " ON a.key_long = b.key_long AND a.seq >= b.pseq"),

    "q_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n," +
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c" +
        " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),

    "q_text_stats" ->
      ("SELECT doc_id, n_chars," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens," +
        " CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish," +
        " round(CAST(list_sum(list_transform(string_split_regex(text, '\\s+'), t -> length(t))) AS DOUBLE)" +
        "   / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE), 6) AS mean_token_len," +
        " CAST(len(string_split(text, 'the')) - 1 AS BIGINT) AS the_count" +
        " FROM documents"),

    "q_lang_id" -> langIdSql,

    "q_quality_score" -> qualityScoreSql,

    // closed-form token counts for the planted BPE texts: per repeat
    // group, (word tokens + its following space) × repeats — lower=1+1,
    // low=2+1, er=1+1, re=2+1 — plus unmerged trailing "wide" = 5
    "q_bpe_tokens" ->
      ("SELECT doc_id," +
        " CAST(2 * (doc_id % 3 + 1) + 3 * (doc_id % 4 + 1)" +
        " + 2 * (doc_id % 2 + 1) + 3 * (doc_id % 5 + 1) + 5 AS BIGINT)" +
        " AS n_tokens FROM documents"),

    // the tokenizer roundtrip is the identity on the corpus
    "q_bpe_roundtrip" -> "SELECT doc_id, text FROM documents",

    "q_fingerprint" ->
      ("SELECT doc_id, md5(text) AS fp_hex, substr(md5(text), 1, 16) AS fp16" +
        " FROM documents"),

    "q_pii_scrub" ->
      ("WITH inj AS (SELECT doc_id, text ||" +
        " CASE WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'" +
        " WHEN doc_id % 4 = 1 THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 logged'" +
        " WHEN doc_id % 4 = 2 THEN ' call +1 (555) 123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'" +
        " ELSE '' END AS text FROM documents)" +
        " SELECT doc_id," +
        " CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails," +
        " CAST(len(regexp_extract_all(text, '\\+\\d{1,2} \\(\\d{3}\\) \\d{3}-\\d{4}')) AS BIGINT) AS n_phones," +
        " CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ips," +
        " md5(regexp_replace(regexp_replace(regexp_replace(text," +
        " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')," +
        " '\\+\\d{1,2} \\(\\d{3}\\) \\d{3}-\\d{4}', '<PHONE>', 'g')," +
        " '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')) AS scrubbed_md5 FROM inj"),

    "q_domain_stats" ->
      ("WITH inj AS (SELECT doc_id, text || ' see https://' ||" +
        " (['example.com','WWW.Example.com','data.example.org','news.site.net','www.site.net'])[CAST(doc_id % 5 + 1 AS INT)]" +
        " || '/p/' || CAST(doc_id % 7 AS VARCHAR) ||" +
        " CASE WHEN doc_id % 3 = 0 THEN ' and http://mirror.example.com/x' || CAST(doc_id % 11 AS VARCHAR) ELSE '' END AS text" +
        " FROM documents)," +
        " urls AS (SELECT doc_id, unnest(regexp_extract_all(text," +
        " 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._%/-]*)?', 0)) AS url FROM inj)," +
        " doms AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url," +
        " 'https?://([A-Za-z0-9.-]+)', 1)), '^www\\.', '') AS domain FROM urls)" +
        " SELECT domain, count(*) AS n_urls," +
        " CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs" +
        " FROM doms GROUP BY domain"),

    "q_dedup_exact" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id, text FROM documents)" +
        " SELECT md5(text) AS content_hash, min(doc_id) AS rep_id," +
        " count(*) AS dup_count FROM corpus GROUP BY md5(text)"),

    // only pairs touching the new batch (ids >= 1,000,000)
    "q_dedup_incremental" ->
      jaccardPairsOracleSql(0.8, "",
        " AND (p.id_a >= 1000000 OR p.id_b >= 1000000)"),

    // streaming form: the INCREMENT is realistically sized (25% of the
    // corpus arriving over the stream — increment ≪ corpus is the
    // operating point of the store protocol); accumulates the identical
    // touching-new edge set over the restricted fresh side
    "q_dedup_stream_incr" ->
      jaccardPairsOracleSql(0.8, "",
        " AND (p.id_a >= 1000000 OR p.id_b >= 1000000)",
        " WHERE doc_id % 4 = 0"),

    // unified (gen, maxBatch) pin on the dedup signature store: the
    // pinned view's pair set derives from the two pinned batches' docs
    // (combined-corpus ids with doc_id % 3 ∈ {0, 1} — note a twin's id
    // is doc_id + 1e6, so it lands in a different batch than its base),
    // the head view from the full twin corpus after a later append AND
    // a compaction-publish
    "q_dedup_pin" ->
      ("SELECT *, 'pinned' AS probe_view FROM (" +
        jaccardPairsOracleSql(0.8, "",
          corpusWhere = " WHERE doc_id % 3 <> 2") +
        ") UNION ALL SELECT *, 'head' FROM (" +
        jaccardPairsOracleSql(0.8, "") + ")"),

    // CDC-maintained signature store: pairs over the net surviving docs
    // — every combined-corpus id with doc_id % 8 = 0 was taken down by
    // the second feed batch (twin ids included: 1e6 % 8 = 0)
    "q_sigstore_cdc_stream" ->
      jaccardPairsOracleSql(0.8, "",
        corpusWhere = " WHERE doc_id % 8 <> 0"),

    // takedown-aware incremental pairs: touching-the-batch edges whose
    // stored endpoint is LIVE (base ids with doc_id % 7 = 2 are
    // tombstoned; a batch id < 1e6 never occurs, so the guards read
    // "any base endpoint must not be taken down")
    "q_dedup_delete" ->
      jaccardPairsOracleSql(0.8, "",
        " AND (p.id_a >= 1000000 OR p.id_b >= 1000000)" +
          " AND (p.id_a >= 1000000 OR p.id_a % 7 <> 2)" +
          " AND (p.id_b >= 1000000 OR p.id_b % 7 <> 2)",
        " WHERE doc_id % 4 = 0"),

    "q_dedup_normalized" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id," +
        " replace(text, ' ', '  ') || ' !!' AS text FROM documents)," +
        " norm AS (SELECT doc_id, lower(trim(regexp_replace(" +
        "regexp_replace(text, '[.,;:!?''\"()\\[\\]{}-]', ' ', 'g')," +
        " '\\s+', ' ', 'g'))) AS text FROM corpus)" +
        " SELECT md5(text) AS content_hash, min(doc_id) AS rep_id," +
        " count(*) AS dup_count FROM norm GROUP BY md5(text)"),

    "q_dedup_minhash" -> minhashOracleSql,

    // simhash contract: every exact-Jaccard ≥0.9 pair sits within hamming
    // 16 of its partner's signature (measured max 8 at sf0.01, 13 at sf0.1)
    "q_dedup_simhash" ->
      jaccardPairsOracleSql(0.9, ", TRUE AS within_hamming"),

    "q_quantize_int8" ->
      ("SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim," +
        " TRUE AS within_bound, TRUE AS range_ok FROM embeddings"),

    "q_ann_quantized" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 25"),

    // planted twins are the ONLY ≥0.99-cosine pairs and hyperplane LSH
    // recalls identical vectors with probability 1
    "q_dedup_embedding" ->
      ("SELECT vec_id AS id_a, vec_id + 1000000 AS id_b," +
        " CAST(1.0 AS DOUBLE) AS cosine FROM embeddings"),

    // semdedup planted-twin contract: identical vectors share every
    // argmin (same k-means cell) at cosine 1.0, the corpus has no natural
    // ≥0.99 pair, and the greedy policy keeps the lower id of each pair
    "q_semdedup" ->
      ("SELECT vec_id AS doc_id, TRUE AS kept FROM embeddings" +
        " UNION ALL" +
        " SELECT vec_id + 1000000 AS doc_id, FALSE AS kept FROM embeddings"),

    // hierarchical assignment: twins share the coarse and sub argmins,
    // so the leaf co-location — and the contract — is q_semdedup's
    "q_semdedup_hier" ->
      ("SELECT vec_id AS doc_id, TRUE AS kept FROM embeddings" +
        " UNION ALL" +
        " SELECT vec_id + 1000000 AS doc_id, FALSE AS kept FROM embeddings"),

    // twins collide in every hyperplane table too — same contract
    "q_semdedup_lsh" ->
      ("SELECT vec_id AS doc_id, TRUE AS kept FROM embeddings" +
        " UNION ALL" +
        " SELECT vec_id + 1000000 AS doc_id, FALSE AS kept FROM embeddings"),

    // planted-retrieval contracts: rank-1 result per query is its twin
    "q_ann_lsh" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 50"),

    "q_ann_ivf" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 20"),

    // IVF+quantized composition: same planted-retrieval contract
    "q_ann_ivf_quantized" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 20"),

    "q_ann_ivf_trained" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // store-served retrieval: identical planted-twin contract — a stale
    // or mis-assigned persisted index breaks the hash
    "q_ann_store" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // shuffle-regime batch server on the same store: the two regimes
    // are answer-identical by contract, so the oracle is q_ann_store's
    "q_ann_store_batch" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // raw-IVF batch regime: exact scoring, same planted-twin contract
    "q_ann_ivf_batch" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // IVF-PQ batch regime: the twin shares coarse argmin AND residual
    // code word, so the regime change never moves rank-1
    "q_ann_ivfpq_batch" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // incremental-append store: same contract — a twin appended under a
    // frozen codebook must land in its original's cell and be served
    // identically to the all-at-once index
    "q_ann_store_incr" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // rebalanced store: splitting a cell re-assigns members among NEW
    // sub-centroids only — identical vectors still share every argmin,
    // so the planted-twin contract survives any sequence of splits
    "q_ann_rebalance" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // merged store: absorbing thin cells re-assigns their members among
    // SURVIVING centroids only — identical vectors still share every
    // argmin, and probing all surviving cells is exact, so the planted
    // twins stay rank-1 through any merge
    "q_ann_merge" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // ANN CDC feed: the stream-maintained store lands on the same
    // planted takedown contract as q_ann_delete (identical vectors
    // share every argmin, whichever batch trained the codebook)
    "q_ann_cdc_stream" ->
      ("SELECT vec_id AS query_id, CASE WHEN vec_id < 8" +
        " THEN vec_id + 2000000 ELSE vec_id + 1000000 END AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // same planted contract on the CDC-maintained IVF-PQ store
    // (identical vectors share the coarse argmin AND the residual code
    // word under any training state)
    "q_ivfpq_cdc_stream" ->
      ("SELECT vec_id AS query_id, CASE WHEN vec_id < 8" +
        " THEN vec_id + 2000000 ELSE vec_id + 1000000 END AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // takedown contract: rank-1 is the twin (+1e6, the lowest-id
    // cosine-1.0 candidate) where the twin is live, the tritwin (+2e6)
    // where the twin was tombstoned (query ids < 8)
    "q_ann_delete" ->
      ("SELECT vec_id AS query_id, CASE WHEN vec_id < 8" +
        " THEN vec_id + 2000000 ELSE vec_id + 1000000 END AS neighbor_id," +
        " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
        " FROM embeddings WHERE vec_id < 15"),

    // snapshot-pinned ANN: the as-of-batch-1 read serves the +1e6 twin
    // (batch 2's lower-id twins are pruned out of the plan); the head
    // read serves the +5e5 twin that wins the cosine-1.0 tie
    "q_ann_asof" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " 'pinned' AS probe_view FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head'" +
        " FROM embeddings WHERE vec_id < 15"),

    // unified (gen, maxBatch) pin: q_ann_asof's contract holding across
    // a later append AND a later compaction-publish — pinned serves the
    // +1e6 twin, the post-publish head the +5e5 tie-winner
    "q_ann_pin" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " 'pinned' AS probe_view FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head'" +
        " FROM embeddings WHERE vec_id < 15"),

    // pinned BATCH serving: q_ann_pin's contract through the shuffle
    // regime — the lake-annotation job's frozen-index path
    "q_ann_batch_pin" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " 'pinned' AS probe_view FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head'" +
        " FROM embeddings WHERE vec_id < 15"),

    // raw-IVF pin parity: q_ann_pin's contract through the float-
    // precision family, all four serving cells — pinned views serve the
    // +1e6 twin (append batch 2 partition-pruned out of the plan), head
    // views the +5e5 tie-winner (exact tie-break keeps the smallest id)
    "q_ann_ivf_pin" ->
      ("SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " 'pinned' AS probe_view FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head'" +
        " FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 1000000, 'pinned_batch'" +
        " FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head_batch'" +
        " FROM embeddings WHERE vec_id < 15"),

    // pin observability: three planted registrations (gen 1 expired +
    // live, gen 2 live) as listPins reports them, timestamps normalized
    // to structure — liveness is gc's own classification, expiry is
    // registration + the default 7-day lease
    "q_list_pins" ->
      ("SELECT CAST(1 AS BIGINT) AS gen, FALSE AS live," +
        " TRUE AS expires_at_lease, TRUE AS has_token" +
        " UNION ALL SELECT CAST(1 AS BIGINT), TRUE, TRUE, TRUE" +
        " UNION ALL SELECT CAST(2 AS BIGINT), TRUE, TRUE, TRUE"),

    // organic recall gate: the Spark side measures recall@10 vs the
    // exact brute-force answer and REQUIRES each method over its pinned
    // floor (a sub-floor store fails the query loudly, so these rows
    // existing IS the assertion); floors documented in COVERAGE.md
    "q_ann_recall" ->
      ("SELECT 'ivf_pq' AS method, CAST(0.74 AS DOUBLE) AS floor," +
        " TRUE AS floor_ok" +
        " UNION ALL SELECT 'ivf_quantized', CAST(0.78 AS DOUBLE), TRUE" +
        " UNION ALL SELECT 'pq_adc', CAST(0.74 AS DOUBLE), TRUE"),

    // semdedup LSH-regime pair-recall gate: the Spark side measures the
    // recovered fraction of exact within-cell near-dup pairs on the
    // banded jitter corpus and REQUIRES it over the pinned floor — the
    // row existing IS the assertion, same as q_ann_recall
    "q_semdedup_recall" ->
      ("SELECT 'lsh_planes8_tables4' AS method," +
        " CAST(0.93 AS DOUBLE) AS floor, TRUE AS floor_ok"),

    // power-iteration invariant (Rayleigh non-decreasing on PSD) + the
    // planted-anisotropy alignment — both contract booleans
    "q_pca_power" ->
      ("SELECT CAST(range AS INT) AS iter, TRUE AS rayleigh_non_decreasing," +
        " TRUE AS aligned_to_planted FROM range(1, 5)"),

    // drift monitor: identical integer counts + identical double op chain
    // floored to micro-units
    "q_drift_stats" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+'))" +
        " AS tok FROM documents)," +
        " gb AS (SELECT doc_id," +
        " CAST(CONCAT('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS b" +
        " FROM tok)," +
        " r AS (SELECT b, count(*) AS cnt_ref FROM gb WHERE doc_id % 5 <> 0" +
        " GROUP BY b)," +
        " bt AS (SELECT b, count(*) AS cnt_batch FROM gb WHERE doc_id % 5 = 0" +
        " GROUP BY b)," +
        " tot AS (SELECT" +
        " (SELECT count(*) FROM gb WHERE doc_id % 5 <> 0) AS tr," +
        " (SELECT count(*) FROM gb WHERE doc_id % 5 = 0) AS tb)," +
        " al AS (SELECT b AS bucket, coalesce(cnt_ref, 0) AS cnt_ref," +
        " coalesce(cnt_batch, 0) AS cnt_batch" +
        " FROM r FULL OUTER JOIN bt USING (b))" +
        " SELECT bucket, cnt_ref, cnt_batch," +
        " CAST(floor(CAST(cnt_ref * (SELECT tb FROM tot) AS DOUBLE)" +
        " * 1000000.0 / (SELECT tr FROM tot)) AS BIGINT) AS expected_e6," +
        " CAST(floor((CAST(cnt_batch AS DOUBLE) - CAST(cnt_ref AS DOUBLE)" +
        " * (SELECT tb FROM tot) / (SELECT tr FROM tot))" +
        " * (CAST(cnt_batch AS DOUBLE) - CAST(cnt_ref AS DOUBLE)" +
        " * (SELECT tb FROM tot) / (SELECT tr FROM tot))" +
        " / greatest(CAST(cnt_ref AS DOUBLE) * (SELECT tb FROM tot)" +
        " / (SELECT tr FROM tot), 1.0) * 1000000.0) AS BIGINT)" +
        " AS chi2_contrib_e6 FROM al"),

    // deflation contract: both planted axes recovered, in order
    "q_pca_components" ->
      ("SELECT CAST(range AS INT) AS component, TRUE AS aligned_to_planted," +
        " TRUE AS lambda_ordered FROM range(1, 3)"),

    // streaming drift: the same derivation once per deterministic slice
    "q_drift_stream" -> driftStreamSql,

    // Lloyd's invariant: assignment-time WCSS is non-increasing
    "q_kmeans_train" ->
      ("SELECT CAST(range AS INT) AS iter, TRUE AS wcss_non_increasing" +
        " FROM range(1, 5)"),

    "q_heavy_hitters" ->
      ("WITH t AS (SELECT unnest(string_split_regex(text, '\\s+')) AS token" +
        " FROM documents)," +
        " n AS (SELECT count(*) AS total FROM t)" +
        " SELECT token, count(*) AS cnt FROM t GROUP BY token" +
        " HAVING count(*) * 10000 > (SELECT total FROM n) * 100"),

    // co-occurrence PMI: identical derivation — distinct tokens per doc,
    // top-V vocab (n desc, token), doc-keyed pair self-join, identical
    // parenthesization and the same +1e-6 floor nudge
    "q_cooccurrence_pmi" ->
      ("WITH dtok AS (SELECT doc_id, unnest(list_filter(list_distinct(" +
        "string_split_regex(text, '\\s+')), t -> len(t) > 0)) AS token" +
        " FROM documents)," +
        " dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM dtok" +
        " GROUP BY token)," +
        " vocab AS (SELECT token, n FROM dfreq ORDER BY n DESC, token" +
        " LIMIT 30)," +
        " dv AS (SELECT d.doc_id, d.token FROM dtok d JOIN vocab USING (token))," +
        " tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd" +
        " FROM documents)," +
        " p AS (SELECT a.token AS token_a, b.token AS token_b," +
        " CAST(count(*) AS BIGINT) AS n_ab FROM dv a JOIN dv b" +
        " ON a.doc_id = b.doc_id AND a.token < b.token GROUP BY 1, 2)" +
        " SELECT token_a, token_b, n_ab, va.n AS n_a, vb.n AS n_b," +
        " CAST(floor(log2(CAST(n_ab * nd AS DOUBLE)" +
        " / CAST(va.n * vb.n AS DOUBLE)) * 10000 + 1e-6) AS BIGINT)" +
        " AS pmi_e4" +
        " FROM p CROSS JOIN tot" +
        " JOIN vocab va ON p.token_a = va.token" +
        " JOIN vocab vb ON p.token_b = vb.token"),

    "q_vocab_topk" ->
      ("WITH t AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token" +
        " FROM documents)," +
        " c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2)" +
        " SELECT lang, token, n," +
        " CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS INT) AS rnk" +
        " FROM c QUALIFY rnk <= 5"),

    "q_stream_dedup" -> s"$ENV SELECT * FROM envelope",

    "q_stream_mult" ->
      (s"$ENV SELECT *," +
        " CAST(CASE partition_id WHEN 2 THEN 0 WHEN 3 THEN 1" +
        " WHEN 0 THEN 2 WHEN 1 THEN 3 END AS INT) AS serve_rank" +
        " FROM envelope WHERE (partition_id = 0 AND scn > 200)" +
        " OR (partition_id = 1 AND scn > 400)" +
        " OR (partition_id = 2 AND scn > 600)" +
        " OR partition_id = 3"),

    "q_pipeline_neardup" -> pipelineNeardupSql,

    "q_gopher_rules" -> gopherRulesSql,

    "q_decontaminate" -> decontaminateSql,

    // bloom path is bit-identical to the exact path (false positives die
    // in the confirming join) — same oracle
    "q_decontaminate_bloom" -> decontaminateSql,

    // attribution report: same trigram sets re-derived as strings (hash
    // equality in the engine, string equality here — FNV-1a collisions
    // are negligible at any eval size, the decontaminate convention)
    "q_contamination_report" ->
      ("WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " tg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh)," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " p AS (SELECT train_id, eval_id, CAST(count(*) AS BIGINT)" +
        " AS n_shared FROM tg JOIN eg USING (g) GROUP BY 1, 2)" +
        " SELECT train_id, eval_id, n_shared, eval_grams," +
        " CAST(n_shared * 10000 // eval_grams AS BIGINT) AS leak_bp" +
        " FROM p JOIN es USING (eval_id)"),

    // capped attribution: identical derivation with grams present in
    // more than 5 train docs excluded before pairing (eval_grams stays
    // the uncapped per-eval-doc total — the cap gates evidence, not the
    // denominator)
    "q_contamination_capped" ->
      ("WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " tg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh)," +
        " keep AS (SELECT g FROM tg GROUP BY g HAVING count(*) <= 5)," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " p AS (SELECT train_id, eval_id, CAST(count(*) AS BIGINT)" +
        " AS n_shared FROM tg JOIN keep USING (g) JOIN eg USING (g)" +
        " GROUP BY 1, 2)" +
        " SELECT train_id, eval_id, n_shared, eval_grams," +
        " CAST(n_shared * 10000 // eval_grams AS BIGINT) AS leak_bp" +
        " FROM p JOIN es USING (eval_id)"),

    // streaming audit: same attribution re-derived per batch slice
    // (%10==3 → batch 0, %10==8 → batch 1) against the same eval set
    "q_contamination_stream" ->
      ("WITH sh AS (SELECT doc_id," +
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

    // capped streaming audit: batch 0 caps on batch-0 df (the store
    // holds one batch), batch 1 on the df over BOTH batches — the
    // running-global-df semantics re-derived per batch prefix
    "q_contamination_stream_capped" ->
      ("WITH sh AS (SELECT doc_id," +
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
        " FROM p JOIN es USING (eval_id)"),

    // composed search/audit flagship: the shared hybrid-RRF derivation
    // extended with the phrase-audit flag and the store's length norm
    // per fused hit
    "q_pipeline_search" ->
      (s"WITH bm AS ($bm25TopKSql), $rrfScoredCtes," +
        " fused AS (SELECT doc_id, rrf_e8, rank FROM" +
        " (SELECT doc_id, rrf_e8, CAST(row_number() OVER" +
        " (ORDER BY rrf_e8 DESC, doc_id) AS BIGINT) AS rank FROM sc)" +
        " WHERE rank <= 10)," +
        " t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " ph AS (SELECT doc_id, TRUE AS hp FROM" +
        " (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)" +
        " WHERE len(st) > 0)," +
        " dlt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t)" +
        " SELECT rank, fused.doc_id, rrf_e8," +
        " coalesce(hp, FALSE) AS has_phrase, dl" +
        " FROM fused LEFT JOIN ph USING (doc_id) JOIN dlt USING (doc_id)"),

    "q_pipeline_e2e" -> pipelineE2eSql,

    "q_pack_chunks" ->
      ("WITH t AS (SELECT lang, doc_id," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens" +
        " FROM documents)" +
        " SELECT lang, doc_id, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
        " CAST((sum(n_tokens) OVER w - n_tokens) // 256 AS BIGINT) AS chunk_id" +
        " FROM t WINDOW w AS (PARTITION BY lang ORDER BY doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    "q_sliding_chunks" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents)," +
        " s AS (SELECT doc_id, toks, len(toks) AS n," +
        " CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT) + 1 AS nc FROM t)" +
        " SELECT doc_id, CAST(i AS INT) AS chunk_idx," +
        " CAST(i * 24 AS BIGINT) AS tok_start," +
        " CAST(least(32, n - i * 24) AS BIGINT) AS tok_len," +
        " array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text" +
        " FROM s, unnest(generate_series(0, nc - 1)) AS u(i)"),

    "q_span_dedup" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id, text FROM documents)," +
        " toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM corpus)," +
        " spans AS (SELECT doc_id, i AS span_idx," +
        " array_to_string(t[i*20+1 : i*20+20], ' ') AS span" +
        " FROM toks, unnest(generate_series(0," +
        " CAST(ceil(len(t) / 20.0) AS BIGINT) - 1)) AS u(i))," +
        " ranked AS (SELECT doc_id, span_idx, span," +
        " row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn" +
        " FROM spans)" +
        " SELECT doc_id, count(*) AS n_spans," +
        " CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept," +
        " coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' '" +
        " ORDER BY span_idx), '') AS kept_text" +
        " FROM ranked GROUP BY doc_id"),

    // MINSTD hash stream: ((key + salt) % (2^31-1)) * 48271 % (2^31-1) —
    // integer-exact in both engines
    "q_sample_stratified" ->
      ("SELECT doc_id, lang FROM documents" +
        " WHERE ((doc_id + 42) % 2147483647) * 48271 % 2147483647 % 10000" +
        " < CASE lang WHEN 'en' THEN 8000 WHEN 'zh' THEN 2500 ELSE 1000 END"),

    "q_shuffle_order" ->
      ("SELECT doc_id, row_number() OVER (ORDER BY" +
        " ((doc_id + 7) % 2147483647) * 48271 % 2147483647, doc_id) - 1" +
        " AS order_idx FROM documents"),

    "q_dedup_ngram" -> ngramOracleSql,

    "q_dedup_components" -> componentsOracleSql(
      "SELECT id, CAST(min(lbl) AS BIGINT) AS component FROM walk GROUP BY id"),

    // soft dedup: singleton docs weight 10000 bp; component members
    // weight floor(10000/csize) — same recursive-CTE component derivation
    "q_dedup_softweight" -> componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)," +
        " cs AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)" +
        " SELECT c.doc_id," +
        " CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component," +
        " CAST(coalesce(cs.csize, 1) AS BIGINT) AS csize," +
        " CAST(10000 // coalesce(cs.csize, 1) AS BIGINT) AS weight_bp" +
        " FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id" +
        " LEFT JOIN cs ON cs.component = comp.component"),

    // DSIR selection: same md5-derived bucket hash, integer-exact
    // cross-multiplied average-likelihood-ratio test
    "q_dsir_select" ->
      (s"WITH $dsirCtes" +
        " SELECT d.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams," +
        " CAST(coalesce(a.st, 0) AS BIGINT) AS sum_target," +
        " CAST(coalesce(a.sr, 0) AS BIGINT) AS sum_raw," +
        " (coalesce(a.st, 0) * (SELECT nr FROM tot) >" +
        " coalesce(a.sr, 0) * (SELECT nt FROM tot)) AS selected" +
        " FROM documents d LEFT JOIN agg a USING (doc_id)"),

    // the composed curation pipeline: each stage is the already-proven
    // oracle derivation chained over the previous stage's survivors
    "q_pipeline_curation" ->
      (s"WITH $dsirCtes," +
        " sel1 AS (SELECT doc_id FROM agg" +
        " WHERE st * (SELECT nr FROM tot) > sr * (SELECT nt FROM tot))," +
        s" q1 AS (SELECT d.doc_id, d.lang, round($qualityExprSql, 6) AS quality" +
        " FROM documents d JOIN sel1 USING (doc_id))," +
        " qsel AS (SELECT doc_id FROM (SELECT doc_id," +
        " rank() OVER (PARTITION BY lang ORDER BY quality) - 1 AS cb," +
        " count(*) OVER (PARTITION BY lang) AS n FROM q1)" +
        " WHERE cb * 10000 >= 2500 * n)," +
        " m AS (SELECT d.doc_id, d.lang AS domain," +
        " CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT) AS n_tokens," +
        " ((d.doc_id + 13) % 2147483647) * 48271 % 2147483647 AS h" +
        " FROM documents d JOIN qsel USING (doc_id))" +
        " SELECT doc_id, domain, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS cum_before" +
        " FROM m WINDOW w AS (PARTITION BY domain ORDER BY h, doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
        " QUALIFY (sum(n_tokens) OVER w - n_tokens) <" +
        " CASE domain WHEN 'en' THEN 800 WHEN 'de' THEN 300 ELSE 200 END"),

    // exact-substring sliding-window duplication: same md5 window hash
    "q_substring_dup" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id, text FROM documents" +
        " WHERE doc_id < 100)," +
        " t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t" +
        " FROM corpus)," +
        " w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+16], ' ')) AS h" +
        " FROM t, unnest(generate_series(0, len(t) - 16)) AS u(i))," +
        " c AS (SELECT h, count(*) AS cnt FROM w GROUP BY h)," +
        " a AS (SELECT doc_id, count(*) AS n_windows," +
        " sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dup" +
        " FROM w JOIN c USING (h) GROUP BY doc_id)" +
        " SELECT d.doc_id," +
        " CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT) AS n_tokens," +
        " CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows," +
        " CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_windows," +
        " (coalesce(a.n_dup, 0) > 0) AS has_dup" +
        " FROM corpus d LEFT JOIN a USING (doc_id)"),

    // exact per-stratum quantile: rank−1 ties decide identically in any
    // engine; selection is the integer cross-multiplied comparison
    "q_quality_quantile" ->
      (s"WITH s AS (SELECT doc_id, lang, round($qualityExprSql, 6) AS quality" +
        " FROM documents)" +
        " SELECT doc_id, lang, quality," +
        " CAST(rank() OVER (PARTITION BY lang ORDER BY quality) - 1 AS BIGINT)" +
        " AS cnt_below," +
        " CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n," +
        " ((rank() OVER (PARTITION BY lang ORDER BY quality) - 1) * 10000 >=" +
        " 5000 * count(*) OVER (PARTITION BY lang)) AS selected" +
        " FROM s"),

    // sketch-quantile contract: exact per-stratum n plus the GK rank
    // bound required to hold uniformly — the cutoff value itself is
    // merge-order-dependent and never surfaces
    "q_quantile_sketch" ->
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n, true AS within_bound" +
        " FROM documents GROUP BY lang"),

    // persisted histogram-sketch gate: the merged-store cutoff is
    // bit-reproducible (sum-merge), so the oracle re-derives the FULL
    // per-doc gate — bucket counts, cumulative cross-multiplied
    // boundary, lower-bound cutoff — not just a contract boolean
    "q_quantile_stream" ->
      (s"WITH s AS (SELECT doc_id, lang," +
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

    // quality tertiles: same exact rank machinery, two cross-multiplied
    // band cuts → CASE labels
    "q_quality_tertile" ->
      (s"WITH s AS (SELECT doc_id, lang, round($qualityExprSql, 6) AS quality" +
        " FROM documents)," +
        " r AS (SELECT doc_id, lang, quality," +
        " CAST(rank() OVER (PARTITION BY lang ORDER BY quality) - 1 AS BIGINT)" +
        " AS cnt_below," +
        " CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n FROM s)" +
        " SELECT doc_id, lang, quality, cnt_below, n," +
        " CASE WHEN cnt_below * 10000 < 3333 * n THEN 'tail'" +
        " WHEN cnt_below * 10000 < 6666 * n THEN 'middle'" +
        " ELSE 'head' END AS bucket FROM r"),

    // token-budget mixing: same MINSTD hash order, budget as CASE chain
    "q_mix_budget" ->
      ("WITH t AS (SELECT doc_id, lang AS domain," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens," +
        " ((doc_id + 11) % 2147483647) * 48271 % 2147483647 AS h" +
        " FROM documents)" +
        " SELECT doc_id, domain, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS cum_before," +
        " (sum(n_tokens) OVER w - n_tokens) <" +
        " (CASE domain WHEN 'en' THEN 1500 WHEN 'de' THEN 400" +
        " WHEN 'zh' THEN 300 ELSE 250 END) AS selected" +
        " FROM t WINDOW w AS (PARTITION BY domain ORDER BY h, doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    // re-derives the τ=1/2 budgets bit-for-bit (floor of the correctly-
    // rounded sqrt, BigInt-free because this SF stays in BIGINT range,
    // largest-remainder by (rem desc, domain)) and replays the mix window
    "q_mix_temperature" ->
      ("WITH t AS (SELECT doc_id, lang AS domain," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens," +
        " ((doc_id + 11) % 2147483647) * 48271 % 2147483647 AS h" +
        " FROM documents)," +
        " m AS (SELECT domain, CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)" +
        "   * 1000000)) AS BIGINT) AS w FROM t GROUP BY domain)," +
        " tot AS (SELECT sum(w) AS tw FROM m)," +
        " b AS (SELECT domain, (3000 * w) // tw AS base," +
        "   (3000 * w) % tw AS rem FROM m, tot)," +
        " lo AS (SELECT 3000 - sum(base) AS leftover FROM b)," +
        " bb AS (SELECT domain, base + CASE WHEN" +
        "   row_number() OVER (ORDER BY rem DESC, domain) <=" +
        "   (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS budget FROM b)" +
        " SELECT t.doc_id, t.domain, t.n_tokens," +
        " CAST(sum(t.n_tokens) OVER w - t.n_tokens AS BIGINT) AS cum_before," +
        " (sum(t.n_tokens) OVER w - t.n_tokens) < bb.budget AS selected" +
        " FROM t JOIN bb USING (domain)" +
        " WINDOW w AS (PARTITION BY t.domain ORDER BY t.h, t.doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    "q_cluster_keep_one" -> componentsOracleSql(
      "SELECT c.doc_id FROM corpus c WHERE c.doc_id NOT IN" +
        " (SELECT id FROM (SELECT id, min(lbl) AS component FROM walk" +
        " GROUP BY id) WHERE id <> component)"),

    // line-level boilerplate removal: same injection, per-line explode
    // with generate_series positions, integer cross-multiplied 1% doc-
    // share threshold, order-preserving string_agg reassembly
    "q_line_dedup" ->
      (s"WITH $lineStripCtes," +
        " nl AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM inj)" +
        " SELECT nl.doc_id, md5(coalesce(kept.text, '')) AS text_md5," +
        " CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept," +
        " CAST(nl.n_lines - coalesce(kept.n_kept, 0) AS BIGINT) AS n_dropped" +
        " FROM nl LEFT JOIN kept USING (doc_id)"),

    // consecutive duplicate-line collapse: same injection, kept lines =
    // run heads (i = 1 OR t[i] <> t[i-1]; t[0] is NULL in DuckDB so the
    // comparison is vacuously non-true and the i = 1 arm decides)
    "q_line_collapse" ->
      ("WITH inj AS (SELECT doc_id, text ||" +
        " repeat(chr(10) || 'repeat me', CAST(doc_id % 3 AS INT) + 1) ||" +
        " chr(10) || chr(10) || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR)" +
        " AS text FROM documents)," +
        " l AS (SELECT doc_id, i, t[i] AS line, len(t) AS n FROM" +
        " (SELECT doc_id, string_split(text, chr(10)) AS t FROM inj)," +
        " unnest(generate_series(1, len(t))) AS u(i)" +
        " WHERE i = 1 OR t[i] <> t[i-1])" +
        " SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5," +
        " CAST(max(n) - count(*) AS BIGINT) AS n_collapsed" +
        " FROM l GROUP BY doc_id"),

    // the composed CCNet-shape pipeline: boilerplate strip → bigram-LM
    // NLL over the CLEANED corpus (trained on its 80% slice) → per-
    // language quantile gate keeping the low-perplexity 70% head. The
    // one float column (neg mean NLL) is a single division of two
    // engine-exact integers — rank ties decide identically
    "q_pipeline_ccnet" ->
      (s"WITH $lineStripCtes," +
        " cln AS (SELECT i.doc_id, coalesce(k.text, '') AS text" +
        " FROM inj i LEFT JOIN kept k USING (doc_id))," +
        " tr AS (SELECT text FROM cln WHERE doc_id % 5 <> 0)," +
        " trtok AS (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM tr)," +
        " uni AS (SELECT tok, count(*) AS cu FROM trtok GROUP BY tok)," +
        " v AS (SELECT count(DISTINCT tok) AS v FROM trtok)," +
        " trbi AS (SELECT t[i] AS prev, t[i+1] AS cur, count(*) AS cb FROM" +
        " (SELECT string_split_regex(text, '\\s+') AS t FROM tr)," +
        " unnest(generate_series(1, len(t) - 1)) AS u(i) GROUP BY 1, 2)," +
        " dg AS (SELECT doc_id, t[i] AS prev, t[i+1] AS cur FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM cln)," +
        " unnest(generate_series(1, len(t) - 1)) AS u(i))," +
        " sc AS (SELECT doc_id, count(*) AS n_terms," +
        " sum(CAST(floor(log2(CAST(coalesce(uni.cu, 0) + (SELECT v FROM v) AS DOUBLE)" +
        " / CAST(coalesce(trbi.cb, 0) + 1 AS DOUBLE)) * 10000.0 + 1e-6) AS BIGINT)) AS nll_e4" +
        " FROM dg LEFT JOIN trbi USING (prev, cur)" +
        " LEFT JOIN uni ON uni.tok = dg.prev GROUP BY doc_id)," +
        " j AS (SELECT sc.doc_id, d.lang," +
        " -(CAST(sc.nll_e4 AS DOUBLE) / CAST(sc.n_terms AS DOUBLE)) AS neg_mean_nll" +
        " FROM sc JOIN documents d USING (doc_id))" +
        " SELECT doc_id, lang, neg_mean_nll, cnt_below, n," +
        " cnt_below * 10000 >= 3000 * n AS selected FROM" +
        " (SELECT doc_id, lang, neg_mean_nll," +
        " CAST(rank() OVER (PARTITION BY lang ORDER BY neg_mean_nll) AS BIGINT) - 1 AS cnt_below," +
        " count(*) OVER (PARTITION BY lang) AS n FROM j)"),

    // bigram-LM NLL: identical add-one-smoothed counts over the 80%
    // train slice; per-position floor(log2((c_u+V)/(c_b+1))*1e4 + 1e-6)
    // summed as integers — the nudge keeps power-of-two ratios (where
    // libm log2 legitimately differs an ulp across engines) off the
    // floor boundary
    "q_lm_perplexity" -> lmNllSql,

    // LM scoring against the PERSISTED model store: the stored counts
    // are the same derivation, so the oracle is identical — the query
    // proves the parquet roundtrip preserves the model exactly
    "q_lm_store" -> lmNllSql,

    // exact unlearning: retrained-on-train∖forget derivation
    "q_lm_unlearn" -> lmNllSqlFor(
      lmNllCtesFor("doc_id % 5 <> 0 AND NOT (doc_id % 6 = 1)")),

    // model-store pin (LM): pinned view re-derives from the even train
    // slice, head from the full train slice
    "q_lm_pin" ->
      ("SELECT *, 'pinned' AS probe_view FROM (" +
        lmNllSqlFor(
          lmNllCtesFor("doc_id % 5 <> 0 AND doc_id % 2 = 0")) +
        ") UNION ALL SELECT *, 'head' FROM (" + lmNllSql + ")"),

    // streaming LM scoring: slice → batch_id is structural (resumed
    // runs), so the oracle is the per-slice restriction of the same
    // derivation stamped with its batch id
    "q_lm_stream" ->
      (s"WITH $lmNllCtes," +
        " scored AS (SELECT d.doc_id," +
        " CAST(coalesce(sc.n_terms, 0) AS BIGINT) AS n_terms," +
        " CAST(coalesce(sc.nll_e4, 0) AS BIGINT) AS nll_e4" +
        " FROM documents d LEFT JOIN sc USING (doc_id))" +
        " SELECT CAST(0 AS BIGINT) AS batch_id, doc_id, n_terms, nll_e4" +
        " FROM scored WHERE doc_id % 10 = 1" +
        " UNION ALL" +
        " SELECT CAST(1 AS BIGINT) AS batch_id, doc_id, n_terms, nll_e4" +
        " FROM scored WHERE doc_id % 10 = 6"),

    // NFC canonicalization: same decomposed plant via chr() code points,
    // DuckDB's utf8proc NFC vs the JDK Normalizer — both implement the
    // Unicode canonical composition algorithm
    "q_normalize_text" ->
      ("WITH inj AS (SELECT doc_id, text || ' cafe' || chr(769) ||" +
        " ' nai' || chr(776) || 've A' || chr(778) || 'ngstro' ||" +
        " chr(776) || 'm' AS text FROM documents)" +
        " SELECT doc_id, CAST(length(text) AS BIGINT) AS n_raw," +
        " CAST(length(nfc_normalize(text)) AS BIGINT) AS n_nfc," +
        " md5(nfc_normalize(text)) AS text_md5 FROM inj"),

    // priority keep-one: same recursive-CTE components; winner per
    // component = lowest (priority, id) via QUALIFY row_number
    "q_priority_keep_one" -> componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)," +
        " pr AS (SELECT c.doc_id, c.doc_id % 3 AS prio, comp.component" +
        " FROM corpus c JOIN comp ON comp.id = c.doc_id)," +
        " losers AS (SELECT doc_id FROM pr QUALIFY" +
        " row_number() OVER (PARTITION BY component ORDER BY prio, doc_id) > 1)" +
        " SELECT c.doc_id FROM corpus c" +
        " WHERE c.doc_id NOT IN (SELECT doc_id FROM losers)"),

    // leakage-free split: recursive-CTE components + the same MINSTD
    // hash-of-component stream as the sampling oracles
    "q_leakage_split" -> componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)" +
        " SELECT c.doc_id," +
        " CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component," +
        " CASE WHEN ((coalesce(comp.component, c.doc_id) + 23) % 2147483647)" +
        " * 48271 % 2147483647 % 10000 < 2000 THEN 'test' ELSE 'train' END AS split" +
        " FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id"),

    // three-way split: same hash, two thresholds
    "q_leakage_split3" -> componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)," +
        " hh AS (SELECT c.doc_id," +
        " CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component," +
        " ((coalesce(comp.component, c.doc_id) + 23) % 2147483647)" +
        " * 48271 % 2147483647 % 10000 AS h" +
        " FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id)" +
        " SELECT doc_id, component," +
        " CASE WHEN h < 2000 THEN 'test' WHEN h < 3000 THEN 'val'" +
        " ELSE 'train' END AS split FROM hh"),

    // sharded export manifest: same MINSTD shard arithmetic, aggregated
    // straight from the documents table (the write is content-preserving,
    // so the readback manifest equals the source-side derivation)
    "q_export_shards" ->
      ("SELECT ((doc_id + 17) % 2147483647) * 48271 % 2147483647 % 8 AS shard," +
        " count(*) AS n_docs," +
        " CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens," +
        " min(doc_id) AS min_id, max(doc_id) AS max_id" +
        " FROM documents GROUP BY 1"),

    // inverted index: same (token, doc) tf aggregate, window cap at 5,
    // ordered list aggregates for the aligned posting arrays
    "q_postings" ->
      ("WITH tf AS (SELECT token, doc_id, count(*) AS tf FROM" +
        " (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token" +
        " FROM documents) GROUP BY token, doc_id)," +
        " capped AS (SELECT token, doc_id, tf," +
        " row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn," +
        " count(*) OVER (PARTITION BY token) AS n_docs FROM tf)" +
        " SELECT token, CAST(max(n_docs) AS BIGINT) AS n_docs," +
        " string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS post_ids," +
        " string_agg(CAST(tf AS VARCHAR), ',' ORDER BY doc_id) AS post_tfs" +
        " FROM capped WHERE rn <= 5 GROUP BY token"),

    // phrase search: starts re-derived per doc from the token array
    // (1-based DuckDB list indices → the engine's 0-based positions)
    "q_phrase_search" -> phraseSearchSql,

    // incremental-store phrase search: the store covers the full corpus
    // (base slice + appended slice), so the full-corpus derivation IS
    // the oracle — identical output proves append ≡ rebuild
    "q_postings_incr" -> phraseSearchSql,

    // takedown: serving over the tombstoned store must equal an index
    // that never saw doc_id % 7 = 2 — the oracle re-derives over the
    // live slice only; the GC query (physical purge + cleared set) has
    // the identical contract
    "q_phrase_delete" ->
      phraseSearchSqlFor("(SELECT * FROM documents WHERE doc_id % 7 <> 2)"),
    "q_postings_gc" ->
      phraseSearchSqlFor("(SELECT * FROM documents WHERE doc_id % 7 <> 2)"),

    // streaming takedown: both drained DELETE slices gone from serving
    "q_takedown_stream" ->
      phraseSearchSqlFor(
        "(SELECT * FROM documents WHERE doc_id % 9 NOT IN (4, 7))"),

    // streaming unlearn: identical derivations to the batch unlearn
    // queries — the forget-log protocol must land on the same model
    "q_nb_unlearn_stream" -> nbClassifySqlFor(
      nbCtesFor("doc_id % 5 <> 0 AND NOT (doc_id % 6 = 1)")),
    "q_lm_unlearn_stream" -> lmNllSqlFor(
      lmNllCtesFor("doc_id % 5 <> 0 AND NOT (doc_id % 6 = 1)")),

    // BM25 after takedown: N, avgdl and every df recomputed over the
    // live slice — deleted docs leave the corpus statistics, not just
    // the result set
    "q_bm25_delete" ->
      bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 7 <> 2)"),

    // store fsck: closed-form expected findings — each planted
    // corruption counted exactly (the double-append contributes one
    // duplicate group per posting row of doc 0, i.e. its token count),
    // and the healthy ANN store audits to zeros
    "q_store_fsck" ->
      ("SELECT 'postings_without_doclens' AS check_name," +
        " CAST(1 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'doclens_without_postings', 1" +
        " UNION ALL SELECT 'duplicate_postings'," +
        " (SELECT CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)" +
        " FROM documents WHERE doc_id = 0)" +
        " UNION ALL SELECT 'duplicate_doclens', 1" +
        " UNION ALL SELECT 'negative_positions', 1" +
        " UNION ALL SELECT 'tombstones_of_absent_ids', 1" +
        " UNION ALL SELECT 'orphan_compact_tmp_dirs', 1" +
        " UNION ALL SELECT 'orphan_backup_dirs', 1" +
        " UNION ALL SELECT 'ann_cells_with_unknown_centroid', 0" +
        " UNION ALL SELECT 'ann_vectors_in_multiple_cells', 0" +
        " UNION ALL SELECT 'ann_duplicate_cell_rows', 0" +
        " UNION ALL SELECT 'batch_mixed_flat_and_batch_layout', 1" +
        " UNION ALL SELECT 'batch_invalid_batch_subdirs', 1" +
        " UNION ALL SELECT 'batch_torn_batch_appends', 1" +
        " UNION ALL SELECT 'flat_mixed_flat_and_batch_layout', 0" +
        " UNION ALL SELECT 'flat_invalid_batch_subdirs', 0" +
        " UNION ALL SELECT 'flat_torn_batch_appends', 0"),

    // generation-protocol fsck: one planted instance of each documented
    // crash/sweep shape — counts are closed-form by construction
    "q_store_fsck_versioned" ->
      ("SELECT 'incomplete_generations' AS check_name," +
        " CAST(2 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'orphan_pointer_tmps', 1" +
        " UNION ALL SELECT 'unreferenced_complete_generations', 2" +
        " UNION ALL SELECT 'missing_pointer_with_generations', 0" +
        " UNION ALL SELECT 'corrupt_pointer', 0" +
        " UNION ALL SELECT 'pointer_to_missing_generation', 0" +
        " UNION ALL SELECT 'superseded_flat_dirs', 1" +
        " UNION ALL SELECT 'empty_complete_generations', 1" +
        " UNION ALL SELECT 'stale_reservations', 1" +
        " UNION ALL SELECT 'superseded_pointer_markers', 0" +
        " UNION ALL SELECT 'expired_pin_files', 1" +
        " UNION ALL SELECT 'live_pin_files', 1"),

    // model/signature/partial-store fsck: healthy stores audit to
    // all-zero findings — the closed-form operational baseline
    "q_store_fsck_models" ->
      (Seq("nb_nonpositive_counts", "nb_nonpositive_class_rows",
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

    // serving-state fsck: the injected hazards are exact (5 re-appended
    // events, one tmp dir, two stranded generations); the only
    // data-dependent finding — how many WINDOWS the re-appended slice
    // spans — re-derives from the envelope itself
    "q_store_fsck_log" ->
      (s"$ENV SELECT 'log_orphan_compact_tmp' AS check_name," +
        " CAST(1 AS BIGINT) AS n_bad" +
        " UNION ALL SELECT 'log_orphan_compact_backup', 0" +
        " UNION ALL SELECT 'log_missing_with_backup', 0" +
        " UNION ALL SELECT 'log_duplicate_log_events', 5" +
        " UNION ALL SELECT 'log_windows_split_across_files'," +
        " (SELECT CAST(count(DISTINCT scn) AS BIGINT) FROM" +
        " (SELECT scn FROM envelope ORDER BY scn, seq LIMIT 5))" +
        " UNION ALL SELECT 'state_orphan_next_generations', 1" +
        " UNION ALL SELECT 'state_orphan_old_generations', 1" +
        " UNION ALL SELECT 'state_snapshot_missing_with_generations', 0" +
        " UNION ALL SELECT 'state_duplicate_snapshot_keys', 0" +
        " UNION ALL SELECT 'state_delete_rows_in_snapshot', 0"),

    // snapshot-pinned serving: the as-of-batch-1 state is exactly the
    // docs batches 0 and 1 carried (doc_id % 3 <> 2) — BM25 statistics
    // included
    "q_postings_asof" ->
      bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 3 <> 2)"),

    // unified (gen, maxBatch) pin on the postings store: q_postings_asof's
    // snapshot contract holding across a later append AND a later
    // compaction-publish — pinned scores derive from the two pinned
    // batches' slice, head from the full corpus
    "q_retrieval_pin" ->
      ("SELECT *, 'pinned' AS probe_view FROM (" +
        bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 3 <> 2)") +
        ") UNION ALL SELECT *, 'head' FROM (" + bm25TopKSql + ")"),

    // versioned index: the current generation is the full corpus, the
    // pinned generation 1 the doc_id-even half; each BM25 re-derives
    // from its slice (the crashed generation 9 must contribute nothing)
    "q_bm25_versioned" ->
      (s"SELECT *, CAST(2 AS BIGINT) AS gen FROM (${bm25TopKSqlFor(
        "documents")})" +
        s" UNION ALL SELECT *, CAST(1 AS BIGINT) AS gen FROM (${
          bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 2 = 0)")})"),

    // versioned takedown: the erased ids (doc_id % 7 = 2) leave BOTH
    // generations' serving — current re-derives from the full live
    // slice, the pinned generation from its even-id live slice (the
    // overlay applies to pinned reads; erasure wins over time travel)
    "q_takedown_versioned" ->
      (s"SELECT *, CAST(2 AS BIGINT) AS gen FROM (${bm25TopKSqlFor(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 2)")})" +
        s" UNION ALL SELECT *, CAST(1 AS BIGINT) AS gen FROM (${
          bm25TopKSqlFor(
            "(SELECT * FROM documents WHERE doc_id % 2 = 0" +
              " AND doc_id % 7 <> 2)")})"),

    // composed takedown pipeline: the live slice is "every doc the
    // attribution audit did NOT name" — same shingle/leak_bp derivation
    // as the q_contamination_report oracle, inlined as the purge
    // predicate, then the full BM25 re-derivation over what remains
    "q_pipeline_takedown" -> bm25TopKSqlFor(
      "(SELECT * FROM documents WHERE doc_id NOT IN (" +
        "WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " tg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh)," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " p AS (SELECT train_id, eval_id, CAST(count(*) AS BIGINT)" +
        " AS n_shared FROM tg JOIN eg USING (g) GROUP BY 1, 2)" +
        " SELECT DISTINCT train_id FROM p JOIN es USING (eval_id)" +
        " WHERE train_id >= 50 AND n_shared * 10000 // eval_grams >= 1000))"),

    // CDC stream: every doc upserted across the two batches minus the
    // DELETE-opcode takedowns — serving must equal an index over the
    // net surviving set
    "q_index_cdc_stream" ->
      phraseSearchSqlFor("(SELECT * FROM documents WHERE doc_id % 8 <> 0)"),

    // compaction is row-identical by construction — the same oracle
    // proves serving over the compacted store
    "q_postings_compact" -> phraseSearchSql,

    // hybrid RRF: both rankings re-derived (BM25 top-20 via the shared
    // scoring SQL; brute cosine top-20 for query vector 0), fused with
    // the same integer floor(1e8/(60+rank)) contributions
    "q_hybrid_rrf" ->
      (s"WITH bm AS ($bm25TopKSql), $rrfScoredCtes" +
        " SELECT doc_id, rrf_e8, rank FROM" +
        " (SELECT doc_id, rrf_e8, CAST(row_number() OVER" +
        " (ORDER BY rrf_e8 DESC, doc_id) AS BIGINT) AS rank FROM sc)" +
        " WHERE rank <= 10"),

    // store-served hybrid: the lexical leg is the same BM25 top-20 (the
    // index path is bit-identical by contract), the semantic leg is the
    // planted rank-1 twin of each query id < 15 ranked by query id —
    // fusion algebra identical to q_hybrid_rrf
    "q_hybrid_rrf_store" ->
      (s"WITH bm AS ($bm25TopKSql)," +
        " ann AS (SELECT vec_id + 1000000 AS doc_id," +
        " CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS rank" +
        " FROM embeddings WHERE vec_id < 15)," +
        " u AS (SELECT doc_id, 100000000 // (60 + rank) AS contrib FROM bm" +
        " UNION ALL SELECT doc_id, 100000000 // (60 + rank) FROM ann)," +
        " sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_e8" +
        " FROM u GROUP BY 1)" +
        " SELECT doc_id, rrf_e8, rank FROM" +
        " (SELECT doc_id, rrf_e8, CAST(row_number() OVER" +
        " (ORDER BY rrf_e8 DESC, doc_id) AS BIGINT) AS rank FROM sc)" +
        " WHERE rank <= 10"),

    // batch suite: union of per-phrase derivations tagged by phrase id
    // (single-token phrase 2 matches every doc containing the token)
    "q_phrase_batch" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h0 AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)," +
        " h1 AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'the' AND tk[i+1] = 'data') AS st FROM t)," +
        " h2 AS (SELECT doc_id, list_filter(generate_series(1, len(tk))," +
        " i -> tk[i] = 'spark') AS st FROM t)" +
        " SELECT CAST(0 AS BIGINT) AS phrase_id, doc_id," +
        " CAST(len(st) AS BIGINT) AS n_hits," +
        " CAST(st[1] - 1 AS BIGINT) AS first_pos FROM h0 WHERE len(st) > 0" +
        " UNION ALL SELECT CAST(1 AS BIGINT), doc_id," +
        " CAST(len(st) AS BIGINT), CAST(st[1] - 1 AS BIGINT)" +
        " FROM h1 WHERE len(st) > 0" +
        " UNION ALL SELECT CAST(2 AS BIGINT), doc_id," +
        " CAST(len(st) AS BIGINT), CAST(st[1] - 1 AS BIGINT)" +
        " FROM h2 WHERE len(st) > 0"),

    // streaming phrase audit: hits restricted to the streamed slices,
    // attributed to the batch that delivered the doc
    "q_phrase_stream" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents WHERE doc_id % 10 IN (3, 8))," +
        " h AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)" +
        " SELECT CAST(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE 1 END AS BIGINT)" +
        " AS batch_id, doc_id, CAST(len(st) AS BIGINT) AS n_hits," +
        " CAST(st[1] - 1 AS BIGINT) AS first_pos" +
        " FROM h WHERE len(st) > 0"),

    // proximity: every 1-based start whose 6-token slice contains both
    // terms (list slicing clamps at the doc edge exactly like the
    // engine's vote clamp)
    "q_proximity_search" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h AS (SELECT doc_id, list_filter(generate_series(1, len(tk))," +
        " i -> len(list_filter(tk[i:i+5], x -> x = 'spark')) > 0" +
        " AND len(list_filter(tk[i:i+5], x -> x = 'table')) > 0) AS st" +
        " FROM t)" +
        " SELECT doc_id, CAST(len(st) AS BIGINT) AS n_windows," +
        " CAST(st[1] - 1 AS BIGINT) AS first_start" +
        " FROM h WHERE len(st) > 0"),

    // KWIC: the same hit derivation, then a 1-based clamped list slice
    // (engine start0 = max(first_pos-3, 0) 0-based → +1 here)
    "q_kwic_snippets" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h AS (SELECT doc_id, tk, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)," +
        " f AS (SELECT doc_id, tk, CAST(st[1] - 1 AS BIGINT) AS first_pos" +
        " FROM h WHERE len(st) > 0)" +
        " SELECT doc_id, first_pos," +
        " array_to_string(tk[CAST(greatest(first_pos - 3, 0) + 1 AS BIGINT):" +
        "CAST(least(first_pos + 2 + 3, len(tk)) AS BIGINT)], ' ') AS snippet" +
        " FROM f"),

    // proximity KWIC: the proximity hit derivation, then the same
    // 1-based clamped list slice with span 6 (engine start0 =
    // max(first_start-3, 0) 0-based → +1 here; end = first_start+6+3)
    "q_kwic_proximity" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h AS (SELECT doc_id, tk, list_filter(generate_series(1, len(tk))," +
        " i -> len(list_filter(tk[i:i+5], x -> x = 'spark')) > 0" +
        " AND len(list_filter(tk[i:i+5], x -> x = 'table')) > 0) AS st" +
        " FROM t)," +
        " f AS (SELECT doc_id, tk, CAST(st[1] - 1 AS BIGINT) AS first_start" +
        " FROM h WHERE len(st) > 0)" +
        " SELECT doc_id, first_start," +
        " array_to_string(tk[CAST(greatest(first_start - 3, 0) + 1 AS BIGINT):" +
        "CAST(least(first_start + 6 + 3, len(tk)) AS BIGINT)], ' ') AS snippet" +
        " FROM f"),

    // char entropy: per-char counts via unnest + group-by (set-based
    // re-derivation of the sorted-run fold), same identity and nudge
    "q_char_entropy" ->
      ("WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c" +
        " FROM documents)," +
        " cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2)," +
        " nn AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY 1)," +
        " sx AS (SELECT doc_id, sum(CAST(cnt AS DOUBLE)" +
        " * log2(CAST(cnt AS DOUBLE))) AS x FROM cc GROUP BY doc_id)" +
        " SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars," +
        " CAST(coalesce(CAST(floor((log2(CAST(nn.n AS DOUBLE))" +
        " - sx.x / CAST(nn.n AS DOUBLE)) * 10000.0 + 1e-6) AS BIGINT), 0)" +
        " AS BIGINT) AS entropy_e4" +
        " FROM documents d LEFT JOIN nn USING (doc_id)" +
        " LEFT JOIN sx USING (doc_id)"),

    // BM25: identical parenthesization per factor; df/N/avgdl from one
    // scalar row; per-term floor(score*1e4 + 1e-6) summed as integers
    "q_bm25" -> bm25Sql,

    // BM25 top-k: same scoring, global (score desc, id) rank capped at 20
    "q_bm25_topk" -> bm25TopKSql,

    // index-served BM25 is bit-identical to the scan path by contract —
    // same oracle proves it (tf/df/dl from the store, not the text)
    "q_bm25_index" -> bm25TopKSql,

    // batch serving: per-query full scoring re-derived and ranked,
    // tagged with the query id — the union is the batch
    "q_bm25_multi" -> {
      def one(qid: Int, terms: Seq[String]): String =
        s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, dl, score_e4, rank" +
          s" FROM (SELECT doc_id, dl, score_e4," +
          " CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rank" +
          s" FROM (${bm25SqlFor(terms)})) WHERE rank <= 10"
      one(0, Seq("the", "of", "data")) + " UNION ALL " +
        one(1, Seq("table", "value"))
    },

    "q_ann_brute" -> annBruteSql,

    "q_embed_norms" ->
      ("SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim," +
        " round(sqrt(list_sum(list_transform(embedding," +
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm FROM embeddings"),

    "q_synthetic_feed" ->
      ("SELECT CAST((seq * 2654435761) % 5 + 1 AS INT) AS source_id," +
        " count(*) AS n," +
        " CAST(sum(CASE WHEN (seq * 31) % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " max((seq * 1103515245 + 12345) % 1000) AS max_key" +
        " FROM range(0, 10000) t(seq) GROUP BY 1"),

    "q_capture_txlog" ->
      ("SELECT l_orderkey AS txn, o_orderkey * 10 AS scn, l_partkey, l_quantity" +
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
        " WHERE o_orderkey * 10 > 100000"),

    "q_capture_jdbc" ->
      ("SELECT l_orderkey AS txn, o_orderkey * 10 AS scn, l_partkey, l_quantity" +
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
        " WHERE o_orderkey * 10 > 100000 AND o_orderkey % 20 = 0"),

    "q_capture_jdbc_stream" ->
      ("SELECT l_orderkey AS txn, o_orderkey * 10 AS scn, l_partkey, l_quantity" +
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
        " WHERE o_orderkey * 10 > 100000 AND o_orderkey % 20 = 0"),

    "q_capture_band" ->
      s"$ENV SELECT * FROM envelope WHERE scn > 300 AND scn <= 700",

    "q_gzip_roundtrip" ->
      ("SELECT source_id, count(*) AS n_rows," +
        " count(props) AS n_nonnull, count(props) AS n_match" +
        " FROM (SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2" +
        " WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'error' THEN 5" +
        " ELSE -1 END AS source_id, props FROM events) b GROUP BY source_id"),

    "q_compact_log" ->
      (s"$ENV SELECT source_id, count(*) AS n_events, min(scn) AS min_scn," +
        " max(scn) AS max_scn, CAST(sum(key_long) AS BIGINT) AS sum_keys" +
        " FROM envelope WHERE scn < 3000 GROUP BY source_id"),

    "q_relay_source" ->
      (s"$ENV SELECT source_id, count(*) AS n_events, min(scn) AS min_scn," +
        " max(scn) AS max_scn, CAST(sum(key_long) AS BIGINT) AS sum_keys" +
        " FROM envelope WHERE scn > 300 GROUP BY source_id"),

    "q_salted_distinct" ->
      (s"$ENV SELECT source_id, count(DISTINCT key_long) AS distinct_count" +
        " FROM envelope GROUP BY source_id"),

    "q_windowed_stats" ->
      (s"$ENV SELECT (ts_us // 60000000) * 60000000 AS win_start_us," +
        " source_id, count(*) AS n_events," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " min(scn) AS min_scn, max(scn) AS max_scn" +
        " FROM envelope GROUP BY 1, 2"),

    "q_ggtrail_parse" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " count(DISTINCT key_long) AS n_keys," +
        " min(scn) AS min_scn, max(scn) AS max_scn" +
        " FROM envelope GROUP BY source_id"),

    "q_ggtrail_stream" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " count(DISTINCT key_long) AS n_keys," +
        " min(scn) AS min_scn, max(scn) AS max_scn" +
        " FROM envelope GROUP BY source_id"),

    // P16: every CRC validates, so per-type valid counts = raw counts
    "q_crc_integrity" ->
      "SELECT event_type, count(*) AS n_valid FROM events GROUP BY event_type",

    "q_dtail_event_info" ->
      (s"$ENV SELECT 'scn:' || scn || ' seq:' || seq || ' ts_us:' || ts_us" +
        " || ' src:' || source_id || ' part:' || partition_id" +
        " || ' op:' || opcode || ' key:' || key_long AS line FROM envelope"),

    "q_dtail_json" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(seq) AS BIGINT) AS sum_seq," +
        " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(ts_us) AS max_ts_us," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes" +
        " FROM envelope GROUP BY source_id"),

    "q_dtail_avro_bin" ->
      ("SELECT event_type, count(*) AS n_events," +
        " CAST(sum(event_id) AS BIGINT) AS sum_ids," +
        " CAST(sum(user_id) AS BIGINT) AS sum_keys," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c" +
        " FROM events GROUP BY event_type"),

    // P17: FNV-1a 64 recomputed with independent HUGEINT modular
    // arithmetic (offset 14695981039346656037 = 0xcbf29ce484222325,
    // prime 1099511628211 = 0x100000001b3, mod 2^64, two's-complement map)
    "q_fnv_parity" ->
      ("WITH RECURSIVE t AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1)," +
        " f AS (SELECT event_type, 1 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM t" +
        " UNION ALL SELECT event_type, i + 1," +
        " ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), unicode(event_type[i]))) * 1099511628211)" +
        " % 18446744073709551616 FROM f WHERE i <= length(event_type))" +
        " SELECT t.event_type, t.n_events," +
        " CAST(CASE WHEN fh.h >= 9223372036854775808 THEN fh.h - 18446744073709551616" +
        " ELSE fh.h END AS BIGINT) AS fnv FROM t" +
        " JOIN (SELECT event_type, h FROM f WHERE i = length(event_type) + 1) fh USING (event_type)"),

    "q_checkpoint_store" ->
      (s"$ENV SELECT CAST(partition_id AS INT) AS partition_id," +
        " 'ONLINE_CONSUMPTION' AS mode, max(scn) AS window_scn," +
        " min(scn) AS prev_scn, CAST(-1 AS BIGINT) AS window_offset," +
        " (SELECT CAST(min(p2.partition_id) AS INT) FROM envelope p2" +
        "  WHERE p2.partition_id > (SELECT min(p3.partition_id) FROM envelope p3))" +
        " AS next_cursor FROM envelope GROUP BY partition_id"),

    "q_scn_regress" ->
      (s"$ENV SELECT 1 AS ord, 'checkpoint' AS kind," +
        " (SELECT max(scn) FROM envelope WHERE scn >= 500 AND scn < 2000) AS scn" +
        " UNION ALL SELECT 2, 'rollback'," +
        " (SELECT min(scn) FROM envelope WHERE scn < 500)" +
        " UNION ALL SELECT 3, 'checkpoint'," +
        " (SELECT max(scn) FROM envelope WHERE scn < 500)"),

    "q_file_log_consumer" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(seq) AS BIGINT) AS sum_seq," +
        " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(scn) AS min_scn, max(scn) AS max_scn" +
        " FROM envelope GROUP BY source_id"),

    "q_falloff_bootstrap" ->
      (s"$ENV SELECT *," +
        " (SELECT max(scn) FROM envelope WHERE scn >= 300 AND scn < 5000) AS resume_scn FROM" +
        " (SELECT * FROM envelope WHERE scn >= 300 AND scn < 5000 QUALIFY" +
        " row_number() OVER (PARTITION BY key_long ORDER BY scn DESC, seq DESC) = 1)" +
        " WHERE opcode <> 'DELETE'"),

    "q_engine_facade" ->
      (s"$ENV SELECT (SELECT count(*) FROM envelope WHERE scn > 500) AS n_after_cp," +
        " CAST((SELECT sum(key_long) FROM envelope WHERE scn > 500) AS BIGINT) AS sum_keys_after," +
        " (SELECT min(scn) FROM envelope) AS min_scn," +
        " (SELECT max(scn) FROM envelope) AS max_scn," +
        " (SELECT max(scn) FROM envelope) AS target_scn," +
        " 5 AS n_sources"),

    "q_binlog_parse" -> binlogParseSql,

    // streaming assembly is lossless → same derivation
    "q_binlog_stream" -> binlogParseSql,

    "q_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)," +
        " b AS (SELECT doc_id, toks," +
        " list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg FROM t)" +
        " SELECT doc_id," +
        " round(CASE WHEN len(toks) = 0 THEN 0.0" +
        "  ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6) AS dup_token_frac," +
        " round(CASE WHEN len(toks) < 2 THEN 0.0" +
        "  ELSE CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)" +
        "   / (len(toks) - 1) END, 6) AS top_bigram_frac FROM b"),

    "q_dtail_avro_json" ->
      ("SELECT event_type, count(*) AS n_events," +
        " CAST(sum(event_id) AS BIGINT) AS sum_ids," +
        " CAST(sum(user_id) AS BIGINT) AS sum_keys," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c" +
        " FROM events GROUP BY event_type"),

    "q_chained_relay" ->
      (s"$ENV SELECT source_id, count(*) AS n_events, min(scn) AS min_scn," +
        " max(scn) AS max_scn, CAST(sum(key_long) AS BIGINT) AS sum_keys" +
        " FROM envelope WHERE scn > 300 GROUP BY source_id"),

    "q_dispatch_order" ->
      (s"$ENV SELECT partition_id, scn, seq," +
        " CAST(row_number() OVER (PARTITION BY partition_id ORDER BY scn, seq) AS BIGINT) AS delivery_idx" +
        " FROM envelope"),

    "q_decode_digest" ->
      ("SELECT event_type, count(*) AS n," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(event_id) AS max_id FROM events GROUP BY event_type"),

    "q_decode_generic" ->
      ("SELECT o.o_orderkey, (o.o_totalprice > 150000.0) AS o_urgent," +
        " CAST(o.o_orderkey % 97 AS INTEGER) AS o_bucket," +
        " CAST(floor(CAST(CAST(o.o_totalprice / 1000.0 AS REAL) AS DOUBLE) * 10000) AS BIGINT) AS o_rate_e4," +
        " CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c," +
        " o.o_orderstatus || '|' || o.o_orderpriority AS o_blob_text," +
        " CASE WHEN o.o_orderkey % 7 = 0 THEN NULL ELSE o.o_orderpriority END AS o_clob," +
        " epoch_ms(o.o_orderdate) AS o_date_ms," +
        " l.l_linenumber, l.l_quantity, l.l_returnflag" +
        " FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey" +
        " WHERE o.o_orderkey % 5 = 0"),

    "q_to_v1" ->
      (s"$ENV SELECT scn, seq, ts_us // 1000 AS ts_ms, source_id," +
        " partition_id, opcode, key_long, value FROM envelope"),

    "q_bootstrap_scns" ->
      (s"$ENV SELECT min(scn) AS start_scn, max(scn) AS target_scn" +
        " FROM envelope"),

    "q_clean_log" ->
      (s"$ENV SELECT scn AS windowscn, seq, ts_us, source_id, partition_id," +
        " opcode, key_long, value FROM envelope WHERE scn >= 500"),

    "q_snapshot_diff" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus," +
        " CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders)," +
        " b AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0)," +
        " a AS (SELECT o_orderkey, o_custkey," +
        " CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus," +
        " CASE WHEN o_orderkey % 3 = 0 THEN price_c + 1000 ELSE price_c END AS price_c" +
        " FROM base WHERE o_orderkey % 7 <> 0)" +
        " SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey," +
        " CASE WHEN a.o_orderkey IS NULL THEN 'DELETE' ELSE 'UPSERT' END AS opcode," +
        " CASE WHEN a.o_orderkey IS NULL THEN b.o_custkey ELSE a.o_custkey END AS o_custkey," +
        " CASE WHEN a.o_orderkey IS NULL THEN b.o_orderstatus ELSE a.o_orderstatus END AS o_orderstatus," +
        " CASE WHEN a.o_orderkey IS NULL THEN b.price_c ELSE a.price_c END AS price_c" +
        " FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey" +
        " WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL" +
        " OR a.o_custkey IS DISTINCT FROM b.o_custkey" +
        " OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus" +
        " OR a.price_c IS DISTINCT FROM b.price_c"),

    "q_avro_bootstrap" ->
      (s"$ENV SELECT count(*) AS n_rows, min(seq) AS min_id," +
        " max(seq) AS max_id, CAST(sum(key_long) AS BIGINT) AS sum_srckey" +
        " FROM envelope"),

    "q_route_partitions" ->
      (s"$ENV SELECT CAST(abs(key_long) % 8 AS INT) AS route," +
        " count(*) AS n, count(DISTINCT key_long) AS n_keys" +
        " FROM envelope GROUP BY 1"),

    "q_rate_observed" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " round(count(*) * 1000000.0 / (max(ts_us) - min(ts_us)), 4) AS events_per_sec" +
        " FROM envelope GROUP BY source_id"),

    "q_dbusv2_roundtrip" ->
      (s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " min(scn) AS min_scn, max(scn) AS max_scn," +
        " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(seq) AS min_seq, max(seq) AS max_seq," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(ts_us) AS max_ts_us FROM envelope GROUP BY source_id"),

    "q_dbusv2_corruption" ->
      (s"$ENV SELECT CASE WHEN seq % 17 = 0 THEN 'header_crc'" +
        " WHEN seq % 13 = 0 THEN 'body_crc' ELSE 'ok' END AS err," +
        " count(*) AS n FROM envelope GROUP BY 1"),

    "q_multimodal_meta" ->
      ("SELECT doc_id," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 0 ELSE CAST(doc_id % 64 + 16 AS INT) END AS width," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 0 ELSE CAST((doc_id * 7) % 64 + 16 AS INT) END AS height," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE CAST((doc_id * 13) % 30 + 1 AS INT) END AS n_frames," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN CAST(16000 + (doc_id * 13) % 30 + 1 AS INT) ELSE 0 END AS sample_rate," +
        // image/audio fixture: 8-byte header + f*8 body; video: a real
        // Y4M container — 38-byte header (dims are always 2 digits:
        // 16..79) + f frames of 'FRAME\n' + w*h mono luma bytes
        " CASE WHEN doc_id % 3 = 2 THEN" +
        " CAST(38 + ((doc_id * 13) % 30 + 1)" +
        "   * (6 + (doc_id % 64 + 16) * ((doc_id * 7) % 64 + 16)) AS BIGINT)" +
        " ELSE CAST(8 + ((doc_id * 13) % 30 + 1) * 8 AS BIGINT) END AS n_bytes" +
        " FROM documents"),

    "q_frame_sample" -> frameSampleSql,

    "q_resize_plan" -> resizePlanSql,

    // Re-derives what the real codec must report: the encoder sizes the
    // image from the doc id (w = id%64+16, h = id*7%64+16) and alternates
    // PNG/JPEG by parity; ImageIO decode of TYPE_3BYTE_BGR yields 3 bands
    // for both containers. A codec that misreads dims/format breaks the
    // hash.
    "q_image_decode" ->
      ("SELECT doc_id," +
        " CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt," +
        " CAST(doc_id % 64 + 16 AS INT) AS width," +
        " CAST((doc_id * 7) % 64 + 16 AS INT) AS height," +
        " CAST(3 AS INT) AS channels" +
        " FROM documents"),

    // re-derives what the RIFF parse must report: the encoder derives
    // rate/frames from the id, mono 16-bit PCM, and a canonical WAVE
    // render is a 44-byte header + 2 bytes/frame
    "q_audio_decode" ->
      ("SELECT doc_id," +
        " CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate," +
        " CAST((doc_id * 13) % 300 + 50 AS BIGINT) AS n_frames," +
        " CAST(1 AS INT) AS channels," +
        " CAST(44 + ((doc_id * 13) % 300 + 50) * 2 AS BIGINT) AS n_bytes" +
        " FROM documents"),

    // the materialized resize must land on the plan's integer-exact
    // scale-to-fit dims — re-derived here from the id arithmetic the
    // encoder sized the source images with
    "q_image_resize" ->
      ("WITH m AS (SELECT doc_id, CAST(doc_id % 64 + 16 AS INT) AS w," +
        " CAST((doc_id * 7) % 64 + 16 AS INT) AS h FROM documents)" +
        " SELECT doc_id," +
        " CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((w * 48) // greatest(w, h) AS INT) ELSE w END AS width," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((h * 48) // greatest(w, h) AS INT) ELSE h END AS height," +
        " CAST(3 AS INT) AS channels FROM m"),

    // recall contract: every planted resized derivative is recovered by
    // dHash + chunk-blocked hamming (see the query comment for why the
    // projection is recall-shaped and the corpus envelope-bounded)
    "q_image_neardup" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents" +
        " WHERE doc_id < 2000"),

    // incremental store path: identical recall contract — every batch
    // derivative pairs with its stored original through the store scan
    "q_image_incr" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents" +
        " WHERE doc_id < 2000"),

    // identical payloads → identical feature vectors → cosine 1.0 in
    // every hyperplane table; the feature corpus has no natural ≥0.99
    // pair (empirically verified at both SFs, like q_dedup_embedding)
    "q_media_features" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " CAST(1.0 AS DOUBLE) AS cosine FROM documents"),

    // the whole media chain in closed form: encoder dims (w=id%64+16,
    // h=id*7%64+16), derivative dims via the integer scale-to-fit the
    // resize query already hash-proves the codec lands on, the ≥576-px²
    // gate on both generations, then keep-one — an original that passed
    // always survives (min id of its cluster); a derivative survives
    // only when its original failed the gate (singleton)
    "q_pipeline_media" ->
      ("WITH m AS (SELECT doc_id, CAST(doc_id % 64 + 16 AS INT) AS w," +
        " CAST((doc_id * 7) % 64 + 16 AS INT) AS h FROM documents" +
        " WHERE doc_id < 2000)," +
        " d AS (SELECT doc_id + 1000000 AS doc_id," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((w * 48) // greatest(w, h) AS INT) ELSE w END AS w," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((h * 48) // greatest(w, h) AS INT) ELSE h END AS h" +
        " FROM m)" +
        " SELECT doc_id FROM m WHERE w * h >= 576" +
        " UNION ALL" +
        " SELECT doc_id FROM d WHERE w * h >= 576" +
        " AND doc_id - 1000000 NOT IN" +
        "   (SELECT doc_id FROM m WHERE w * h >= 576)"),

    // streaming form accumulates the same touching-new pair set over
    // micro-batches (batch-boundary-independent by construction)
    "q_image_stream_incr" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents" +
        " WHERE doc_id < 2000"),

    // precision+recall contract: the acoustic near-dup output is exactly
    // the planted gain-halved pairs
    "q_audio_neardup" ->
      "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents",

    // packChunks over exact-BPE counts: the oracle re-derives the
    // closed-form per-doc counts (q_bpe_tokens' arithmetic) and replays
    // the cumulative-offset window in SQL
    "q_pack_bpe" ->
      ("WITH t AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS grp," +
        " CAST(2 * (doc_id % 3 + 1) + 3 * (doc_id % 4 + 1)" +
        " + 2 * (doc_id % 2 + 1) + 3 * (doc_id % 5 + 1) + 5 AS BIGINT)" +
        " AS n_tokens FROM documents)" +
        " SELECT grp, doc_id, n_tokens," +
        " CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id)" +
        "   - n_tokens AS BIGINT) AS tok_offset," +
        " CAST((sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id)" +
        "   - n_tokens) // 64 AS BIGINT) AS chunk_id" +
        " FROM t"))

  /** q_frame_sample / q_resize_plan oracles re-derive the fake-media
    * header fields (w = id%64+16, h = id*7%64+16, f = id*13%30+1) the way
    * q_multimodal_meta's oracle does. */
  private lazy val frameSampleSql: String =
    ("SELECT doc_id, CAST(f AS INT) AS frame_idx FROM" +
      " (SELECT doc_id, unnest(range(0, CAST((doc_id * 13) % 30 AS BIGINT) + 1, 7)) AS f" +
      " FROM documents WHERE doc_id % 3 = 2)")

  private lazy val resizePlanSql: String =
    ("WITH m AS (SELECT doc_id," +
      " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' ELSE 'video' END AS media_type," +
      " CAST(doc_id % 64 + 16 AS INT) AS width," +
      " CAST((doc_id * 7) % 64 + 16 AS INT) AS height" +
      " FROM documents WHERE doc_id % 3 <> 1)" +
      " SELECT doc_id, media_type, width, height," +
      " CASE WHEN greatest(width, height) > 48" +
      "   THEN CAST((width * 48) // greatest(width, height) AS INT) ELSE width END AS new_width," +
      " CASE WHEN greatest(width, height) > 48" +
      "   THEN CAST((height * 48) // greatest(width, height) AS INT) ELSE height END AS new_height" +
      " FROM m")

  /** Q5-shape oracle — shared by the plain and bucketed variants. */
  private lazy val oracleSqlQ5: String =
    ("SELECT n_name," +
      " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4" +
      " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      " JOIN supplier ON l_suppkey = s_suppkey" +
      " JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey" +
      " JOIN nation ON s_nationkey = n_nationkey" +
      " JOIN region ON n_regionkey = r_regionkey" +
      " WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'" +
      " AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY n_name")

  /** Q3-shape oracle — shared by the plain and bucketed variants (identical
    * semantics; the bucketed query differs only in physical layout). */
  private lazy val oracleSqlQ3: String =
    ("SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate," +
      " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4" +
      " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      " JOIN customer ON o_custkey = c_custkey" +
      " WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'" +
      " AND l_shipdate > TIMESTAMP '1998-01-01'" +
      " GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')")

  /** lang-id oracle: same marker-occurrence argmax as TF.langId, with the
    * same alphabetical tie-break order and the same padded-split counting. */
  /** BM25 oracle (q_bm25 and its top-k): identical parenthesization per
    * factor; df/N/avgdl from one scalar row; per-term integer floors. */
  /** Morton-spread of a BIGINT column as DuckDB SQL — the literal
    * shift-mask cascade [[graft.functions.ZorderKey.spread]] runs, so
    * the q_zorder_box oracle re-derives the native expression's key
    * bit-for-bit (masks in decimal: 0x0000ffff0000ffff etc.). */
  private def zorderSpreadSql(c: String): String = {
    val s1 = s"((($c) | (($c) << 16)) & 281470681808895)"
    val s2 = s"(($s1 | ($s1 << 8)) & 71777214294589695)"
    val s3 = s"(($s2 | ($s2 << 4)) & 1085102592571150095)"
    val s4 = s"(($s3 | ($s3 << 2)) & 3689348814741910323)"
    s"(($s4 | ($s4 << 1)) & 6148914691236517205)"
  }

  /** Stride-3 Morton spread (21-bit inputs → every 3rd bit) as DuckDB
    * SQL — [[graft.functions.ZorderKeyN.spread3]]'s cascade, masks in
    * decimal (0x1f00000000ffff etc.). */
  private def zorderSpread3Sql(c: String): String = {
    val s1 = s"((($c) | (($c) << 32)) & 8725724278095871)"
    val s2 = s"(($s1 | ($s1 << 16)) & 8725728556220671)"
    val s3 = s"(($s2 | ($s2 << 8)) & 1157144660301377551)"
    val s4 = s"(($s3 | ($s3 << 4)) & 1207822528635744451)"
    s"(($s4 | ($s4 << 2)) & 1317624576693539401)"
  }

  /** Parameterized BM25 scoring SQL for an arbitrary term list —
    * identical parenthesization per factor; df/N/avgdl from one scalar
    * row; per-term floor(score*1e4 + 1e-6) summed as integers. */
  private def bm25SqlFor(terms: Seq[String],
      from: String = "documents"): String = {
    def term(w: String, df: String): String = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$w')) AS DOUBLE)"
      val idf = s"ln((CAST((SELECT n FROM st) - (SELECT $df FROM st) AS DOUBLE) + 0.5)" +
        s" / (CAST((SELECT $df FROM st) AS DOUBLE) + 0.5) + 1.0)"
      val dl = "CAST(len(tk) AS DOUBLE)"
      val avgdl = "(CAST((SELECT sumdl FROM st) AS DOUBLE) / CAST((SELECT n FROM st) AS DOUBLE))"
      s"CAST(floor($idf * (($tf * (1.2 + 1.0)) / ($tf + 1.2 *" +
        s" ((1.0 - 0.75) + 0.75 * ($dl / $avgdl)))) * 10000.0 + 1e-6) AS BIGINT)"
    }
    val dfDefs = terms.zipWithIndex.map { case (w, i) =>
      s" sum(CASE WHEN list_contains(tk, '$w') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",")
    val score = terms.zipWithIndex
      .map { case (w, i) => term(w, s"df$i") }.mkString(" + ")
    s"WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM $from)," +
      s" st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl,$dfDefs FROM t)" +
      " SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl," +
      s" $score AS score_e4" +
      " FROM t"
  }

  private lazy val bm25Sql: String = bm25SqlFor(Seq("the", "of", "data"))

  /** Shared hybrid-RRF oracle CTEs (q_hybrid_rrf + the search
    * flagship): brute-cosine top-20 ranking for query vector 0, integer
    * floor(1e8/(60+rank)) contributions unioned with the caller's
    * `bm` CTE (BM25 top-k), summed per doc — ends at `sc(doc_id,
    * rrf_e8)`. ONE copy so the two oracles can never drift. */
  private lazy val rrfScoredCtes: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def norm(a: String) =
      s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    "q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)," +
      " c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings)," +
      s" s AS (SELECT neighbor_id, ${dot("qvec", "cvec")} / (${norm("qvec")} * ${norm("cvec")}) AS cosine" +
      " FROM c, q WHERE neighbor_id <> 0)," +
      " ann AS (SELECT neighbor_id AS doc_id, rank FROM" +
      " (SELECT neighbor_id, CAST(row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank FROM s)" +
      " WHERE rank <= 20)," +
      " u AS (SELECT doc_id, 100000000 // (60 + rank) AS contrib FROM bm" +
      " UNION ALL SELECT doc_id, 100000000 // (60 + rank) FROM ann)," +
      " sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_e8" +
      " FROM u GROUP BY 1)"
  }

  /** BM25 top-k oracle (q_bm25_topk and q_bm25_index — the index-served
    * path is bit-identical to the scan path by contract, so one oracle
    * proves both). */
  private lazy val bm25TopKSql: String = bm25TopKSqlFor("documents")

  private def bm25TopKSqlFor(from: String): String =
    s"SELECT doc_id, dl, score_e4, rank FROM (SELECT doc_id, dl, score_e4," +
      " CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rank" +
      s" FROM (${bm25SqlFor(Seq("the", "of", "data"), from)})) WHERE rank <= 20"

  /** Phrase-search oracle (q_phrase_search and q_postings_incr — the
    * incremental store covers the full corpus, so serving from it must
    * reproduce the full-corpus derivation exactly). The takedown
    * queries (q_phrase_delete / q_postings_gc) re-derive over the live
    * slice only via `from`. */
  private lazy val phraseSearchSql: String = phraseSearchSqlFor("documents")

  private def phraseSearchSqlFor(from: String): String =
    "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
      s" FROM $from)," +
      " h AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
      " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)" +
      " SELECT doc_id, CAST(len(st) AS BIGINT) AS n_hits," +
      " CAST(st[1] - 1 AS BIGINT) AS first_pos" +
      " FROM h WHERE len(st) > 0"

  /** Shared bigram-LM oracle CTEs: add-one-smoothed counts over the 80%
    * doc_id%5≠0 train slice, per-position integer-floored log2 terms
    * aggregated per doc (docs with < 2 tokens are absent from `sc`). */
  private lazy val lmNllCtes: String = lmNllCtesFor("doc_id % 5 <> 0")

  private def lmNllCtesFor(trainWhere: String): String =
    s"tr AS (SELECT text FROM documents WHERE $trainWhere)," +
      " trtok AS (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM tr)," +
      " uni AS (SELECT tok, count(*) AS cu FROM trtok GROUP BY tok)," +
      " v AS (SELECT count(DISTINCT tok) AS v FROM trtok)," +
      " trbi AS (SELECT t[i] AS prev, t[i+1] AS cur, count(*) AS cb FROM" +
      " (SELECT string_split_regex(text, '\\s+') AS t FROM tr)," +
      " unnest(generate_series(1, len(t) - 1)) AS u(i) GROUP BY 1, 2)," +
      " dg AS (SELECT doc_id, t[i] AS prev, t[i+1] AS cur FROM" +
      " (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents)," +
      " unnest(generate_series(1, len(t) - 1)) AS u(i))," +
      " sc AS (SELECT doc_id, count(*) AS n_terms," +
      " sum(CAST(floor(log2(CAST(coalesce(uni.cu, 0) + (SELECT v FROM v) AS DOUBLE)" +
      " / CAST(coalesce(trbi.cb, 0) + 1 AS DOUBLE)) * 10000.0 + 1e-6) AS BIGINT)) AS nll_e4" +
      " FROM dg LEFT JOIN trbi USING (prev, cur)" +
      " LEFT JOIN uni ON uni.tok = dg.prev GROUP BY doc_id)"

  /** Bigram-LM NLL oracle (q_lm_perplexity and q_lm_store — the stored
    * model is the same derivation; q_lm_unlearn re-derives with the
    * forget slice removed from the train set). */
  private lazy val lmNllSql: String = lmNllSqlFor(lmNllCtes)

  private def lmNllSqlFor(ctes: String): String =
    s"WITH $ctes" +
      " SELECT d.doc_id, CAST(coalesce(sc.n_terms, 0) AS BIGINT) AS n_terms," +
      " CAST(coalesce(sc.nll_e4, 0) AS BIGINT) AS nll_e4" +
      " FROM documents d LEFT JOIN sc USING (doc_id)"

  /** Shared line-strip oracle CTEs (q_line_dedup + the CCNet pipeline):
    * boilerplate injection, per-line explode with positions, the 1%
    * integer cross-multiplied doc-share threshold, and order-preserving
    * reassembly of surviving lines. */
  private lazy val lineStripCtes: String =
    "inj AS (SELECT doc_id, concat_ws(chr(10), text," +
      " CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter' END," +
      " CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved - example corp' END," +
      " 'ref ' || CAST(doc_id AS VARCHAR)) AS text FROM documents)," +
      " l AS (SELECT doc_id, i AS pos, t[i] AS line FROM" +
      " (SELECT doc_id, string_split(text, chr(10)) AS t FROM inj)," +
      " unnest(generate_series(1, len(t))) AS u(i))," +
      " tot AS (SELECT count(*) AS n FROM inj)," +
      " freq AS (SELECT line FROM l WHERE trim(line) <> '' GROUP BY line" +
      " HAVING count(DISTINCT doc_id) * 10000 >= 100 * (SELECT n FROM tot))," +
      " kept AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text," +
      " count(*) AS n_kept FROM l" +
      " WHERE line NOT IN (SELECT line FROM freq) GROUP BY doc_id)"

  private lazy val langIdSql: String = {
    val langs = TF.langMarkers.toSeq.sortBy(_._1)
    def cnt(w: String): String =
      s"(len(string_split(' ' || text || ' ', ' $w ')) - 1)"
    val defs = langs.map { case (lang, words) =>
      s"${words.map(cnt).mkString(" + ")} AS c_$lang"
    }.mkString(", ")
    val best = "greatest(" + langs.map(l => s"c_${l._1}").mkString(", ") + ")"
    val cases = langs.map { case (lang, _) =>
      s"WHEN c_$lang = best AND best > 0 THEN '$lang'"
    }.mkString(" ")
    s"SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred FROM " +
      s"(SELECT doc_id, lang, $best AS best, c_de, c_en, c_es, c_fr, c_zh FROM " +
      s"(SELECT doc_id, lang, text, $defs FROM documents))"
  }

  /** TF.qualityScore arithmetic as a bare SQL expression (over `text`). */
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

  /** Shared DSIR oracle CTEs: hashed-bigram buckets, the two bucket
    * distributions (target = the en subset), totals, and the per-doc
    * integer sums — reused by q_dsir_select and the curation pipeline. */
  private lazy val dsirCtes: String =
    "toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t" +
      " FROM documents)," +
      " grams AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g" +
      " FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i))," +
      " gb AS (SELECT doc_id," +
      " CAST(CONCAT('0x', substr(md5(g), 1, 15)) AS BIGINT) % 1024 AS b" +
      " FROM grams)," +
      " tgt AS (SELECT b, count(*) AS ct FROM gb JOIN documents USING (doc_id)" +
      " WHERE lang = 'en' GROUP BY b)," +
      " rawc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b)," +
      " tot AS (SELECT (SELECT count(*) FROM gb) AS nr," +
      " (SELECT count(*) FROM gb JOIN documents USING (doc_id)" +
      " WHERE lang = 'en') AS nt)," +
      " agg AS (SELECT doc_id, count(*) AS n_grams," +
      " sum(coalesce(ct, 0)) AS st, sum(coalesce(cr, 0)) AS sr" +
      " FROM gb LEFT JOIN tgt USING (b) LEFT JOIN rawc USING (b)" +
      " GROUP BY doc_id)"

  private lazy val qualityExprSql: String = {
    val toks = "string_split_regex(text, '\\s+')"
    val nTok = s"CAST(len($toks) AS DOUBLE)"
    val lengthScore = s"least($nTok / 50.0, 1.0)"
    val punct = s"CAST(length(text) - length(regexp_replace(text, '[.,;:!?''\"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)"
    val punctScore = s"CASE WHEN ($punct) > 0.2 THEN 0.0 ELSE 1.0 - ($punct) * 5.0 END"
    val hits = TF.langMarkers("en").map(w =>
      s"CAST(len(list_filter($toks, t -> t = '$w')) AS DOUBLE)").mkString(" + ")
    val stopScore = s"least((($hits) / $nTok) * 5.0, 1.0)"
    s"($lengthScore) * 0.5 + ($punctScore) * 0.3 + ($stopScore) * 0.2"
  }

  /** quality-score oracle mirroring TF.qualityScore arithmetic exactly. */
  private lazy val qualityScoreSql: String =
    s"SELECT doc_id, round($qualityExprSql, 6) AS quality FROM documents"

  /** decontamination oracle: train docs sharing any distinct 3-gram with
    * the eval subset are dropped (same shingle construction as the
    * minhash oracle). */
  private lazy val decontaminateSql: String = {
    val sh = "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"
    "WITH sh AS (SELECT doc_id, " + sh + " AS s FROM" +
      " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents))," +
      " ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 50)," +
      " bad AS (SELECT DISTINCT t.doc_id FROM" +
      " (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN ev USING (g))" +
      " SELECT doc_id FROM documents" +
      " WHERE doc_id NOT IN (SELECT doc_id FROM bad)"
  }

  /** End-to-end pipeline oracle: the same five stages re-derived in SQL
    * (quality + predicted-lang filters, md5 keep-one, n-gram
    * decontamination vs the doc_id<30 eval slice, 512-token packing). */
  private lazy val pipelineE2eSql: String = {
    val sh = "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"
    s"WITH lp AS (SELECT doc_id AS lp_id, lang_pred FROM ($langIdSql))," +
      s" flt AS (SELECT d.doc_id, d.lang, d.text FROM documents d" +
      s" JOIN lp ON d.doc_id = lp.lp_id" +
      s" WHERE round($qualityExprSql, 6) >= 0.5 AND lp.lang_pred = 'en')," +
      " dd AS (SELECT * FROM flt QUALIFY" +
      " row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)," +
      s" shdd AS (SELECT doc_id, $sh AS s FROM" +
      " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM dd))," +
      s" ev AS (SELECT DISTINCT unnest(s) AS g FROM (SELECT $sh AS s FROM" +
      " (SELECT string_split_regex(text, '\\s+') AS toks FROM documents" +
      " WHERE doc_id < 30)))," +
      " bad AS (SELECT DISTINCT t.doc_id FROM" +
      " (SELECT doc_id, unnest(s) AS g FROM shdd) t JOIN ev USING (g))," +
      " clean AS (SELECT doc_id, lang, text FROM dd" +
      " WHERE doc_id NOT IN (SELECT doc_id FROM bad))," +
      " tk AS (SELECT lang, doc_id," +
      " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens" +
      " FROM clean)" +
      " SELECT lang, doc_id, n_tokens," +
      " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
      " CAST((sum(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS chunk_id" +
      " FROM tk WINDOW w AS (PARTITION BY lang ORDER BY doc_id" +
      " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
  }

  /** Gopher-rule oracle: each rule's ratio arithmetic mirrored exactly
    * (integer sums cast to double, IEEE division — identical doubles). */
  private lazy val gopherRulesSql: String = {
    val stops = TF.langMarkers("en")
      .map(w => s"(len(string_split(' ' || text || ' ', ' $w ')) - 1)")
      .mkString(" + ")
    val punct = "CAST(length(text) - length(regexp_replace(text," +
      " '[.,;:!?''\"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)"
    "WITH t AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks" +
      " FROM documents)," +
      " s AS (SELECT doc_id, text, toks, len(toks) AS n," +
      " list_transform(generate_series(1, len(toks) - 1)," +
      " i -> toks[i] || ' ' || toks[i+1]) AS bg FROM t)" +
      " SELECT doc_id," +
      " n BETWEEN 25 AND 100000 AS len_ok," +
      " (CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)" +
      " / CAST(n AS DOUBLE)) BETWEEN 3.0 AND 10.0 AS mean_len_ok," +
      " CAST(n - len(list_distinct(toks)) AS DOUBLE) / CAST(n AS DOUBLE)" +
      " <= 0.55 AS dup_ok," +
      " (CASE WHEN n < 2 THEN 0.0 ELSE" +
      " CAST(list_max(list_transform(list_distinct(bg)," +
      " b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)" +
      " / CAST(n - 1 AS DOUBLE) END) <= 0.125 AS bigram_ok," +
      s" ($punct) <= 0.2 AS punct_ok," +
      s" ($stops) >= 1 AS stop_ok," +
      " len_ok AND mean_len_ok AND dup_ok AND bigram_ok AND punct_ok" +
      " AND stop_ok AS keep" +
      " FROM s"
  }

  /** near-dup pipeline oracle: quality filter → shared-shingle ≥0.8 edge
    * set among survivors → recursive-CTE transitive closure → keep-one →
    * packing window. Same LSH-recall caveat as the component queries. */
  private lazy val pipelineNeardupSql: String = {
    val sh = "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"
    "WITH RECURSIVE corpus AS (SELECT doc_id, lang, text FROM documents" +
      " UNION ALL SELECT doc_id + 1000000 AS doc_id, lang, text FROM documents)," +
      s" flt AS (SELECT doc_id, lang, text FROM corpus WHERE round($qualityExprSql, 6) >= 0.5)," +
      s" sh AS (SELECT doc_id, $sh AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM flt))," +
      " u AS (SELECT doc_id, unnest(s) AS g FROM sh)," +
      " pairs AS (SELECT x.doc_id AS src, y.doc_id AS dst, count(*) AS shared" +
      " FROM u x JOIN u y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)," +
      " e AS (SELECT p.src, p.dst FROM pairs p JOIN sh a ON a.doc_id = p.src" +
      " JOIN sh b ON b.doc_id = p.dst" +
      " WHERE CAST(p.shared AS DOUBLE) / CAST(len(a.s) + len(b.s) - p.shared AS DOUBLE) >= 0.8)," +
      " ee AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e)," +
      " walk(id, lbl) AS (SELECT DISTINCT src AS id, src AS lbl FROM ee" +
      " UNION SELECT ee.dst AS id, walk.lbl FROM walk JOIN ee ON ee.src = walk.id)," +
      " dropids AS (SELECT id FROM (SELECT id, min(lbl) AS component FROM walk" +
      " GROUP BY id) WHERE id <> component)," +
      " kept AS (SELECT doc_id, lang, text FROM flt" +
      " WHERE doc_id NOT IN (SELECT id FROM dropids))," +
      " tk AS (SELECT lang, doc_id," +
      " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens FROM kept)" +
      " SELECT lang, doc_id, n_tokens," +
      " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
      " CAST((sum(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS chunk_id" +
      " FROM tk WINDOW w AS (PARTITION BY lang ORDER BY doc_id" +
      " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
  }

  /** minhash oracle: ground truth = brute-force exact 3-gram Jaccard ≥ 0.8
    * over the planted-duplicate corpus (the LSH pipeline's recall at
    * j ≥ 0.8 with k=64/bands=16 is ≈ 1, and planted dups have j = 1). */
  /** Exact-Jaccard ≥ 0.8 pairs, derived by shared-shingle equi-join
    * instead of the all-pairs cross join: any pair at Jaccard > 0 shares a
    * shingle, and with distinct shingle sets |A∩B| = the shared count and
    * |A∪B| = |A|+|B|−shared, so the result is IDENTICAL to the brute
    * force (verified) at ~100× less oracle wall time (the advisor flagged
    * the cross-join form at >7 min per evaluation at sf0.1). */
  private lazy val minhashOracleSql: String = jaccardPairsOracleSql(0.8, "")

  /** Exact-Jaccard ≥ `threshold` pair set with optional extra constant
    * columns — shared by the minhash oracle and the simhash
    * signature-quality contract. */
  private def jaccardPairsOracleSql(threshold: Double, extraCols: String,
      extraWhere: String = "", freshWhere: String = "",
      corpusWhere: String = ""): String = {
    val sh = "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"
    "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
      s" SELECT doc_id + 1000000 AS doc_id, text FROM documents$freshWhere)," +
      s" sh AS (SELECT doc_id, $sh AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM corpus$corpusWhere))," +
      " u AS (SELECT doc_id, unnest(s) AS g FROM sh)," +
      " pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared" +
      " FROM u x JOIN u y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)" +
      " SELECT p.id_a, p.id_b," +
      " round(CAST(p.shared AS DOUBLE) / CAST(len(a.s) + len(b.s) - p.shared AS DOUBLE), 6) AS jaccard" +
      extraCols +
      " FROM pairs p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b" +
      s" WHERE CAST(p.shared AS DOUBLE) / CAST(len(a.s) + len(b.s) - p.shared AS DOUBLE) >= $threshold" +
      extraWhere
  }

  /** n-gram Jaccard oracle: brute force over the same 200-doc subset. */
  private lazy val ngramOracleSql: String = {
    val sh = "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"
    "WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 100 UNION ALL" +
      " SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 100)," +
      s" sh AS (SELECT doc_id, $sh AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM corpus))" +
      " SELECT a.doc_id AS id_a, b.doc_id AS id_b," +
      " round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 6) AS jaccard" +
      " FROM sh a JOIN sh b ON a.doc_id < b.doc_id" +
      " WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.6"
  }

  /** Connected-components oracle scaffold: the brute-force exact-Jaccard
    * ≥ 0.8 edge set over the full planted-duplicate corpus (the edge-set
    * definition the LSH pipeline recalls at ≈1 — the same ground truth
    * q_dedup_minhash's oracle hash-proves), made symmetric, then a
    * recursive CTE floods every reachable label through the graph;
    * `SELECT ... min(lbl) ... GROUP BY id` is the transitive min-label —
    * exactly what the Spark propagation converges to. */
  private def componentsOracleSql(select: String): String = {
    val sh = "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"
    // same shared-shingle equi-join derivation as minhashOracleSql (exact,
    // identical to the all-pairs form, ~100× cheaper per evaluation)
    "WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
      " SELECT doc_id + 1000000 AS doc_id, text FROM documents)," +
      s" sh AS (SELECT doc_id, $sh AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM corpus))," +
      " u AS (SELECT doc_id, unnest(s) AS g FROM sh)," +
      " pairs AS (SELECT x.doc_id AS src, y.doc_id AS dst, count(*) AS shared" +
      " FROM u x JOIN u y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)," +
      " e AS (SELECT p.src, p.dst FROM pairs p JOIN sh a ON a.doc_id = p.src" +
      " JOIN sh b ON b.doc_id = p.dst" +
      " WHERE CAST(p.shared AS DOUBLE) / CAST(len(a.s) + len(b.s) - p.shared AS DOUBLE) >= 0.8)," +
      " ee AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e)," +
      " walk(id, lbl) AS (SELECT DISTINCT src AS id, src AS lbl FROM ee" +
      " UNION SELECT ee.dst AS id, walk.lbl FROM walk JOIN ee ON ee.src = walk.id) " +
      select
  }

  /** brute-force ANN oracle: same double-precision sequential dot/norm. */
  private lazy val annBruteSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def norm(a: String) =
      s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10)," +
      " c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings)," +
      s" s AS (SELECT query_id, neighbor_id, ${dot("qvec", "cvec")} / (${norm("qvec")} * ${norm("cvec")}) AS cosine" +
      " FROM c, q WHERE neighbor_id <> query_id)" +
      " SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM" +
      " (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM s)" +
      " WHERE rank <= 5"
  }
}
