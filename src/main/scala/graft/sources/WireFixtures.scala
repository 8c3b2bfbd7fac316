package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Renders the driver's `events` table into the wire formats the capture
  * sources parse — GoldenGate-style XML trail files (S5) and a MySQL
  * binlog-shaped JSON-lines dump (S3/S4) — so the parse → envelope paths
  * can be driven end-to-end against a DuckDB oracle computed from the same
  * rows. Deterministic: every value derives from the events table; files
  * are written once per dataset (marker-guarded, atomic rename).
  *
  * This is the test-harness side of the sources (the reference grows the
  * same appendage: its relay tests generate binlog/trail inputs with
  * RelayEventGenerator, databus2-event-producer-mock/.../
  * RelayEventGenerator.java:1); the parsers under test are the production
  * ones in [[GoldenGateTrail]] / [[BinlogFeed]].
  */
object WireFixtures {

  /** Version segment in the cache path: bump when a fixture's rendered
    * format changes so stale copies from older code self-invalidate
    * (v2: binlog offsets doubled + commit-offset SCNs; v3: .dbus records
    * carry the optional key_string/meta tail). */
  val Root = "/tmp/graft_fixtures/v3"

  /** Offsets-per-binlog-file; a multiple of the txn window size so a
    * transaction never straddles a file (the reference rotates binlogs on
    * txn boundaries for the same reason). */
  val BinlogFileSize = 10000L

  private def key(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Build-once with cross-process exclusion (same protocol as
    * Store.ensure): the promoted-marker check runs inside an exclusive
    * [[ProcessLock]], a promoted dir is never deleted, and only crashed
    * never-promoted partials are cleaned up while holding the lock. */
  /** Store path for a family `suffix` at an SF dir — exposed so dev
    * probes (`graft.Probe cold`) address exactly the dirs the builders write,
    * instead of re-deriving the sanitization and silently drifting. */
  private[graft] def storePath(sfDir: String, suffix: String): String =
    s"$Root/${key(sfDir)}/$suffix"

  private def writeOnce(dest: String)(write: String => Unit): String = {
    if (Files.exists(Paths.get(dest, "_SUCCESS"))) return dest
    this.synchronized {
      ProcessLock.exclusive(s"$dest.lock") {
        if (!Files.exists(Paths.get(dest, "_SUCCESS"))) {
          val tmp = s"$dest.tmp.${ProcessHandle.current.pid}"
          write(tmp)
          // writers that don't stamp a marker themselves (the binary
          // segment writer) get one here — the marker is the promotion flag
          if (!Files.exists(Paths.get(tmp, "_SUCCESS")))
            Files.createFile(Paths.get(tmp, "_SUCCESS"))
          Files.createDirectories(Paths.get(dest).getParent)
          if (Files.exists(Paths.get(dest)))
            org.apache.commons.io.FileUtils.deleteDirectory(
              new java.io.File(dest)) // crashed partial from a dead process
          Files.move(Paths.get(tmp), Paths.get(dest),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
    dest
  }

  /** GG trail dir: 8 XML trail documents (one per trail file, the unit of
    * concurrent append in GG), transactions grouped by commit window,
    * TK-SCN token carrying the window scn. Returns the dir. */
  def goldenGateTrailDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/ggtrail") { tmp =>
      import spark.implicits._
      val raw = ChangeFeed.raw(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), (col("event_id") - col("event_id") % ChangeFeed.WindowSize).as("scn"))
      raw.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id")
        .as[(Long, Long, String, Double, Long)]
        .mapPartitions { it =>
          val sb = new StringBuilder("<root>")
          var openScn = Long.MinValue
          it.foreach { case (eid, uid, typ, value, scn) =>
            if (scn != openScn) {
              if (openScn != Long.MinValue) sb.append("</transaction>")
              sb.append(s"""<transaction timestamp="$scn">""")
              openScn = scn
            }
            val op = if (typ == "error") "delete" else "insert"
            sb.append(s"""<dbupdate table="$typ" type="$op"><columns>""")
              .append(s"""<column name="key">$uid</column>""")
              .append(s"""<column name="value">$value</column>""")
              .append(s"""<column name="event_id">$eid</column>""")
              .append("</columns><tokens>")
              .append(s"""<token name="TK-SCN">$scn</token>""")
              .append("</tokens></dbupdate>")
          }
          if (openScn != Long.MinValue) sb.append("</transaction>")
          sb.append("</root>")
          Iterator.single(sb.toString)
        }
        .toDF("value")
        .write.mode("overwrite").text(tmp)
      // trail files carry an .xml suffix (the reader globs *.xml)
      val d = new java.io.File(tmp)
      d.listFiles().filter(f => f.getName.startsWith("part-")).foreach { f =>
        f.renameTo(new java.io.File(d, f.getName + ".xml"))
      }
    }

  /** Minhash signature + banded-blocking stores for the documents corpus —
    * the one-time onboarding a signature-store dedup pipeline performs
    * when a corpus is first signed (long before any increment arrives).
    * Contains `sigs/` (id, sig[64]) and `banded/` (id, band, bucket).
    * Streaming/incremental demos treat these as read-only and land their
    * per-increment appends in their own overlay dirs. */
  def minhashStoreDir(spark: SparkSession, sfDir: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16): String =
    // algorithm params in the cache path: a future shingle/k/bands change
    // must never silently reuse a store signed under the old parameters.
    // The `g` suffix versions the LAYOUT (VersionedStore generations) so
    // a cached flat-layout store from an older build never serves here.
    writeOnce(s"$Root/${key(sfDir)}/minhash_store_n${shingleN}k${k}b${bands}g") {
      tmp =>
        graft.pipeline.Dedup.writeSignatureStore(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select("doc_id", "text"),
          tmp, shingleN = shingleN, k = k, bands = bands)
    }

  /** Persisted IVF index (codebook + quantized cell assignments — see
    * [[graft.pipeline.Ann.writeIndex]]) over the embeddings corpus plus
    * its shifted twins, built ONCE under the promotion protocol: the
    * durable form of the per-JVM codebook memo, so a new session serves
    * retrievals without re-training (params in the path like the minhash
    * store, so a k/iters change never reuses a stale index). */
  def annIndexDir(spark: SparkSession, sfDir: String, k: Int = 8,
      iters: Int = 3): String =
    writeOnce(s"$Root/${key(sfDir)}/ann_index_k${k}i${iters}rg") { tmp =>
      val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Ann.writeIndex(withTwins, tmp, k, iters)
    }

  /** Incrementally-built IVF index: the base corpus indexes via
    * [[graft.pipeline.Ann.writeIndex]], then the twin batch arrives
    * LATER through [[graft.pipeline.Ann.appendToIndex]] — codebook
    * frozen, only the batch assigned and quantized, stored cells never
    * re-scanned. Serving from this store must be indistinguishable from
    * the all-at-once index (q_ann_store_incr's contract). */
  def annIncrIndexDir(spark: SparkSession, sfDir: String, k: Int = 8,
      iters: Int = 3): String =
    writeOnce(s"$Root/${key(sfDir)}/ann_index_incr_k${k}i${iters}rg") { tmp =>
      val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.pipeline.Ann.writeIndex(all, tmp, k, iters)
      graft.pipeline.Ann.appendToIndex(
        all.select((col("id") + 1000000L).as("id"), col("vec")), tmp)
    }

  /** Persisted PQ index (m sub-codebooks + per-vector code words — see
    * [[graft.pipeline.Ann.writePqIndex]]) over the embeddings corpus,
    * with the shifted twins arriving LATER through
    * [[graft.pipeline.Ann.appendToPqIndex]] — books frozen, only the
    * batch encoded. Serving from this store must keep the planted-twin
    * rank-1 contract (identical vectors encode to identical code
    * words under any training). */
  def pqIndexDir(spark: SparkSession, sfDir: String, m: Int = 4,
      ksub: Int = 16, iters: Int = 3): String =
    // `q2` suffix: quant_stats gained the corpus-fingerprint rows (r13)
    writeOnce(s"$Root/${key(sfDir)}/pq_index_m${m}k${ksub}i${iters}q2g") { tmp =>
      val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.pipeline.Ann.writePqIndex(all, tmp, m, ksub, iters)
      graft.pipeline.Ann.appendToPqIndex(
        all.select((col("id") + 1000000L).as("id"), col("vec")), tmp)
    }

  /** Persisted IVF-PQ index (coarse codebook + residual sub-codebooks +
    * coded cells — [[graft.pipeline.Ann.writeIvfPqIndex]]) over the
    * embeddings corpus, twins appended LATER under both frozen
    * quantizers ([[graft.pipeline.Ann.appendToIvfPqIndex]]). */
  def ivfPqIndexDir(spark: SparkSession, sfDir: String, k: Int = 8,
      m: Int = 4, ksub: Int = 16, iters: Int = 3): String =
    // `q2` suffix: quant_stats gained the corpus-fingerprint rows (r13)
    writeOnce(
      s"$Root/${key(sfDir)}/ivfpq_index_k${k}m${m}s${ksub}i${iters}q2rg") { tmp =>
      val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.pipeline.Ann.writeIvfPqIndex(all, tmp, k, m, ksub, iters)
      graft.pipeline.Ann.appendToIvfPqIndex(
        all.select((col("id") + 1000000L).as("id"), col("vec")), tmp)
    }

  /** IVF index over the ORGANIC embedding corpus (no planted twins) —
    * the store q_ann_recall measures recall@10 against brute force on:
    * planted fixtures verify invariants, this one carries natural
    * near-neighbor structure. k=16 so the default probe budgets are a
    * real subset of the codebook. */
  def annOrganicIndexDir(spark: SparkSession, sfDir: String, k: Int = 16,
      iters: Int = 3): String =
    writeOnce(s"$Root/${key(sfDir)}/ann_organic_k${k}i${iters}rg") { tmp =>
      // numFiles = k: ~one cell range per file, the layout that lets the
      // probed-cell literal skip most of the tier (PlansSpec pins it)
      graft.pipeline.Ann.writeIndex(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        tmp, k, iters, numFiles = k)
    }

  /** Near-duplicate MEASUREMENT corpus for the semantic-dedup recall
    * gate (q_semdedup_recall): the natural embedding corpus plus one
    * deterministically jittered copy of every vector, the copy's angle
    * to its original spanning a controlled cosine band (~0.91–0.999 —
    * nine amplitude levels by `id % 9`). The natural corpus is
    * measured isotropic (max within-cell cosine ≈ 0.51 at sf0.1), so
    * it carries NO organic near-dup pairs at any dedup threshold;
    * exact twins (cosine 1.0) are recalled by hyperplane LSH with
    * probability 1 and measure nothing. This population is the
    * delivered-vs-generated parity pattern (reference:
    * TestDatabusRelayMain.java — generate a workload with known ground
    * truth, measure the delivered fraction): each jittered pair's
    * recall under a plane/table configuration is a genuine function of
    * its angle, so the measured pair-recall discriminates plane/table
    * choices the planted-twin invariants cannot see.
    *
    * Construction: copy = vec + amp·(|vec|/|u|)·u with u a
    * hash-derived pseudo-direction (components uniform-ish in [-1, 1]
    * from `hash(id, dim)`) — cosine ≈ 1/√(1+amp²), amp ∈
    * {0.05 … 0.45}. Fully deterministic (Murmur3, no RNG), so the
    * measured recall is a constant of the code and corpus, exactly
    * like q_ann_recall's floors. Copies take ids +1,000,000.
    *
    * `sampleCap` bounds the MEASUREMENT population (deterministic
    * hash-sample of the originals before jittering): the gate's exact
    * denominator is the all-pairs-per-cell configuration, quadratic in
    * cell size by design — the very cost the LSH regime exists to
    * avoid — so an uncapped measurement at sf10+ would pay ~10^10 pair
    * rows to measure a CONFIGURATION property that a few thousand
    * banded pairs already estimate tightly. Recall is a property of
    * the plane/table choice and the angle band, not of corpus size
    * (confirmed flat across sf0.001/0.01/0.1); the cap keeps the gate
    * constant-cost at every scale, the quantileSketch/trainSampleCap
    * discipline applied to a quality measurement. The default covers
    * the full corpus at the verify/bench SFs (≤ 2,000 vectors). */
  /** Jittered-copy id offset for [[nearDupBandCorpus]] — guarded
    * against organic-id collision at corpus-read time. */
  private val CopyIdOffset = 1000000L

  def nearDupBandCorpus(spark: SparkSession, sfDir: String,
      sampleCap: Long = 4000L): DataFrame = {
    val eAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // the count below walks the corpus anyway — ride the max along it:
    // a sampled id at or above the copy offset would COLLIDE with a
    // copy id, silently corrupting both the exact and the LSH pair
    // sets the recall gate divides (a derived sf100 corpus reaches
    // vec_id 2e6); fail loudly instead (ScaleProbe's own sf100 semdedup
    // leg uses a 1e8 offset for the same reason)
    val r = eAll.agg(count(lit(1)), max(col("id"))).head()
    val n = r.getLong(0)
    require(n == 0 || r.getLong(1) < CopyIdOffset,
      s"nearDupBandCorpus: corpus max id ${r.getLong(1)} reaches the" +
        s" jittered-copy id offset $CopyIdOffset — copies would collide" +
        " with organic ids and corrupt the recall gate's pair sets")
    val e =
      if (sampleCap <= 0 || n <= sampleCap) eAll
      else graft.pipeline.Sampling.hashSample(eAll, "id",
        math.max(1, (sampleCap * 10000L / n).toInt))
    val withDirs = e
      .withColumn("u", transform(col("vec"), (_, i) =>
        (pmod(hash(col("id"), i), lit(2001)) - lit(1000)).cast("double")
          / lit(1000.0)))
      .withColumn("nv", sqrt(aggregate(col("vec"), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double"))))
      .withColumn("nu", sqrt(aggregate(col("u"), lit(0.0d),
        (a, x) => a + x * x)))
      .withColumn("amp",
        lit(0.05) + pmod(col("id"), lit(9)).cast("double") * lit(0.05))
    val jittered = withDirs.select((col("id") + CopyIdOffset).as("id"),
      zip_with(col("vec"), col("u"), (v, uu) =>
        (v.cast("double") + col("amp") * col("nv") / col("nu") * uu)
          .cast("float")).as("vec"))
    e.unionByName(jittered)
  }

  /** PQ index over the organic embedding corpus ([[annOrganicIndexDir]]'s
    * rationale on the ADC tier). */
  def pqOrganicIndexDir(spark: SparkSession, sfDir: String, m: Int = 4,
      ksub: Int = 16, iters: Int = 3): String =
    writeOnce(s"$Root/${key(sfDir)}/pq_organic_m${m}k${ksub}i${iters}g") {
      tmp =>
        graft.pipeline.Ann.writePqIndex(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          tmp, m, ksub, iters)
    }

  /** IVF-PQ index over the organic embedding corpus. */
  def ivfPqOrganicIndexDir(spark: SparkSession, sfDir: String, k: Int = 16,
      m: Int = 4, ksub: Int = 16, iters: Int = 3): String =
    writeOnce(
      s"$Root/${key(sfDir)}/ivfpq_organic_k${k}m${m}s${ksub}i${iters}rg") {
      tmp =>
        graft.pipeline.Ann.writeIvfPqIndex(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          tmp, k, m, ksub, iters)
    }

  /** Incrementally-built positional-postings index over the documents
    * corpus: the base slice (doc_id % 10 ≠ 8) indexes via
    * [[graft.pipeline.Retrieval.writePostingsIndex]], then the held-back
    * slice arrives LATER through
    * [[graft.pipeline.Retrieval.appendToPostingsIndex]] — only the batch
    * is tokenized, stored rows never rewritten. Serving phrase /
    * proximity / BM25 queries from this store must be indistinguishable
    * from a full-corpus index (q_postings_incr / q_bm25_index verify
    * against full-corpus oracles). */
  def postingsStoreDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/postings_index_g") { tmp =>
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      graft.pipeline.Retrieval.writePostingsIndex(
        d.where(col("doc_id") % 10 =!= 8), tmp)
      graft.pipeline.Retrieval.appendToPostingsIndex(
        d.where(col("doc_id") % 10 === 8), tmp)
    }

  /** Full-corpus postings index with a RECORDED TAKEDOWN (doc_id % 7 = 2
    * tombstoned, stored rows untouched): the store q_phrase_delete /
    * q_bm25_delete serve from — every read must behave as if the
    * tombstoned docs were never indexed (phrase hits, BM25 membership
    * AND its N/avgdl/df corpus statistics), which the full-corpus
    * oracles verify by recomputing over the live slice only. Built once
    * under the promotion protocol; read-only thereafter (the GC path is
    * exercised on a per-run temp store by q_postings_gc, never here). */
  def postingsTakedownDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/postings_takedown_m7r2g") { tmp =>
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      graft.pipeline.Retrieval.writePostingsIndex(d, tmp)
      graft.pipeline.Retrieval.tombstoneDocsDf(
        d.select("doc_id").where(col("doc_id") % 7 === 2), tmp)
    }

  /** Minhash signature store with a RECORDED TAKEDOWN (doc_id % 7 = 2
    * tombstoned): the [[minhashStoreDir]] tables copied as-is (no
    * re-signing — the takedown protocol never touches stored rows) plus
    * the tombstone set. q_dedup_delete serves incremental near-dup pairs
    * from it: a fresh twin batch must pair only with LIVE stored docs —
    * the twin of a taken-down doc finds nothing. */
  def minhashTakedownStoreDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/minhash_takedown_m7r2g") { tmp =>
      val base = minhashStoreDir(spark, sfDir)
      graft.pipeline.VersionedStore.publish(tmp, Map(
        "sigs" -> graft.pipeline.Dedup.readSignatureStore(spark, base),
        "banded" -> graft.pipeline.Dedup.readBandedStore(spark, base)))
      graft.pipeline.Tombstones.appendDf(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id").where(col("doc_id") % 7 === 2), tmp)
    }

  /** IVF index over the embeddings corpus plus TWO planted duplicates
    * per vector (twin +1e6, tritwin +2e6), with the twins of query ids
    * < 8 TOMBSTONED: identical vectors share every argmin (one cell)
    * and the exact re-rank breaks cosine ties by lowest neighbor id, so
    * rank-1 for a query is its twin where the twin is live and its
    * tritwin where the twin was taken down — a fully-determined planted
    * contract for takedown-aware retrieval (q_ann_delete). */
  def annTakedownIndexDir(spark: SparkSession, sfDir: String, k: Int = 8,
      iters: Int = 3): String =
    writeOnce(s"$Root/${key(sfDir)}/ann_takedown_k${k}i${iters}rg") { tmp =>
      val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val tripled = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 2000000L).as("id"), col("vec")))
      graft.pipeline.Ann.writeIndex(tripled, tmp, k, iters)
      graft.pipeline.Ann.tombstoneVectors(spark, tmp,
        (0L until 8L).map(_ + 1000000L))
    }

  /** Persisted perceptual signature store: (doc_id, 64-bit dHash) over
    * the smooth-image fixture corpus, decoded and signed ONCE — the
    * media analog of the minhash signature store. A new image batch
    * signs only itself and chunk-joins against this scan; the corpus
    * blobs are never re-decoded (grid params in the path so a hash
    * change never reuses stale signatures). */
  def imageSigStoreDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/image_sigs_dhash9x8") { tmp =>
      implicit val sp: SparkSession = spark
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id")
      graft.pipeline.Multimodal.imageSignatures(
          graft.pipeline.Multimodal.attachSmoothImages(docs))
        .coalesce(4).write.parquet(tmp)
    }

  /** Trained BPE merges table over the documents corpus — the shipped
    * (rank, a, b) artifact [[graft.functions.Bpe]] trains once per corpus
    * snapshot and every consumer loads (merge count in the path so a
    * re-parameterization never reuses a stale table). */
  def bpeMergesDir(spark: SparkSession, sfDir: String,
      numMerges: Int = 200): String =
    writeOnce(s"$Root/${key(sfDir)}/bpe_merges_m$numMerges") { tmp =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("text")
      graft.functions.Bpe.save(
        graft.functions.Bpe.train(docs, "text", numMerges), spark, tmp)
    }

  /** Persisted bigram-LM model (the CCNet-filter discipline: train the
    * reference model ONCE, score every incoming corpus against the
    * stored counts — re-training per session re-reads the whole
    * reference corpus). Trained on the doc_id % 5 ≠ 0 slice, matching
    * q_lm_perplexity's in-session derivation. */
  def lmModelDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/lm_bigram_t80g") { tmp =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").where(col("doc_id") % 5 =!= 0)
      graft.pipeline.LangModel.save(
        graft.pipeline.LangModel.train(docs), tmp)
    }

  /** Persisted winnowing fingerprint table (k=8, w=8) over the base
    * documents corpus — the store an incremental partial-copy check
    * joins against: a new batch fingerprints only ITSELF, the stored
    * corpus is a (doc_id, fp) parquet scan (the minhash-signature /
    * image-dHash store discipline). */
  def winnowFpStoreDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/winnow_fp_k8w8") { tmp =>
      graft.pipeline.Dedup.winnowFingerprints(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select("doc_id", "text"), k = 8, w = 8)
        .select("doc_id", "fp").distinct()
        .coalesce(4).write.parquet(tmp)
    }

  /** Persisted CDC chunk table (k=8, divisor=32) over the base
    * documents corpus — the store a re-ingestion check joins against: a
    * new batch chunks only ITSELF and matches stored chunk md5s (the
    * storage-dedup protocol — re-ingested content is recognized without
    * re-chunking the corpus). */
  def cdcChunkStoreDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/cdc_chunks_k8d32") { tmp =>
      graft.pipeline.Dedup.cdcChunks(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select("doc_id", "text"), k = 8, divisor = 32)
        .select("doc_id", "chunk_idx", "chunk_md5")
        .coalesce(4).write.parquet(tmp)
    }

  /** Persisted eval-set embeddings (exact copies of vec_id < 10 under
    * fresh ids) — the store a streaming semantic-decontamination pass
    * anti-joins every micro-batch against. */
  def evalEmbStoreDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/eval_emb_lt10") { tmp =>
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .where(col("vec_id") < 10)
        .select((col("vec_id") + 5000000L).as("id"),
          col("embedding").as("vec"))
        .coalesce(1).write.parquet(tmp)
    }

  /** Persisted eval-suite gram store: (id, gram-hash) rows for the
    * doc_id < 50 eval slice, shingled ONCE
    * ([[graft.pipeline.Dedup.gramHashTable]]) — the n-gram analog of
    * [[evalEmbStoreDir]]; streaming/incremental contamination audits
    * scan it per batch, never re-shingle it. */
  def evalGramStoreDir(spark: SparkSession, sfDir: String,
      shingleN: Int = 3): String =
    writeOnce(s"$Root/${key(sfDir)}/eval_grams_lt50_n$shingleN") { tmp =>
      graft.pipeline.Dedup.gramHashTable(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .where(col("doc_id") < 50)
          .select("doc_id", "text"),
        shingleN = shingleN)
        .coalesce(1).write.parquet(tmp)
    }

  /** Persisted Naive Bayes model (same 80% train slice, lang labels) —
    * the streaming classify query's store (train zero times in the
    * scoring session). */
  def nbModelDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/nb_lang_t80g") { tmp =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "lang", "text").where(col("doc_id") % 5 =!= 0)
      graft.pipeline.Classifier.save(
        graft.pipeline.Classifier.train(docs, labelCol = "lang"), tmp)
    }

  /** Binary relay event-log segments (the graft-relay DataSource's
    * storage), written once from the envelope. Returns the segment dir. */
  def relayLogDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/relaylog") { tmp =>
      graft.sources.relay.RelayBinaryLog.write(
        Store.eventLog(spark, sfDir), tmp, numSegments = 8)
    }

  /** S9 — chained relay: a second relay whose event producer is the FIRST
    * relay's served stream (RelayEventProducer.createDatabusSourcesConnection,
    * databus2-relay-impl/.../producers/RelayEventProducer.java:75,163-197):
    * the primary segment log is consumed through the graft-relay DataSource
    * and re-written as this relay's own segment log. Returns the dir. */
  def chainedRelayLogDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/relaylog_chained") { tmp =>
      val first = spark.read.format("graft-relay")
        .option("path", relayLogDir(spark, sfDir)).load()
      graft.sources.relay.RelayBinaryLog.write(first, tmp, numSegments = 4)
    }

  /** DbusEventV2 wire-format segment log (the reference's exact binary
    * layout, §1.2) rendered from the event log — Avro payload part with
    * the registry digest, per-event seq in the metadata part. Returns
    * the dir. */
  def dbusv2LogDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/dbusv2log") { tmp =>
      val schema = graft.model.VersionedSchemaSet.eventPayloadV1
      val enc = graft.functions.AvroCodec.encodeEventPayload(schema.schemaJson)
      val env = Store.eventLog(spark, sfDir).withColumn("payload",
        enc(struct(col("seq").as("event_id"), col("key_long").as("user_id"),
          ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
          col("value"), col("props"))))
      graft.sources.relay.DbusV2Log.write(env, tmp, numSegments = 8)
    }

  /** DbusEventV2 segment log exercising the FULL key model + metadata
    * part: key kind cycles by seq%3 (0 → LONG user key; 1 → STRING, a
    * numeric string for even keys / a short non-numeric `u<k%1000>x` for
    * odd ones, driving both branches of the parse-as-long-else-hashCode
    * coercion, KeyModFilter.java:55-70; 2 → SCHEMA, the key riding a
    * DbusEventPart, DbusEventKey.java:30-35), and every 5th event carries
    * user metadata `m<seq%97>` in the metadata part behind the engine's
    * seq prefix (DbusEventPart.java:41). All values derive from the events
    * table so a DuckDB oracle can recompute every column, including the
    * Java `String.hashCode` coercion (keys are ≤5 ASCII chars — the hash
    * sum stays below 2^31, no overflow wrap needed). Returns the dir. */
  def dbusv2MixedLogDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/dbusv2mixed") { tmp =>
      val schema = graft.model.VersionedSchemaSet.eventPayloadV1
      val enc = graft.functions.AvroCodec.encodeEventPayload(schema.schemaJson)
      val env = Store.eventLog(spark, sfDir)
        .withColumn("key_string", when(col("seq") % 3 === 1,
          when(col("key_long") % 2 === 0, col("key_long").cast("string"))
            .otherwise(concat(lit("u"), (col("key_long") % 1000).cast("string"),
              lit("x")))))
        .withColumn("key_schema", when(col("seq") % 3 === 2,
          col("key_long").cast("string").cast("binary")))
        .withColumn("meta", when(col("seq") % 5 === 0,
          concat(lit("m"), (col("seq") % 97).cast("string")).cast("binary")))
        .withColumn("payload", enc(struct(
          col("seq").as("event_id"), col("key_long").as("user_id"),
          ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
          col("value"), col("props"))))
      graft.sources.relay.DbusV2Log.write(env, tmp, numSegments = 8)
    }

  /** Legacy DbusEventV1 segment log (the reference's V1 wire layout,
    * DbusEventV1.java:166-183): key kind alternates by seq%2 (even →
    * LONG; odd → STRING, numeric for even user keys / short non-numeric
    * `u<k%1000>x` otherwise — same coercion-oracle construction as the
    * mixed V2 log; V1 has no SCHEMA keys). Returns the dir. */
  def dbusv1LogDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/dbusv1log") { tmp =>
      val schema = graft.model.VersionedSchemaSet.eventPayloadV1
      val enc = graft.functions.AvroCodec.encodeEventPayload(schema.schemaJson)
      val env = Store.eventLog(spark, sfDir)
        .withColumn("key_string", when(col("seq") % 2 === 1,
          when(col("key_long") % 2 === 0, col("key_long").cast("string"))
            .otherwise(concat(lit("u"), (col("key_long") % 1000).cast("string"),
              lit("x")))))
        .withColumn("payload", enc(struct(
          col("seq").as("event_id"), col("key_long").as("user_id"),
          ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
          col("value"), col("props"))))
      graft.sources.relay.DbusV1Log.write(env, tmp, numSegments = 8)
    }

  /** B9 — Avro container-file snapshot (BootstrapAvroFileEventReader
    * shape): the event log seeded as id-ordered `part-NNNNN.avro` files.
    * Returns the dir. */
  def avroSnapshotDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/avrosnap") { tmp =>
      import spark.implicits._
      val snap = Store.eventLog(spark, sfDir).select(
          col("seq").as("id"), col("scn"),
          col("key_long").as("srckey"),
          coalesce(col("props"), lit("")).cast("binary").as("payload"))
        .as[AvroFileBootstrap.SnapshotRow]
      AvroFileBootstrap.writeSnapshot(snap, tmp, numFiles = 4)
    }

  /** Binlog JSON-lines dump: records with (file_no, offset, txn_offset,
    * table, op, key, row) plus one COMMIT marker per transaction —
    * SCN = (file_no << 32) | offset, the reference's composite
    * (ORListener.java:179-284). Returns the dump dir. */
  def binlogDumpDir(spark: SparkSession, sfDir: String): String =
    writeOnce(s"$Root/${key(sfDir)}/binlog") { tmp =>
      val raw = ChangeFeed.raw(spark, sfDir)
      val win = col("event_id") - col("event_id") % ChangeFeed.WindowSize
      // each data event occupies two offset units (row-event + bookkeeping,
      // the way real binlogs interleave control entries); the COMMIT takes
      // the odd slot after the window's last row, so no two records ever
      // share a (file_no, offset) position and offset order is total
      val data = raw.select(
        (col("event_id") / BinlogFileSize + 1).cast("long").as("file_no"),
        (col("event_id") % BinlogFileSize * 2).as("offset"),
        (win % BinlogFileSize * 2).as("txn_offset"),
        col("event_type").as("table"),
        when(col("event_type") === "error", "DELETE").otherwise("INSERT").as("op"),
        col("user_id").as("key"),
        to_json(struct(col("value"))).as("row"))
      val commits = raw.groupBy(
          (win / BinlogFileSize + 1).cast("long").as("file_no"),
          (win % BinlogFileSize * 2).as("txn_offset"))
        .agg(max(col("event_id") % BinlogFileSize * 2).as("last_off"))
        .select(col("file_no"), (col("last_off") + 1).as("offset"),
          col("txn_offset"), lit(null).cast("string").as("table"),
          lit("COMMIT").as("op"), lit(null).cast("long").as("key"),
          lit(null).cast("string").as("row"))
      data.unionByName(commits)
        .repartitionByRange(4, col("file_no"), col("offset"))
        .sortWithinPartitions("file_no", "offset")
        .write.mode("overwrite").json(tmp)
    }
}
