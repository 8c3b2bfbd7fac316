package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Document deduplication family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the whole point of these ops at 100 TB):
  *  - no pairwise O(n²) step ever touches the full corpus — candidate
  *    generation is always a bucket equi-join (shuffle on short keys),
  *    verification runs only inside buckets;
  *  - signatures are computed as codegen'd higher-order-function
  *    expressions over the scan (no UDF, no python);
  *  - representatives are chosen with min/max aggregates, not sorts.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-shuffle on a 16-byte key.
    * Output: one row per distinct content with the representative (min) id
    * and the duplicate count. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_count"))

  /** Keep only the representative row per distinct content (the "dedup and
    * keep one" materialization). */
  def exactKeepOne(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Span-level exact dedup — the line/paragraph-dedup stage of web-scale
    * pipelines (CCNet, RefinedWeb), expressed over fixed `spanTokens`-token
    * blocks (the corpus carries no line structure; for documents with
    * newlines, substitute the splitter). A span OCCURRENCE survives iff it
    * is the corpus-wide first occurrence of that block, first = minimum
    * (doc id, span index) — so boilerplate repeated across documents is
    * stripped everywhere but its first appearance, and an exact duplicate
    * document loses every span.
    *
    * Output, one row per input doc: `(doc_id, n_spans, n_kept,
    * kept_text)` with `kept_text` the surviving spans re-joined in
    * order ("" when everything was dropped).
    *
    * Scale shape: one explode (narrow), one hash-shuffle window keyed on
    * the span fingerprint (md5 — 16 B keys, never full text, the same
    * discipline as [[exact]]), one groupBy doc. No self-joins, no
    * collect. */
  def spanDedup(docs: DataFrame, spanTokens: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // null text reads as empty (explicit choice: a doc row is NEVER
    // silently dropped — null-text docs come out as one empty span)
    val toks = TextFunctions.tokens(coalesce(col(textCol), lit("")))
    // degenerate-input guard: sequence(0, -1) is DESCENDING in Spark
    // ([0,-1] — two phantom spans) while generate_series(0,-1) is empty
    // in the SQL oracle; clamping the upper bound to ≥ 0 keeps "one span
    // row per doc" for empty docs (split('') yields [""], so n ≥ 1)
    val spansArr = transform(
      sequence(lit(0),
        greatest(
          ceil(size(toks).cast("double") / spanTokens).cast("int") - 1,
          lit(0))),
      i => concat_ws(" ", slice(toks, i * spanTokens + 1, lit(spanTokens))))
    val spans = docs
      .select(col(idCol).as("doc_id"), posexplode(spansArr))
      .withColumnRenamed("pos", "span_idx")
      .withColumnRenamed("col", "span")
    val w = Window.partitionBy(md5(col("span").cast("binary")))
      .orderBy(col("doc_id"), col("span_idx"))
    spans
      .withColumn("is_first", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_first"), struct(col("span_idx"), col("span"))))),
            x => x.getField("span")),
          " ").as("kept_text"))
  }

  /** Exact-substring duplication detection over SLIDING L-token windows
    * (stride 1) — the suffix-array-free form of "find every repeated
    * substring of ≥ L tokens" that exact-substring training-data dedup
    * prescribes. [[spanDedup]]'s fixed 20-token blocks miss duplicates
    * that are shifted relative to the block grid; sliding windows catch
    * every alignment: a window whose hash occurs more than once
    * corpus-wide IS a repeated ≥L-token substring occurrence.
    *
    * Emits one row per input doc: (doc_id, n_tokens, n_windows,
    * n_dup_windows, has_dup) — docs shorter than L tokens report zero
    * windows and are never flagged. Detection-level output (which docs,
    * how much): the clipping/removal policy is downstream's choice.
    *
    * Shape: tokens are POSEXPLODED to narrow (doc_id, pos, tok) rows and
    * windows built with a per-doc window-function collect_list — NOT a
    * `transform(sequence(...), i -> slice(toks, ...))` lambda, which
    * would re-embed the tokenizer per window (O(tokens²) per doc; the
    * same pitfall fixed in topBigramFraction/wordBigrams). Cost: one
    * shuffle by doc_id (windowing), one by window hash (occurrence
    * counts), one per-doc aggregate — all over rows that carry a 16-byte
    * hash, never window text. Row count equals corpus token count; that
    * is the honest price of exactness at stride 1 (suffix-array engines
    * pay the same linear blow-up) — raise L or sample strides when the
    * budget demands approximation. */
  def substringDupStats(docs: DataFrame, windowTokens: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toksed = docs.select(col(idCol).cast("long").as("doc_id"),
      TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("toks"))
    val ex = toksed
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        posexplode(col("toks")))
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        col("col").as("tok"))
    val wspec = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, windowTokens - 1)
    val wins = ex
      .withColumn("wtext",
        concat_ws(" ", collect_list(col("tok")).over(wspec)))
      .where(col("pos") <= col("n_tokens") - windowTokens)
      .select(col("doc_id"),
        md5(col("wtext").cast("binary")).as("whash"))
    val occurrences = Window.partitionBy(col("whash"))
    val agg = wins
      .withColumn("cnt", count(lit(1)).over(occurrences))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    toksed.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)) > 0L).as("has_dup"))
  }

  /** Word n-gram shingles of a document (distinct). HOFs are interpreted
    * (no codegen), so the lambda body is kept to two nodes — slice +
    * concat_ws beats per-position element_at chains. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextFunctions.tokens(text)
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct 64-bit hashes of a document's shingles — the only pass that
    * touches strings. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => xxhash64(s))

  /** MinHash signature over *precomputed shingle hashes*: the k functions
    * re-hash the base long with seed j (xxhash64 over fixed-width longs —
    * no string traversal, no overflow under ANSI arithmetic) — one string
    * hash per shingle total, then k cheap long re-hashes. */
  def minhashSignatureFromHashes(hashArr: Column, k: Int = 64): Column =
    array((0 until k).map { j =>
      array_min(transform(hashArr, h => xxhash64(lit(j), h)))
    }: _*)

  /** MinHash signature straight from shingles (convenience; prefer the
    * two-step form inside pipelines so the hash array materializes once). */
  def minhashSignature(shingleArr: Column, k: Int = 64): Column =
    minhashSignatureFromHashes(shingleHashes(shingleArr), k)

  /** FNV-1a 64-bit over chars — the kernel hash (the reference ships the
    * same family for key bucketing: util/Fnv1aHashImpl.java:1). */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer — derives the j-th minhash function from one
    * base hash (universal-hashing construction). */
  @inline private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** MinHash + banded LSH near-dup candidate pairs.
    *
    * Pipeline: per-partition kernel (tokenize → distinct n-gram shingles →
    * FNV-1a base hash → k splitmix-derived minima → per-band bucket ids) →
    * self-equi-join on (band, bucket) → distinct candidate pairs → filter
    * estimated Jaccard (matching-minhash fraction) ≥ threshold.
    *
    * The signature kernel is deliberately `mapPartitions` imperative code:
    * it is the hot loop of the whole dedup pipeline and higher-order
    * column functions don't participate in codegen (measured ~6× slower
    * here). Everything around it stays declarative.
    *
    * Shuffle profile at scale: explode to `bands` rows per doc (narrow),
    * one shuffle on (band, bucket), join output is collision-sized; the
    * signature (k longs) rides along instead of the document text, so
    * shuffle bytes stay bounded.
    */
  /** One kernel pass: per-doc MinHash signature (k minima over distinct
    * word-n-gram shingles). Returned frame is persisted — it is read by the
    * banded explode AND the per-pair estimate, and at production scale it is
    * exactly the signature table a pipeline would materialize to storage
    * once per corpus snapshot. Tuple rows, not a nested case class: a
    * private nested case class fails Janino codegen of the encoder. */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int): DataFrame =
    PlanCache.getOrPersist(docs, s"minhash|$textCol|$idCol|$shingleN|$k",
      minhashSignaturesUncached(docs, textCol, idCol, shingleN, k))

  /** Per-session count of documents run through the signature kernel —
    * instrumentation for the O(increment) signing contract of the
    * persisted-signature protocol (approximate under task retries /
    * cache-evicted recomputation; exact in a clean run). */
  private val signAccs =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.util.LongAccumulator]
  private[graft] def signedDocsAccumulator(
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.util.LongAccumulator = synchronized {
    signAccs.computeIfAbsent(spark,
      s => s.sparkContext.longAccumulator("graft.dedup.signedDocs"))
  }

  private def minhashSignaturesUncached(docs: DataFrame, textCol: String,
      idCol: String, shingleN: Int, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val signed = signedDocsAccumulator(docs.sparkSession)
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          signed.add(1L)
          val toks = text.split(graft.functions.TextFunctions.WsPlus)
          val nSh = math.max(toks.length - shingleN + 1, 1)
          val seen = new java.util.HashSet[String](nSh * 2)
          val sig = Array.fill(k)(Long.MaxValue)
          var i = 0
          while (i < nSh) {
            val shingle = {
              val sb = new java.lang.StringBuilder
              var o = 0
              while (o < shingleN && i + o < toks.length) {
                if (o > 0) sb.append(' ')
                sb.append(toks(i + o)); o += 1
              }
              sb.toString
            }
            if (seen.add(shingle)) {
              val base = fnv1a64(shingle)
              var j = 0
              while (j < k) {
                val h = mix64(base ^ (j * 0x9E3779B97F4A7C15L))
                if (h < sig(j)) sig(j) = h
                j += 1
              }
            }
            i += 1
          }
          (id, sig)
        }
      }.toDF("id", "sig")
  }

  /** MinHash + banded LSH near-dup candidate pairs.
    *
    * Shuffle discipline (what survives a 100 TB corpus): the only wide op
    * that sees per-doc data is the collision join, and it carries (id,
    * band, bucket) — 24 bytes/row — never text or signatures. Candidate
    * pairs (two longs) deduplicate cheaply; the signature pair is then
    * fetched by two keyed joins against the cached signature table and the
    * match-fraction estimate runs in a tight kernel, so estimate cost
    * scales with collision count, not corpus size. */
  def minhashLshPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3, k: Int = 64,
      bands: Int = 16, jaccardThreshold: Double = 0.5): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands) — rows-per-band 0 " +
        "would make every bucket constant and the join a cross product")
    val rows = k / bands
    val sigs = minhashSignatures(docs, textCol, idCol, shingleN, k)
    val banded = bandedBuckets(sigs, bands, rows)
    val a = banded.select(col("id").as("id_a"), col("band"), col("bucket"))
    val b = banded.select(col("id").as("id_b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    estimatePairs(cand, sigs, k, jaccardThreshold)
  }

  /** (id, band, bucket) rows — one FNV fold per band over the signature
    * slice (the banded-LSH blocking key). */
  private def bandedBuckets(sigs: DataFrame, bands: Int, rows: Int)
      : DataFrame = {
    import sigs.sparkSession.implicits._
    sigs.as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, sig) =>
          (0 until bands).iterator.map { band =>
            var bucket = 0xcbf29ce484222325L ^ band
            var r = 0
            while (r < rows) { bucket ^= sig(band * rows + r); bucket *= 0x100000001b3L; r += 1 }
            (id, band, bucket)
          }
        }
      }.toDF("id", "band", "bucket")
  }

  /** Kernel signature-match estimate over a candidate id-pair set. */
  private def estimatePairs(cand: DataFrame, sigs: DataFrame, k: Int,
      jaccardThreshold: Double): DataFrame = {
    import sigs.sparkSession.implicits._
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select("id_a", "id_b", "sig_a", "sig_b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.map { case (ia, ib, sa, sb) =>
        var m = 0; var i = 0
        while (i < k) { if (sa(i) == sb(i)) m += 1; i += 1 }
        (ia, ib, m.toDouble / k)
      }).toDF("id_a", "id_b", "est_jaccard")
      .where(col("est_jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Incremental near-dup candidates — dedup a NEW batch against a
    * corpus that is already signed, emitting only pairs that touch the
    * batch (old×old pairs are the previous increments' output). This is
    * the 100 TB operating mode: a growing corpus signs each increment
    * once (existing signatures come from the persisted table), so
    * signature cost is proportional to the increment and the collision
    * join is (new × all) banded buckets, never a full re-block.
    *
    * Output orientation: (id_a, id_b) = (min, max), same as the batch
    * path, so downstream verify/components compose unchanged. */
  def incrementalMinhashPairs(newDocs: DataFrame, existing: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", shingleN: Int = 3,
      k: Int = 64, bands: Int = 16, jaccardThreshold: Double = 0.5)
      : DataFrame = {
    val sigsNew = minhashSignatures(newDocs, textCol, idCol, shingleN, k)
    val sigsOld = minhashSignatures(existing, textCol, idCol, shingleN, k)
    incrementalPairsFromSignatures(sigsNew, sigsOld, k, bands,
      jaccardThreshold)
  }

  /** Incremental near-dup candidates from SIGNATURE frames — the
    * persisted-signature-table operating mode (the protocol a streaming /
    * repeatedly-incrementing corpus must run at 100 TB). `sigsNew` is the
    * increment's signature frame (sign ONLY the increment — one
    * [[minhashSignatures]] call on the batch), `sigsExisting` is the
    * signature TABLE accumulated so far, e.g. a parquet store appended
    * once per prior increment: the existing corpus is never re-signed, so
    * per-increment signing cost is O(increment) by construction. The
    * stored side still re-bands each call — a scan of (id, 64×8 B)
    * signature rows, no text — persist the banded frame too if even that
    * scan matters.
    *
    * Both frames are (id LONG, sig ARRAY<LONG(k)>), the exact schema
    * [[minhashSignatures]] emits and parquet roundtrips. Emits pairs that
    * touch the increment (including within-increment), oriented
    * (min, max) like the batch path. */
  def incrementalPairsFromSignatures(sigsNew: DataFrame,
      sigsExisting: DataFrame, k: Int = 64, bands: Int = 16,
      jaccardThreshold: Double = 0.5): DataFrame =
    estimatePairs(
      incrementalCandidatesFromSignatures(sigsNew, sigsExisting, k, bands),
      sigsExisting.unionByName(sigsNew), k, jaccardThreshold)

  /** Candidate HALF of the signature-store protocol: banded (new × all)
    * collision pairs, no signature-match estimate. Split out so a
    * streaming caller can keep the per-trigger path to sign + band +
    * append and run ONE estimate/verify over the accumulated candidates
    * at the end — signatures are immutable per id, so estimating against
    * the final store is bit-identical to estimating per increment. */
  def incrementalCandidatesFromSignatures(sigsNew: DataFrame,
      sigsExisting: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val rows = k / bands
    val bNew = bandedBuckets(sigsNew, bands, rows)
    incrementalCandidatesFromBanded(bNew,
      bandedBuckets(sigsExisting, bands, rows).unionByName(bNew))
  }

  /** (id, band, bucket) blocking rows for a signature frame — the banded
    * table a store-protocol pipeline persists alongside the signatures so
    * an increment bands ONLY itself (the stored side is never re-scanned
    * through the banding kernel). */
  def bandedBucketsFromSignatures(sigs: DataFrame, k: Int = 64,
      bands: Int = 16): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    bandedBuckets(sigs, bands, k / bands)
  }

  /** Full persisted-store increment path: candidates from the new
    * batch's banded rows against the stored BANDED table (the increment
    * bands only itself — the stored side is never re-run through the
    * banding kernel, honoring the store protocol's contract), then the
    * signature-match estimate over candidate ids only. `sigsAll` must
    * cover both pair endpoints (stored live ∪ new); its scan is
    * id-keyed and candidate-bounded. This is the form a takedown-aware
    * store serves: pass [[readBandedStore]] / [[readSignatureStore]]
    * and deleted docs leave candidate generation entirely. */
  def incrementalPairsFromBanded(bandedNew: DataFrame, bandedAll: DataFrame,
      sigsAll: DataFrame, k: Int = 64,
      jaccardThreshold: Double = 0.5): DataFrame =
    estimatePairs(incrementalCandidatesFromBanded(bandedNew, bandedAll),
      sigsAll, k, jaccardThreshold)

  /** The LIVE signature rows of a persisted signature store (the
    * `sigs/` table of the minhash-store layout): stored rows minus any
    * [[tombstoneSignatures]] takedowns — the [[Tombstones]] discipline
    * on the dedup store family. A taken-down doc must stop generating
    * candidate pairs (it can otherwise keep winning keep-one elections
    * or re-linking clusters long after its takedown), and the signature
    * table is the only place it enters candidate generation. On a
    * batch-addressed store ([[appendToSignatureStoreBatch]]) the
    * discovered `batch` partition column is LAYOUT, not data — dropped
    * here so every consumer sees one schema either way. `at` replays a
    * captured [[VersionedStore.Pin]] (an as-of-batch read of the head is
    * `Pin(currentGen, Some(b))`): a curation run replays the exact dedup
    * decision set it was made under after any number of later appends
    * and publishes; tombstones still apply — time travel must never
    * resurrect a deleted doc's candidate pairs. */
  def readSignatureStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, at: Option[VersionedStore.Pin] = None): DataFrame =
    servedRows(spark, VersionedStore.resolve(storeDir, at,
      "Dedup.readSignatureStore"), "sigs")

  /** The LIVE banded blocking rows of a persisted signature store
    * (tombstone-aware like [[readSignatureStore]], `at` likewise). */
  def readBandedStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, at: Option[VersionedStore.Pin] = None): DataFrame =
    servedRows(spark, VersionedStore.resolve(storeDir, at,
      "Dedup.readBandedStore"), "banded")

  /** The live rows of `table` at a resolved view, `batch` layout column
    * dropped ([[VersionedStore.liveRows]]) — the one serving read here. */
  private def servedRows(spark: org.apache.spark.sql.SparkSession,
      v: VersionedStore.View, table: String): DataFrame =
    VersionedStore.liveRows(spark, v, table, "id").drop("batch")

  /** Render a PERSISTED minhash signature store for `docs` into `dir` —
    * the one-time corpus onboarding of the signature-store dedup
    * protocol: `sigs/` (id, sig[k]) plus `banded/` (id, band, bucket),
    * committed as ONE [[VersionedStore]] generation behind one atomic
    * pointer flip. The signed-but-never-banded crash window
    * ([[StoreFsck.minhashStore]]'s headline finding — the worst store
    * failure, because a doc missing from `banded/` silently never
    * blocks with anything) is structurally impossible on this path: a
    * crash mid-build leaves readers on the previous generation.
    * Incremental batches keep their own overlay stores (the streaming
    * demos' discipline); a re-onboarding is the next generation.
    *
    * `batchId` selects the BATCH-ADDRESSED layout from the first write
    * (the same bootstrap switch as [[Ann.writeIndex]] /
    * [[Retrieval.writePostingsIndex]]): both tables are born as
    * `batch=<id>` partition dirs, so the store is maintained by
    * [[appendToSignatureStoreBatch]] for life — partition discovery
    * rejects a layout that mixes flat files with batch subdirs, and the
    * batch history is what a [[VersionedStore.Pin]] pins. */
  def writeSignatureStore(docs: DataFrame, dir: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      numFiles: Int = 4, batchId: Option[Long] = None): Unit = {
    require(numFiles > 0, s"writeSignatureStore: numFiles $numFiles")
    // one cached signature pass feeds both published tables (publish
    // writes them concurrently; without the persist each table's plan
    // re-ran the shingle+hash kernel over the whole corpus)
    val sigs = minhashSignatures(docs, textCol, idCol, shingleN, k)
      .persist()
    try {
      VersionedStore.publish(dir, Map(
        batchId.fold("sigs")(b => s"sigs/batch=$b") ->
          sigs.coalesce(numFiles),
        batchId.fold("banded")(b => s"banded/batch=$b") ->
          bandedBucketsFromSignatures(sigs, k, bands)
          .coalesce(numFiles)))
    } finally sigs.unpersist()
    ()
  }

  /** STREAMING-append form of the signature-store increment — the
    * [[Ann.appendToIndexBatch]] idiom on the dedup store family: the
    * batch is signed and banded ONCE (O(batch) — the stored corpus is
    * never re-signed, the persisted-signature protocol's contract) and
    * both row sets land in their own `batch=<id>` subdirs with
    * OVERWRITE semantics, so a foreachBatch retry (at-least-once
    * delivery) rewrites the same partial instead of appending a second
    * copy. A blind `mode("append")` would silently double-append the
    * replayed docs' signature rows — every later [[estimatePairs]]
    * join would then multiply candidate rows per duplicated id, and
    * [[StoreFsck.minhashStore]]'s `duplicate_signatures` finding could
    * only DETECT that after the fact; this form PREVENTS it, the
    * engine's standard. The minhash kernel is deterministic in
    * (shingleN, k), so a replay reproduces the exact rows it
    * overwrites. Caller owns id disjointness across batches and
    * parameter constancy — a mismatched `k` is caught by the fsck's
    * `wrong_signature_width` row, never at this write. Reference
    * analogue: the dispatcher's rollback/replay contract assumes
    * idempotent application (GenericDispatcher.java:551,921). */
  def appendToSignatureStoreBatch(newDocs: DataFrame, dir: String,
      batchId: Long, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToSignatureStoreBatch: numFiles $numFiles")
    // signed ONCE, as the contract above states: both row sets derive
    // from one cached signature pass (without the persist each write's
    // plan re-ran the shingle+hash kernel). A root with no generation
    // yet is born by publishing this batch as generation 1
    // ([[VersionedStore.append]]); otherwise the two writes land in
    // different tables' batch dirs of the current generation, overlapped
    // and settled together (a replay of this batch must never start
    // while an orphaned sibling write to the same batch dirs is in
    // flight)
    val sigs = minhashSignatures(newDocs, textCol, idCol, shingleN, k)
      .persist()
    try VersionedStore.append(dir, Seq(
        s"sigs/batch=$batchId" -> (() => sigs.coalesce(numFiles)),
        s"banded/batch=$batchId" -> (() =>
          bandedBucketsFromSignatures(sigs, k, bands).coalesce(numFiles))),
      "overwrite") { t =>
      // WRITE-TIME layout guard (the [[Ann.appendToIndexBatch]] rule): a
      // batch subdir under a flat sigs/ table would break every later
      // read at partition discovery — loud here beats corrupt-at-read
      require(!StoreFs.isDirectory(s"$t/sigs") ||
          StoreFs.listDirNames(s"$t/sigs").exists(_.startsWith("batch=")),
        s"appendToSignatureStoreBatch: $dir is a flat store — a" +
          " batch-addressed append would mix layouts and break partition" +
          " discovery; bootstrap the store with writeSignatureStore's" +
          " batchId")
    }
    finally sigs.unpersist()
  }

  /** The store's full near-dup candidate pair set (estimate stage) at a
    * captured [[VersionedStore.Pin]]: banding, candidate generation AND
    * the signature-match estimate all resolve from the pinned snapshot
    * (one resolution for both tables), so the pairs are exactly the
    * ones the store would have served when the pin was captured (modulo
    * takedowns, which always apply). Feed the result to
    * [[ngramJaccardVerify]] for the exact-verify stage — document text
    * lives in the lake, not the store, and verification is
    * collision-bounded either way. */
  def nearDupPairsFromStorePinned(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, pin: VersionedStore.Pin, k: Int = 64,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val v = VersionedStore.resolve(storeDir, Some(pin),
      "Dedup.nearDupPairsFromStorePinned")
    val banded = servedRows(spark, v, "banded")
    estimatePairsFromSignatures(
      incrementalCandidatesFromBanded(banded, banded),
      servedRows(spark, v, "sigs"), k, jaccardThreshold)
  }

  /** Compact a [[writeSignatureStore]] store — the takedown GC
    * [[tombstoneSignatures]]' scaladoc promises: tombstoned rows drop
    * physically from both tables. The rewrite is one fresh-generation
    * [[VersionedStore.publish]] of the live rows followed by
    * [[VersionedStore.gc]] — the one commit path of every store
    * rewrite; the old overlay stays behind in the retired generations
    * the gc sweeps. A batch-addressed store keeps its FULL
    * `batch=<id>` layout through the rewrite — the
    * [[Ann.compactIndexCells]] rule: a row's batch identity is
    * preserved, never rolled up, so pins stay exact across the GC and
    * post-compaction [[appendToSignatureStoreBatch]] writes keep
    * working. */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int = 4, keepGenerations: Int = 0): Unit = {
    require(numFiles > 0, s"compactSignatureStore: numFiles $numFiles")
    val v = VersionedStore.resolve(dir)
    val batched = StoreFs.listDirNames(s"${v.dir}/sigs")
      .exists(_.startsWith("batch="))
    // liveRows keeps the discovered batch column (the serving readers
    // drop it — layout, not data — but the rewrite must preserve it)
    def live(table: String): DataFrame =
      VersionedStore.liveRows(spark, v, table, "id").coalesce(numFiles)
    val sigsLive = live("sigs")
    val bandedLive = live("banded")
    VersionedStore.publish(dir, Map(
      "sigs" -> sigsLive, "banded" -> bandedLive),
      partitionBy =
        if (batched) Map("sigs" -> Seq("batch"), "banded" -> Seq("batch"))
        else Map.empty)
    VersionedStore.gc(dir, keep = keepGenerations)
    ()
  }

  /** Record a doc takedown against a persisted signature store —
    * O(request), stored rows untouched; reads anti-join the set (see
    * [[Tombstones]]). Physical removal belongs to the store's next
    * compaction rewrite, as with [[Retrieval.compactPostingsIndex]]. */
  def tombstoneSignatures(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: Seq[Long]): Unit =
    Tombstones.append(spark, storeDir, ids)

  /** Bulk-takedown form of [[tombstoneSignatures]]: `ids` is a
    * one-column frame (the CDC sinks' DELETE slice lands here without a
    * driver round-trip; see [[Tombstones.appendDf]] for the set
    * semantics and the non-castable-id refusal). */
  def tombstoneSignaturesDf(ids: DataFrame, storeDir: String): Unit =
    Tombstones.appendDf(ids, storeDir)

  /** Collision candidates of a new banded frame against the full banded
    * table (which must already include the new rows for within-increment
    * pairs), oriented (min, max).
    *
    * `broadcastNew` picks the join strategy for the normal incremental
    * operating point — increment ≪ corpus: broadcasting the increment's
    * (id, band, bucket) rows lets the stored table stream through a
    * broadcast hash join with NO shuffle and no sort of the store (24 B ×
    * bands rows per new doc — fine up to ~10⁶-doc increments). Leave it
    * false when the increment is itself corpus-sized and the shuffle
    * equi-join is the right plan. */
  def incrementalCandidatesFromBanded(bandedNew: DataFrame,
      bandedAll: DataFrame, broadcastNew: Boolean = false): DataFrame = {
    val newSide0 = bandedNew
      .select(col("id").as("id_n"), col("band"), col("bucket"))
    val newSide = if (broadcastNew) broadcast(newSide0) else newSide0
    newSide
      .join(bandedAll.select(col("id").as("id_o"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
  }

  /** Signature-match estimate + threshold over a candidate pair set,
    * given the signature table (public face of the estimate stage for
    * store-protocol callers). */
  def estimatePairsFromSignatures(cand: DataFrame, sigs: DataFrame,
      k: Int = 64, jaccardThreshold: Double = 0.5): DataFrame =
    estimatePairs(cand.select("id_a", "id_b"), sigs, k, jaccardThreshold)

  /** Cross-corpus decontamination support: training docs sharing ≥ 1 word
    * n-gram with an evaluation corpus. The standard train/test overlap
    * scrub an LLM data pipeline runs before training (corpus-scale
    * recipes use 13-grams; `shingleN` parameterizes).
    *
    * Shape at 100 TB: both sides reduce to distinct n-gram *hashes*
    * (narrow long rows — text never shuffles); the eval side is distinct
    * and broadcast (eval suites are small by definition; set
    * `broadcastEval=false` for a giant holdout and it becomes a hash
    * equi-join), and the contaminated set comes out of one left-semi
    * join carrying (id, hash) only. */
  def contaminatedIds(train: DataFrame, eval: DataFrame, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      broadcastEval: Boolean = true): DataFrame = {
    val trainGrams = gramHashes(train, textCol, idCol, shingleN)
    val evalGrams0 = gramHashes(eval, textCol, idCol, shingleN)
      .select("g").distinct()
    val evalGrams = if (broadcastEval) broadcast(evalGrams0) else evalGrams0
    trainGrams.join(evalGrams, Seq("g"), "left_semi")
      .select(col("id")).distinct()
  }

  /** Contamination ATTRIBUTION — the audit report that accompanies the
    * scrub. [[decontaminate]] answers "which train rows do I drop";
    * this answers "which eval item leaked where, and how badly": one
    * row per (train doc, eval doc) pair sharing ≥ 1 word n-gram, with
    * the shared distinct-gram count and the share of the EVAL doc's
    * grams covered in integer basis points (`leak_bp = n_shared * 10000
    * div eval_grams` — "how much of this benchmark item is in my
    * corpus", the number contamination reports publish per eval set).
    *
    * Plan shape at 100 TB: both sides reduce to (id, gram-hash) longs —
    * text never shuffles; the pair join is gram-keyed; per-doc totals
    * and per-pair counts are map-side-combined hash aggregates. The one
    * quantity that can explode is a BOILERPLATE gram shared by millions
    * of train docs — `maxGramDf` drops grams present in more than that
    * many train docs before pairing (a ubiquitous n-gram is not leakage
    * evidence; same df-cap discipline as winnowOverlapPairs/postings).
    * The cap is ON by default: a 3-gram in >10k train docs is
    * boilerplate by any reasonable prior, and an uncapped default is
    * exactly the 10⁶×10³-row fan-out that falls over first at 100 TB.
    * Pass `Int.MaxValue` for the exact (audit-grade) report. The cap is
    * not silent: [[contaminationReportWithStats]] returns the exact
    * dropped-gram mass ([[GramDfStats]], the Bpe.VocabStats treatment),
    * and this overload is just its `_1`. */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      shingleN: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      maxGramDf: Int = DefaultMaxGramDf): DataFrame =
    contaminationReportFromGrams(train,
      gramHashes(eval, textCol, idCol, shingleN),
      shingleN, textCol, idCol, maxGramDf)

  /** Default train-side document-frequency cap for contamination
    * attribution: grams in more than this many train docs are treated
    * as boilerplate, not leakage evidence. */
  val DefaultMaxGramDf = 10000

  /** Per-call accounting for `maxGramDf`: exactly which gram mass the
    * cap excluded from attribution — the "no silent caps" contract
    * (`droppedGrams` distinct over-cap grams; `droppedRows` the (train
    * doc, gram) pair rows those grams carried — the fan-out the cap
    * killed). */
  case class GramDfStats(distinctGrams: Long, droppedGrams: Long,
      droppedRows: Long)

  /** [[contaminationReport]] plus the cap accounting. `stats` is None
    * when `maxGramDf = Int.MaxValue` (nothing can drop — the report is
    * exact and stays fully lazy); with a finite cap the train-gram df
    * table is aggregated eagerly (it is persisted and re-read by the
    * kept-gram semi-join, so the extra action costs one vocab-sized
    * aggregate, not a second corpus pass). */
  def contaminationReportWithStats(train: DataFrame, eval: DataFrame,
      shingleN: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      maxGramDf: Int = DefaultMaxGramDf): (DataFrame, Option[GramDfStats]) =
    contaminationReportFromGramsWithStats(train,
      gramHashes(eval, textCol, idCol, shingleN),
      shingleN, textCol, idCol, maxGramDf)

  /** The eval side of a decontamination/attribution pipeline as a
    * persistable table: (id, gram-hash) distinct rows per eval doc —
    * what a deployment renders ONCE per eval-suite release and serves
    * from thereafter (the minhash-signature-store discipline: the eval
    * corpus text is never re-shingled by consumers). Feed it back
    * through [[contaminationReportFromGrams]]. */
  def gramHashTable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3): DataFrame =
    gramHashes(df, textCol, idCol, shingleN)

  /** [[contaminationReport]] where the eval side is an
    * already-rendered [[gramHashTable]] (typically read back from a
    * persisted store): only the TRAIN side is shingled — the per-batch
    * cost of a streaming/incremental audit is O(batch), the store is
    * scanned, never recomputed. */
  def contaminationReportFromGrams(train: DataFrame, evalGrams: DataFrame,
      shingleN: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      maxGramDf: Int = DefaultMaxGramDf): DataFrame =
    reportFromGramsCore(train, evalGrams, shingleN, textCol, idCol,
      maxGramDf, computeStats = false)._1

  /** [[contaminationReportFromGrams]] plus the cap accounting (see
    * [[contaminationReportWithStats]]). */
  def contaminationReportFromGramsWithStats(train: DataFrame,
      evalGrams: DataFrame, shingleN: Int = 3, textCol: String = "text",
      idCol: String = "doc_id", maxGramDf: Int = DefaultMaxGramDf)
      : (DataFrame, Option[GramDfStats]) =
    reportFromGramsCore(train, evalGrams, shingleN, textCol, idCol,
      maxGramDf, computeStats = true)

  /** The capping is identical on both surfaces; only the WithStats form
    * pays the eager accounting aggregate (a per-micro-batch stream that
    * wants the plain report must not pay one extra action per trigger —
    * the df table it would aggregate is persisted either way, so the
    * accounting stays one cheap `WithStats` call away). */
  private def reportFromGramsCore(train: DataFrame, evalGrams: DataFrame,
      shingleN: Int, textCol: String, idCol: String, maxGramDf: Int,
      computeStats: Boolean): (DataFrame, Option[GramDfStats]) = {
    // with the df cap the train gram table has TWO consumers (the df
    // aggregate and the semi-join left side) — persist it or the
    // corpus-scale shingle kernel runs twice; uncapped it is consumed
    // once and needs no persist
    val tg0 = gramHashes(train, textCol, idCol, shingleN)
    val tg =
      if (maxGramDf == Int.MaxValue) tg0
      else PlanCache.getOrPersist(train,
        s"contam-grams|$shingleN|$textCol|$idCol", tg0)
    val eg = evalGrams.select(col("id").cast("long").as("id"), col("g"))
    val evalSizes = eg.groupBy("id")
      .agg(count(lit(1)).as("eval_grams"))
      .select(col("id").as("eval_id"), col("eval_grams"))
    val (tgKept, stats) =
      if (maxGramDf == Int.MaxValue) (tg, None)
      else {
        // df table persisted: the kept-gram semi-join and (on the
        // WithStats surface) the accounting aggregate both read it
        // (vocab-of-grams-sized — orders of magnitude below the corpus,
        // the Bpe word-frequency regime)
        val dfTable = PlanCache.getOrPersist(train,
          s"contam-df|$shingleN|$textCol|$idCol",
          tg.groupBy("g").agg(count(lit(1)).as("__df")))
        val over = col("__df") > maxGramDf
        val st =
          if (!computeStats) None
          else {
            val r = dfTable.agg(count(lit(1)).as("grams"),
              coalesce(sum(when(over, 1L).otherwise(0L)), lit(0L))
                .as("dropped"),
              coalesce(sum(when(over, col("__df")).otherwise(0L)), lit(0L))
                .as("rows")).head()
            Some(GramDfStats(r.getLong(0), r.getLong(1), r.getLong(2)))
          }
        val kept = tg.join(dfTable.where(!over).select("g"),
          Seq("g"), "left_semi")
        (kept, st)
      }
    (pairAndScore(tgKept, eg, evalSizes), stats)
  }

  /** The attribution tail shared by every contamination-report surface:
    * gram-keyed pair join, map-side-combined per-pair counts, integer
    * basis-point eval coverage. Positive operands: double-division
    * truncation == integer div. */
  private def pairAndScore(tgKept: DataFrame, eg: DataFrame,
      evalSizes: DataFrame): DataFrame =
    tgKept.select(col("id").as("train_id"), col("g"))
      .join(eg.select(col("id").as("eval_id"), col("g")), Seq("g"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .join(evalSizes, Seq("eval_id"))
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        col("eval_grams"),
        (col("n_shared") * lit(10000L) / col("eval_grams"))
          .cast("long").as("leak_bp"))

  /** Compact a [[contaminationAuditStreamBatch]] df store: a long
    * stream leaves one (g, df_part) partial file per micro-batch, and
    * every trigger re-aggregates all of them. Compaction rolls the
    * partials up into their sums (one row per gram) under the RESERVED
    * NUMERIC batch id -1 — post-compaction batches keep landing in their
    * own subdirs and the read side stays a uniform partitioned scan (-1
    * never collides with a foreachBatch id, which start at 0) — published
    * as the next generation and followed by [[VersionedStore.gc]]. A
    * ROLLUP compaction, unlike the postings store's pure re-partition:
    * the merge is `sum(df_part)`, exact by associativity, so audits
    * before and after are identical. Run it on the same cadence a
    * deployment compacts its event log. */
  def compactGramDfStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"compactGramDfStore: numFiles $numFiles")
    VersionedStore.publish(dir, Map(
      s"${QuantileStore.PartialsTable}/batch=-1" -> readGramDf(spark, dir)
        .groupBy("g").agg(sum(col("df_part")).as("df_part"))
        .coalesce(numFiles)))
    VersionedStore.gc(dir, keep = 0)
  }

  /** The (g, df_part) partials of the current generation, batch column
    * dropped. */
  private def readGramDf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(
      s"${VersionedStore.tableRoot(dir)}/${QuantileStore.PartialsTable}")
      .select("g", "df_part")

  /** One trigger of a CAPPED streaming contamination audit, with the df
    * cap decided on the RUNNING GLOBAL train-side document frequency —
    * the semantics a per-batch cap cannot have (a batch-local df
    * measures within-batch frequency; boilerplate is a corpus-global
    * property). Protocol per micro-batch, all O(batch + gram-vocab):
    *
    *   1. the batch is shingled ONCE (plan-cached — both consumers
    *      below share the kernel pass) and its per-gram document
    *      counts APPEND to `dfStoreDir` (narrow (g, df_part) rows —
    *      the store is the running df sketch of everything streamed,
    *      a one-table [[VersionedStore]] in the batch-partial layout
    *      [[QuantileStore]] shares);
    *   2. global df = the store aggregated (batch included); grams
    *      over `maxGramDf` are excluded from this batch's pairing by
    *      an anti-join;
    *   3. the kept batch grams attribute against `evalGrams` exactly
    *      as [[contaminationReportFromGrams]].
    *
    * A gram that crosses the cap mid-stream is reported for early
    * batches (it was not yet boilerplate) and suppressed from the one
    * that crosses it onward — deterministic given batch order, which
    * checkpointed streaming guarantees. `batchId` (foreachBatch hands
    * it over) makes the append IDEMPOTENT under at-least-once replay:
    * each batch's partial lands in its own `partials/batch=<id>` delta
    * with overwrite semantics ([[VersionedStore.append]]), so a retried
    * trigger rewrites rather than double-counts. Same append-listener
    * store discipline as the minhash/postings families (reference:
    * ScnIndex.java:94 maintained on append). */
  def contaminationAuditStreamBatch(batch: DataFrame, evalGrams: DataFrame,
      dfStoreDir: String, maxGramDf: Int, batchId: Long, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxGramDf < Int.MaxValue,
      "contaminationAuditStreamBatch: use contaminationReportFromGrams " +
        "for the uncapped audit — the df store buys nothing there")
    val spark = batch.sparkSession
    val tg = PlanCache.getOrPersist(batch,
      s"contam-grams|$shingleN|$textCol|$idCol",
      gramHashes(batch, textCol, idCol, shingleN))
    // batch-addressed with overwrite: foreachBatch is at-least-once, so
    // a retried trigger must REWRITE its own partial, not append a
    // second copy (a blind append would double the replayed grams'
    // global df and suppress still-rare grams forever)
    VersionedStore.append(dfStoreDir,
      Seq(s"${QuantileStore.PartialsTable}/batch=$batchId" -> (() =>
        tg.groupBy("g").agg(count(lit(1)).as("df_part")).coalesce(1))),
      "overwrite")()
    val overCap = readGramDf(spark, dfStoreDir)
      .groupBy("g").agg(sum(col("df_part")).as("__df"))
      .where(col("__df") > maxGramDf).select("g")
    val tgKept = tg.join(overCap, Seq("g"), "left_anti")
    val eg = evalGrams.select(col("id").cast("long").as("id"), col("g"))
    val evalSizes = eg.groupBy("id")
      .agg(count(lit(1)).as("eval_grams"))
      .select(col("id").as("eval_id"), col("eval_grams"))
    pairAndScore(tgKept, eg, evalSizes)
  }

  /** (id, gram-hash) rows via the shingle kernel — the tokenize/shingle
    * hot loop runs imperative per partition (interpreted HOF transforms
    * measured ~6× slower on the minhash path; same trade here). Hash
    * equality stands in for string equality (FNV-1a 64, collision odds
    * negligible at any eval-set size). */
  private def gramHashes(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val set = shingleSetKernel(text, shingleN)
        val out = new Array[(Long, Long)](set.size)
        val it = set.iterator()
        var i = 0
        while (it.hasNext) { out(i) = (id, fnv1a64(it.next())); i += 1 }
        out.iterator
      })
      .toDF("id", "g")
  }

  /** Drop contaminated training docs (anti-join on the flagged ids). */
  def decontaminate(train: DataFrame, eval: DataFrame, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      broadcastEval: Boolean = true): DataFrame =
    train.join(
      contaminatedIds(train, eval, shingleN, textCol, idCol, broadcastEval)
        .withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")

  /** Bloom-prefiltered decontamination — the giant-holdout scale path.
    * When the eval gram set is too big to broadcast, the exact path pays
    * a full shuffle of EVERY training gram. Here a Bloom filter over the
    * eval gram hashes (distributed build, driver-merged, broadcast
    * reference) prunes the train side FIRST, so the exact confirming
    * join shuffles only suspected grams (true contamination + fpp).
    * False positives die in the exact join — output is bit-identical to
    * [[decontaminate]], which is why the same SQL oracle verifies both.
    *
    * At 100 TB: train grams ≫ eval grams; the bloom reference is
    * MB-scale for billions of eval grams at 1% fpp, and the shuffled
    * volume drops by ~(1 − contamination − fpp). */
  def decontaminateBloom(train: DataFrame, eval: DataFrame,
      shingleN: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      fpp: Double = 0.01): DataFrame = {
    // PlanCache (not bare persist): three consumers — count, bloom build,
    // confirming join — and library-safe eviction on re-invocation
    val evalGrams = PlanCache.getOrPersist(eval, s"decon-grams|$shingleN",
      gramHashes(eval, textCol, idCol, shingleN).select("g").distinct())
    val nEval = math.max(evalGrams.count(), 1L)
    // native bloom expressions: bloom_filter_agg builds the filter as a
    // distributed aggregate (no driver-side merge of per-partition
    // filters), and might_contain over the byte-literal keeps the prune
    // INSIDE whole-stage codegen on the train-side scan — no ScalaUDF on
    // the 100 TB side (PlansSpec asserts this). Bits sized like
    // BloomFilter.optimalNumOfBits(n, fpp).
    import org.apache.spark.sql.graft.ColumnBridge
    // Spark's BloomFilterAggregate SILENTLY Math.min-clamps numBits (and
    // lit(nEval)) against the session caps — runtime.bloomFilter
    // .maxNumBits, default 64M bits ≈ 7M grams at 1% fpp — inside its
    // lazy accessors, so an over-ask doesn't error; it just degrades fpp
    // invisibly. Clamp here too, for explicitness: beyond the cap the
    // effective fpp rises above the requested one, which only costs extra
    // shuffled suspects — false positives die in the exact confirming
    // join, so the output stays bit-identical regardless.
    val maxNumBits = train.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    val numBits = math.min(maxNumBits, math.max(64L,
      (-nEval * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    val bloomBytes = evalGrams
      .agg(ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(ColumnBridge.expression(col("g")),
            ColumnBridge.expression(lit(nEval)),
            ColumnBridge.expression(lit(numBits)))
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val suspects = gramHashes(train, textCol, idCol, shingleN)
      .where(ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          ColumnBridge.expression(lit(bloomBytes)),
          ColumnBridge.expression(col("g")))))
    val flagged = suspects.join(evalGrams, Seq("g"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard for a (small) candidate pair set: join shingle
    * arrays back and compute |∩|/|∪| with array intersections. Verification
    * stage only — never run on the full cross product. */
  /** Distinct word-n-gram shingle set, kernel form. */
  def shingleSetKernel(text: String, n: Int): java.util.HashSet[String] = {
    val toks = text.split(graft.functions.TextFunctions.WsPlus)
    val nSh = math.max(toks.length - n + 1, 1)
    val set = new java.util.HashSet[String](nSh * 2)
    var i = 0
    while (i < nSh) {
      val sb = new java.lang.StringBuilder
      var o = 0
      while (o < n && i + o < toks.length) {
        if (o > 0) sb.append(' ')
        sb.append(toks(i + o)); o += 1
      }
      set.add(sb.toString)
      i += 1
    }
    set
  }

  def ngramJaccardVerify(docs: DataFrame, pairs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", shingleN: Int = 3)
      : DataFrame = {
    // join candidate ids back to their texts, then compute exact Jaccard
    // per pair in a tight kernel (shingle sets + intersection count) —
    // verification cost scales with collisions, not corpus size
    import docs.sparkSession.implicits._
    val txt = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val joined = pairs.select("id_a", "id_b")
      .join(txt.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      .select("id_a", "id_b", "text_a", "text_b")
      .as[(Long, Long, String, String)]
    joined.mapPartitions(_.map { case (a, b, ta, tb) =>
      val sa = shingleSetKernel(ta, shingleN)
      val sb = shingleSetKernel(tb, shingleN)
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      val union = sa.size + sb.size - inter
      (a, b, inter.toDouble / union.toDouble)
    }).toDF("id_a", "id_b", "jaccard")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash over word tokens: per bit, sum ±1 votes of each token's
    * xxhash64 bit, sign → bit. Near-dups = hamming distance ≤ `maxHamming`
    * among bucket collisions on 4 16-bit chunks (each chunk is an exact-
    * match blocking key — standard simhash blocking).
    *
    * `tokenHashes` must be a *materialized* `array<long>` column (hash each
    * token once); the 64 per-bit votes then fold over the precomputed
    * array instead of re-hashing per bit. */
  def simhashFromHashes(tokenHashes: Column): Column = {
    val bits = (0 until 64).map { bit =>
      val votes = aggregate(tokenHashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, bit).bitwiseAND(1L) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(votes > 0, lit(1L)).otherwise(lit(0L)) * lit(1L) * pow2(bit)
    }
    bits.reduce(_ + _)
  }

  def tokenHashes(text: Column): Column =
    transform(TextFunctions.tokens(text), t => xxhash64(t))

  private def pow2(bit: Int): Column = lit(if (bit >= 63) Long.MinValue else 1L << bit)

  /** 64-bit simhash of a document, kernel form (same hot-loop rationale as
    * the minhash kernel). */
  def simhash64Kernel(text: String): Long = {
    val votes = new Array[Int](64)
    val toks = text.split(graft.functions.TextFunctions.WsPlus)
    var i = 0
    while (i < toks.length) {
      val h = fnv1a64(toks(i))
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) sig |= (1L << bit); bit += 1 }
    sig
  }

  /** (id, sig) 64-bit simhash signature table — the shared first stage of
    * [[simhashPairs]] and of signature-quality contracts (near-dup pairs
    * have near-equal signatures). Persisted: blocking reads it from both
    * sides of a self-join, and the text kernel must run once. */
  def simhashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import docs.sparkSession.implicits._
    PlanCache.getOrPersist(docs, s"simhash|$textCol|$idCol", {
      docs.select(col(idCol).as("id"), col(textCol).as("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, simhash64Kernel(text)) })
        .toDF("id", "sig")
    })
  }

  /** SimHash near-dup pairs via chunk blocking + hamming verify. The
    * chunk count auto-sizes to the radius (smallest power of two >
    * maxHamming, so pigeonhole recall is exact): radius ≤ 3 blocks on
    * 4×16-bit keys, radius ≤ 7 on 8×8-bit — wider radius buys exactness
    * at the price of shorter keys (more bucket collisions). The ceiling
    * is radius 7: radius 8-15 would need 16×4-bit keys — 16 DISTINCT
    * VALUES per chunk, i.e. ~N²/16 candidate pairs, a silent O(n²) that
    * violates the engine's bucket-join discipline. Callers who truly
    * need a wider radius must call [[hammingPairsFromSignatures]]
    * directly and own that trade after reading its scaladoc. */
  def simhashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"radius above 7 needs ≤4-bit blocking keys — near-quadratic " +
        s"candidates; call hammingPairsFromSignatures explicitly to opt " +
        s"in (got $maxHamming)")
    val chunks = if (maxHamming <= 3) 4 else 8
    hammingPairsFromSignatures(simhashSignatures(docs, textCol, idCol),
      maxHamming, chunks)
  }

  /** Near-dup pairs over ANY 64-bit `(id, sig)` signature table — the
    * shared blocking+verify stage behind [[simhashPairs]] and the media
    * perceptual hashes ([[Multimodal.imageNearDups]] /
    * [[Multimodal.audioNearDups]]): the signature is split into `chunks`
    * equal bit slices, each an exact-match blocking key (a pair within
    * hamming ≤ chunks-1 must agree on at least one slice — pigeonhole),
    * candidates are the chunk-bucket collisions, and the verify is a
    * codegen'd `bit_count(xor)`. More chunks = exact at a looser radius
    * but shorter keys (more collisions): 4×16-bit covers radius 3 (text
    * simhash), 8×8-bit covers radius 7 (perceptual hashes, where a
    * resample perturbs more bits). The pair shuffle carries only
    * (id, sig) — 16 bytes/row — never the text/blob the signature came
    * from. */
  def hammingPairsFromSignatures(sigs: DataFrame, maxHamming: Int,
      chunks: Int = 4): DataFrame = {
    requireExactBlocking(maxHamming, chunks)
    val chunked = chunkKeys(sigs, chunks)
    val a = chunked.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("chunk"), col("key"))
    val b = chunked.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("chunk"), col("key"))
    a.join(b, Seq("chunk", "key")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Hamming near-dup pairs TOUCHING a new batch only: chunk-key the new
    * signatures and join them against (stored ∪ new). The incremental
    * form of [[hammingPairsFromSignatures]], mirroring the minhash
    * store protocol ([[incrementalCandidatesFromSignatures]]): the
    * stored side is a scan of (id, 8-byte sig) rows — its media blobs
    * are never re-decoded and its signatures never re-computed, so
    * per-batch cost is O(batch · chunks) explode + a collision-sized
    * join, regardless of corpus size. */
  def incrementalHammingPairs(sigsNew: DataFrame, sigsStored: DataFrame,
      maxHamming: Int, chunks: Int = 4): DataFrame = {
    requireExactBlocking(maxHamming, chunks)
    val n = chunkKeys(sigsNew, chunks)
      .select(col("id").as("id_n"), col("sig").as("sig_n"),
        col("chunk"), col("key"))
    val all = chunkKeys(sigsStored.unionByName(sigsNew), chunks)
      .select(col("id").as("id_o"), col("sig").as("sig_o"),
        col("chunk"), col("key"))
    n.join(all, Seq("chunk", "key")).where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"),
        least(col("sig_n"), col("sig_o")).as("s1"),
        greatest(col("sig_n"), col("sig_o")).as("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  private def requireExactBlocking(maxHamming: Int, chunks: Int): Unit = {
    require(chunks > 0 && 64 % chunks == 0,
      s"chunks must divide 64 (got $chunks)")
    require(maxHamming >= 0 && maxHamming <= chunks - 1,
      s"$chunks-chunk blocking is only EXACT for hamming <= ${chunks - 1} " +
        s"(pigeonhole); got $maxHamming — raise `chunks`")
  }

  /** (id, sig, chunk, key) blocking rows: the signature split into
    * `chunks` equal bit slices. */
  private def chunkKeys(sigs: DataFrame, chunks: Int): DataFrame = {
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1L
    sigs.select(col("id"), col("sig"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * width).bitwiseAND(mask).as("key"))
      }: _*)).as("blk"))
      .select(col("id"), col("sig"), col("blk.chunk"), col("blk.key"))
  }

  /** Connected components over a dup-pair edge list — the cluster
    * assignment step between pair generation (minhash / simhash /
    * embedding LSH) and keep-one materialization. Pairs only say "a ~ b";
    * transitive closure is what groups {a,b}, {b,c} into one cluster with
    * one representative.
    *
    * Algorithm: iterative min-label propagation — every vertex adopts the
    * minimum label in its closed neighborhood each round, so labels
    * converge to the minimum id reachable in the component. Rounds needed
    * = component diameter; near-dup clusters produced by LSH blocking are
    * near-cliques (diameter 1–2), so this settles in 2–3 rounds where the
    * O(log n) large-star/small-star alternation would pay its constant
    * factors for nothing. `maxIter` bounds pathological chain graphs.
    *
    * Scale shape: each round is one hash-shuffle join on vertex id plus a
    * map-side-combined min aggregate, carrying (long, long) rows only —
    * no text, no signatures. The edge list is deduplicated once and
    * persisted; per-round results are `localCheckpoint`ed so round N's
    * plan doesn't replay rounds 1..N-1 (and Janino never sees an
    * iteration-deep expression tree). Convergence detection rides the
    * SAME job as label materialization: a `CollectMetrics` observation
    * counts changed labels during the checkpoint scan, so each round is
    * exactly ONE distributed job (no separate join + isEmpty probe).
    *
    * Output: (id, component) for every vertex that appears in `pairs`;
    * component = min id in the cluster. Isolated docs (no dup edge) are
    * absent by construction — keep-one treats absence as "keep".
    *
    * Subcritical graphs take a bounded DRIVER fast path: when the
    * deduplicated edge list fits `maxDriverEdges` (default 4M edges —
    * 16 B/edge on the wire, ~320 MB boxed on the driver heap at peak), a
    * single collect + union-find replaces the
    * iterative job loop — the same driver-metadata trade the seeder makes
    * (a handful of rows to the driver beats N distributed rounds of fixed
    * job overhead). The distributed loop remains the path for genuinely
    * large graphs (a 100 TB dedup's verified pair set), where the edge
    * list cannot sit on the driver; `maxDriverEdges = 0` forces it.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIter: Int = 20,
      maxDriverEdges: Long = 4000000L): DataFrame = {
    val sym = pairs.select(col(idACol).cast("long").as("src"),
      col(idBCol).cast("long").as("dst"))
    val edges = sym.unionByName(
        sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()
    if (nEdges <= maxDriverEdges) {
      // one collect on the (already materialized) half of the symmetric
      // closure, union-find with path compression, component = min id.
      // Primitives via the tuple encoder — 16 B/edge on the wire; the
      // collected Array[(Long, Long)] boxes to ~80 B/edge on-heap, so the
      // 4M-edge default ceiling peaks around ~320 MB of driver heap —
      // bounded driver metadata (the same trade the seeder makes), but
      // size `maxDriverEdges` down on small drivers, or 0 to force the
      // distributed loop. Self-loops (a, a) surface as a vertex with
      // itself as component, exactly what the distributed loop emits.
      import pairs.sparkSession.implicits._
      val half = edges.where(col("src") <= col("dst"))
        .as[(Long, Long)].collect()
      edges.unpersist()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val next = parent.getOrDefault(c, c); parent.put(c, r); c = next
        }
        r
      }
      half.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union by min id so roots ARE the component representatives
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      half.foreach { case (a, b) =>
        out += ((a, find(a))); out += ((b, find(b)))
      }
      return out.distinct.toSeq.toDF("id", "component")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = nEdges == 0L
    while (!converged && iter < maxIter) {
      // min label over the closed neighborhood: every vertex is some
      // edge's dst (edges are symmetric), so the inner join covers all
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
        .observe(obs, sum(when(col("label") =!= col("prev"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint(true) // the one job; fires the observation too
      // the checkpoint is synchronous, so the metric is normally already
      // here; `obs.get` blocks until the observation fires, so bound it
      // with a timed Future and fall back to a probe over the
      // checkpointed (in-memory) partitions — never a hang
      val metrics: Map[String, Any] =
        try {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.DurationInt
          import scala.concurrent.ExecutionContext.Implicits.global
          Await.result(Future(obs.get), 5.seconds)
        } catch { case _: java.util.concurrent.TimeoutException => Map.empty }
      converged = metrics.get("changed") match {
        case Some(c: java.lang.Long) => c.longValue == 0L
        case _ => next.where(col("label") =!= col("prev")).isEmpty
      }
      // next is materialized (eager checkpoint) — the previous round's
      // blocks are dead; free them instead of waiting on ContextCleaner
      PlanCache.freeLocalCheckpoint(labels)
      labels = next.select("id", "label")
      iter += 1
    }
    edges.unpersist()
    labels.select(col("id"), col("label").as("component"))
  }

  /** Keep one representative per near-dup cluster: cluster members whose
    * id is not the component minimum are dropped; docs without any dup
    * edge pass through untouched. The drop set is component-sized (small
    * relative to the corpus), so the anti-join broadcasts at scale. */
  def keepOnePerComponent(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val drop = connectedComponents(pairs, maxIter = maxIter)
      .where(col("component") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Keep the BEST representative per near-dup cluster by an explicit
    * priority (lower wins, ties broken by lowest id) — the cross-source
    * dedup rule: when a curated corpus and a web crawl carry near-copies
    * of the same document, the curated one survives regardless of id
    * order. [[keepOnePerComponent]] is the priority-free special case
    * (min id wins).
    *
    * Scale shape: identical to keepOnePerComponent — component labels
    * from min-label propagation, winner selection is one aggregate over
    * the edge-touched rows only (cluster count ≪ corpus), and the final
    * membership test is a drop-set anti-join that AQE broadcasts; the
    * corpus is never shuffled. */
  def keepOneByPriority(docs: DataFrame, pairs: DataFrame,
      priorityCol: String, idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    val comp = connectedComponents(pairs, maxIter = maxIter)
      .select(col("id").as(idCol), col("component"))
    // edge-touched docs only: everything else is a singleton and kept
    val touched = docs.select(col(idCol), col(priorityCol))
      .join(comp, Seq(idCol))
    val winners = touched.groupBy(col("component"))
      .agg(min(struct(col(priorityCol), col(idCol))).as("__w"))
    val drop = touched.join(winners, Seq("component"))
      .where(struct(col(priorityCol), col(idCol)) =!= col("__w"))
      .select(col(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Leakage-free train/test split: assign every near-dup CLUSTER — not
    * every document — wholly to one side, so a test document can never
    * have a near-duplicate sitting in train (the subtle eval-inflation
    * bug a per-document hash split bakes in whenever the corpus carries
    * duplicate mass). Documents with no dup edge are their own singleton
    * cluster and split by their own id.
    *
    * The side is `hashBp(component, salt) < testBp` — the same MINSTD
    * hash stream as [[Sampling.hashSample]], so the split is
    * deterministic, salt-reproducible, and integer-exact for external
    * re-derivation. Expected test share is testBp basis points of
    * CLUSTERS (clusters are the atomic unit; per-document share drifts
    * with cluster-size skew, which is the price of zero leakage).
    *
    * Scale shape: component labels come from the same min-label
    * propagation as every dedup composition (near-clique clusters settle
    * in 2–3 rounds); the label join back to the corpus is an id-keyed
    * equi-join of an edge-touched-docs-sized table (small vs corpus →
    * AQE broadcasts it, unhinted); the hash itself is codegen column
    * math. */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, testBp: Int,
      salt: Long = 0L, idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    require(testBp > 0 && testBp < 10000, s"testBp in (0,10000): $testBp")
    leakageFreeSplit3(docs, pairs, valBp = 0, testBp = testBp, salt = salt,
      idCol = idCol, maxIter = maxIter)
  }

  /** Three-way leakage-free split: the same cluster-atomic hash stream
    * cut at two thresholds — [0, testBp) → test, [testBp, testBp+valBp)
    * → val, rest → train. One hash, consistent membership: raising
    * `valBp` later moves clusters from train to val without ever
    * reshuffling test (the stability property eval sets need). */
  def leakageFreeSplit3(docs: DataFrame, pairs: DataFrame, valBp: Int,
      testBp: Int, salt: Long = 0L, idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    require(testBp > 0 && valBp >= 0 && testBp + valBp < 10000,
      s"need testBp > 0, valBp >= 0, testBp + valBp < 10000: $testBp/$valBp")
    val comp = connectedComponents(pairs, maxIter = maxIter)
      .select(col("id").as(idCol), col("component"))
    val h = Sampling.hashBp(col("component"), salt)
    docs.select(col(idCol).cast("long").as(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("split",
        when(h < lit(testBp.toLong), lit("test"))
          .when(h < lit((testBp + valBp).toLong), lit("val"))
          .otherwise(lit("train")))
  }

  /** Embedding-cosine near-dup: hyperplane-LSH buckets then cosine verify
    * inside buckets. Same blocking discipline as minhash — the cross
    * product only ever materializes within a bucket. `tables` independent
    * hash tables (different hyperplane seeds) control recall: a true
    * near-dup that straddles one table's hyperplane still collides in
    * another (miss probability decays exponentially in tables).
    *
    * Shuffle discipline: the collision join carries ONLY (id, table,
    * bucket) — vectors never ride through the LSH join or a distinct.
    * Candidate pairs (longs) deduplicate cheaply, then exactly two keyed
    * joins fetch the vectors for the kernel cosine verify, whose cost
    * scales with collisions, not corpus size. */
  def embeddingNearDups(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", numPlanes: Int = 12, tables: Int = 3,
      cosineThreshold: Double = 0.95): DataFrame = {
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // cached for the same reason as the minhash signature table: the
    // projection kernel (tables × planes dot products per vector) feeds
    // both sides of the collision join
    val sig = PlanCache.getOrPersist(e, s"hyperplane|$numPlanes|$tables",
      VectorFunctions.hyperplaneBuckets(e, "id", "vec", numPlanes, tables)
        .select("id", "table", "bucket"))
    val a = sig.select(col("id").as("id_a"), col("table"), col("bucket"))
    val b = sig.select(col("id").as("id_b"), col("table"), col("bucket"))
    val pairs = a.join(b, Seq("table", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    embeddingCosineVerify(e, pairs, cosineThreshold)
  }

  /** Exact cosine for a candidate pair set: two keyed joins fetch the
    * vectors, then the native codegen [[graft.functions.CosineSimilarity]]
    * expression scores each pair in the same stage as the join — no
    * encoder deserialization of the arrays. */
  def embeddingCosineVerify(emb: DataFrame, pairs: DataFrame,
      cosineThreshold: Double): DataFrame =
    pairs
      .join(emb.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(emb.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  /** Winnowing fingerprints (the MOSS scheme — Schleimer/Wilkerson/Aiken,
    * public knowledge): hash every character `k`-gram, slide a window of
    * `w` consecutive gram hashes over each document, and record each
    * window's MINIMUM hash (rightmost on ties — picked here as min over
    * `(hash, -pos)` structs) once per selected position.
    *
    * The winnowing guarantee: any substring shared between two documents
    * of length ≥ `w + k - 1` contributes at least one shared fingerprint
    * — positional partial-copy detection, the gap between document-level
    * minhash (whole-doc similarity) and span dedup (fixed grid). The
    * expected fingerprint density is 2/(w+1) per position, so the table
    * is ~¼ of the gram count at w=7.
    *
    * Scale shape: hashing AND selection are ONE fused pass per document
    * — the native [[graft.functions.WinnowSelect]] kernel rolls the
    * gram hashes and runs the monotonic-deque sliding minimum in the
    * same O(n) scan, so the only explode is of the SELECTED ~2/(w+1)
    * density and nothing position-shaped ever shuffles (the windowed
    * explode + per-doc sort derivation this replaced survives as
    * [[winnowFingerprintsWindowed]], the spec cross-check). Output:
    * (doc_id, pos, fp). */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2 && w >= 2, s"winnow: degenerate k=$k / w=$w")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.GraftFunctions
          .winnow_select(col(textCol), k, w)).as("sel"))
      .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }

  /** The compositional windowed derivation of [[winnowFingerprints]] —
    * explode every gram hash, per-doc sort window, min-struct with
    * rightmost tie-break, distinct. Kept as the executable specification
    * the fused kernel is spec-proven equal to (the charEntropyE4Fold
    * discipline). */
  private[graft] def winnowFingerprintsWindowed(docs: DataFrame, k: Int = 8,
      w: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2 && w >= 2, s"winnow: degenerate k=$k / w=$w")
    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("t"))
      // gram count from the kernel itself (UTF-16 units, the same unit
      // system the fused kernel filters in — a code-POINT length
      // arithmetic here would diverge on supplementary-plane text);
      // shorter docs have no complete window
      .where(size(graft.functions.GraftFunctions.kgram_hashes(col("t"), k))
        >= w)
      .select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.kgram_hashes(col("t"), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    // window minimum with rightmost tie-break: lexicographic min of
    // (h, -pos) — then only positions that START a complete window count
    grams
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np")))
        .over(win))
      .withColumn("wlast", max(col("pos")).over(win))
      .where(col("wlast") === col("pos") + (w - 1))
      .select(col("doc_id"), (-col("sel.np")).as("pos"),
        col("sel.h").as("fp"))
      .distinct()
  }

  /** Partial-overlap candidate pairs from winnowing fingerprints: docs
    * sharing ≥ `minShared` distinct fingerprint values. Fingerprints
    * appearing in more than `maxDf` documents are dropped FIRST (the
    * MOSS move: boilerplate grams — headers, licence text, common
    * phrases — carry no authorship signal and their self-join fan-out is
    * df² per fingerprint; the cap bounds the join at maxDf² pairs per
    * value, the same discipline as the postings cap).
    *
    * Scale shape: df filter is one map-side-combined agg over (fp) ;
    * the pair join carries (fp, doc_id) rows only; the pair count
    * aggregate is hash-shuffled on (id_a, id_b). */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 8,
      minShared: Int = 20, maxDf: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fps = PlanCache.getOrPersist(docs, s"winnow|$idCol|$textCol|$k|$w",
      winnowFingerprints(docs, k, w, idCol, textCol)
        .select("doc_id", "fp").distinct())
    val rare = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf && col("df") >= 2)
      .select("fp")
    val hits = fps.join(rare, "fp")
    hits.select(col("fp"), col("doc_id").as("id_a"))
      .join(hits.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count_distinct(col("fp")).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Positional ALIGNMENT evidence for candidate pairs — the step after
    * overlap detection: not just "these documents share content" but
    * WHERE (the offset of the copied region). Every shared fingerprint
    * that is UNIQUE within both documents votes for the offset delta
    * `pos_b − pos_a`; genuinely aligned copies concentrate all their
    * unique-fp votes on the single true delta, while coincidental
    * value collisions scatter. Restricting to per-doc-unique
    * fingerprints is what makes the vote clean — a repeated substring's
    * fingerprint would otherwise vote for every cross pairing of its
    * occurrences.
    *
    * Output: (id_a, id_b, best_delta, n_votes) — the modal delta and
    * its vote count (ties break to the smallest delta); pairs with no
    * shared unique fingerprint are absent.
    *
    * Scale shape: the unique-fp reduction is one hash agg over the
    * fingerprint table; the vote join is fp-keyed against the candidate
    * pair set (pair-local, not corpus²); votes aggregate on
    * (pair, delta) with map-side combine, then one per-pair window. */
  def winnowAlignment(fps: DataFrame, pairs: DataFrame): DataFrame = {
    val uniq = fps.groupBy(col("doc_id"), col("fp"))
      .agg(count(lit(1)).as("c"), min(col("pos")).as("pos"))
      .where(col("c") === 1)
    val a = uniq.select(col("doc_id").as("id_a"), col("fp"),
      col("pos").as("pos_a"))
    val b = uniq.select(col("doc_id").as("id_b"), col("fp"),
      col("pos").as("pos_b"))
    val votes = pairs.select("id_a", "id_b")
      .join(a, "id_a")
      .join(b, Seq("id_b", "fp"))
      .groupBy(col("id_a"), col("id_b"),
        (col("pos_b") - col("pos_a")).as("delta"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("n_votes").desc, col("delta"))
    votes.withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .select(col("id_a"), col("id_b"), col("delta").as("best_delta"),
        col("n_votes"))
  }

  /** Content-defined chunking (the Rabin-style CDC storage-dedup
    * fundamental, public knowledge): a chunk boundary opens wherever the
    * hash of the k-gram STARTING at a position is ≡ 0 mod `divisor`, so
    * boundaries are decided by CONTENT, not offset — an insertion or
    * append disturbs only the chunks it touches, and every chunk outside
    * the edit re-aligns byte-identically (the property fixed-size
    * blocking fundamentally lacks). Expected chunk length ≈ `divisor`
    * characters.
    *
    * Output: (doc_id, chunk_idx, start, chunk_len, chunk_md5) — 1-based
    * chunk start offsets; chunk_idx 1..n in document order; the md5 is
    * over the chunk text, so cross-document chunk-level dedup is a
    * hash-groupBy on chunk_md5.
    *
    * Scale shape: boundary detection, chunk cutting AND hashing run in
    * the ONE fused kernel pass ([[graft.functions.CdcChunkExpr]] — the
    * rolling gram hash, the mod-divisor boundary test and the chunk md5
    * in a single O(n) scan per document); the only explode is of the
    * ~len/divisor finished chunks, and nothing position-shaped ever
    * shuffles. Offsets are UTF-16 code units end-to-end (one unit
    * system — the earlier compositional form mixed the kernel's unit
    * offsets with Spark's code-point `substring` and mis-cut documents
    * containing supplementary-plane characters; the kernel also never
    * opens a chunk on a low surrogate). */
  def cdcChunks(docs: DataFrame, k: Int = 8, divisor: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2 && divisor >= 2, s"cdc: degenerate k=$k / divisor=$divisor")
    docs
      .select(col(idCol).cast("long").as("doc_id"), posexplode(
        graft.functions.GraftFunctions.cdc_chunks(col(textCol), k, divisor)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col.start").as("start"), col("col.chunk_len").as("chunk_len"),
        col("col.chunk_md5").as("chunk_md5"))
  }
}
