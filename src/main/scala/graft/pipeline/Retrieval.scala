package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Corpus relevance scoring (BM25): rank every document against a term
  * query with the Robertson/Okapi weighting — the retrieval primitive
  * behind "find the training documents about X", targeted decontamination
  * sweeps, and corpus search tooling.
  *
  *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
  *   idf(t)   = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)
  *
  * Scale shape (100 TB): one corpus pass, zero corpus-sized shuffles.
  * The per-term document frequencies, the document count and the total
  * token length are ONE aggregate row (a handful of conditional sums),
  * cross-joined back as a broadcast scalar; term frequencies and the
  * final score are then pure per-row column math inside whole-stage
  * codegen. Nothing wide moves: the plan is scan → 1-row agg → scan
  * with scalar → project. A million-term query would want an inverted
  * index; a query of tens of terms — the decontamination/search shape —
  * wants exactly this.
  *
  * Determinism contract: `score_e4` is the BM25 sum in integer 1e-4
  * units. Each term's contribution is floored to 1e-4 units BEFORE the
  * sum (per-term floats never accumulate), with the same `+ 1e-6` nudge
  * as [[LangModel]] so libm-ulp differences in `ln` between engines
  * cannot straddle a floor boundary. All other arithmetic is IEEE-exact
  * (integer counts, one division per factor, literal constants), so an
  * external SQL engine reproduces `score_e4` bit-for-bit.
  */
object Retrieval {

  /** BM25 scores for `terms` over a document corpus:
    * (doc_id, dl, score_e4), every document scored (score 0 when no term
    * occurs — membership stays intact for downstream joins). Token match
    * is whole-token equality on the whitespace tokenization, consistent
    * with every other text op here. */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val toked = docs.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), graft.functions.TextFunctions.WsPlus).as("__t"))
    // one scalar row: N, total dl, and df per term (conditional sums)
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("__t"), t), lit(1L)).otherwise(lit(0L)))
        .as(s"__df_$i")
    }
    val aggs = sum(size(col("__t")).cast("long")).as("__sumdl") +: dfCols
    val stats = toked.agg(count(lit(1)).as("__n"), aggs: _*)
    val scored = toked.crossJoin(stats) // 1-row scalar, broadcast
    val score = terms.zipWithIndex.map { case (t, i) =>
      termE4(size(filter(col("__t"), x => x === t)), col(s"__df_$i"),
        size(col("__t")), k1, b)
    }.reduce(_ + _)
    scored.select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
      score.as("score_e4"))
  }

  /** One term's BM25 contribution in integer 1e-4 units, floored before
    * any sum — the formula of the determinism contract above, written
    * once for the corpus-scan and the index-served paths. Reads the
    * corpus stats from the columns `__n` (document count) and `__sumdl`
    * (total length). Long arithmetic runs before the double casts and
    * the idf is the single-log textbook form, mirrored verbatim by the
    * SQL oracle. */
  private def termE4(tf: Column, df: Column, dl: Column, k1: Double,
      b: Double): Column = {
    val tfD = tf.cast("double")
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val idfExact = log(
      ((col("__n") - df).cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)) + lit(1.0))
    floor(idfExact * ((tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (dl.cast("double") / avgdl)))) *
      lit(10000.0) + lit(1e-6)).cast("long")
  }

  /** Top-k retrieval: BM25-score the corpus and keep the k best
    * documents (ties broken by lowest id) — the "search the corpus"
    * surface over [[bm25]].
    *
    * Scale shape: bm25's shuffle-free scoring plus a global top-k. The
    * top-k is NOT a global sort: TakeOrderedAndProject keeps a k-sized
    * heap per partition and merges k × partitions rows on one reducer —
    * the only safe global-ordering shape at corpus scale. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    bm25(docs, terms, idCol = idCol, textCol = textCol)
      .orderBy(col("score_e4").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", Ranks.globalRowNumber(col("doc_id"),
        col("score_e4").desc, col("doc_id")).cast("long"))
  }

  /** Inverted index: one row per token with its document frequency and a
    * capped posting list (lowest `maxPostings` doc ids, ascending, with
    * term frequencies aligned) — the build side of corpus search /
    * targeted-decontamination tooling.
    *
    * Scale shape: (token, doc) term frequencies are one hash aggregate
    * with map-side combine (the Zipf absorption every token aggregate
    * here leans on). The per-token cap runs in TWO window phases keyed
    * (token, doc_id mod `slices`) then (token): a naive single window
    * ranks every row of a hot token in ONE task — a stopword at corpus
    * scale serializes on a single reducer — whereas the sliced pre-cap
    * bounds phase-2 input to slices × cap rows per token while every
    * phase streams through a sort-based window (constant memory,
    * spillable; no collect_list of an uncapped group ever exists). The
    * lowest `maxPostings` ids globally are a subset of each slice's
    * lowest `maxPostings`, so the two-phase result is exact. `n_docs`
    * is the TRUE document frequency (summed from per-slice counts), so
    * consumers can tell a capped list from a complete one:
    * `n_docs > maxPostings` ⇔ truncated. */
  def postings(docs: DataFrame, maxPostings: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text",
      slices: Int = 16): DataFrame = {
    require(maxPostings > 0, s"maxPostings must be positive: $maxPostings")
    require(slices > 0, s"slices must be positive: $slices")
    val tf = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), graft.functions.TextFunctions.WsPlus)).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("slice", pmod(col("doc_id"), lit(slices.toLong)))
    // phase 1: per-slice pre-cap + per-slice true counts (parallel
    // across slices even for the hottest token)
    val wSlice = Window.partitionBy(col("token"), col("slice"))
      .orderBy(col("doc_id"))
    val sliceWhole = Window.partitionBy(col("token"), col("slice"))
    val preCapped = tf
      .withColumn("rn", row_number().over(wSlice))
      .withColumn("n_slice", count(lit(1)).over(sliceWhole))
      .where(col("rn") <= maxPostings)
    // phase 2: merge ≤ slices × cap rows per token
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val whole = Window.partitionBy(col("token"))
    preCapped
      .withColumn("grn", row_number().over(w))
      .withColumn("n_docs",
        sum(when(col("rn") === 1, col("n_slice")).otherwise(0L)).over(whole))
      .where(col("grn") <= maxPostings)
      .groupBy(col("token"))
      .agg(max(col("n_docs")).as("n_docs"),
        array_sort(collect_list(col("doc_id"))).as("post_ids"),
        transform(
          array_sort(collect_list(struct(col("doc_id"), col("tf")))),
          x => x.getField("tf")).as("post_tfs"))
      .select(col("token"), col("n_docs"), col("post_ids"), col("post_tfs"))
  }

  /** POSITIONAL postings: one (token, doc_id, pos) row per token
    * occurrence, `pos` the 0-based token index — the index a phrase /
    * proximity query reads instead of re-scanning text. At rest this
    * table is written bucketed-or-partitioned BY TOKEN, so a phrase
    * query's per-token fetch is a pruned point read, not a corpus scan
    * (the cells-table discipline of the ANN store). Explode-shaped:
    * rows = corpus token count, but each row is (dict-encoded token,
    * two longs) — the standard search-engine index size trade. */
  def positionalPostings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), graft.functions.TextFunctions.WsPlus))
          .as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Per-document token counts (`doc_id`, `dl`) under the same
    * whitespace tokenization as every text op here — the BM25 length
    * norm a search index stores next to its postings so scoring never
    * touches document text. */
  def docLengths(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      size(split(col(textCol), graft.functions.TextFunctions.WsPlus))
        .cast("long").as("dl"))

  /** Render a PERSISTED positional search index for `docs` into `dir`:
    *
    *   - `postings/` — (token, doc_id, pos), range-partitioned by token
    *     and sorted (token, doc_id, pos) within files, so a query's
    *     `token IN (...)` probe prunes whole files and row groups off
    *     parquet min/max stats — the point-read discipline the ANN
    *     cells table and the relay's ScnIndex band pruning follow
    *     (reference: databus-core/.../ScnIndex.java:623's skip-scan vs
    *     full buffer scan);
    *   - `doclens/` — (doc_id, dl), the corpus length norms (doc-count
    *     sized: orders of magnitude below the postings).
    *
    * Built once per corpus snapshot, then maintained by
    * [[appendToPostingsIndex]] as document batches arrive — the durable
    * store every phrase/proximity/BM25 query reads instead of
    * re-tokenizing the corpus.
    *
    * The PAIR commits as one [[VersionedStore]] generation behind one
    * atomic pointer flip: the "docs indexed without length norms"
    * two-commit crash window this writer used to document is
    * structurally impossible on the publish path — a crash anywhere
    * mid-build leaves readers on the previous generation (or, for a
    * first build, on "never published", which reads loudly). Incremental
    * appends land INSIDE the current generation (see
    * [[appendToPostingsIndex]]); a rebuild is the next generation.
    *
    * `batchId` selects the BATCH-ADDRESSED layout from the first write
    * (the same bootstrap switch as [[Ann.writeIndex]]): both tables are
    * born as `batch=<id>` partition dirs, so the store is maintained by
    * [[appendToPostingsIndexBatch]] for life — partition discovery
    * rejects a layout that mixes flat files with batch subdirs, and the
    * batch history is what a [[VersionedStore.Pin]] pins. */
  def writePostingsIndex(docs: DataFrame, dir: String, numFiles: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      batchId: Option[Long] = None): Unit = {
    require(numFiles > 0, s"writePostingsIndex: numFiles $numFiles")
    VersionedStore.publish(dir, Map(
      batchId.fold("postings")(b => s"postings/batch=$b") ->
        postingsShape(positionalPostings(docs, idCol, textCol), numFiles,
          batched = false),
      batchId.fold("doclens")(b => s"doclens/batch=$b") ->
        docLengths(docs, idCol, textCol)
          .coalesce(math.min(numFiles, 2))))
    ()
  }

  /** Append a NEW document batch to a [[writePostingsIndex]] store.
    *
    * Documents are append-only and (token, doc_id, pos) rows are
    * disjoint by doc, so the append is a pure union: ONLY the batch is
    * tokenized (per-batch cost O(batch), independent of store size),
    * the appended files carry the same token-range + in-file sort
    * discipline so scan pruning holds across increments, and stored
    * rows are never read, rewritten or merged — the incremental-store
    * protocol every other family here follows (minhash signatures,
    * winnow fingerprints, CDC chunks, ANN cells). Reference analogue:
    * the relay's index maintained as an append listener, never rebuilt
    * (databus-core/.../ScnIndex.java:94, DbusEventBuffer.java:1705).
    * Caller owns id disjointness across batches, as with every id-keyed
    * store here. `numFiles` defaults to 1 for the trickle regime, which
    * writes one sorted file per table with no exchange (two jobs, one
    * per table: [[VersionedStore.clustered]]); a bulk backfill raises it
    * so the batch tokenize + write parallelize over token ranges, at the
    * price of a range-sampling job and a shuffle.
    *
    * One rule places the write ([[VersionedStore.append]]): a store is
    * born by publish, so on a root with no generation yet this batch
    * becomes generation 1; later batches land INSIDE the current
    * generation (whole rebuilds are generations, increments are
    * in-generation appends). Crash caveat (stated, not hidden): an
    * in-generation APPEND lands its two tables one after the other — a
    * crash between them leaves the batch
    * indexed without its length norms, recoverable by re-running the
    * batch or by the next [[compactPostingsIndex]]/rebuild publish; the
    * replay-safe form is [[appendToPostingsIndexBatch]]. */
  def appendToPostingsIndex(newDocs: DataFrame, dir: String,
      numFiles: Int = 1, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(numFiles > 0, s"appendToPostingsIndex: numFiles $numFiles")
    VersionedStore.append(dir,
      batchTables(newDocs, "", numFiles, idCol, textCol), "append")()
  }

  /** One append batch's (postings, doclens) frames under `suffix`
    * (`""`, or `/batch=<id>` for the batch-addressed layout) — the
    * shape both append forms write, so a born store's generation 1 and
    * a later in-generation append can never drift apart. */
  private def batchTables(newDocs: DataFrame, suffix: String,
      numFiles: Int, idCol: String, textCol: String)
      : Seq[(String, () => DataFrame)] = Seq(
    s"postings$suffix" -> (() => postingsShape(
      positionalPostings(newDocs, idCol, textCol), numFiles, batched = false)),
    s"doclens$suffix" ->
      (() => docLengths(newDocs, idCol, textCol).coalesce(1)))

  /** The postings write shape: [[VersionedStore.clustered]] by token, each
    * file sorted (token, doc_id, pos). */
  private def postingsShape(df: DataFrame, numFiles: Int,
      batched: Boolean): DataFrame =
    VersionedStore.clustered(df, numFiles, batched, "token", "doc_id", "pos")

  /** STREAMING-append form of [[appendToPostingsIndex]]: the batch's
    * postings and norms land in their own `batch=<id>` subdirs with
    * OVERWRITE semantics, so a foreachBatch retry (at-least-once
    * delivery) rewrites the same partial instead of appending a second
    * copy — a blind append would silently double the replayed docs'
    * tf/df/n_hits. The store reads like any postings index (the batch
    * partition column is layout, and every serving reader drops it); a
    * stream-maintained store uses THIS form for every write from its
    * first batch, which publishes generation 1 with the batch-addressed
    * layout (partition discovery rejects a layout that mixes flat files
    * with batch subdirs). `numFiles` as in [[appendToPostingsIndex]]: the
    * default 1 writes the batch with two jobs and no exchange. */
  def appendToPostingsIndexBatch(newDocs: DataFrame, dir: String,
      batchId: Long, numFiles: Int = 1, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(numFiles > 0, s"appendToPostingsIndexBatch: numFiles $numFiles")
    VersionedStore.append(dir,
      batchTables(newDocs, s"/batch=$batchId", numFiles, idCol, textCol),
      "overwrite")()
  }

  /** Declared schema of the `postings` table ([[positionalPostings]]). */
  val PostingsSchema: StructType =
    StructType.fromDDL("token STRING, doc_id BIGINT, pos BIGINT")

  /** Declared schema of the `doclens` table ([[docLengths]]). */
  val DocLensSchema: StructType = StructType.fromDDL("doc_id BIGINT, dl BIGINT")

  /** The LIVE postings of a persisted index (feed to [[phraseSearch]] /
    * [[proximitySearch]] / [[bm25TopKFromIndex]]): the stored rows minus
    * any [[tombstoneDocs]] takedowns — no takedowns, no plan overhead;
    * otherwise one broadcast anti-join on doc_id (request-sized set).
    * Read with [[PostingsSchema]], so the read starts no Parquet
    * schema-inference job; the `batch` layout column of a
    * batch-addressed store is dropped. `at` replays a captured
    * [[VersionedStore.Pin]] instead of the head: only batches up to the
    * pin scan (later batches' files never enter the plan), so a training
    * run reproduces the exact index state it was built against after
    * any number of later appends and publishes. An as-of-batch read of
    * the head is `Pin(currentGen, Some(b))`, refused loudly on a flat
    * store. Deliberate asymmetry: TOMBSTONES STILL APPLY — a takedown is
    * legal erasure, and time travel must never resurrect deleted docs. */
  def readPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, at: Option[VersionedStore.Pin] = None): DataFrame =
    servedRows(spark, VersionedStore.resolve(dir, at,
      "Retrieval.readPostingsIndex"), "postings", PostingsSchema)

  /** The live rows of store table `table` at a resolved view, read with
    * its declared `schema` ([[VersionedStore.liveRows]]) and with the
    * `batch` layout column dropped — the one serving read of this store,
    * so no store read here infers a schema. */
  private def servedRows(spark: org.apache.spark.sql.SparkSession,
      v: VersionedStore.View, table: String, schema: StructType): DataFrame =
    VersionedStore.liveRows(spark, v, table, "doc_id", Some(schema))
      .drop("batch")

  /** Record a takedown against a [[writePostingsIndex]] store: the docs
    * leave every serving surface AT ONCE — phrase/proximity hits, KWIC
    * membership, and (because [[readDocLengths]] filters too) BM25's
    * corpus statistics N, avgdl and df, which must shrink with the live
    * set or deleted documents keep distorting every score. O(request):
    * stored postings are never read or rewritten; physical removal is
    * [[compactPostingsIndex]]'s job (the GC). Replay-safe by semantics —
    * a tombstone set is idempotent under duplicate appends (see
    * [[Tombstones]]). Reference analogue: deletes are first-class
    * events, physical cleanup is a maintenance pass (DbusOpcode.java:
    * 22-26; BootstrapDBCleaner.java:1). */
  def tombstoneDocs(spark: org.apache.spark.sql.SparkSession, dir: String,
      docIds: Seq[Long]): Unit = Tombstones.append(spark, dir, docIds)

  /** Bulk-takedown form of [[tombstoneDocs]]: `ids` is a one-column
    * frame of doc ids (a purge list computed by another query — e.g.
    * every doc a contamination audit attributed to a leaked eval set). */
  def tombstoneDocsDf(ids: DataFrame, dir: String): Unit =
    Tombstones.appendDf(ids, dir)

  /** [[bm25TopKFromIndex]] at a captured [[VersionedStore.Pin]]:
    * postings AND length norms resolve from the pinned generation at the
    * pinned append batch (one resolution for both), so the scores are
    * the ones the store served when the pin was captured (modulo
    * takedowns, which always apply). */
  def bm25TopKFromStorePinned(spark: org.apache.spark.sql.SparkSession,
      dir: String, pin: VersionedStore.Pin, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val v = VersionedStore.resolve(dir, Some(pin),
      "Retrieval.bm25TopKFromStorePinned")
    bm25TopKFromIndex(servedRows(spark, v, "postings", PostingsSchema),
      servedRows(spark, v, "doclens", DocLensSchema), terms, k, k1, b)
  }

  /** Compact a [[writePostingsIndex]] store: a long trickle of
    * single-file [[appendToPostingsIndex]] batches accumulates many
    * small files whose token ranges all overlap — every file survives
    * the `token IN (...)` min/max prune and the point-read discipline
    * degrades back toward a full scan. Compaction rewrites the live rows
    * into the canonical layout (global token ranges, in-file sort),
    * restoring one-or-two-file prunes — and doubles as the takedown GC:
    * [[tombstoneDocs]]'d rows are physically dropped. Live-row-identical
    * by construction (a re-partition of the live set — no merge logic).
    *
    * `numFiles` applies to FLAT stores only: their rewrite range-
    * partitions the live postings into `numFiles` token ranges. A
    * batch-addressed store's rewrite is NARROW: each batch keeps its own
    * files (never more than it had), each re-sorted (token, doc_id, pos),
    * with no range-sampling job and no shuffle — dropping a few
    * tombstoned docs does not need the whole store moved. Its token
    * pruning therefore stays per batch file, as the appends wrote it.
    *
    * The rewrite is one fresh-generation [[VersionedStore.publish]]
    * followed by [[VersionedStore.gc]], the one commit path of every
    * store rewrite: the pair lands atomically, the new generation starts
    * with an empty tombstone overlay, and the gc is the physical purge.
    * The store-maintenance op every append-only layout needs;
    * reference analogue: the bootstrap DB's applied-log compaction
    * (databus-bootstrap-producer/.../BootstrapDBCleaner.java:1).
    *
    * `keepGenerations`: how many PRE-compaction generations stay
    * pinned-readable after the rewrite. The default 0 is the compliance
    * posture — compaction is the erasure deadline, so no pre-takedown
    * bytes survive it; a deployment that values reproducibility windows
    * over immediate physical purge raises it (erased rows stay filtered
    * by each generation's overlay either way — retention only affects
    * raw bytes, never serving). */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int = 4, keepGenerations: Int = 0): Unit = {
    require(numFiles > 0, s"compactPostingsIndex: numFiles $numFiles")
    // A batch-addressed (stream-maintained) store keeps its FULL
    // batch=<id> layout through the rewrite — the [[Ann.compactIndexCells]]
    // rule: compaction drops tombstoned rows only, a row's batch
    // identity is preserved, never rolled up ([[VersionedStore.liveRows]]
    // keeps the `batch` column) — so pins stay exact across the GC and
    // post-compaction [[appendToPostingsIndexBatch]] writes keep working.
    // The batched rewrite is NARROW ([[VersionedStore.clustered]]): each
    // batch keeps its own files, each sorted (token, doc_id, pos), with no
    // sampling job and no exchange. (detected by listing the batch dirs:
    // no read, no job)
    val v = VersionedStore.resolve(dir)
    val batched = VersionedStore.batchIdsOf(s"${v.dir}/postings").nonEmpty
    val postingsLive = postingsShape(VersionedStore.liveRows(spark, v,
      "postings", "doc_id", Some(PostingsSchema)), numFiles, batched) // GC
    val doclensLive = VersionedStore.liveRows(spark, v, "doclens", "doc_id",
      Some(DocLensSchema)).coalesce(math.min(numFiles, 2))
    // live reads above are lazy plans over the OLD generation; publish
    // writes them into the new one, then gc retires everything the
    // pointer no longer references — including the purged rows and the
    // old overlay (compaction IS the erasure deadline, so pinned reads
    // of pre-compaction generations do not survive it)
    VersionedStore.publish(dir, Map(
      "postings" -> postingsLive, "doclens" -> doclensLive),
      partitionBy =
        if (batched) Map("postings" -> Seq("batch"),
          "doclens" -> Seq("batch"))
        else Map.empty)
    VersionedStore.gc(dir, keep = keepGenerations)
    ()
  }

  /** The LIVE doc-length norms of a persisted index (tombstone-aware,
    * like [[readPostingsIndex]] — BM25's N/avgdl/df derive from this
    * table, so takedowns shrink the corpus statistics too). Read with
    * [[DocLensSchema]]: no schema-inference job. `at` pins BM25's corpus
    * statistics to the same snapshot as [[readPostingsIndex]]'s. */
  def readDocLengths(spark: org.apache.spark.sql.SparkSession,
      dir: String, at: Option[VersionedStore.Pin] = None): DataFrame =
    servedRows(spark, VersionedStore.resolve(dir, at,
      "Retrieval.readDocLengths"), "doclens", DocLensSchema)

  /** BM25 top-k served FROM a persisted [[writePostingsIndex]] store —
    * bit-identical scores to [[bm25TopK]] (same per-term floor-then-sum
    * integer contract, same tie order) without ever touching document
    * text: term frequencies come from the token-pruned postings scan
    * (only the query terms' index rows are read — the high-QPS serving
    * path [[bm25]]'s documented per-query corpus scan is wrong for),
    * document frequencies from a one-row aggregate over those same
    * rows, and length norms from the doclens table (doc-count sized).
    * Reference analogue: serving reads off the maintained index, never
    * the source (ScnIndex.java:623 skip-scan vs full buffer scan).
    *
    * Scale shape ([[bm25IndexCore]]): the corpus-sized inputs are ONE
    * pruned postings scan, aggregated per doc with map-side combine and
    * shared by the df row and the scoring join, and the doclens table;
    * df and N/avgdl are broadcast scalar rows; the final top-k is
    * TakeOrderedAndProject, never a global sort. Store tables are read
    * with their declared schemas ([[readPostingsIndex]],
    * [[readDocLengths]]), so no read starts an inference job. */
  def bm25TopKFromIndex(postings: DataFrame, doclens: DataFrame,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate terms: $terms")
    require(k > 0, s"k must be positive: $k")
    val (scored, score) = bm25IndexCore(postings, doclens, terms, k1, b)
    scored.select(col("doc_id"), col("dl"),
        score(terms.indices).as("score_e4"))
      .orderBy(col("score_e4").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", Ranks.globalRowNumber(col("doc_id"),
        col("score_e4").desc, col("doc_id")).cast("long"))
  }

  /** Exact phrase search over a [[positionalPostings]] table: doc ids
    * containing `phrase` as consecutive whitespace tokens, with the
    * occurrence count and first 0-based start position.
    *
    * Classic positional-intersection plan: occurrence i of the phrase's
    * word w_i at position p votes for start `p - i`; a start with all
    * `n` votes is a match. Spark-first shape: ONE pass over the postings
    * rows of ONLY the phrase's tokens (`token IN (...)` prunes the
    * token-keyed index at the scan — nothing else is read), each
    * surviving row projects to (doc_id, start), and one hash aggregate
    * counts votes. Duplicate tokens in the phrase are handled by the
    * slot explode: an occurrence votes once PER SLOT it could fill, and
    * since a doc has exactly one token at each position, (doc_id,
    * start, slot) triples are unique by construction — so a plain
    * count equals a distinct-slot count ('the' at one position fills
    * slot 0 OR slot 1 of 'the the' for a given start, never both) and
    * the aggregate avoids the distinct-expansion's extra shuffle. The
    * aggregate is map-side combined; the shuffle carries (doc_id,
    * start) longs of matched tokens only — at 100 TB the cost is the
    * phrase tokens' postings volume, the floor for any positional
    * index. */
  def phraseSearch(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val n = phrase.length
    val slotsOf = phrase.zipWithIndex
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // token → its slot offsets (a token may fill several phrase slots)
    val slotExpr = explode(element_at(
      typedlit(slotsOf.map { case (t, ss) => t -> ss.map(_.toLong) }),
      col("token")))
    postings
      .where(col("token").isin(phrase.distinct: _*))
      .select(col("doc_id"), col("pos"), slotExpr.as("slot"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"),
        col("slot"))
      .where(col("start") >= 0)
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("votes"))
      .where(col("votes") === n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("start")).as("first_pos"))
  }

  /** BATCH phrase search: every phrase of a suite answered by ONE pass
    * over the postings rows of the union of all phrases' tokens —
    * the "audit a whole benchmark suite against the corpus" shape,
    * where [[phraseSearch]] per phrase would re-scan the index once per
    * eval item. Output one row per (phrase_id, matching doc):
    * (phrase_id, doc_id, n_hits, first_pos), `phrase_id` the 0-based
    * index into `phrases`.
    *
    * Same voting frame as [[phraseSearch]] with the slot map keyed by
    * (phrase, slot): an occurrence of token t votes once per (phrase,
    * slot) pair t could fill, so (phrase_id, doc_id, start, slot)
    * stays unique by construction and the plain count still equals the
    * distinct count. The scan prunes to the union of the suite's
    * tokens; votes shuffle as (int, long, long) rows; the aggregate is
    * map-side combined — cost is the suite tokens' postings volume,
    * shared across all phrases instead of paid per phrase. */
  def phraseSearchAll(postings: DataFrame, phrases: Seq[Seq[String]])
      : DataFrame = {
    require(phrases.nonEmpty, "phraseSearchAll: empty suite")
    phrases.zipWithIndex.foreach { case (p, i) =>
      require(p.nonEmpty, s"phraseSearchAll: phrase $i is empty")
    }
    // token → every (phrase_id, slot) it can fill across the suite
    val slotsOf: Map[String, Seq[(Int, Long)]] = phrases.zipWithIndex
      .flatMap { case (p, pid) =>
        p.zipWithIndex.map { case (t, s) => (t, (pid, s.toLong)) }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val lenOf: Map[Int, Long] = phrases.zipWithIndex
      .map { case (p, pid) => pid -> p.length.toLong }.toMap
    val slotExpr = explode(element_at(typedlit(slotsOf), col("token")))
    postings
      .where(col("token").isin(slotsOf.keys.toSeq: _*))
      .select(col("doc_id"), col("pos"), slotExpr.as("ps"))
      .select(col("ps").getField("_1").as("phrase_id"), col("doc_id"),
        (col("pos") - col("ps").getField("_2")).as("start"))
      .where(col("start") >= 0)
      .groupBy(col("phrase_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("votes"))
      .where(col("votes") === element_at(typedlit(lenOf), col("phrase_id")))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("start")).as("first_pos"))
      .select(col("phrase_id").cast("long").as("phrase_id"), col("doc_id"),
        col("n_hits"), col("first_pos"))
  }

  /** Proximity search over a [[positionalPostings]] table: docs where
    * ALL `terms` co-occur within some window of `window` consecutive
    * token positions — the "near" query a phrase search relaxes into
    * when order and adjacency stop mattering. Output one row per
    * matching doc: (doc_id, n_windows, first_start), `n_windows` the
    * count of matching 0-based window starts.
    *
    * Same voting frame as [[phraseSearch]] with the slot constraint
    * relaxed: an occurrence of term t at position p votes for every
    * start in [p−window+1, p] (clamped at 0), and a start voted by ALL
    * distinct terms matches. Here the distinct count is REQUIRED — two
    * occurrences of one term inside a window must not impersonate two
    * terms. Each matched occurrence fans out `window` vote rows, so
    * cost is window × (the terms' postings volume) — the window is a
    * small query constant, and only the query terms' index rows are
    * ever scanned. */
  def proximitySearch(postings: DataFrame, terms: Seq[String],
      window: Int): DataFrame = {
    require(terms.nonEmpty, "proximitySearch: empty term set")
    require(window >= 1, s"proximitySearch: window must be >= 1: $window")
    val distinctTerms = terms.distinct
    val n = distinctTerms.length
    postings
      .where(col("token").isin(distinctTerms: _*))
      .select(col("doc_id"), col("token"),
        explode(sequence(greatest(col("pos") - (window - 1), lit(0L)),
          col("pos"))).as("start"))
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("token")).as("hit_terms"))
      .where(col("hit_terms") === n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), min(col("start")).as("first_start"))
  }

  /** Keyword-in-context (KWIC) snippets: for each phrase hit, the
    * `context` whitespace tokens on either side of the doc's FIRST
    * occurrence (start `first_pos`, length `phraseLen`), clamped at the
    * document edges — the result surface a search UI or an eval-leak
    * triage actually reads.
    *
    * Plan shape: hits are (doc_id, first_pos) longs; text enters
    * through ONE id-keyed equi-join against the hit set (hit-sized, not
    * corpus-sized — AQE broadcasts it when small) and the slice/join is
    * a pure codegen projection, so full documents never shuffle and
    * only hit docs are ever materialized. */
  def kwicSnippets(docs: DataFrame, hits: DataFrame, phraseLen: Int,
      context: Int, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(phraseLen > 0 && context >= 0,
      s"kwicSnippets: phraseLen $phraseLen, context $context")
    val toks = split(col(textCol), graft.functions.TextFunctions.WsPlus)
    val start0 = greatest(col("first_pos") - context, lit(0L))
    val end0 = least(col("first_pos") + phraseLen + context,
      size(toks).cast("long"))
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol))
      .join(hits.select(col("doc_id"), col("first_pos")), Seq("doc_id"))
      .select(col("doc_id"), col("first_pos"),
        array_join(slice(toks, (start0 + 1L).cast("int"),
          (end0 - start0).cast("int")), " ").as("snippet"))
  }

  /** BATCH BM25 serving: a whole batch of term queries answered by ONE
    * pruned pass over the postings store — the multi-tenant search
    * surface, where [[bm25TopKFromIndex]] per query would re-read the
    * token-pruned index once per query. Scores are bit-identical to
    * the single-query path per query (document frequency and length
    * norms are corpus properties, shared across the batch; per-term
    * contributions floored before the per-(query, doc) sum).
    *
    * Scale shape: the same [[bm25IndexCore]] as the single query, over
    * the union of the batch's terms (the query batch is driver-sized by
    * definition, so the probe is a pushed `IN` literal — the
    * Ann-codebook pattern); each scored doc row fans out to one
    * (query, score) row per query, and the top-k rank is a per-query
    * window (hash shuffle on query_id — no global sort). The zero-score
    * membership contract costs doclens × |batch| narrow rows — right
    * for a batch of tens of queries; a thousand-query batch would drop
    * membership and rank positive-score docs only. Declared-schema
    * reads, as for the single query: no inference job. */
  def bm25TopKFromIndexBatch(postings: DataFrame, doclens: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25TopKFromIndexBatch: empty batch")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25TopKFromIndexBatch: duplicate query ids")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty && ts.distinct.size == ts.size,
        s"bm25TopKFromIndexBatch: query $qid terms must be non-empty, distinct")
    }
    require(k > 0, s"k must be positive: $k")
    val allTerms = queries.flatMap(_._2).distinct
    val (scored, score) = bm25IndexCore(postings, doclens, allTerms, k1, b)
    val perQuery = queries.map { case (qid, ts) =>
      struct(lit(qid).as("query_id"),
        score(ts.map(allTerms.indexOf)).as("score_e4"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_e4").desc, col("doc_id"))
    scored.select(col("doc_id"), col("dl"), inline(array(perQuery: _*)))
      .select(col("query_id"), col("doc_id"), col("dl"), col("score_e4"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** The index-side BM25 core both serving paths share. ONE token-pruned
    * postings scan is aggregated per `doc_id` into one term-frequency
    * column `__tf_i` per term (`count(when(token === t_i, 1))`); the
    * document frequencies are a one-row aggregate of that same frame
    * (its rows are unique per doc, so a doc with tf_i > 0 counts once
    * toward df_i), and (N, Σdl) a one-row aggregate of `doclens`.
    * Returns `doclens LEFT JOIN perDoc` crossed with both scalar rows,
    * and the score of a subset of term indices over it: Σ_i
    * [[termE4]](tf_i, df_i), 0 for a doc matching no term (membership
    * stays intact, exactly as [[bm25]] scores every document). A term
    * a matched doc lacks contributes floor(1e-6) = 0, as in the scan.
    *
    * Scale shape: the per-doc frame feeds the df row and the scoring
    * join through one shuffle, which the executed plan reuses — the
    * postings are scanned once. A doc indexed without its length norm
    * (an interrupted flat append) counts toward df but is not scored;
    * a null doc_id is no document (it has no norm to join) and counts
    * toward nothing. */
  private def bm25IndexCore(postings: DataFrame, doclens: DataFrame,
      allTerms: Seq[String], k1: Double, b: Double)
      : (DataFrame, Seq[Int] => Column) = {
    val tfs = allTerms.zipWithIndex.map { case (t, i) =>
      count(when(col("token") === t, 1)).as(s"__tf_$i")
    }
    // the explicit not-null is the one the scoring join would infer on
    // its side only: both consumers of perDoc must plan the same shuffle
    val perDoc = postings
      .where(col("token").isin(allTerms: _*) && col("doc_id").isNotNull)
      .groupBy(col("doc_id")).agg(tfs.head, tfs.tail: _*)
    val dfs = allTerms.indices.map(i =>
      count(when(col(s"__tf_$i") > 0, 1)).as(s"__df_$i"))
    val scored = doclens.join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(doclens.agg(count(lit(1)).as("__n"),
        sum(col("dl")).as("__sumdl"))))
      .crossJoin(broadcast(perDoc.agg(dfs.head, dfs.tail: _*)))
    def score(terms: Seq[Int]): Column = coalesce(terms.map(i =>
      termE4(col(s"__tf_$i"), col(s"__df_$i"), col("dl"), k1, b))
      .reduce(_ + _), lit(0L))
    (scored, score)
  }

  /** Reciprocal-rank fusion of N rankings — the standard hybrid-search
    * combiner (lexical BM25 top-k ⊕ embedding ANN top-k) a curation or
    * retrieval surface uses when neither signal alone ranks well:
    * score(d) = Σ_rankings 1/(kRrf + rank_r(d)), documents absent from
    * a ranking contribute nothing. Integer-exact contract:
    * `rrf_e8 = Σ floor(1e8 / (kRrf + rank))` — each reciprocal is one
    * integer division, so external SQL reproduces the fusion
    * bit-for-bit (ties broken by lowest doc id, as everywhere here).
    *
    * Scale shape: inputs are top-k rankings — k-sized, not
    * corpus-sized — so the union + sum aggregate is bounded by
    * Σ k_r rows regardless of corpus; the final top-k is
    * TakeOrderedAndProject. Rankings must carry (doc_id, rank). */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, kRrf: Int = 60)
      : DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    require(topK > 0, s"rrfFuse: topK $topK")
    require(kRrf >= 0, s"rrfFuse: kRrf $kRrf")
    // floor of the double quotient IS the integer quotient here: an
    // inexact 1e8/d has fractional part ≥ 1/d ≫ ulp, and when d divides
    // 1e8 the double division is exact — so the floor can never straddle
    val contribs = rankings.map(r =>
        r.select(col("doc_id").cast("long").as("doc_id"),
          floor(lit(100000000L) / (lit(kRrf.toLong) + col("rank").cast("long")))
            .cast("long").as("__c")))
      .reduce(_ unionByName _)
    contribs.groupBy("doc_id").agg(sum(col("__c")).as("rrf_e8"))
      .orderBy(col("rrf_e8").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rank", Ranks.globalRowNumber(col("doc_id"),
        col("rrf_e8").desc, col("doc_id")).cast("long"))
  }

  /** KWIC snippets for [[proximitySearch]] hits: the `window`-token
    * span at each doc's first matching start plus `context` tokens on
    * either side, edge-clamped — the triage surface the relaxed query
    * lacked while the exact phrase query had [[kwicSnippets]]. Same
    * plan shape: hits are (doc_id, first_start) longs, text enters
    * through one hit-sized id join, documents never shuffle. */
  def kwicProximity(docs: DataFrame, hits: DataFrame, window: Int,
      context: Int, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    kwicSnippets(docs,
      hits.select(col("doc_id"), col("first_start").as("first_pos")),
      phraseLen = window, context = context, idCol = idCol,
      textCol = textCol)
      .withColumnRenamed("first_pos", "first_start")
}
