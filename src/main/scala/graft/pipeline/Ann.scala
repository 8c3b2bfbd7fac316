package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact cosine top-k, the correctness baseline.
  *    The query side is broadcast (queries ≪ corpus), so the corpus is
  *    scanned once with no shuffle; top-k per query is a partial-aggregate
  *    window, not a global sort.
  *  - [[lshTopK]] — hyperplane-LSH bucketed variant: corpus is bucketed
  *    once (linear scan + one shuffle on bucket ids), queries probe only
  *    their own buckets. This is the 100 TB path: candidate set per query
  *    is bucket-sized, not corpus-sized.
  */
object Ann {

  /** "Better than worst-kept": global order is (cosine desc, id asc), so
    * the heap's max (= first evicted) must be the smallest cosine with the
    * largest id breaking ties. */
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))

  /** Exact top-k neighbors by cosine for each query vector.
    * `queries`/`corpus`: (id, vec) frames. Self-matches excluded.
    *
    * Scale shape: the query side is broadcast (queries ≪ corpus), the
    * corpus is scanned once, and each scan partition keeps only a bounded
    * per-query heap of its k best — so the shuffle that feeds the final
    * ranking carries `queries × k × partitions` rows, never the full
    * `corpus × queries` score matrix. The kernel cosine accumulates
    * doubles sequentially (bit-identical to the SQL-oracle form). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
    // cosine runs as the native codegen expression inside the join stage;
    // only (query_id, neighbor_id, cosine) scalars reach the heap kernel
    val partialTopK = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { case (qid, nid, cos) =>
          val h = heaps.getOrElseUpdate(qid,
            scala.collection.mutable.PriorityQueue.empty(worstFirst))
          h.enqueue((cos, nid))
          if (h.size > k) h.dequeue()
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (cos, nid) => (qid, nid, cos) }
        }
      }.toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    partialTopK.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH-bucketed ANN: multi-probe via `tables` independent hyperplane
    * signatures. Recall grows with tables; cost per query stays
    * bucket-sized. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 10, tables: Int = 4): DataFrame = {
    import corpus.sparkSession.implicits._
    // collision join carries only (id, table, bucket); vectors are fetched
    // after candidate-pair dedup, so the wide ops never move embeddings
    def bucketed(df: DataFrame, idName: String): DataFrame =
      hyperplaneBuckets(
        df.select(col("id").as(idName), col("vec")),
        idName, "vec", numPlanes, tables)
        .select(idName, "table", "bucket")
    val cand = bucketed(corpus, "neighbor_id")
      .join(broadcast(bucketed(queries, "query_id")), Seq("table", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val withVecs = cand
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
    val scored = withVecs
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Quantized-scan ANN: the corpus is scanned in int8 (4× fewer bytes —
    * the storage tier [[graft.functions.VectorFunctions.quantizeInt8]]
    * maintains), an approximate cosine over dequantized values keeps the
    * top `rerank` candidates per query, and an exact float re-rank of the
    * survivors restores full precision for the final top-k. Identical
    * vectors quantize identically, so the approximate cosine of a planted
    * twin is exactly 1.0 — it always survives the candidate cut and tops
    * the exact re-rank (the planted-retrieval contract holds end-to-end).
    *
    * Scale shape: same as [[bruteForceTopK]] (broadcast queries, one
    * corpus scan, bounded per-partition heaps) but the scan reads the
    * int8 column; only `queries × rerank` rows fetch float vectors. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      rerank: Int = 50): DataFrame = {
    import graft.functions.VectorFunctions.{dequantizeInt8, int8Scale, quantizeInt8}
    val q8 = corpus
      .withColumn("scale", int8Scale(col("vec")))
      .withColumn("q", quantizeInt8(col("vec"), col("scale")))
      .select(col("id"), col("q"), col("scale"))
    val approx = bruteForceTopK(
      queries,
      q8.select(col("id"), dequantizeInt8(col("q"), col("scale"))
        .cast("array<float>").as("vec")),
      k = rerank)
    // exact float re-rank of the surviving candidates only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    approx.select("query_id", "neighbor_id")
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF probing combined with the quantized scan (the IVF-PQ-lite
    * shape): corpus vectors are assigned to codebook cells by the fused
    * argmin projection AND stored int8-quantized; each query probes its
    * `nProbe` nearest cells, scores ONLY those cells' members over the
    * dequantized int8 bytes (4× less data than float), keeps `rerank`
    * approximate survivors, and an exact float re-rank restores full
    * precision for the final top-k. Identical twins share every argmin
    * and quantize identically, so the planted-retrieval contract holds
    * end-to-end (same argument as [[ivfTopK]] + [[quantizedTopK]]).
    *
    * Scale shape: candidate volume is cell-bounded (IVF) and each
    * candidate row carries int8 bytes (quantized) — the two savings
    * compose; only `queries × rerank` rows ever fetch float vectors. */
  def ivfQuantizedTopK(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int = 2,
      rerank: Int = 50): DataFrame = {
    val centRows = PlanCache.getOrPersist(centroids, "ivfq-centroids",
        centroids.select(col("id").cast("long"), col("vec")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1)
    require(centRows.nonEmpty, "ivfQuantizedTopK: empty centroid set")
    ivfQuantizedCore(queries, quantizedCells(corpus, centRows)
        .withColumnRenamed("id", "neighbor_id"),
      centroids, corpus, k, nProbe, rerank)
  }

  /** Cell assignment + int8 storage tier in ONE corpus projection:
    * (id, cell_id, q, scale) — the materialized form a persisted IVF
    * index stores (see [[writeIndex]]). */
  private def quantizedCells(corpus: DataFrame,
      codebook: Array[(Long, Seq[Float])]): DataFrame = {
    import graft.functions.VectorFunctions.{int8Scale, quantizeInt8}
    corpus.select(col("id").cast("long").as("id"), col("vec"))
      .withColumn("cell_id", nearestCellExpr(codebook, col("vec")))
      .withColumn("scale", int8Scale(col("vec")))
      .withColumn("q", quantizeInt8(col("vec"), col("scale")))
      .select("id", "cell_id", "q", "scale")
  }

  /** Shared IVF+int8 retrieval over an already-assigned cell table
    * ((cell_id, neighbor_id, q, scale) — computed inline by
    * [[ivfQuantizedTopK]], read from a store by
    * [[ivfQuantizedTopKFromStore]]); `corpus` supplies float vectors for
    * the exact re-rank of survivors only. */
  /** Query-side cell probing shared by every IVF path: each query ranks
    * all centroids by l2 and keeps its `nProbe` nearest cells — a tiny
    * broadcast crossJoin + per-query window (queries × cells rows).
    * Output: (query_id, qvec, cell_id, dist, r). */
  /** Collected (id, vec) rows of a codebook frame, memoized per plan —
    * a serving process probes the same store's codebook on every
    * request, and the generation directory rides the plan key
    * ([[PlanCache.planKey]] embeds the fs root paths), so a compaction
    * publish naturally invalidates. KB-scale entries, same retention
    * discipline as [[trainCentroids]]'s codebookMemo. */
  private val centroidRowsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Long, Seq[Float])]]()
  private def collectCentroids(centroids: DataFrame)
      : Array[(Long, Seq[Float])] = {
    // content-salted key ([[PlanCache.contentKey]]): generation-
    // addressed stores are immutable dirs, but readPqBooksAt/tableRoot
    // accept FLAT dirs too — a flat codebook rebuilt in place within
    // one JVM must load fresh, not serve the stale quantizer
    val key = PlanCache.contentKey(centroids)
    val hit = centroidRowsMemo.get(key)
    if (hit != null) return hit
    val rows = centroids.select(col("id").cast("long").as("id"), col("vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    // bound + put under the map's own lock: the bare check-then-clear
    // raced concurrent callers into evicting fresh entries
    centroidRowsMemo.synchronized {
      if (centroidRowsMemo.size > 256) centroidRowsMemo.clear()
      centroidRowsMemo.put(key, rows)
    }
    rows
  }

  /** Drop every driver-side quantizer memo (codebooks, centroid rows,
    * PQ books) — the [[PlanCache.clear]] discipline for tests and
    * memory pressure; registered below so a PlanCache.clear() clears
    * these too. */
  def clearQuantizerMemos(): Unit = {
    codebookMemo.clear()
    centroidRowsMemo.clear()
    pqBooksMemo.clear()
  }
  PlanCache.onClear(() => clearQuantizerMemos())

  private def probeCells(queries: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    // codebooks are driver-collectable by construction — one k-row
    // collect (memoized per store generation) turns probe ranking into
    // a fused per-row kernel ([[graft.functions.TopCells]]): no
    // query×centroid crossJoin, no per-query window exchange carrying
    // two vectors per row. The declarative predecessor shuffled
    // queries × k wide rows, which the corpus-sized batch regime at
    // k ∝ N turned into the dominant exchange (200k queries × k=8000 ≈
    // 1.6G two-array rows). Selection and order are the predecessor's
    // exact row_number-over-(dist, cell_id) rule, spec-pinned in
    // NearestCellSpec; `cent` rejoins from the codebook-sized broadcast
    // for the consumers that need the centroid vector (the
    // residual-LUT paths).
    val centRows = collectCentroids(centroids)
    require(centRows.nonEmpty, "probeCells: empty centroid set")
    val cent = centroids.select(col("id").as("cell_id"), col("vec").as("cent"))
    queries.select(col("id").as("query_id"), col("vec").as("qvec"),
        explode(topCellsExpr(centRows, col("vec"), nProbe)).as("p"))
      .select(col("query_id"), col("qvec"),
        col("p").getField("c").as("cell_id"),
        col("p").getField("d").as("dist"))
      .join(broadcast(cent), "cell_id")
  }

  /** Materialize a probe frame ONCE on the driver, returning the
    * distinct probed cell ids AS A LITERAL plus the same rows as a
    * LocalRelation for the probe join. probes is queries × nProbe rows
    * by construction (the same bound that lets [[probeCells]] broadcast
    * it), so one collect is request-sized — and turning the ids into a
    * literal `cell_id.isin(...)` filter ON THE CELLS SCAN is what lets
    * the cell_id-clustered store layout ([[writeIndex]]/
    * [[writeIvfPqIndex]] repartition by cell_id, so parquet footers
    * carry tight min/max stats) actually SKIP row groups: a
    * broadcast-join key is not a pushable predicate, so without the
    * literal every serving call reads the whole coded tier and filters
    * in the join — at 100 TB the coded tier is small (int8/PQ codes)
    * but still TBs, and serving must be an index probe, not a tier
    * scan. Reference analogue: ScnIndex.java:623 — seek then scan,
    * never scan-then-filter. Collecting once (rather than a distinct-id
    * job for the literal plus a broadcast exchange recomputing the
    * probe plan) keeps serving at ONE driver-sized job: the returned
    * frame is a LocalRelation, so its broadcast ships rows already in
    * driver memory instead of re-running the crossJoin+window.
    *
    * ENFORCED request-size budget: the "queries ≪ corpus" contract this
    * collect assumes is checked, not trusted — the collect itself is
    * bounded at [[maxProbeRows]]+1 rows (`limit`, so an over-budget
    * probe frame can never OOM the driver first), and crossing the
    * budget raises a loud two-regime error naming `batchRegime` — the
    * CALLING FAMILY'S OWN corpus-sized-batch path (each quantizer tier
    * has one: [[ivfQuantizedTopKFromStoreBatch]],
    * [[ivfTopKFromStoreBatch]], [[ivfPqTopKFromStoreBatch]]) — so a
    * PQ-family caller is never sent to a function that reads a
    * different store family's tables.
    * Reference analogue: every /stream request carries an enforced
    * response budget (ReadEventsRequestProcessor.java:78-79) — serving
    * entry points never let one oversized request take the server down. */
  private def materializeProbes(probes: DataFrame, batchRegime: String,
      cols: String*): (Seq[Long], DataFrame) = {
    val spark = probes.sparkSession
    val cap = maxProbeRows(spark)
    val narrow = probes.select(cols.head, cols.tail: _*)
    val rows = narrow.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"Ann: probe frame exceeds $ProbeCapConf = $cap rows (queries ×" +
        " nProbe) — the store-served top-k paths materialize probes on" +
        " the driver and are for request-sized query batches; for a" +
        " corpus-sized batch (annotating a lake against the index) use" +
        s" this family's shuffle regime, $batchRegime, which" +
        " joins the coded tier to the probe frame on cell_id and never" +
        " collects (or raise the cap if the driver really has the heap)")
    val ids = rows.map(_.getAs[Long]("cell_id")).distinct.sorted.toSeq
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), narrow.schema)
    (ids, local)
  }

  /** Driver-side probe-row budget for the store-served top-k paths
    * (queries × nProbe rows cross [[materializeProbes]]'s collect).
    * Runtime-settable Spark conf, same idiom as
    * `graft.store.reservationLeaseMs`. The 1M default is ~tens of MB of
    * (long, long[, lut]) rows — comfortable on any driver that runs
    * Spark at all, far above any interactive request, far below a
    * corpus-sized annotation batch. */
  val ProbeCapConf = "graft.ann.maxProbeRows"
  private val DefaultMaxProbeRows = 1000000

  /** Parsed LOUDLY: a conf whose whole purpose is a named, actionable
    * error must not itself surface a raw NumberFormatException on a
    * malformed value, and a value past Int.MaxValue must not overflow
    * `limit(cap + 1)` into a NEGATIVE limit — parsed as Long, required
    * positive, clamped so cap+1 stays an Int (a cap that large no
    * longer bounds anything a driver survives; it must merely not turn
    * the guard into a confusing plan error). */
  private def maxProbeRows(
      spark: org.apache.spark.sql.SparkSession): Int = {
    val raw = spark.conf.get(ProbeCapConf, DefaultMaxProbeRows.toString)
    val v =
      try raw.trim.toLong
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"Ann: $ProbeCapConf must be a positive integer row count," +
            s" got '$raw'", e)
      }
    require(v > 0,
      s"Ann: $ProbeCapConf must be a positive integer row count, got $raw")
    math.min(v, Int.MaxValue - 1L).toInt
  }

  private def ivfQuantizedCore(queries: DataFrame, cells: DataFrame,
      centroids: DataFrame, corpus: DataFrame, k: Int, nProbe: Int,
      rerank: Int): DataFrame = {
    import graft.functions.VectorFunctions.dequantizeInt8
    val probes = probeCells(queries, centroids, nProbe)
    // approximate scoring over the probed cells' int8 members. The
    // rerank CUT breaks approx ties to the LARGEST neighbor_id kept —
    // same rule as pqTopK's heap eviction: when more than `rerank`
    // candidates quantize to identical codes (duplicate-heavy corpora)
    // the planted twin, largest id by convention, must reach the exact
    // re-rank; an ascending tie-break would cut it first
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").desc)
    val (probedIds, probesL) =
      materializeProbes(probes, "ivfQuantizedTopKFromStoreBatch",
        "cell_id", "query_id")
    val survivors = cells.where(col("cell_id").isin(probedIds: _*))
      .join(broadcast(probesL), "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .withColumn("approx", cosine(col("qvec"),
        dequantizeInt8(col("q"), col("scale")).cast("array<float>")))
      .withColumn("ar", row_number().over(wApprox))
      .where(col("ar") <= rerank)
      .select("query_id", "neighbor_id")
    // exact float re-rank of the survivors only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    survivors
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Write a PERSISTED IVF index for `corpus` into `dir`:
    *
    *   - `codebook/` — (id, vec), the trained centroids
    *   - `cells/`    — (id, cell_id, q, scale), every corpus vector's cell
    *     assignment plus its int8 storage tier
    *
    * This is the index a deployment builds once per corpus snapshot and
    * serves from thereafter — [[trainCentroids]]' per-JVM memo made
    * durable, the same discipline as the minhash signature store and the
    * drift monitor's persisted reference distribution. Retrieval loads it
    * with [[ivfQuantizedTopKFromStore]] / [[ivfTopKFromStore]]; only the
    * exact re-rank ever touches the float corpus again.
    *
    * The codebook+cells PAIR commits as one [[VersionedStore]]
    * generation behind one atomic pointer flip — a crash mid-build
    * leaves readers on the previous generation (or loudly unpublished),
    * never a codebook whose cells are missing or vice versa; the
    * two-commit window this writer used to delegate to the caller's
    * promote protocol is structurally impossible on the publish path. */
  def writeIndex(corpus: DataFrame, dir: String, k: Int, iters: Int,
      batchId: Option[Long] = None, numFiles: Int = 4): Unit = {
    require(numFiles > 0, s"writeIndex: numFiles $numFiles")
    val (codebook, _) = trainCentroids(corpus, k, iters)
    // narrow cell rows (two longs + dim int8s + a double), CLUSTERED by
    // cell range ([[shapeByCell]]) so the serving scan's probed-cell
    // literal prunes on footer stats; `numFiles` sizes the write — a
    // handful keeps fixture-scale re-reads one-listing cheap, a 100 TB
    // corpus raises it toward ~one cell range per file like any lake
    // table. batchId selects the BATCH-ADDRESSED layout from the first
    // write (the table name is a relative path, so the generation's
    // cells/ is born as a batch=<id> partition dir): a stream-maintained
    // store must start this way — partition discovery rejects a layout
    // that mixes flat files with batch subdirs, so the bootstrap batch
    // chooses the store's append discipline for life
    VersionedStore.publish(dir, Map(
      "codebook" -> centroidsDf(corpus.sparkSession, codebook).coalesce(1),
      batchId.fold("cells")(b => s"cells/batch=$b") ->
        shapeByCell(quantizedCells(corpus, codebook), numFiles)))
    ()
  }

  /** Does `tableDir` carry the batch-addressed layout
    * ([[appendToIndexBatch]]'s `batch=<id>` partition dirs)? One
    * listing — the dispatch every maintenance rewrite runs so its
    * output stays appendable under the store's own discipline. */
  private def hasBatchLayout(tableDir: String): Boolean =
    StoreFs.listDirNames(tableDir).exists(_.startsWith("batch="))


  /** Append a NEW vector batch to a [[writeIndex]] store without
    * retraining and without re-scanning the stored corpus: the frozen
    * codebook loads from the store (k rows, driver-bounded by
    * construction), ONLY the batch runs the fused argmin assignment +
    * int8 quantization, and the resulting rows append to `cells/` —
    * the ANN analog of the minhash/winnow/chunk incremental store
    * protocols: per-batch cost is O(batch), independent of how many
    * vectors the store already holds, and stored float vectors are
    * never touched. The codebook is frozen by design — centroids drift
    * only on a full [[writeIndex]] rebuild, the standard production IVF
    * regime (periodic re-train, continuous append). Identical vectors
    * share every argmin, so a twin appended later lands in its
    * original's cell and the planted-twin retrieval contract holds
    * across increments. Caller owns id disjointness across batches,
    * as with every id-keyed store here.
    *
    * `numFiles` sizes the write: the default 1 keeps trickle appends
    * from littering the store with shards, while a bulk backfill
    * (millions of vectors) raises it so the assignment AND the write
    * parallelize instead of serializing through one task — clustered
    * by cell_id so each appended file covers few cells and the serving
    * scan's cell probe keeps its pruning. */
  def appendToIndex(newVectors: DataFrame, dir: String,
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToIndex: numFiles $numFiles")
    val (t, cells) = encodedCells(newVectors, dir)
    requireLayout(s"$t/cells", batched = false, "appendToIndex")
    shapeByCell(cells, numFiles).write.mode("append").parquet(s"$t/cells")
  }

  /** Frozen-codebook assignment of a new batch — the ONE encode both
    * append forms share, so the blind and the batch-addressed writes can
    * never drift apart on what a row means. Returns the resolved table
    * root alongside the encoded frame. */
  private def encodedCells(newVectors: DataFrame,
      dir: String): (String, DataFrame) = {
    val spark = newVectors.sparkSession
    val t = VersionedStore.tableRoot(dir)
    // memoized per generation path ([[collectCentroids]]) — a CDC
    // maintainer appends many batches against one frozen codebook, and
    // re-collecting the same k rows per batch is one avoidable job each
    val codebook =
      collectCentroids(spark.read.parquet(s"$t/codebook")).sortBy(_._1)
    require(codebook.nonEmpty, s"appendToIndex: empty codebook in $dir")
    (t, quantizedCells(newVectors, codebook))
  }

  /** Cell-CLUSTERED write shape ([[VersionedStore.clustered]] by
    * cell_id): contiguous cell ranges per file and rows sorted by cell_id
    * within each — the layout that makes every parquet footer's cell_id
    * min/max TIGHT, so the serving paths' literal probed-cell filter
    * ([[materializeProbes]]) skips whole files and, at production file
    * sizes (many row groups per 128 MB file), whole row groups inside
    * them. A hash repartition co-locates a cell's rows just as well but
    * smears each file's min/max across the id space, and footer stats
    * can never prune a wide box. `batched` is the batch-preserving
    * compaction's narrow arm: (batch, cell_id)-sorted scan partitions. */
  private def shapeByCell(df: DataFrame, numFiles: Int,
      batched: Boolean = false): DataFrame =
    VersionedStore.clustered(df, numFiles, batched, "cell_id")

  /** WRITE-TIME layout guard: the blind append forms require a FLAT
    * table, the batch-addressed forms a batch-partitioned one — a write
    * that mixed the two would succeed and then break every later read
    * at partition discovery ("conflicting directory structures"),
    * bricking the store long after the writer returned. Loud here beats
    * corrupt-at-read. */
  private def requireLayout(tableDir: String, batched: Boolean,
      who: String): Unit = {
    val has = hasBatchLayout(tableDir)
    require(has == batched,
      if (batched)
        s"$who: $tableDir is a flat table — batch-addressed appends" +
          " would mix layouts and break partition discovery; bootstrap" +
          " the store with batchId (or use the blind append form)"
      else
        s"$who: $tableDir is batch-addressed (stream-maintained) — a" +
          " blind append would mix layouts and break partition" +
          " discovery; use the batch-addressed form with its batchId")
  }

  /** STREAMING-append form of [[appendToIndex]] — the
    * [[Retrieval.appendToPostingsIndexBatch]] idiom on the ANN cell
    * table: the batch's assignments land in their own `batch=<id>`
    * subdir with OVERWRITE semantics, so a foreachBatch retry
    * (at-least-once delivery) rewrites the same partial instead of
    * appending a second copy — a blind append would silently
    * double-append the replayed vectors' cell rows, duplicate
    * candidates in every later top-k (the fsck `duplicate_cell_rows`
    * finding DETECTS that after the fact; this form PREVENTS it, the
    * engine's standard). Encoding is deterministic under the frozen
    * codebook, so a replay reproduces the exact rows it overwrites.
    * The `batch` partition column is LAYOUT, not data — every serving
    * reader drops it ([[readCells]]). A stream-maintained store uses this
    * form for every write from its first batch
    * ([[writeIndex]]'s `batchId`): partition discovery rejects a layout
    * that mixes flat files with batch subdirs. Reference analogue: the
    * dispatcher's rollback/replay contract assumes idempotent
    * application (GenericDispatcher.java:551,921). */
  def appendToIndexBatch(newVectors: DataFrame, dir: String, batchId: Long,
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToIndexBatch: numFiles $numFiles")
    val (t, cells) = encodedCells(newVectors, dir)
    requireLayout(s"$t/cells", batched = true, "appendToIndexBatch")
    shapeByCell(cells, numFiles)
      .write.mode("overwrite").parquet(s"$t/cells/batch=$batchId")
  }

  /** IVF+int8 retrieval against a [[writeIndex]] store: candidates come
    * from the STORED cell assignment (no corpus re-assignment scan, no
    * re-training — the r6 gap where every new session re-trained the
    * memoized codebook), approximate scoring reads the stored int8 tier,
    * and only `queries × rerank` survivors fetch float vectors from
    * `corpus` (an id-keyed join into the lake).
    *
    * `at` replays a captured [[VersionedStore.Pin]] instead of the head
    * — the time-travel argument of every store server here: codebook
    * AND cells resolve from the pinned generation (ONE pointer
    * resolution per serve, so quantizers and coded rows always come
    * from the same training), cells additionally cut at the pinned
    * append batch (later batches partition-prune out of the plan;
    * tombstones still apply). */
  def ivfQuantizedTopKFromStore(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, nProbe: Int = 2, rerank: Int = 50,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at,
      "Ann.ivfQuantizedTopKFromStore")
    ivfQuantizedCore(queries,
      servedRows(spark, v, "cells").withColumnRenamed("id", "neighbor_id"),
      spark.read.parquet(s"${v.dir}/codebook"), corpus, k, nProbe, rerank)
  }

  /** SHUFFLE-regime [[ivfQuantizedTopKFromStore]] for CORPUS-SIZED query
    * batches — the second serving regime the request-sized path's budget
    * guard ([[materializeProbes]], `graft.ann.maxProbeRows`) points at.
    * Identical answers (same probe ranking, same approx scoring, same
    * rerank/tie-break rules, verified pairwise in AnnBatchStoreSpec);
    * different plan: the probe frame (queries × nProbe rows, here
    * potentially billions) is never collected, never broadcast, and
    * never becomes a pushable literal — candidates come from a plain
    * hash join of the stored coded tier to the probe frame on cell_id,
    * and every later join (exact-rerank vector fetches included) is
    * unhinted so AQE sizes them from measurements. The trade is stated,
    * not hidden: without the probed-cell literal the coded tier SCANS
    * (row-group skipping needs a literal predicate) — correct economics
    * when the probe set covers most cells anyway, which a corpus-sized
    * batch does by construction (a lake-annotation job probes every cell
    * many times over; pruning has nothing left to skip). Use the
    * request-sized path for serving, this for batch annotation. A
    * lake-annotation job is exactly the long-running consumer a pin
    * exists for: `at` freezes the index under it like the request
    * regime's. Reference analogue: the bootstrap path vs the relay
    * path — the same data served by a seek (ScnIndex) for tailing
    * requests and by a full scan for whole-corpus consumers
    * (BootstrapSrcDBEventReader.java). */
  def ivfQuantizedTopKFromStoreBatch(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, nProbe: Int = 2, rerank: Int = 50,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    import graft.functions.VectorFunctions.dequantizeInt8
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at,
      "Ann.ivfQuantizedTopKFromStoreBatch")
    // probe ranking is probeCells verbatim — the centroid crossJoin
    // broadcast is codebook-sized and regime-independent; qvec rides the
    // probe rows so approx scoring needs no second corpus-sized join
    val probes = probeCells(queries, spark.read.parquet(s"${v.dir}/codebook"),
        nProbe)
      .select(col("cell_id"), col("query_id"), col("qvec"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").desc)
    val survivors = servedRows(spark, v, "cells")
      .withColumnRenamed("id", "neighbor_id")
      .join(probes, "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("approx", cosine(col("qvec"),
        dequantizeInt8(col("q"), col("scale")).cast("array<float>")))
      .withColumn("ar", row_number().over(wApprox))
      .where(col("ar") <= rerank)
      .select("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    survivors
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(queries.select(col("id").as("query_id"), col("vec").as("qvec")),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** SHUFFLE-regime [[ivfTopKFromStore]] — batch-serving PARITY for the
    * float-precision IVF family (the scan path exists for every family
    * the seek path serves, the reference's bootstrap rule:
    * BootstrapProcessor.java:122-160 iterates ALL sources). Identical
    * answers to the request regime (same probe ranking, same exact
    * scoring, same tie-breaks); same stated trade as
    * [[ivfQuantizedTopKFromStoreBatch]]: no probed-cell literal, so the
    * assignment tier scans — correct economics when a corpus-sized
    * batch probes every cell anyway. `at`: [[ivfQuantizedTopKFromStore]]. */
  def ivfTopKFromStoreBatch(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, nProbe: Int = 2,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at, "Ann.ivfTopKFromStoreBatch")
    val probes = probeCells(queries, spark.read.parquet(s"${v.dir}/codebook"),
        nProbe)
      .select(col("cell_id"), col("query_id"), col("qvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    servedRows(spark, v, "cells")
      .select(col("id").as("neighbor_id"), col("cell_id"))
      .join(probes, "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** The LIVE cell assignments of a [[writeIndex]] store: stored rows
    * minus any [[tombstoneVectors]] takedowns — candidate generation is
    * the only place a vector exists in the serving path, so the
    * anti-join here removes it from every retrieval at once. No
    * takedowns, no plan overhead. `at` reads a captured
    * [[VersionedStore.Pin]] instead of the head; an as-of-batch read of
    * the head is `Pin(currentGen, Some(b))`, refused loudly on a store
    * without the batch-addressed layout. */
  def readCells(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      at: Option[VersionedStore.Pin] = None): DataFrame =
    servedRows(spark, VersionedStore.resolve(storeDir, at, "Ann.readCells"),
      "cells")

  /** The live rows of coded table `table` (`cells` or `codes`) at a
    * resolved view ([[VersionedStore.liveRows]]) — the one serving read
    * of every store reader and server here. The `batch` partition column
    * of a batch-addressed store ([[appendToIndexBatch]]) is LAYOUT, not
    * data — dropped, so every consumer sees one schema either way. */
  private def servedRows(spark: org.apache.spark.sql.SparkSession,
      v: VersionedStore.View, table: String): DataFrame =
    VersionedStore.liveRows(spark, v, table, "id").drop("batch")

  /** Mean recall@k of an approximate top-k frame against the exact one
    * (both in the (query_id, neighbor_id, rank, cosine) serving shape,
    * already cut at their k): per query, |approx ∩ exact| / |exact|,
    * averaged over the queries the exact side answers. THE organic
    * quality gate for the quantized tier — every planted-twin contract
    * asserts an invariant; this measures retrieval against ground truth
    * on natural data, which is what catches a bad m/ksub/nProbe
    * interaction that never drifts ([[StoreFsck.pqDrift]] cannot see
    * it). Request-sized: both frames are queries × k. */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    val ap = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    val r = exact.select(col("query_id"), col("neighbor_id"))
      .join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("hit")), lit(0L)).as("h"))
      .agg(avg(col("h").cast("double") / col("n"))).head()
    require(!r.isNullAt(0), "recallAtK: exact side has no queries")
    r.getDouble(0)
  }

  /** Record a vector takedown against a [[writeIndex]] store: the ids
    * leave retrieval immediately (reads anti-join the tombstone set —
    * see [[Tombstones]]); stored cells are never read or rewritten, so
    * the request costs O(request) like [[appendToIndex]] costs
    * O(batch). Physical removal is [[compactIndexCells]]'s job.
    * Reference analogue: DbusOpcode.java:22-26 (DELETE as an event, not
    * a buffer rewrite); BootstrapDBCleaner.java:1 (deferred cleanup). */
  def tombstoneVectors(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: Seq[Long]): Unit =
    Tombstones.append(spark, storeDir, ids)

  /** Bulk/streaming form of [[tombstoneVectors]]: `ids` is a one-column
    * frame (e.g. the DELETE slice of a change-feed micro-batch —
    * replay-safe by tombstone set semantics). */
  def tombstoneVectorsDf(ids: org.apache.spark.sql.DataFrame,
      storeDir: String): Unit = Tombstones.appendDf(ids, storeDir)

  /** Takedown GC for a [[writeIndex]] store: rewrite `cells/` without
    * the tombstoned rows (clustered by cell_id, so the serving scan's
    * cell probe keeps its pruning). The rewrite is one fresh-generation
    * [[VersionedStore.publish]] (codebook carried over unchanged, live
    * cells only) followed by [[VersionedStore.gc]] — atomic, the old
    * overlay retired with its generation. The codebook's CONTENT is
    * untouched: centroids are corpus statistics, not memberships, and
    * drift only on a full [[writeIndex]] retrain.
    *
    * `numFiles` applies to FLAT stores only (cell ranges per file). A
    * batch-addressed store's rewrite is NARROW
    * ([[VersionedStore.clustered]]): each batch dir keeps its own files,
    * never more than it had, each sorted by cell_id, with no sampling
    * job and no shuffle. */
  def compactIndexCells(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, numFiles: Int = 4, keepGenerations: Int = 0): Unit = {
    require(numFiles > 0, s"compactIndexCells: numFiles $numFiles")
    val v = VersionedStore.resolve(storeDir)
    val batched = hasBatchLayout(s"${v.dir}/cells")
    // a batch-addressed store keeps its FULL batch=<id> layout through
    // the rewrite (a row's batch identity is preserved, not rolled up —
    // [[VersionedStore.liveRows]] keeps the `batch` column): compaction
    // drops tombstoned rows only, so a [[VersionedStore.Pin]] stays
    // exact across the GC — a rollup would silently pull later batches
    // under every earlier pin — and post-compaction
    // [[appendToIndexBatch]] writes keep working
    val liveCells = shapeByCell(
      VersionedStore.liveRows(spark, v, "cells", "id"), numFiles, batched)
    VersionedStore.publish(storeDir, Map(
      "codebook" -> spark.read.parquet(s"${v.dir}/codebook"),
      "cells" -> liveCells),
      partitionBy =
        if (batched) Map("cells" -> Seq("batch")) else Map.empty)
    // keepGenerations: [[Retrieval.compactPostingsIndex]]'s retention
    // knob — 0 (default) makes compaction the erasure deadline
    VersionedStore.gc(storeDir, keep = keepGenerations)
    ()
  }

  /** Split every OVERSIZED cell of a [[writeIndex]] store — the IVF
    * maintenance pass a long-lived index needs once appends concentrate:
    * [[appendToIndex]] freezes the codebook, so a hot region's cell grows
    * without bound and every probe that touches it scans the whole blob
    * (probe cost is member-count-sized). Rebalancing retrains WITHIN each
    * oversized cell only — k-means over that cell's members, never the
    * corpus — and reassigns just those members to fresh sub-centroid ids,
    * so the pass costs O(oversized cells' members), not O(store), and the
    * untouched cells' rows rewrite clustered but unassigned-unchanged.
    *
    * Commit: the final codebook (split parents replaced by their
    * sub-centroids) and the rewritten cells (untouched rows plus the
    * reassigned members, live rows only — the rewrite subsumes takedown
    * GC exactly like [[compactIndexCells]]) land as ONE
    * [[VersionedStore.publish]] followed by [[VersionedStore.gc]] — the
    * one commit path of every store rewrite, with no intermediate state
    * for a reader to see.
    *
    * Duplicate-heavy cells may refuse to split (identical vectors share
    * every argmin, so all members follow one sub-centroid); the returned
    * report states per-cell outcomes rather than promising a bound the
    * data can violate. Like compaction, the pass assumes appends are
    * quiesced (the codebook generation changes underneath a concurrent
    * [[appendToIndex]]).
    *
    * Reference analogue: the buffer's region re-carve under
    * maintenance locks (DbusEventBuffer.java:2199-2202) — serving reads
    * never see a half-moved region; here the pointer flip is the lock. */
  def rebalanceCells(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, corpus: DataFrame, maxCellSize: Long,
      splitFactor: Int = 2, iters: Int = 3): Seq[(Long, Long)] = {
    require(maxCellSize > 0, s"rebalanceCells: maxCellSize $maxCellSize")
    require(splitFactor >= 2, s"rebalanceCells: splitFactor $splitFactor")
    // batch-addressed (stream-maintained) stores are REJECTED — the
    // compactPostingsIndex rule: an assignment rewrite is not a row
    // drop, so preserving the batch column would still change what a
    // pinned read retrieves. Their maintenance op is store ROTATION
    // (writeIndex of the live rows to a fresh root — the periodic
    // retrain a frozen-codebook regime schedules anyway)
    val v = VersionedStore.resolve(storeDir)
    require(!hasBatchLayout(s"${v.dir}/cells"),
      s"rebalanceCells: $storeDir is batch-addressed (stream-maintained)" +
        " — an assignment rewrite would invalidate the append history" +
        " that pins read; rotate the store (writeIndex to a fresh root)" +
        " instead")
    // persisted once: the pass reads the cell table 2×#oversized times
    // (member slices, counts) before the rewrite — each read must not
    // re-scan the store
    val live = servedRows(spark, v, "cells").persist()
    try {
    // codebook-bounded rows (one per cell) — driver-collectable by the
    // same construction as every codebook collect here
    val oversized = live.groupBy("cell_id").agg(count(lit(1)).as("n"))
      .where(col("n") > maxCellSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    if (oversized.isEmpty) return Seq.empty
    val book = spark.read.parquet(s"${v.dir}/codebook").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1)
    require(book.nonEmpty, s"rebalanceCells: empty codebook in $storeDir")
    val baseId = book.map(_._1).max + 1
    val splitIds = oversized.map(_._1).toSet
    // per-cell sub-training: the loop is codebook-bounded (≤ #cells
    // iterations) and each iteration's jobs are cell-sized. Sub-cell id
    // offsets are precomputed from the sorted oversized order (exactly
    // the ids the sequential nextId counter assigned), which makes the
    // per-cell chains independent — they run concurrently so one cell's
    // planning/collect gaps back-fill with another's tasks (guide §2.6);
    // each cell's own jobs, tie-breaks and trained floats are unchanged.
    val perCellF = oversized.zipWithIndex.map { case ((cellId, _), idx) =>
      Overlap.run {
        val memberIds = live.where(col("cell_id") === cellId).select("id")
        val members = memberIds
          .join(corpus.select(col("id").cast("long").as("id"), col("vec")),
            "id")
        // loud drift guard: a live id the corpus lost would silently drop
        // out of the rewrite (an unrecorded erasure) — two cell-sized
        // counts (kept separate: their exact semantics — including the
        // duplicate-corpus-id failure mode — are the guard's contract)
        val (nIds, nVecs) = (memberIds.count(), members.count())
        require(nIds == nVecs, s"rebalanceCells: cell $cellId has " +
          s"${nIds - nVecs} member id(s) absent from the corpus — repair" +
          " the store (fsck) before rebalancing")
        val (subs, _) = trainCentroids(members, splitFactor, iters)
        val nextId = baseId + idx.toLong * splitFactor
        (cellId, subs.map { case (i, v) => (nextId + i, v) })
      }
    }
    Overlap.settle(perCellF: _*)
    val perCell = perCellF.map(Overlap.value(_))
    val subBook = perCell.flatMap(_._2)
    // cells — untouched rows as-is, split-cell members reassigned under
    // their sub-codebooks (identical vectors share every argmin, so
    // planted twins stay co-located through the split)
    val reassigned = perCell.map { case (cellId, offsetBook) =>
      quantizedCells(
        live.where(col("cell_id") === cellId).select("id")
          .join(corpus.select(col("id").cast("long").as("id"), col("vec")),
            "id"),
        offsetBook.toArray)
    }.reduce(_ unionByName _)
    val untouched = live.where(!col("cell_id").isin(splitIds.toSeq: _*))
      .select("id", "cell_id", "q", "scale")
    val newCells = shapeByCell(untouched.unionByName(reassigned), 4)
    val finalBook =
      centroidsDf(spark, book.filterNot(c => splitIds.contains(c._1))
        ++ subBook).coalesce(1)
    // one atomic generation: final codebook + rewritten cells together
    // (the live frame is persisted, so the publish reads cached rows,
    // not the old generation's files mid-retirement)
    VersionedStore.publish(storeDir, Map(
      "codebook" -> finalBook, "cells" -> newCells))
    VersionedStore.gc(storeDir, keep = 0)
    oversized.toSeq
    // every exit — early empty return, the loud guards, a failed publish —
    // must release the persisted store copy, or repeated maintenance
    // attempts against a store needing fsck pile caches into the block
    // manager
    } finally live.unpersist()
  }

  /** Absorb every UNDERSIZED cell of a [[writeIndex]] store into its
    * members' nearest SURVIVING centroids — [[rebalanceCells]]' merge
    * counterpart, and the maintenance pass that keeps churn from
    * monotonically growing the codebook: takedowns and rebalance splits
    * leave behind thin and outright DEAD (memberless) centroids, every
    * one of which every query still ranks during the probe step —
    * probe cost creeps up with codebook size while recall gains
    * nothing. The pass drops dead centroids outright and reassigns the
    * thin cells' members under the survivor codebook (`n ≥
    * minCellSize`; the argmin is the same fused assignment appends
    * run), so its cost is O(merged cells' members) in ONE assignment
    * job — no training, no per-cell loop, stored float vectors of
    * untouched cells never read.
    *
    * Commit mirrors [[rebalanceCells]]: the survivor codebook and the
    * rewritten cells land as one [[VersionedStore.publish]] followed by
    * [[VersionedStore.gc]]. The rewrite keeps live rows only, so it
    * subsumes takedown GC like every rewrite here. Like compaction, the
    * pass assumes appends are quiesced.
    *
    * Loud floor guard: a `minCellSize` no cell reaches would absorb the
    * whole codebook into nothing — that is a retrain
    * ([[writeIndex]]), not a merge, and fails here explicitly.
    * Returns (merged cell id, member count) per absorbed cell — a
    * count of 0 is a dead centroid dropped without any reassignment.
    *
    * Reference analogue: same maintenance-pass discipline as the
    * bootstrap DB cleaner (BootstrapDBCleaner.java:1) — serving never
    * sees a half-moved region. */
  def mergeCells(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, corpus: DataFrame, minCellSize: Long,
      numFiles: Int = 4): Seq[(Long, Long)] = {
    require(minCellSize > 0, s"mergeCells: minCellSize $minCellSize")
    require(numFiles > 0, s"mergeCells: numFiles $numFiles")
    // assignment rewrite — refuses batch-addressed stores for the same
    // reason as [[rebalanceCells]] (rotation is their maintenance op)
    val v = VersionedStore.resolve(storeDir)
    require(!hasBatchLayout(s"${v.dir}/cells"),
      s"mergeCells: $storeDir is batch-addressed (stream-maintained) —" +
        " an assignment rewrite would invalidate the append history" +
        " that pins read; rotate the store (writeIndex to a fresh root)" +
        " instead")
    val live = servedRows(spark, v, "cells").persist()
    try {
      // codebook-bounded rows (one per cell) — driver-collectable
      val counts = live.groupBy("cell_id").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val book = spark.read.parquet(s"${v.dir}/codebook").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1)
      require(book.nonEmpty, s"mergeCells: empty codebook in $storeDir")
      val sized = book.map { case (id, _) => (id, counts.getOrElse(id, 0L)) }
      val merged = sized.filter(_._2 < minCellSize)
      if (merged.isEmpty) return Seq.empty
      val mergedIds = merged.map(_._1).toSet
      val survivors = book.filterNot(c => mergedIds.contains(c._1))
      require(survivors.nonEmpty,
        s"mergeCells: minCellSize $minCellSize absorbs every cell of" +
          s" $storeDir — that is a retrain (writeIndex), not a merge")
      // ONE fused assignment over all thin cells' members (no training);
      // the drift guard is the same loud check rebalance runs — a live
      // id the corpus lost would silently vanish from the rewrite
      val thinMembers = live
        .where(col("cell_id").isin(mergedIds.toSeq: _*)).select("id")
      val members = thinMembers.join(
        corpus.select(col("id").cast("long").as("id"), col("vec")), "id")
      // the two guard counts are independent — overlapped (guide §2.6),
      // values and semantics unchanged
      val (nIds, nVecs) =
        Overlap.par2(thinMembers.count(), members.count())
      require(nIds == nVecs, s"mergeCells: ${nIds - nVecs} merged-cell" +
        " member id(s) absent from the corpus — repair the store (fsck)" +
        " before merging")
      val reassigned = quantizedCells(members, survivors.toArray)
      val untouched = live.where(!col("cell_id").isin(mergedIds.toSeq: _*))
        .select("id", "cell_id", "q", "scale")
      val newCells = shapeByCell(untouched.unionByName(reassigned),
        numFiles)
      val newBook = centroidsDf(spark, survivors).coalesce(1)
      VersionedStore.publish(storeDir, Map(
        "codebook" -> newBook, "cells" -> newCells))
      VersionedStore.gc(storeDir, keep = 0)
      merged.toSeq.sortBy(_._1)
    } finally live.unpersist()
  }

  /** Float-precision IVF retrieval against a [[writeIndex]] store: the
    * stored (id, cell_id) assignment bounds candidates per probed cell;
    * candidate ids join `corpus` for vectors (id-keyed, linear) — the
    * int8 tier is bypassed, so scoring is exact without a re-rank pass.
    * This is the tier a training job RERANKS against, so it pins like
    * the coded tiers (`at`: [[ivfQuantizedTopKFromStore]]). */
  def ivfTopKFromStore(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, nProbe: Int = 2,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at, "Ann.ivfTopKFromStore")
    val probes = probeCells(queries, spark.read.parquet(s"${v.dir}/codebook"),
      nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // literal probed-cell pushdown ([[materializeProbes]]): the store
    // scan skips unprobed row groups instead of filtering in the join
    val (probedIds, probesL) =
      materializeProbes(probes, "ivfTopKFromStoreBatch",
        "cell_id", "query_id")
    servedRows(spark, v, "cells")
      .select(col("id").as("neighbor_id"), col("cell_id"))
      .where(col("cell_id").isin(probedIds: _*))
      .join(broadcast(probesL), "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Train product-quantization sub-codebooks: the vector space splits
    * into `m` contiguous subspaces of dim/m dims, and each subspace gets
    * its own `ksub`-centroid Lloyd's codebook via [[trainCentroids]] on
    * the sliced corpus — same deterministic init, same memoization (the
    * slice offset makes each subspace's plan key distinct). Sub-cell ids
    * are 0..ksub-1 by construction (trainCentroids numbers its init
    * centroids), which [[pqTopK]]'s LUT indexing relies on. */
  def trainPqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int)
      : Array[Array[(Long, Seq[Float])]] = {
    val dim = corpus.select(size(col("vec"))).head().getInt(0)
    require(m > 0 && dim % m == 0,
      s"trainPqCodebooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    // The m sub-trainings are INDEPENDENT (each its own sliced plan, its
    // own memo key) and each is a chain of small driver-blocking jobs —
    // run them concurrently so one subspace's planning/collect gaps
    // back-fill with another's tasks (spark_optimization_guide §2.6).
    // Per-subspace computation (jobs, accumulation order, memo keys) is
    // UNCHANGED — concurrency only overlaps the independent chains, so
    // every trained book is bit-identical to the sequential run's.
    val trained = (0 until m).map { j =>
      Overlap.run(trainCentroids(corpus.select(col("id"),
        slice(col("vec"), j * sub + 1, sub).as("vec")), ksub, iters)._1)
    }
    Overlap.settle(trained: _*)
    trained.zipWithIndex.map { case (f, j) =>
      val book = Overlap.value(f)
      // the ADC LUT is indexed as lut[j*ksub + cell]: a short book
      // (corpus smaller than ksub) would silently misalign every
      // subspace after the first — fail loudly instead
      require(book.length == ksub,
        s"trainPqCodebooks: corpus has fewer than ksub=$ksub vectors " +
          s"(subspace $j trained ${book.length} centroids)")
      book
    }.toArray
  }

  /** Per-vector PQ code word: for each subspace, the nearest sub-centroid
    * id (the fused argmin projection, m× on slices) — an `array<int>` of
    * length m replaces dim floats (m=4, ksub=16: 4 bytes of code per
    * vector vs 64 B of float, a 16× storage cut on the scan tier). */
  private def pqCodesExpr(books: Array[Array[(Long, Seq[Float])]],
      vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sub = books(0).head._2.length
    array(books.zipWithIndex.map { case (book, j) =>
      nearestCellExpr(book, slice(vecCol, j * sub + 1, sub)).cast("int")
    }: _*)
  }

  /** Squared reconstruction error of a PQ code word against its source
    * vector: Σ_j ‖slice_j − book_j[code_j]‖² — for a vector ENCODED by
    * these books this equals the subspace-wise minimum (encode picks
    * the argmin), so its corpus mean at train time is the quantizer's
    * baseline distortion; re-measured later over appended vectors it is
    * the drift signal ([[StoreFsck.pqDrift]]): frozen books spend their
    * resolution where the TRAINING distribution lived, and a shifted
    * corpus silently loses recall with no error raised anywhere — this
    * expression is what makes "when to retrain" measurable. */
  private[pipeline] def pqReconErrExpr(books: Array[Array[(Long, Seq[Float])]],
      vecCol: org.apache.spark.sql.Column,
      codesCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sub = books(0).head._2.length
    books.zipWithIndex.map { case (book, j) =>
      l2sq(slice(vecCol, j * sub + 1, sub),
        element_at(typedlit(book.sortBy(_._1).map(_._2).toSeq),
          codesCol.getItem(j) + 1))
    }.reduce(_ + _)
  }

  /** Mean squared reconstruction error over a deterministic hash-sample
    * of `frame`'s (id, vec) rows under `books` — the train-time
    * distortion figure [[writePqIndex]]/[[writeIvfPqIndex]] persist and
    * the drift audit re-measures. `sampleMod` = 1 scans everything
    * (fixture scale); a 100 TB corpus raises it so the figure costs one
    * sampled scan (hash(id) is partition-stable and replayable — no
    * RNG). Falls back to the full frame when the sample lands empty
    * (tiny corpora). */
  private[pipeline] def pqReconMse(frame: DataFrame,
      books: Array[Array[(Long, Seq[Float])]], sampleMod: Int): Double = {
    require(sampleMod > 0, s"pqReconMse: sampleMod $sampleMod")
    def mse(df: DataFrame): Option[Double] = {
      val r = df.select(pqReconErrExpr(books, col("vec"),
          pqCodesExpr(books, col("vec"))).as("e"))
        .agg(avg(col("e"))).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val sampled =
      if (sampleMod == 1) frame
      else frame.where(pmod(hash(col("id")), lit(sampleMod)) === 0)
    mse(sampled).orElse(mse(frame)).getOrElse(
      throw new IllegalArgumentException(
        "pqReconMse: empty corpus — nothing to measure"))
  }

  /** Modulus for the corpus-fingerprint id checksum: prime, < 2^31, so
    * the stored double holds the value exactly and any recomputation is
    * bit-equal. */
  private[pipeline] val ChecksumMod = 1000000007L

  /** Order-independent checksum over the hash-sampled ids of a frame —
    * the fingerprint half of quant_stats ([[quantStatsDf]]): long
    * addition is commutative even under wraparound, the sample
    * predicate is the same deterministic `hash(id) % sampleMod` the MSE
    * sample uses, and the final pmod bounds the value into
    * double-exact range. Recomputable by any auditor over any frame
    * with an `id` column. */
  private[pipeline] def idChecksumAgg(sampleMod: Int)
      : org.apache.spark.sql.Column =
    pmod(coalesce(sum(when(pmod(hash(col("id")), lit(sampleMod)) === 0,
        pmod(hash(col("id")).cast("long"), lit(ChecksumMod)))
      .otherwise(lit(0L))), lit(0L)), lit(ChecksumMod))

  /** The at-train quant_stats table a PQ-family write persists with its
    * frozen books: the distortion baseline (`train_recon_mse` — what
    * [[StoreFsck.pqDrift]] re-measures) plus the CORPUS FINGERPRINT
    * that BINDS it — row count, vector dim, the stats sample modulus,
    * and a deterministic sampled-id checksum. Without the binding, an
    * audit run against the wrong lake snapshot measures real error
    * against an unrelated baseline and returns a confident nonsense
    * verdict; with it, pqDrift hard-fails a wrong-dim corpus and flags
    * a same-size-different-ids one before measuring anything. All rows
    * are driver-sized; the fingerprint costs one column-pruned
    * aggregate over the train frame. */
  private def quantStatsDf(frame: DataFrame,
      books: Array[Array[(Long, Seq[Float])]],
      statsSampleMod: Int): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    // three independent driver-blocking probes (MSE aggregate,
    // count+checksum aggregate, dim peek) — overlapped, not chained
    // (guide §2.6); each probe's own plan and value are unchanged
    val fMse = Overlap.run(pqReconMse(frame, books, statsSampleMod))
    val fRow = Overlap.run(frame.agg(count(lit(1)).as("n"),
      idChecksumAgg(statsSampleMod).as("c")).head())
    val fDim = Overlap.run(frame.select(size(col("vec"))).head().getInt(0))
    Overlap.settle(fMse, fRow, fDim)
    val trainMse = Overlap.value(fMse)
    val r = Overlap.value(fRow)
    val dim = Overlap.value(fDim)
    Seq(("train_recon_mse", trainMse),
        ("train_rows", r.getLong(0).toDouble),
        ("train_dim", dim.toDouble),
        ("train_stats_sample_mod", statsSampleMod.toDouble),
        ("train_id_checksum", r.getLong(1).toDouble))
      .toDF("metric", "value").coalesce(1)
  }

  /** Per-query ADC lookup table: l2 distance from the query's j-th slice
    * to every sub-centroid, flattened as lut[j*ksub + cell]. m·ksub
    * doubles per query — built once on the (broadcast) query side, so
    * scoring a candidate is m array lookups + m-1 adds, never a float
    * vector op. */
  private def adcLutExpr(books: Array[Array[(Long, Seq[Float])]],
      vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sub = books(0).head._2.length
    array(books.zipWithIndex.flatMap { case (book, j) =>
      book.sortBy(_._1).map { case (_, cv) =>
        l2sq(slice(vecCol, j * sub + 1, sub), typedlit(cv))
      }
    }: _*)
  }

  /** Product-quantization ANN with asymmetric distance computation (ADC)
    * and exact re-rank — the classic PQ retrieval shape (Jégou et al.,
    * public knowledge): corpus vectors live as m-byte code words, each
    * query carries a small distance LUT, approximate distance is a sum of
    * m table lookups, and only `queries × rerank` survivors ever touch
    * float vectors again.
    *
    * The planted-twin contract holds end-to-end: an identical vector
    * encodes to the query's own argmin code word, whose ADC distance is
    * the subspace-wise minimum sum — no candidate can score strictly
    * lower, so the twin always survives the cut and the exact re-rank
    * puts it first at cosine 1.0.
    *
    * Scale shape: same broadcast-queries / scan-corpus / bounded-heap
    * frame as [[bruteForceTopK]], but the corpus side of the scan reads
    * `array<int>` codes (built once, persisted) instead of float vectors
    * — at dim=768, m=8 that is a ~380× cut in scanned bytes, and the
    * approximate score is m lookups instead of dim multiply-adds. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 4,
      ksub: Int = 16, iters: Int = 3, rerank: Int = 50): DataFrame = {
    val books = trainPqCodebooks(corpus, m, ksub, iters)
    val codes = PlanCache.getOrPersist(corpus, s"pq-codes|$m|$ksub|$iters",
      corpus.select(col("id").as("neighbor_id"),
        pqCodesExpr(books, col("vec")).as("codes")))
    pqCore(queries, codes, books, corpus, k, rerank)
  }

  /** Render a PERSISTED PQ index for `corpus` into `dir` — the durable
    * form of [[pqTopK]]'s per-session training, committed as ONE
    * [[VersionedStore]] generation:
    *
    *   - `books/` — (subspace, id, vec), the m sub-codebooks (m·ksub
    *     rows, driver-sized — the PQ analog of the IVF codebook table);
    *   - `codes/` — (id, codes), every corpus vector's m-entry code
    *     word (the 16–380× smaller scan tier ADC reads instead of
    *     floats).
    *
    * The pair is exactly the torn-store shape the generation protocol
    * exists for: codes are meaningless under any other training's
    * books, so a crash between the two commits on a flat layout would
    * silently mis-rank everything. Serving is [[pqTopKFromStore]];
    * increments are [[appendToPqIndex]] (frozen books, O(batch));
    * takedowns are [[Tombstones]] via the store root (per-generation
    * overlay), and the exact re-rank keeps scoring honest for any
    * survivor set. */
  def writePqIndex(corpus: DataFrame, dir: String, m: Int = 4,
      ksub: Int = 16, iters: Int = 3, numFiles: Int = 4,
      batchId: Option[Long] = None, statsSampleMod: Int = 1): Unit = {
    require(numFiles > 0, s"writePqIndex: numFiles $numFiles")
    val spark = corpus.sparkSession
    val books = trainPqCodebooks(corpus, m, ksub, iters)
    import spark.implicits._
    val bookRows = books.zipWithIndex.flatMap { case (book, j) =>
      book.map { case (cid, v) => (j, cid, v) }
    }.toSeq
    // the AT-TRAIN distortion figure plus its corpus fingerprint ride
    // the generation (driver-sized rows): the books are frozen forever
    // after this write, and without a baseline nothing can ever say
    // when append drift has eaten the recall budget —
    // [[StoreFsck.pqDrift]] re-measures against it, and the fingerprint
    // ([[quantStatsDf]]) keeps that audit honest about WHAT the books
    // trained on (the stats/monitoring discipline of the serving
    // surfaces — reference: DbusEventsTotalStats.java:1)
    // batchId: bootstrap the BATCH-ADDRESSED layout (writeIndex's
    // contract) so a stream-maintained store replays idempotently from
    // its very first batch
    VersionedStore.publish(dir, Map(
      "books" -> bookRows.toDF("subspace", "id", "vec").coalesce(1),
      "quant_stats" -> quantStatsDf(
        corpus.select(col("id").cast("long").as("id"), col("vec")),
        books, statsSampleMod),
      batchId.fold("codes")(b => s"codes/batch=$b") ->
        corpus.select(col("id").cast("long").as("id"),
          pqCodesExpr(books, col("vec")).as("codes")).coalesce(numFiles)))
    ()
  }

  /** The m sub-codebooks of a [[writePqIndex]] store, loudly validated:
    * every subspace must carry a dense 0..ksub-1 cell-id range (the ADC
    * LUT is indexed as lut[j·ksub + cell] — a gap would silently
    * misalign every later subspace) and uniform slice width. Driver-
    * sized by construction (m·ksub rows). */
  def readPqBooks(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Array[Array[(Long, Seq[Float])]] =
    readPqBooksAt(spark, VersionedStore.tableRoot(storeDir))

  /** [[readPqBooks]] against an ALREADY-RESOLVED table root (current
    * generation, a pinned one, or a flat dir) — a pinned serve must load
    * the books of the generation it serves, never the head's. */
  private val pqBooksMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[(Long, Seq[Float])]]]()
  private[graft] def readPqBooksAt(spark: org.apache.spark.sql.SparkSession,
      t: String): Array[Array[(Long, Seq[Float])]] = {
    val storeDir = t // diagnostic naming below
    // memoized per books frame plan (the generation path rides
    // [[PlanCache.planKey]], so a compaction publish invalidates) —
    // every serve/append/audit against one generation re-loads the same
    // m·ksub driver-sized rows; KB-scale entries, [[collectCentroids]]'
    // retention discipline
    val booksFrame = spark.read.parquet(s"$t/books")
    // content-salted ([[PlanCache.contentKey]]): this entry point
    // explicitly accepts flat dirs, whose books table CAN be rewritten
    // in place at the same path within one JVM
    val memoKey = PlanCache.contentKey(booksFrame)
    val hit = pqBooksMemo.get(memoKey)
    if (hit != null) return hit
    val rows = booksFrame.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toSeq))
    require(rows.nonEmpty, s"readPqBooks: empty books table in $storeDir")
    // the SUBSPACE ids must be the dense 0..m-1 set, not just each
    // subspace's cells: a books table missing one whole subspace (e.g.
    // 0,1,3) would load as a 3-book array where code position j scores
    // against the WRONG book — silent mis-ranking, the same LUT
    // misalignment class as a sparse cell range inside one book
    val subIds = rows.map(_._1).distinct.sorted.toSeq
    require(subIds == (0 until subIds.length),
      s"readPqBooks: books table of $storeDir carries subspaces $subIds" +
        " — not the dense 0..m-1 set; code positions would score against" +
        " the wrong sub-codebook")
    val books = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, bs) =>
      bs.sortBy(_._2).map { case (_, cid, v) => (cid, v) }.toArray
    }.toArray
    val ksub = books(0).length
    val sub = books(0).head._2.length
    books.zipWithIndex.foreach { case (book, j) =>
      require(book.map(_._1).toSeq == (0L until ksub.toLong),
        s"readPqBooks: subspace $j of $storeDir has a sparse/short " +
          "cell-id range — the LUT indexing would silently misalign")
      require(book.forall(_._2.length == sub),
        s"readPqBooks: subspace $j of $storeDir has mixed slice widths")
    }
    pqBooksMemo.synchronized {
      if (pqBooksMemo.size > 256) pqBooksMemo.clear()
      pqBooksMemo.put(memoKey, books)
    }
    books
  }

  /** The LIVE code words of a [[writePqIndex]] store (tombstone-aware —
    * candidate scoring is the only place a vector enters PQ retrieval),
    * `batch` layout column dropped; `at` as in [[readCells]]. */
  def readPqCodes(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      at: Option[VersionedStore.Pin] = None): DataFrame =
    servedRows(spark, VersionedStore.resolve(storeDir, at, "Ann.readPqCodes"),
      "codes")

  /** Append a NEW vector batch to a [[writePqIndex]] store: the frozen
    * sub-codebooks load from the store (driver-sized), ONLY the batch
    * encodes (O(batch), the [[appendToIndex]] discipline), and the
    * resulting code words append to `codes/` inside the current
    * generation. Books are frozen by design — sub-centroids drift only
    * on a full [[writePqIndex]] retrain. An identical vector encodes to
    * its original's code word, so the planted-twin contract holds
    * across increments. */
  def appendToPqIndex(newVectors: DataFrame, dir: String,
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToPqIndex: numFiles $numFiles")
    val (t, codes) = encodedPqCodes(newVectors, dir)
    requireLayout(s"$t/codes", batched = false, "appendToPqIndex")
    codes.coalesce(numFiles).write.mode("append").parquet(s"$t/codes")
  }

  /** Frozen-books encode shared by both PQ append forms
    * ([[encodedCells]]'s rationale). `_CURRENT` resolves ONCE: the books
    * load from the same generation the codes are written into, so a
    * publish landing mid-append cannot pair one generation's books with
    * another generation's code table. */
  private def encodedPqCodes(newVectors: DataFrame,
      dir: String): (String, DataFrame) = {
    val t = VersionedStore.tableRoot(dir)
    val books = readPqBooksAt(newVectors.sparkSession, t)
    (t, newVectors.select(col("id").cast("long").as("id"),
      pqCodesExpr(books, col("vec")).as("codes")))
  }

  /** STREAMING-append form of [[appendToPqIndex]] —
    * [[appendToIndexBatch]]'s replay-idempotent `batch=<id>` overwrite
    * on the PQ code table: a foreachBatch retry rewrites its own
    * partial (encoding is deterministic under the frozen books) instead
    * of double-appending code rows the fsck would only DETECT as
    * `duplicate_code_ids`. Same layout contract: batch-addressed from
    * the first write ([[writePqIndex]]'s `batchId`), `batch` column
    * dropped on read. */
  def appendToPqIndexBatch(newVectors: DataFrame, dir: String,
      batchId: Long, numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToPqIndexBatch: numFiles $numFiles")
    val (t, codes) = encodedPqCodes(newVectors, dir)
    requireLayout(s"$t/codes", batched = true, "appendToPqIndexBatch")
    codes.coalesce(numFiles).write.mode("overwrite")
      .parquet(s"$t/codes/batch=$batchId")
  }

  /** PQ retrieval served FROM a persisted [[writePqIndex]] store —
    * [[pqTopK]]'s exact frame (broadcast LUT queries, code-word scan,
    * bounded per-partition heap, exact re-rank) with training and
    * encoding replaced by store reads: the books load once
    * (driver-sized), the corpus-sized input is ONE scan of the m-entry
    * code words, and only `queries × rerank` survivors fetch float
    * vectors from `corpus` (id-keyed join into the lake). `at`: books
    * and codes resolve from the pinned generation (a later retrain
    * publishes new books; a pin must never score old codes under them),
    * as in [[ivfQuantizedTopKFromStore]]. */
  def pqTopKFromStore(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, rerank: Int = 50,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at, "Ann.pqTopKFromStore")
    val codes = servedRows(spark, v, "codes")
      .select(col("id").as("neighbor_id"), col("codes"))
    pqCore(queries, codes, readPqBooksAt(spark, v.dir), corpus, k, rerank)
  }

  /** Write a PERSISTED IVF-PQ index for `corpus` into `dir` — the
    * production ANN shape (coarse quantizer bounds CANDIDATES, product
    * quantizer bounds BYTES), committed as ONE [[VersionedStore]]
    * generation of three tables:
    *
    *   - `codebook/` — (id, vec), the k coarse centroids ([[writeIndex]]'s
    *     table);
    *   - `books/`    — (subspace, id, vec), m sub-codebooks trained on
    *     RESIDUALS (vec − assigned centroid) — residual PQ, the classic
    *     IVF-ADC form (Jégou et al., public knowledge): residuals
    *     concentrate near the origin, so a fixed ksub budget spends its
    *     resolution where the candidates actually are;
    *   - `cells/`    — (id, cell_id, codes), every vector's coarse
    *     assignment plus its m-entry residual code word, clustered by
    *     cell so a probe's scan prunes to its cells' files.
    *
    * The TRIPLE is one generation because each table is meaningless
    * under the others' alternatives (codes decode only against these
    * books, which quantize residuals only against this codebook) — the
    * torn-store shape the protocol prevents outright. Serving is
    * [[ivfPqTopKFromStore]]; increments [[appendToIvfPqIndex]] (frozen
    * codebook AND books, O(batch)); takedowns the per-generation
    * overlay. Identical vectors share the coarse argmin AND the
    * residual code word, so the planted-twin contract survives any
    * training state, append order, and probe budget ≥ 1. */
  def writeIvfPqIndex(corpus: DataFrame, dir: String, k: Int, m: Int = 4,
      ksub: Int = 16, iters: Int = 3, numFiles: Int = 4,
      batchId: Option[Long] = None, statsSampleMod: Int = 1): Unit = {
    require(numFiles > 0, s"writeIvfPqIndex: numFiles $numFiles")
    val spark = corpus.sparkSession
    val (coarse, _) = trainCentroids(corpus, k, iters)
    val residuals = residualFrame(corpus, spark, coarse)
    // PQ books train on the residual frame — persisted once here, reused
    // by the m per-subspace trainings and the encode below (each is a
    // slice projection of this one cached plan)
    val res = PlanCache.getOrPersist(corpus, s"ivfpq-res|$k|$iters",
      residuals)
    val books = trainPqCodebooks(
      res.select(col("id"), col("res").as("vec")), m, ksub, iters)
    import spark.implicits._
    val bookRows = books.zipWithIndex.flatMap { case (book, j) =>
      book.map { case (cid, v) => (j, cid, v) }
    }.toSeq
    // at-train RESIDUAL distortion baseline + corpus fingerprint
    // (writePqIndex's rationale — drift on an IVF-PQ store is measured
    // on residuals, the space the books actually quantize; the
    // fingerprint's ids and dim are the float corpus's, which is what a
    // later audit is handed)
    VersionedStore.publish(dir, Map(
      "codebook" -> centroidsDf(spark, coarse).coalesce(1),
      "books" -> bookRows.toDF("subspace", "id", "vec").coalesce(1),
      "quant_stats" -> quantStatsDf(
        res.select(col("id"), col("res").as("vec")), books, statsSampleMod),
      // batchId: bootstrap the batch-addressed layout ([[writeIndex]])
      batchId.fold("cells")(b => s"cells/batch=$b") ->
        shapeByCell(res.select(col("id"), col("cell_id"),
          pqCodesExpr(books, col("res")).as("codes")), numFiles)))
    ()
  }

  /** (id, cell_id, res): coarse assignment + residual, via one fused
    * argmin projection and one broadcast centroid join. */
  private def residualFrame(corpus: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      coarse: Array[(Long, Seq[Float])]): DataFrame = {
    val cent = centroidsDf(spark, coarse)
      .select(col("id").as("cell_id"), col("vec").as("cent"))
    corpus.select(col("id").cast("long").as("id"), col("vec"),
        nearestCellExpr(coarse, col("vec")).as("cell_id"))
      .join(broadcast(cent), "cell_id")
      .select(col("id"), col("cell_id"),
        zip_with(col("vec"), col("cent"), (a, b) => a - b).as("res"))
  }

  /** Append a NEW vector batch to a [[writeIvfPqIndex]] store: coarse
    * codebook and PQ books load from the store (driver-sized), ONLY the
    * batch assigns + residual-encodes, and the rows append to `cells/`
    * inside the current generation — O(batch), stored rows never read.
    * Both quantizers are frozen by design (drift = full retrain). */
  def appendToIvfPqIndex(newVectors: DataFrame, dir: String,
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToIvfPqIndex: numFiles $numFiles")
    val (t, cells) = encodedIvfPqCells(newVectors, dir)
    requireLayout(s"$t/cells", batched = false, "appendToIvfPqIndex")
    shapeByCell(cells, numFiles).write.mode("append").parquet(s"$t/cells")
  }

  /** Frozen coarse-codebook assignment + frozen-books residual encode
    * shared by both IVF-PQ append forms ([[encodedCells]]'s rationale).
    * Codebook, books and the written cells share one resolved generation
    * ([[encodedPqCodes]]'s rule). */
  private def encodedIvfPqCells(newVectors: DataFrame,
      dir: String): (String, DataFrame) = {
    val spark = newVectors.sparkSession
    val t = VersionedStore.tableRoot(dir)
    // memoized per generation path — [[encodedCells]]'s rationale
    val coarse =
      collectCentroids(spark.read.parquet(s"$t/codebook")).sortBy(_._1)
    require(coarse.nonEmpty, s"appendToIvfPqIndex: empty codebook in $dir")
    val books = readPqBooksAt(spark, t)
    (t, residualFrame(newVectors, spark, coarse)
      .select(col("id"), col("cell_id"),
        pqCodesExpr(books, col("res")).as("codes")))
  }

  /** STREAMING-append form of [[appendToIvfPqIndex]] —
    * [[appendToIndexBatch]]'s replay-idempotent `batch=<id>` overwrite
    * on the coded-cells table: assignment AND residual encoding are
    * deterministic under the two frozen quantizers, so a foreachBatch
    * retry rewrites its exact partial. Batch-addressed from the first
    * write ([[writeIvfPqIndex]]'s `batchId`); `batch` dropped on read. */
  def appendToIvfPqIndexBatch(newVectors: DataFrame, dir: String,
      batchId: Long, numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"appendToIvfPqIndexBatch: numFiles $numFiles")
    val (t, cells) = encodedIvfPqCells(newVectors, dir)
    requireLayout(s"$t/cells", batched = true, "appendToIvfPqIndexBatch")
    shapeByCell(cells, numFiles)
      .write.mode("overwrite").parquet(s"$t/cells/batch=$batchId")
  }

  /** IVF-PQ retrieval against a [[writeIvfPqIndex]] store: each query
    * ranks the coarse centroids and keeps `nProbe` cells; PER PROBED
    * CELL it builds the residual ADC LUT (query − that cell's centroid
    * — residual PQ scores against cell-local geometry, which is why the
    * LUT is per-(query, cell) and not global); candidates come from the
    * probed cells' stored rows only, approximate distance is m array
    * lookups, and only `queries × rerank` survivors fetch float vectors
    * from `corpus`.
    *
    * Scale shape: the corpus-sized input is ONE scan of the m-entry
    * code words restricted to probed cells (broadcast hash join on
    * cell_id — the cells table is clustered by it); the LUT side is
    * queries × nProbe rows of m·ksub doubles, broadcast; the rerank cut
    * is a per-query window; the exact pass is id-keyed into the lake.
    * `at`: all three tables (codebook, books, cells) resolve from the
    * pinned generation, as in [[ivfQuantizedTopKFromStore]]. */
  def ivfPqTopKFromStore(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, nProbe: Int = 2, rerank: Int = 50,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at, "Ann.ivfPqTopKFromStore")
    val centroids = spark.read.parquet(s"${v.dir}/codebook")
    val books = readPqBooksAt(spark, v.dir)
    val m = books.length
    val ksub = books(0).length
    val cells = servedRows(spark, v, "cells")
      .withColumnRenamed("id", "neighbor_id")
    val probes = probeCells(queries, centroids, nProbe)
      .withColumn("lut", adcLutExpr(books,
        zip_with(col("qvec"), col("cent"), (a, b) => a - b)))
      .select("query_id", "cell_id", "lut")
    val approx = (0 until m).map(j =>
      element_at(col("lut"), col("codes").getItem(j) + lit(j * ksub + 1)))
      .reduce(_ + _)
    // rerank cut keeps the SMALLEST ADC; ties keep the LARGEST ids —
    // the same duplicate-heavy-corpus convention as pqTopK's heap and
    // ivfQuantizedCore's cut (the planted twin must reach the re-rank)
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").desc)
    // literal probed-cell pushdown ([[materializeProbes]]), then dedup
    // BEFORE the rerank cut (min ADC per (query, neighbor)): a
    // double-coded id — a corrupt store the fsck flags — must not
    // consume two rerank slots and evict a legitimate candidate from
    // the pool. The frame here is probed-cells-sized and already headed
    // into a per-query shuffle, so the aggregate is the same exchange
    // class the window needs, not a corpus-sized detour
    val (probedIds, probesL) =
      materializeProbes(probes, "ivfPqTopKFromStoreBatch",
        "query_id", "cell_id", "lut")
    val survivors = cells.where(col("cell_id").isin(probedIds: _*))
      .join(broadcast(probesL), "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), approx.as("adc"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("adc")).as("adc"))
      .withColumn("r", row_number().over(wApprox))
      .where(col("r") <= rerank)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    survivors
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(wA))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** SHUFFLE-regime [[ivfPqTopKFromStore]] for CORPUS-SIZED query
    * batches — batch-serving parity for the COMPRESSED tier a 100 TB
    * deployment actually serves (the family the request path's budget
    * guard points at by name). Identical answers (same probe ranking,
    * same per-(query,cell) residual ADC LUTs, same min-ADC dedup,
    * rerank and tie-break rules); different plan: the probe frame —
    * each row carrying its m·ksub-double LUT — is never collected,
    * never broadcast, never a pushable literal; candidates come from a
    * plain hash join of the stored code words to the probe frame on
    * cell_id, and every later join is unhinted so AQE sizes it from
    * measurements. Same stated trade as the int8 batch regime: the
    * coded tier scans, which a corpus-sized batch makes moot (it
    * probes every cell many times over). `at`: the pinned
    * lake-annotation path on the compressed tier
    * ([[ivfQuantizedTopKFromStoreBatch]]). */
  def ivfPqTopKFromStoreBatch(queries: DataFrame, corpus: DataFrame,
      storeDir: String, k: Int, nProbe: Int = 2, rerank: Int = 50,
      at: Option[VersionedStore.Pin] = None): DataFrame = {
    val spark = corpus.sparkSession
    val v = VersionedStore.resolve(storeDir, at,
      "Ann.ivfPqTopKFromStoreBatch")
    val centroids = spark.read.parquet(s"${v.dir}/codebook")
    val books = readPqBooksAt(spark, v.dir)
    val m = books.length
    val ksub = books(0).length
    val cells = servedRows(spark, v, "cells")
      .withColumnRenamed("id", "neighbor_id")
    // per-(query, cell) residual LUT — ivfPqTopKFromStore's expression
    // verbatim, but COMPUTED ON THE DISTRIBUTED probe frame (queries ×
    // nProbe rows of m·ksub doubles) instead of collected rows: the
    // LUT build is a projection, so it parallelizes with the frame
    val probes = probeCells(queries, centroids, nProbe)
      .withColumn("lut", adcLutExpr(books,
        zip_with(col("qvec"), col("cent"), (a, b) => a - b)))
      .select("query_id", "cell_id", "lut")
    val approx = (0 until m).map(j =>
      element_at(col("lut"), col("codes").getItem(j) + lit(j * ksub + 1)))
      .reduce(_ + _)
    // same ordering contracts as the request regime: min ADC per
    // (query, neighbor) BEFORE the cut, ties keep the largest ids
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").desc)
    val survivors = cells
      .join(probes, "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), approx.as("adc"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("adc")).as("adc"))
      .withColumn("r", row_number().over(wApprox))
      .where(col("r") <= rerank)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    survivors
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(queries.select(col("id").as("query_id"), col("vec").as("qvec")),
        "query_id")
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(wA))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Takedown GC for a [[writePqIndex]] store: one fresh-generation
    * publish of the frozen books plus the LIVE code words, then gc —
    * the [[compactIndexCells]] discipline on the PQ family (atomic, no
    * clear-last ordering, retired generations take their overlays with
    * them; `keepGenerations` is the same retention knob). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int = 4, keepGenerations: Int = 0): Unit = {
    require(numFiles > 0, s"compactPqIndex: numFiles $numFiles")
    require(VersionedStore.isVersioned(dir),
      s"compactPqIndex: $dir is not a versioned PQ store")
    val v = VersionedStore.resolve(dir)
    // batch-addressed stores keep their full batch=<id> history through
    // the rewrite (compactIndexCells' rationale: a row drop must not
    // move rows under earlier pins)
    val batched = hasBatchLayout(s"${v.dir}/codes")
    VersionedStore.publish(dir, Map(
      "books" -> spark.read.parquet(s"${v.dir}/books"),
      "codes" -> VersionedStore.liveRows(spark, v, "codes", "id")
        .coalesce(numFiles)) ++ quantStats(spark, v.dir),
      partitionBy =
        if (batched) Map("codes" -> Seq("batch")) else Map.empty)
    VersionedStore.gc(dir, keep = keepGenerations)
    ()
  }

  /** The frozen quantizer's at-train stats table, carried through every
    * compaction rewrite (books frozen ⇒ baseline still applies); empty
    * for stores written before the stats table existed — their next
    * full retrain records one. */
  private def quantStats(spark: org.apache.spark.sql.SparkSession,
      tableRoot: String): Map[String, DataFrame] =
    if (StoreFs.hasFileWithSuffix(s"$tableRoot/quant_stats", ".parquet"))
      Map("quant_stats" -> spark.read.parquet(s"$tableRoot/quant_stats"))
    else Map.empty

  /** Takedown GC for a [[writeIvfPqIndex]] store — same shape, three
    * tables (coarse codebook and books carried over, live cells only),
    * and the same rule for `numFiles`: flat stores only; a
    * batch-addressed store's rewrite is narrow ([[compactIndexCells]]). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int = 4, keepGenerations: Int = 0): Unit = {
    require(numFiles > 0, s"compactIvfPqIndex: numFiles $numFiles")
    require(VersionedStore.isVersioned(dir),
      s"compactIvfPqIndex: $dir is not a versioned IVF-PQ store")
    val v = VersionedStore.resolve(dir)
    val batched = hasBatchLayout(s"${v.dir}/cells")
    // batch history preserved through the rewrite (compactIndexCells)
    val live = VersionedStore.liveRows(spark, v, "cells", "id")
    VersionedStore.publish(dir, Map(
      "codebook" -> spark.read.parquet(s"${v.dir}/codebook"),
      "books" -> spark.read.parquet(s"${v.dir}/books"),
      "cells" -> shapeByCell(live, numFiles, batched)) ++
        quantStats(spark, v.dir),
      partitionBy =
        if (batched) Map("cells" -> Seq("batch")) else Map.empty)
    VersionedStore.gc(dir, keep = keepGenerations)
    ()
  }

  private def pqCore(queries: DataFrame, codes: DataFrame,
      books: Array[Array[(Long, Seq[Float])]], corpus: DataFrame, k: Int,
      rerank: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val m = books.length
    val ksub = books(0).length
    val q = queries.select(col("id").as("query_id"),
      adcLutExpr(books, col("vec")).as("lut"))
    val approx = (0 until m).map(j =>
      element_at(col("lut"), col("codes").getItem(j) + lit(j * ksub + 1)))
      .reduce(_ + _)
    // keep-k-smallest heap per partition (the bruteForceTopK frame with
    // the ordering flipped: ADC is a distance, smaller is better). Under
    // this ordering the queue's max — the first evicted — is the LARGEST
    // distance; among equal distances the SMALLEST id evicts first (the
    // id component is inverted), so when more than `rerank` candidates
    // tie at the query's minimal ADC sum (duplicate-heavy corpora
    // collapsing into one code word) the highest ids survive — and the
    // planted twin, largest id by construction, always reaches the
    // exact re-rank as the documented contract requires.
    val bestFirst: Ordering[(Double, Long)] = Ordering.fromLessThan(
      (a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 > b._2))
    val partial = codes.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), approx.as("adc"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { case (qid, nid, d) =>
          val h = heaps.getOrElseUpdate(qid,
            scala.collection.mutable.PriorityQueue.empty(bestFirst))
          h.enqueue((d, nid))
          if (h.size > rerank) h.dequeue()
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (_, nid) => (qid, nid) }
        }
      }.toDF("query_id", "neighbor_id")
      // defense-in-depth AFTER the cut, where the frame is
      // queries×rerank×partitions-sized (a pre-heap dedup would shuffle
      // the corpus-sized ADC scan): even a corrupted store — a
      // double-coded id the fsck would flag — cannot emit the same
      // neighbor twice in a served top-k
      .dropDuplicates("query_id", "neighbor_id")
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    partial
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec")),
        "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(wA))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Lloyd's k-means over an (id, vec) frame — trains the IVF codebook
    * [[ivfTopK]] probes. Deterministic init: the k lowest-id vectors.
    * Each iteration is one corpus scan: assignment reuses the fused
    * argmin-over-centroid-literals projection (no crossJoin, no shuffle
    * of vectors), then cell means come back as one (cell, dim) aggregate
    * — k·dim rows to the driver, the codebook's natural size. Empty
    * cells keep their previous centroid.
    *
    * Returns the codebook plus the per-iteration WCSS (sum of squared
    * distance to the assigned centroid, measured at assignment time).
    * Lloyd's invariant — WCSS never increases — is the training contract
    * the driver query exposes (fp-tolerant: parallel double sums are
    * last-bit nondeterministic).
    *
    * Scale shape: codebooks are small by construction, so at 100 TB this
    * runs on a [[Sampling.hashSample]] of the corpus (a deterministic
    * sample trains the same codebook every run); the full corpus is only
    * ever touched by the single assignment pass inside [[ivfTopK]]. */
  private val codebookMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[(Long, Seq[Float])], Seq[Double])]

  def trainCentroids(corpus: DataFrame, k: Int, iters: Int)
      : (Array[(Long, Seq[Float])], Seq[Double]) = {
    // train once per (corpus plan+files, k, iters) — a deployment
    // trains its codebook once per corpus snapshot and indexes with it
    // thereafter; the content salt retrains when a same-path corpus
    // table is rewritten in place ([[PlanCache.contentKey]])
    val salt = PlanCache.fileSalt(corpus)
    val memoKey = PlanCache.planKey(corpus) + salt + s"|$k|$iters"
    val hit = codebookMemo.get(memoKey)
    if (hit != null) return hit
    // the persisted scan is salted too: a plan-keyed persist would pin
    // the OLD file listing (or stale cached rows) after an in-place
    // same-path corpus rewrite — MemoFreshnessSpec pins the retrain
    val c = PlanCache.getOrPersist(corpus, s"kmeans-corpus|$k$salt",
      corpus.select(col("id").cast("long").as("id"), col("vec")))
    var cents = c.orderBy(col("id")).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toSeq) }
    val wcss = scala.collection.mutable.ArrayBuffer.empty[Double]
    // ONE compiled scan serves EVERY iteration: the assignment+stats
    // pass runs as a plain RDD job over the persisted frame's own
    // physical rows, the iteration's codebook captured in the task
    // closure. The aggregate form it replaces (nearestCellStruct →
    // groupBy(cell).agg(count, sum(dist), vec_sum)) carried the same
    // arithmetic but re-entered Catalyst EVERY iteration — the codebook
    // literal changes, so analysis/optimization/physical planning ran
    // fresh, ~30–40 ms of scale-independent driver latency per
    // iteration, multiplied across every training in every store
    // harness (sub-codebooks, PQ subspaces, rebalance splits). A plain
    // RDD job has no per-iteration planning at all, and no shuffle
    // either: the k×(dim+2) per-partition partials come straight to the
    // driver (codebook-sized), merged in PARTITION ORDER — deterministic,
    // where the exchange merge it replaces combined partials in arrival
    // order; both sit in the contract's fp-tolerance class (WCSS is
    // checked with 1e-9 slack — parallel double sums are last-bit
    // nondeterministic, the scaladoc's long-standing caveat).
    // (Reusing one compiled AGGREGATE plan across iterations is NOT an
    // option: re-running an action on the same shuffled RDD lineage
    // reuses the registered map outputs, so iteration 2 would silently
    // serve iteration 1's stats.)
    // Arithmetic is UNCHANGED and spec-pinned (TrainCentroidsSpec):
    // per-row assignment is NearestCell's exact loop — lim-bounded l2sq
    // accumulated in doubles, distance ties keep the smallest cell id —
    // and per-cell stats are VecSumAgg's exact semantics: count over
    // assigned rows, row-order double sums, per-element null skip.
    val rdd = c.queryExecution.toRdd
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    for (_ <- 1 to iters) {
      val (ids, flat, _) = flatCodebook(cents)
      val nc = ids.length
      val partials = rdd.mapPartitions { it =>
        val cnt = new Array[Long](nc)
        val dsum = new Array[Double](nc)
        val vsum = new Array[Double](nc * dim)
        while (it.hasNext) {
          val row = it.next()
          // the aggregate form failed loudly on a null vec (sum(dist)
          // returned a null the WCSS read tripped over) — keep it loud
          if (row.isNullAt(1))
            throw new IllegalArgumentException(
              "trainCentroids: null vec in corpus")
          val a = row.getArray(1)
          val lim = math.min(a.numElements(), dim)
          var bestD = 0.0; var bestC = 0L; var bestI = 0; var first = true
          var cc = 0
          while (cc < nc) {
            var acc = 0.0; var i = 0; val off = cc * dim
            while (i < lim) {
              val d = a.getFloat(i).toDouble - flat(off + i).toDouble
              acc += d * d
              i += 1
            }
            val cmp = java.lang.Double.compare(acc, bestD)
            if (first || cmp < 0 || (cmp == 0 && ids(cc) < bestC)) {
              bestD = acc; bestC = ids(cc); bestI = cc; first = false
            }
            cc += 1
          }
          cnt(bestI) += 1
          dsum(bestI) += bestD
          var j = 0
          val voff = bestI * dim
          while (j < lim) {
            if (!a.isNullAt(j)) vsum(voff + j) += a.getFloat(j).toDouble
            j += 1
          }
        }
        Iterator.single((cnt, dsum, vsum))
      }.collect() // collect() preserves partition order — see above
      val cnt = new Array[Long](nc)
      val dsum = new Array[Double](nc)
      val vsum = new Array[Double](nc * dim)
      partials.foreach { case (c1, d1, v1) =>
        var i = 0
        while (i < nc) { cnt(i) += c1(i); dsum(i) += d1(i); i += 1 }
        var j = 0
        while (j < nc * dim) { vsum(j) += v1(j); j += 1 }
      }
      wcss += {
        var s = 0.0; var i = 0
        while (i < nc) { if (cnt(i) > 0) s += dsum(i); i += 1 }
        s
      }
      cents = cents.zipWithIndex.map { case ((cid, old), i) =>
        if (cnt(i) > 0)
          (cid, (0 until dim).map(j => (vsum(i * dim + j) / cnt(i)).toFloat)
            .toSeq)
        else (cid, old) // empty cells keep their previous centroid
      }
    }
    val result = (cents, wcss.toSeq)
    codebookMemo.synchronized { // KB-scale entries
      if (codebookMemo.size > 64) codebookMemo.clear()
      codebookMemo.put(memoKey, result)
    }
    result
  }

  /** The trained codebook as the (id, vec) frame [[ivfTopK]] expects. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      codebook: Array[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    codebook.toSeq.toDF("id", "vec")
  }

  /** Nearest-codebook-cell assignment as ONE codegen projection — the
    * fused [[graft.functions.NearestCell]] kernel: a single k×dim loop
    * over a flat codebook reference object, min_by (dist, cell_id)
    * semantics (min l2sq wins, distance ties keep the smallest cell id —
    * identical vectors always land in the same cell). The corpus is
    * scanned once with NO crossJoin and no shuffle; vectors never leave
    * their scan partition. (The previous declarative form — array_min
    * over k struct(l2sq, id) entries — computed the same thing but
    * allocated k structs per row and generated k inlined loop bodies,
    * which at k=64+ fell out of JIT budgets and made ASSIGNMENT the
    * dominant stage of every training scan; bit-parity with it is
    * spec-pinned in NearestCellSpec.) */
  def nearestCellExpr(codebook: Array[(Long, Seq[Float])],
      vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    nearestCellStruct(codebook, vecCol).getField("c")

  /** [[nearestCellExpr]]'s full struct<d: double, c: bigint> — for the
    * callers (Lloyd's iterations) that need the winning distance too;
    * one kernel evaluation serves both fields. */
  def nearestCellStruct(codebook: Array[(Long, Seq[Float])],
      vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (ids, flat, dim) = flatCodebook(codebook)
    graft.functions.GraftFunctions.nearest_cell(vecCol, ids, flat, dim)
  }

  /** Top-nProbe nearest centroids of `vecCol` as a sorted
    * array<struct<d, c>> — [[probeCells]]' per-row kernel
    * ([[graft.functions.TopCells]]), row_number-over-(dist, cell_id)
    * selection semantics. */
  def topCellsExpr(codebook: Array[(Long, Seq[Float])],
      vecCol: org.apache.spark.sql.Column,
      nProbe: Int): org.apache.spark.sql.Column = {
    require(nProbe > 0, s"topCellsExpr: nProbe $nProbe")
    val (ids, flat, dim) = flatCodebook(codebook)
    graft.functions.GraftFunctions.top_cells(vecCol, ids, flat, dim, nProbe)
  }

  private def flatCodebook(codebook: Array[(Long, Seq[Float])])
      : (Array[Long], Array[Float], Int) = {
    require(codebook.nonEmpty, "nearestCellExpr: empty codebook")
    val dim = codebook(0)._2.length
    require(codebook.forall(_._2.length == dim),
      "nearestCellExpr: ragged codebook (centroid dims differ)")
    val ids = codebook.map(_._1)
    val flat = new Array[Float](codebook.length * dim)
    var c = 0
    while (c < codebook.length) {
      val cv = codebook(c)._2
      var i = 0
      while (i < dim) { flat(c * dim + i) = cv(i); i += 1 }
      c += 1
    }
    (ids, flat, dim)
  }

  /** IVF-style coarse quantization: assign each corpus vector to its
    * nearest of `centroids` (a driver-collectable table — IVF codebooks
    * are small by construction), search only the probed cells. Centroids
    * come from any upstream clustering (e.g. a sampled k-means); the
    * engine contract is the cell-probe join.
    *
    * Scale shape: corpus assignment is ONE codegen'd projection — C fused
    * l2sq kernels and a when-chain argmin over centroid literals — so the
    * corpus is scanned once with NO crossJoin, no shuffle, and vectors
    * never leave their scan partition (the earlier corpus×centroids
    * crossJoin + min_by re-shuffled every embedding once per assignment). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int = 2): DataFrame = {
    val centRows = PlanCache.getOrPersist(centroids, "ivf-centroids",
        centroids.select(col("id").cast("long"), col("vec")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1)
    require(centRows.nonEmpty, "ivfTopK: empty centroid set")
    def nearestCell(vecCol: org.apache.spark.sql.Column) =
      nearestCellExpr(centRows, vecCol)
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
      .withColumn("cell_id", nearestCell(col("cvec")))
    // queries probe their nProbe nearest cells (tiny side — a broadcast
    // crossJoin + per-query window costs nothing at any corpus scale)
    val q = probeCells(queries, centroids, nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // candidate dedup on id pairs only (a query probing nProbe cells can
    // meet the same neighbor once per cell); vectors rejoin afterwards
    c.select("cell_id", "neighbor_id", "cvec")
      .join(broadcast(q.select("cell_id", "query_id")), "cell_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "cvec")
      .dropDuplicates("query_id", "neighbor_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qvec"))), "query_id")
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }
}
