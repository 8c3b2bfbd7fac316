package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.pipeline.Retrieval

/** index-cdc: one closed-loop client maintaining a batch-addressed BM25
  * postings store. Each step appends a 1k-doc batch, takes down a few
  * live docs and runs searches of 1-3 terms mixing head and tail words;
  * every `CompactEvery` steps it compacts. Loads the pipeline layer
  * (VersionedStore publish/gc, Tombstones, the batch layout, Overlap),
  * which the relay workloads never touch. */
final class IndexCdc(ctx: Ctx) extends Workload(ctx) {
  import IndexCdc._

  private var dir: String = _
  private var mirror: Expect.Bm25Mirror = _
  private var live: mutable.ArrayBuffer[Long] = _
  private var nextBatch = 1L
  private var docsAppended = 0L
  private var wallMs = 0.0
  private var step = 0
  private var tombstones = 0
  private var queries = 0
  private var heads: Gen.Strata = _
  private var tails: Gen.Strata = _

  def sizes: Map[String, Any] = Map("corpus_docs" -> CorpusDocs,
    "batch_docs" -> BatchDocs, "searches_per_step" -> SearchesPerStep,
    "compact_every" -> CompactEvery, "warm_searches_per_step" -> WarmSearchesPerStep,
    "vocab" -> Gen.VocabSize)

  def setup(d: String): Unit = {
    dir = s"$d/index"
    val corpus = Gen.docs(ctx.seed, 40, 0L, CorpusDocs)
    mirror = new Expect.Bm25Mirror
    mirror.add(corpus)
    live = mutable.ArrayBuffer.from(corpus.ids)
    nextBatch = 1L
    step = 0
    queries = 0
    heads = new Gen.Strata(Gen.rng(ctx.seed, 44))
    tails = new Gen.Strata(Gen.rng(ctx.seed, 45))
    Retrieval.writePostingsIndex(corpus.toDF(spark), dir, batchId = Some(0L))
  }

  /** One whole round on the last set-up's store, with more searches
    * per step: a fresh JVM's search and append times keep falling over
    * their first dozen calls or so. */
  override def warm(): Unit = {
    val r = Gen.rng(ctx.seed, 41)
    (0 until CompactEvery).foreach(_ => runStep(r, compact = true, WarmSearchesPerStep))
  }

  def measure(): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    docsAppended = 0
    step = 0
    val r = Gen.rng(ctx.seed, 42)
    // whole rounds (CompactEvery steps, then a compaction), so every run
    // holds the same mix of ops; a round starts only if one as long as
    // the last still ends by the deadline (at least one round runs)
    var last = 0L
    while (step == 0 || System.nanoTime() + last <= deadline) {
      val t = System.nanoTime()
      (0 until CompactEvery).foreach(_ => runStep(r, compact = true, SearchesPerStep))
      last = System.nanoTime() - t
    }
    wallMs = (System.nanoTime() - t0) / 1e6
  }

  def finish(): Unit =
    if (!crossCheck(Gen.query(3, heads.next(), tails.next())))
      failures += "store search differs from Retrieval.bm25TopK over the live text"

  private def runStep(r: java.util.SplittableRandom, compact: Boolean, searches: Int): Unit = {
    step += 1
    // append: the batch frame is built outside the timer
    val batch = Gen.docs(ctx.seed, 1000L + nextBatch, CorpusDocs + (nextBatch - 1) * BatchDocs, BatchDocs)
    val frame = batch.toDF(spark)
    val b = nextBatch
    nextBatch += 1
    rec.op("index_append")(Retrieval.appendToPostingsIndexBatch(frame, dir, b))((_, _) => true)
    mirror.add(batch)
    live ++= batch.ids
    docsAppended += batch.size
    // takedown of a few live ids
    val ids = (0 until TakedownIds).map { _ =>
      val i = r.nextInt(live.size)
      val id = live(i)
      live(i) = live(live.size - 1)
      live.remove(live.size - 1)
      id
    }
    rec.op("takedown")(Retrieval.tombstoneDocs(spark, dir, ids))((_, _) => true)
    mirror.remove(ids)
    tombstones += ids.size
    (0 until searches).foreach { _ =>
      search(Gen.query(queries, heads.next(), tails.next()))
      queries += 1
    }
    if (compact && step % CompactEvery == 0) this.compact()
  }

  private def search(terms: Seq[String]): Unit =
    rec.op("search") {
      val df = Retrieval.bm25TopKFromIndex(Retrieval.readPostingsIndex(spark, dir),
        Retrieval.readDocLengths(spark, dir), terms, TopK)
      (df, df.collect())
    } { case (op, (df, rows)) =>
      op.add("tombstones", tombstones)
      rec.phases(op, df)
      rec.scans(op, df)
      ranked(rows) == mirror.topK(terms, TopK)
    }

  private def ranked(rows: Array[Row]): Seq[(Long, Long)] =
    rows.toSeq.sortBy(_.getAs[Long]("rank"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_e4"))

  private def compact(): Unit =
    rec.op("compact")(Retrieval.compactPostingsIndex(spark, dir)) { (op, _) =>
      tombstones = 0
      Retrieval.readDocLengths(spark, dir).count() == mirror.liveCount
    }

  /** One search answered by `Retrieval.bm25TopK` over the live documents'
    * text, compared with the store's answer: an end-of-run cross-check of
    * the driver-side mirror against the engine's own reference scorer. */
  def crossCheck(terms: Seq[String]): Boolean = {
    val session = spark
    import session.implicits._
    val docs = mirror.liveText.toDF("doc_id", "text")
    val ref = Retrieval.bm25TopK(docs, terms, TopK).collect()
    ranked(ref) == mirror.topK(terms, TopK)
  }

  def endToEnd: Map[String, Metric] = Map(
    "op_p50_ms" -> pct("search", 0.5),
    "op2_p50_ms" -> pct("index_append", 0.5),
    "events_per_s" -> Metric(docsAppended / (wallMs / 1000.0), "1/s"))

  def named: Map[String, Metric] = Map(
    "search_p50_ms" -> pct("search", 0.5),
    "search_p90_ms" -> pct("search", 0.9),
    "index_append_p50_ms" -> pct("index_append", 0.5),
    "takedown_p50_ms" -> pct("takedown", 0.5),
    "compact_p50_ms" -> pct("compact", 0.5))

  def layers: Map[String, Double] = {
    val (files, bytes) = Workload.files(dir, Workload.dataFile)
    val gens = Option(new java.io.File(dir).listFiles).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("gen-"))
    val compacts = rec.ofKind("compact")
    val rewritten = compacts.map(_.detail.getOrElse("spark.bytes_written", 0.0)).sum
    val liveBytes = compacts.map(_.detail.getOrElse("spark.records_read", 0.0)).sum
    Seq("search", "index_append", "takedown", "compact")
      .flatMap(k => sparkBlock(k, k)).toMap ++ catalystBlock("search", "search") ++ Map(
        "index.append_bytes_written" -> meanDetail("index_append", "spark.bytes_written"),
        "index.takedown_bytes_written" -> meanDetail("takedown", "spark.bytes_written"),
        "index.files_total" -> files.toDouble,
        "index.bytes_total" -> bytes.toDouble,
        "index.generations" -> gens.toDouble,
        "index.tombstones" -> meanDetail("search", "tombstones"),
        "search.postings_rows_scanned" -> meanDetail("search", "scan.rows"),
        "search.files_read" -> meanDetail("search", "scan.files"),
        "compact.wall_ms" -> (if (compacts.isEmpty) 0.0 else compacts.map(_.ms).sum / compacts.size),
        "compact.bytes_rewritten" -> (if (compacts.isEmpty) 0.0 else rewritten / compacts.size),
        "compact.rows_read" -> (if (compacts.isEmpty) 0.0 else liveBytes / compacts.size))
  }
}

object IndexCdc {
  val CorpusDocs = 20000
  val BatchDocs = 1000
  val SearchesPerStep = 1
  val WarmSearchesPerStep = 3
  val TakedownIds = 3
  val CompactEvery = 4
  val TopK = 10

  val layerNames: Seq[String] = Seq("index.append_bytes_written",
    "index.takedown_bytes_written", "index.files_total", "index.bytes_total",
    "index.generations", "index.tombstones", "search.postings_rows_scanned", "search.files_read",
    "compact.wall_ms", "compact.bytes_rewritten", "compact.rows_read")
}
