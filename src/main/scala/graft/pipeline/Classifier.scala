package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes document classifier — the model-based filter
  * tier of a curation pipeline (quality classifiers, language routing,
  * source attribution — the role fastText-style linear classifiers play
  * in published web-corpus builds, expressed over the engine's own
  * count aggregates).
  *
  * Model: P(c | d) ∝ P(c) · Π_tok P(tok | c), add-one smoothed:
  * P(tok | c) = (count(tok, c) + 1) / (n_tokens(c) + V). Scoring runs in
  * negative log2-likelihood INTEGER 1e-4 units (the LangModel discipline
  * — every per-token term is floored to bigint units before the sum, so
  * the aggregate is order-independent and engine-exact, and the argmin
  * over classes is an integer comparison with a deterministic
  * lexicographic-label tie-break). The same `+ 1e-6` nudge keeps
  * power-of-two ratios off libm-ulp floor boundaries.
  *
  * Scale shape (100 TB):
  *   - Training is one hash aggregate over the (label, token) stream —
  *     Zipf keys absorbed by map-side combine — plus class-sized and
  *     1-row scalar aggregates.
  *   - Classification joins the corpus token stream against the count
  *     table per class: the token stream crossJoins the CLASS LIST
  *     (L rows, broadcast — L is small by construction: languages,
  *     quality tiers), left-joins counts on (label, tok), and reduces
  *     per (doc, label) with integer sums. Corpus-side cost is
  *     tokens × L rows of (id, label, bigint) — the count tables are
  *     vocabulary-sized, AQE decides broadcast vs shuffle unhinted.
  *   - The model persists as three parquet tables (counts, classes,
  *     stats) — the LangModel / minhash-store discipline: train once
  *     per reference snapshot, classify many corpora.
  */
object Classifier {

  /** counts: (label, tok, c_t) · classes: (label, n_toks, n_docs) ·
    * stats: 1 row (v = vocab size, n_all = total train docs). */
  case class Model(counts: DataFrame, classes: DataFrame, stats: DataFrame)

  private def toks(textCol: Column): Column = split(textCol, graft.functions.TextFunctions.WsPlus)

  /** Train on (id, label, text): per-class token counts, class totals,
    * global vocab — all lazily planned. */
  def train(labeled: DataFrame, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): Model = {
    val stream = labeled.select(col(labelCol).as("label"),
      explode(toks(col(textCol))).as("tok"))
    Model(
      counts = stream.groupBy("label", "tok").agg(count(lit(1)).as("c_t")),
      classes = labeled.groupBy(col(labelCol).as("label"))
        .agg(sum(size(toks(col(textCol)))).cast("long").as("n_toks"),
          count(lit(1)).as("n_docs")),
      stats = labeled.select(explode(toks(col(textCol))).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
        .crossJoin(labeled.agg(count(lit(1)).as("n_all"))))
  }

  /** Persist the model's three tables as ONE [[VersionedStore]]
    * generation — a crash mid-save leaves readers on the previous model
    * version, never counts whose class/stats tables disagree (the same
    * torn-pair hazard class as postings-without-doclens, here a
    * torn-TRIPLE: stats.v against a counts table from another save
    * silently mis-smooths every score).
    *
    * `keepGenerations` is the retention knob every other migrated
    * family's compaction carries ([[Retrieval.compactPostingsIndex]] /
    * [[Ann.compactIndexCells]]): save publishes the fresh generation and
    * then gc's down to it plus `keepGenerations` predecessors. The
    * default 0 makes save the ERASURE DEADLINE on the unlearn path — an
    * [[unlearn]] followed by save to the same root physically deletes
    * the pre-unlearn counts (the forgotten training data), matching the
    * old overwrite-in-place semantics; raising it trades that deadline
    * for [[loadPinned]] pinning of recent model versions.
    * Note the model frames may lazily READ the same root (unlearn does):
    * publish executes them while the old generation still exists, and
    * only then does gc retire it. */
  def save(model: Model, dir: String, keepGenerations: Int = 0): Unit = {
    VersionedStore.publish(dir, Map(
      "counts" -> model.counts,
      "classes" -> model.classes,
      "stats" -> model.stats))
    VersionedStore.gc(dir, keep = keepGenerations)
    ()
  }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val t = VersionedStore.tableRoot(dir)
    Model(
      counts = spark.read.parquet(s"$t/counts"),
      classes = spark.read.parquet(s"$t/classes"),
      stats = spark.read.parquet(s"$t/stats"))
  }

  /** [[load]] PINNED at a retained model generation — the model-store
    * member of the one-token time-travel family (the model tables have
    * no append-batch axis, so the generation IS the whole coordinate;
    * capture it with [[VersionedStore.currentGen]] at training time).
    * Retention is [[save]]'s `keepGenerations` — with the default 0,
    * save stays the unlearn path's ERASURE DEADLINE and retires every
    * older pin, which then fails LOUDLY here
    * ([[VersionedStore.pinnedGenerationRoot]]); raising it deliberately
    * trades that deadline for reproducible model pins, the caller's
    * compliance decision to make. */
  def loadPinned(spark: org.apache.spark.sql.SparkSession, dir: String,
      gen: Long): Model = {
    val t = VersionedStore.pinnedGenerationRoot(dir, gen, None,
      "Classifier.loadPinned")
    Model(
      counts = spark.read.parquet(s"$t/counts"),
      classes = spark.read.parquet(s"$t/classes"),
      stats = spark.read.parquet(s"$t/stats"))
  }

  /** EXACT unlearning: remove `forget` (rows of the original training
    * set — caller owns that membership, as with id disjointness on the
    * append stores) from a trained model WITHOUT touching the training
    * corpus. Count-based models make the takedown/right-to-be-forgotten
    * request algebraic: the forget batch is re-counted (O(forget)) and
    * subtracted from the stored tables (O(model) — vocabulary-sized,
    * never corpus-sized), zero rows are dropped, and the vocab size is
    * re-derived from the shrunken count table (a token survives iff any
    * class still counts it — so v needs no corpus rescan). The result
    * is row-identical to retraining on train∖forget, which is exactly
    * what the oracle checks. The model-store member of the takedown
    * discipline: stores delete by tombstone + GC ([[Tombstones]]);
    * count models delete by subtraction. */
  def unlearn(model: Model, forget: DataFrame,
      labelCol: String = "label", textCol: String = "text"): Model = {
    val stream = forget.select(col(labelCol).as("label"),
      explode(toks(col(textCol))).as("tok"))
    val counts = model.counts
      .join(stream.groupBy("label", "tok").agg(count(lit(1)).as("f_t")),
        Seq("label", "tok"), "left")
      .select(col("label"), col("tok"),
        (col("c_t") - coalesce(col("f_t"), lit(0L))).as("c_t"))
      .where(col("c_t") > 0)
    val classes = model.classes
      .join(forget.groupBy(col(labelCol).as("label"))
          .agg(sum(size(toks(col(textCol)))).cast("long").as("f_toks"),
            count(lit(1)).as("f_docs")),
        Seq("label"), "left")
      .select(col("label"),
        (col("n_toks") - coalesce(col("f_toks"), lit(0L))).as("n_toks"),
        (col("n_docs") - coalesce(col("f_docs"), lit(0L))).as("n_docs"))
      .where(col("n_docs") > 0)
    Model(
      counts = counts,
      classes = classes,
      stats = counts.agg(countDistinct(col("tok")).as("v"))
        .crossJoin(model.stats.select(col("n_all"))
          .crossJoin(forget.agg(count(lit(1)).as("__f")))
          .select((col("n_all") - col("__f")).as("n_all"))))
  }

  private def e4Floor(ratio: Column): Column =
    floor(log2(ratio) * lit(10000.0) + lit(1e-6)).cast("long")

  /** Classify a corpus: (doc_id, label, nll_e4) — the argmin-NLL class
    * per document and its total score in integer 1e-4-bit units
    * (prior term + Σ per-token terms; ties break to the
    * lexicographically smallest label). Documents with no tokens score
    * the prior alone — the model's honest opinion, not a sentinel. */
  def classify(model: Model, docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val labels = model.classes.select("label", "n_toks", "n_docs")
      .crossJoin(model.stats)
    val priorE4 = e4Floor(col("n_all").cast("double") /
      col("n_docs").cast("double"))
    val classSide = broadcast(labels
      .select(col("label"), col("n_toks"), col("v"),
        priorE4.as("prior_e4")))
    val tokens = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(toks(col(textCol))).as("tok"))
    val termE4 = e4Floor(
      (col("n_toks") + col("v")).cast("double") /
        (coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double"))
    val sums = tokens
      .crossJoin(classSide.select("label", "n_toks", "v"))
      .join(model.counts, Seq("label", "tok"), "left")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(termE4).as("tok_e4"))
    val allPairs = docs.select(col(idCol).cast("long").as("doc_id"))
      .crossJoin(classSide.select("label", "prior_e4"))
      .join(sums, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (col("prior_e4") + coalesce(col("tok_e4"), lit(0L))).as("score_e4"))
    allPairs.groupBy("doc_id")
      .agg(min(struct(col("score_e4"), col("label"))).as("best"))
      .select(col("doc_id"), col("best.label").as("label"),
        col("best.score_e4").as("nll_e4"))
  }
}
