package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring (the CCNet-style "perplexity filter"):
  * train add-one-smoothed bigram statistics on a reference corpus, then
  * score every document by its negative log-likelihood under the model —
  * low-NLL documents read like the reference, high-NLL documents are
  * gibberish, boilerplate soup, or the wrong language. The classic use
  * is filtering web text against a Wikipedia-trained model; here the
  * model is three DataFrames, so reference and target can be any two
  * (possibly equal) corpora.
  *
  * Model: P(cur | prev) = (c(prev,cur) + 1) / (c(prev) + V) with V the
  * training vocabulary size — add-one smoothing, so unseen bigrams get
  * mass and an unseen context backs off to the uniform 1/V.
  *
  * Scale shape (100 TB):
  *   - Training is two hash aggregates over the token stream (unigram and
  *     bigram counts) — Zipf-skewed keys, absorbed by map-side partial
  *     combine exactly like the vocab/heavy-hitter aggregates; the vocab
  *     size is a 1-row aggregate cross-joined into the plan (never a
  *     driver-side collect).
  *   - Scoring is two shuffle equi-joins (doc bigrams ⋈ bigram counts on
  *     (prev, cur); ⋈ unigram counts on prev). The count tables are
  *     vocabulary-sized — orders of magnitude smaller than the corpus —
  *     and no side is hinted: AQE broadcasts them when they fit, shuffles
  *     when they don't (the Semantic-join discipline). Skewed contexts
  *     ("the", "of") are AQE skew-split like every other Zipf join here.
  *   - The per-document reduce is a sum of per-position INTEGERS (each
  *     position's NLL term is floored to 1e-4 units first), so the
  *     aggregate is order-independent and exact — no float-summation
  *     nondeterminism rides the shuffle.
  *
  * Why integer NLL units: floor(log2(r) * 1e4) sits on an exact floor
  * boundary whenever r is an integer power of two, and there two engines'
  * libm log2 can legitimately land an ulp on either side (measured:
  * JVM `ln(16)/ln(2)` = 3.9999999999999996). The `+ 1e-6` nudge before
  * the floor moves the boundary off every rational-log2 point, making the
  * flooring engine-independent; 1e-6 is far below the 1e-4 resolution the
  * contract promises and far above any libm ulp error.
  */
object LangModel {

  /** Bigram model over a training corpus: unigram counts, bigram counts,
    * vocabulary size — three frames, all lazily planned (nothing runs
    * until a score is materialized). */
  case class Model(uni: DataFrame, bi: DataFrame, vocab: DataFrame)

  private def toks(textCol: Column): Column = split(textCol, graft.functions.TextFunctions.WsPlus)

  /** (doc_id, prev, cur) bigram stream of a corpus — empty for documents
    * with fewer than two tokens (guarded: Spark's `sequence` counts DOWN
    * for stop < start, so the index range is built only when it exists). */
  def bigrams(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = toks(col(textCol))
    docs.select(col(idCol).cast("long").as("doc_id"), t.as("__t"))
      .select(col("doc_id"), explode(
        when(size(col("__t")) >= 2,
          sequence(lit(0), size(col("__t")) - 2))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("__t"))
      .select(col("doc_id"),
        element_at(col("__t"), col("i") + 1).as("prev"),
        element_at(col("__t"), col("i") + 2).as("cur"))
  }

  /** Train the bigram model on `train` — two count aggregates plus the
    * 1-row vocab scalar. */
  def train(train: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Model = {
    val tokStream = train.select(explode(toks(col(textCol))).as("tok"))
    Model(
      uni = tokStream.groupBy(col("tok")).agg(count(lit(1)).as("c_u")),
      bi = bigrams(train, idCol, textCol)
        .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c_b")),
      vocab = tokStream.agg(countDistinct(col("tok")).as("__v")))
  }

  /** Persist the model as three parquet tables (the store discipline of
    * the minhash-signature / drift-reference / IVF-codebook stores): the
    * reference corpus is scanned once at training time, every later
    * session scores against the stored counts.
    *
    * `keepGenerations` — [[Classifier.save]]'s retention knob: publish
    * the fresh generation, then gc down to it plus `keepGenerations`
    * predecessors. The default 0 makes save the erasure deadline on the
    * [[unlearn]] path (the pre-unlearn counts — the forgotten training
    * data — are physically deleted, the old overwrite semantics);
    * raising it keeps recent model versions pinnable via
    * [[loadPinned]] at the documented retention cost. */
  def save(model: Model, dir: String, keepGenerations: Int = 0): Unit = {
    // one atomic generation for the triple ([[Classifier.save]]'s
    // rationale: a torn uni/bi/vocab set silently mis-scores)
    VersionedStore.publish(dir, Map(
      "uni" -> model.uni, "bi" -> model.bi, "vocab" -> model.vocab))
    VersionedStore.gc(dir, keep = keepGenerations)
    ()
  }

  /** Load a persisted model — score-path plans read the parquet counts
    * directly (columnar scans, joinable like the in-session frames). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val t = VersionedStore.tableRoot(dir)
    Model(
      uni = spark.read.parquet(s"$t/uni"),
      bi = spark.read.parquet(s"$t/bi"),
      vocab = spark.read.parquet(s"$t/vocab"))
  }

  /** [[load]] PINNED at a retained model generation —
    * [[Classifier.loadPinned]]'s contract on the bigram tables: the
    * generation is the whole coordinate, retention is save's
    * `keepGenerations`, and a gc-retired pin fails loudly. */
  def loadPinned(spark: org.apache.spark.sql.SparkSession, dir: String,
      gen: Long): Model = {
    val t = VersionedStore.pinnedGenerationRoot(dir, gen, None,
      "LangModel.loadPinned")
    Model(
      uni = spark.read.parquet(s"$t/uni"),
      bi = spark.read.parquet(s"$t/bi"),
      vocab = spark.read.parquet(s"$t/vocab"))
  }

  /** EXACT unlearning for the bigram model — [[Classifier.unlearn]]'s
    * algebra on the (uni, bi, vocab) tables: the forget batch (rows of
    * the original training corpus — caller owns membership) is
    * re-counted once (O(forget)) and subtracted from the stored counts
    * (O(model), vocabulary-sized), zero rows are dropped, and the vocab
    * scalar is re-derived from the shrunken unigram table (a token is
    * in the remaining corpus iff its unigram count survives — no corpus
    * rescan). Row-identical to retraining on train∖forget. */
  def unlearn(model: Model, forget: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Model = {
    val tokStream = forget.select(explode(toks(col(textCol))).as("tok"))
    val uni = model.uni
      .join(tokStream.groupBy(col("tok")).agg(count(lit(1)).as("f_u")),
        Seq("tok"), "left")
      .select(col("tok"),
        (col("c_u") - coalesce(col("f_u"), lit(0L))).as("c_u"))
      .where(col("c_u") > 0)
    Model(
      uni = uni,
      bi = model.bi
        .join(bigrams(forget, idCol, textCol)
            .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("f_b")),
          Seq("prev", "cur"), "left")
        .select(col("prev"), col("cur"),
          (col("c_b") - coalesce(col("f_b"), lit(0L))).as("c_b"))
        .where(col("c_b") > 0),
      vocab = uni.agg(countDistinct(col("tok")).as("__v")))
  }

  /** Score a corpus under the model: (doc_id, n_terms, nll_e4) where
    * nll_e4 = Σ_positions floor(log2((c_prev + V)/(c_bigram + 1)) · 1e4
    * + 1e-6) — the document's total negative log2-likelihood in exact
    * 1e-4-bit integer units. Documents with < 2 tokens score (0, 0):
    * the model has no opinion, and dropping them is a policy choice the
    * caller makes downstream, not here. Perplexity, if wanted, is
    * 2^(nll_e4 / n_terms / 1e4). */
  def scoreNll(model: Model, docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dg = bigrams(docs, idCol, textCol)
      .join(model.bi, Seq("prev", "cur"), "left")
      .join(model.uni.withColumnRenamed("tok", "prev"), Seq("prev"), "left")
      .crossJoin(model.vocab) // 1-row scalar
    val ratio = (coalesce(col("c_u"), lit(0L)) + col("__v")).cast("double") /
      (coalesce(col("c_b"), lit(0L)) + lit(1L)).cast("double")
    val termE4 = floor(log2(ratio) * lit(10000.0) + lit(1e-6)).cast("long")
    val scored = dg.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(termE4).as("nll_e4"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("nll_e4"), lit(0L)).as("nll_e4"))
  }
}
