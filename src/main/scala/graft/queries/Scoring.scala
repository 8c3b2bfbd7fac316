package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.{TextFunctions => TF}

import Fixtures._

/** Scoring models: naive Bayes, bigram LM, quantile stores, drift, DSIR
  * selection and the CCNet/curation pipelines. */
object ScoringQueries extends QueryFamily {

  /** Naive Bayes classification oracle (q_nb_classify; q_nb_unlearn
    * re-derives with the forget slice removed from the train set —
    * exact unlearning means the retrained model IS the oracle). */
  private lazy val nbClassifySql: String = nbClassifySqlFor(nbCtes)

  /** Bigram-LM NLL oracle (q_lm_perplexity and q_lm_store — the stored
    * model is the same derivation; q_lm_unlearn re-derives with the
    * forget slice removed from the train set). */
  private lazy val lmNllSql: String = lmNllSqlFor(lmNllCtes)

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

  val defs: Seq[QueryDef] = Seq(
    // ---- per-language EXACT-quantile quality threshold (median): the
    // calibration stage — cutoffs adapt per stratum, ties integer-decided ----
    QueryDef("q_quality_quantile", (s, dir) =>
      graft.pipeline.Weighting.quantileThreshold(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality")),
        scoreCol = "quality", stratumCol = "lang", qBp = 5000),
      // exact per-stratum quantile: rank−1 ties decide identically in any
      // engine; selection is the integer cross-multiplied comparison
      oracle = s"WITH s AS (SELECT doc_id, lang, round($qualityExprSql, 6) AS quality" +
        " FROM documents)" +
        " SELECT doc_id, lang, quality," +
        " CAST(rank() OVER (PARTITION BY lang ORDER BY quality) - 1 AS BIGINT)" +
        " AS cnt_below," +
        " CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n," +
        " ((rank() OVER (PARTITION BY lang ORDER BY quality) - 1) * 10000 >=" +
        " 5000 * count(*) OVER (PARTITION BY lang)) AS selected" +
        " FROM s"),

    // ---- SKETCH quantile gate (the 100 TB scale path for the exact
    // q_quality_quantile): per-stratum GK sketch in ONE mergeable hash
    // aggregate — no sort anywhere — with the rank-error guarantee
    // surfaced as a contract boolean (the HLL/LSH/IVF oracle
    // discipline: the cutoff is merge-order-dependent, the BOUND is
    // not; exact n per stratum plus uniformly-true within_bound) ----
    QueryDef("q_quantile_sketch", (s, dir) =>
      graft.pipeline.Weighting.quantileSketchContract(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality")),
        scoreCol = "quality", stratumCol = "lang", qBp = 5000,
        accuracy = 1000),
      // sketch-quantile contract: exact per-stratum n plus the GK rank
      // bound required to hold uniformly — the cutoff value itself is
      // merge-order-dependent and never surfaces
      oracle = "SELECT lang, CAST(count(*) AS BIGINT) AS n, true AS within_bound" +
        " FROM documents GROUP BY lang"),

    // ---- DSIR-shaped hashed-bigram importance selection: target = the
    // en subset of the corpus; selection is the integer-exact
    // cross-multiplied average-likelihood-ratio test ----
    QueryDef("q_dsir_select", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang")
      graft.pipeline.Weighting.importanceWeights(
        d.select("doc_id", "text"),
        d.where(col("lang") === "en").select("doc_id", "text"))
    },
      // DSIR selection: same md5-derived bucket hash, integer-exact
      // cross-multiplied average-likelihood-ratio test
      oracle = s"WITH $dsirCtes" +
        " SELECT d.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams," +
        " CAST(coalesce(a.st, 0) AS BIGINT) AS sum_target," +
        " CAST(coalesce(a.sr, 0) AS BIGINT) AS sum_raw," +
        " (coalesce(a.st, 0) * (SELECT nr FROM tot) >" +
        " coalesce(a.sr, 0) * (SELECT nt FROM tot)) AS selected" +
        " FROM documents d LEFT JOIN agg a USING (doc_id)"),

    // ---- bigram-LM NLL scoring (the CCNet perplexity-filter shape):
    // model trained on the 80% doc_id%5≠0 slice, every document scored —
    // held-out docs exercise the unseen-bigram smoothing path. Per-
    // position terms floor to integer 1e-4-bit units before the sum, so
    // the aggregate is order-independent and engine-exact ----
    QueryDef("q_lm_perplexity", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val model = graft.pipeline.LangModel.train(
        d.where(col("doc_id") % 5 =!= 0))
      graft.pipeline.LangModel.scoreNll(model, d)
    },
      // bigram-LM NLL: identical add-one-smoothed counts over the 80%
      // train slice; per-position floor(log2((c_u+V)/(c_b+1))*1e4 + 1e-6)
      // summed as integers — the nudge keeps power-of-two ratios (where
      // libm log2 legitimately differs an ulp across engines) off the
      // floor boundary
      oracle = lmNllSql),

    // ---- model-store pin, LM twin of q_nb_pin: gen 1 trains the
    // bigram counts on the even train slice, gen 2 on the full slice;
    // the pinned load scores every doc under the OLD counts while the
    // head scores under the new — perplexity gates replay exactly ----
    QueryDef("q_lm_pin", (s, dir) => {
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
    },
      // model-store pin (LM): pinned view re-derives from the even train
      // slice, head from the full train slice
      oracle = "SELECT *, 'pinned' AS probe_view FROM (" +
        lmNllSqlFor(
          lmNllCtesFor("doc_id % 5 <> 0 AND doc_id % 2 = 0")) +
        ") UNION ALL SELECT *, 'head' FROM (" + lmNllSql + ")"),

    // ---- EXACT UNLEARNING (bigram LM): same algebra as q_nb_unlearn
    // on the (uni, bi, vocab) tables — scoring under the unlearned
    // model must match scoring under a model retrained without the
    // forget slice, bigram-for-bigram ----
    QueryDef("q_lm_unlearn", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.LangModel.train(train)
      val unlearned = graft.pipeline.LangModel.unlearn(model,
        train.where(col("doc_id") % 6 === 1))
      graft.pipeline.LangModel.scoreNll(unlearned, d)
    },
      // exact unlearning: retrained-on-train∖forget derivation
      oracle = lmUnlearnSql),

    // ---- bigram-LM scoring against the PERSISTED model store: same
    // output contract as q_lm_perplexity (identical oracle), but the
    // counts come from the parquet model written once by the fixture
    // trainer — proves the store roundtrip preserves the model exactly,
    // the discipline every reference-model filter needs at 100 TB
    // (train once, score many corpora) ----
    QueryDef("q_lm_store", (s, dir) => {
      val model = graft.pipeline.LangModel.load(s,
        graft.sources.WireFixtures.lmModelDir(s, dir))
      graft.pipeline.LangModel.scoreNll(model,
        docs(s, dir).select("doc_id", "text"))
    },
      // LM scoring against the PERSISTED model store: the stored counts
      // are the same derivation, so the oracle is identical — the query
      // proves the parquet roundtrip preserves the model exactly
      oracle = lmNllSql),

    // ---- the composed CCNet-shape pipeline: boilerplate line strip →
    // bigram-LM NLL over the CLEANED corpus (model trained on its 80%
    // slice) → per-language exact-quantile gate keeping the low-
    // perplexity 70% head. Three first-class stages chained the way
    // CCNet chains them; every decision integer-exact except the one
    // double (mean NLL), a single division of two engine-exact ints ----
    QueryDef("q_pipeline_ccnet", (s, dir) => {
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
    },
      // the composed CCNet-shape pipeline: boilerplate strip → bigram-LM
      // NLL over the CLEANED corpus (trained on its 80% slice) → per-
      // language quantile gate keeping the low-perplexity 70% head. The
      // one float column (neg mean NLL) is a single division of two
      // engine-exact integers — rank ties decide identically
      oracle = s"WITH $lineStripCtes," +
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

    // ---- the composed CURATION pipeline: DSIR importance selection →
    // per-language quantile calibration over the survivors → token-budget
    // mixing of what remains. Three selection ops chained the way a
    // production curation run chains them; every stage's decision is
    // integer-exact, so the composition stays hash-oracled ----
    QueryDef("q_pipeline_curation", (s, dir) => {
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
    },
      // the composed curation pipeline: each stage is the already-proven
      // oracle derivation chained over the previous stage's survivors
      oracle = s"WITH $dsirCtes," +
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

    // ---- ingestion drift monitor: per-bucket chi-square between the
    // reference corpus and an incoming batch over hashed token buckets —
    // counts integer-exact, expected/contribution in floored micro-units
    // over an identical double op chain ----
    QueryDef("q_drift_stats", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      graft.pipeline.Monitor.tokenDrift(
        reference = d.where(col("doc_id") % 5 =!= 0),
        batch = d.where(col("doc_id") % 5 === 0), buckets = 256)
    },
      // drift monitor: identical integer counts + identical double op chain
      // floored to micro-units
      oracle = "WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+'))" +
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

    // ---- Naive Bayes document classification (the model-based filter
    // tier — language routing here; quality tiers are the same machinery
    // with different labels): train on the 80% slice's own lang labels,
    // classify the whole corpus. Integer 1e-4-unit NLL scoring, argmin
    // with lexicographic tie-break — engine-exact, fully SQL-mirrored ----
    QueryDef("q_nb_classify", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val model = graft.pipeline.Classifier.train(
        d.where(col("doc_id") % 5 =!= 0), labelCol = "lang")
      graft.pipeline.Classifier.classify(model, d)
    },
      oracle = nbClassifySql),

    // ---- model-store pin: the one-token family on the MODEL stores —
    // the tables have no append-batch axis, so the generation IS the
    // coordinate. A model trained on the even train slice publishes
    // gen 1 (keepGenerations=1 — the caller's deliberate trade of the
    // erasure deadline for reproducible pins); a retrain on the full
    // train slice publishes gen 2; the pinned load still classifies
    // with the OLD counts while the head serves the new ones ----
    QueryDef("q_nb_pin", (s, dir) => {
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
    },
      // model-store pin: the pinned view re-derives from the even train
      // slice (generation 1's training set), the head from the full
      // train slice (generation 2's)
      oracle = "SELECT *, 'pinned' AS probe_view FROM (" +
        nbClassifySqlFor(
          nbCtesFor("doc_id % 5 <> 0 AND doc_id % 2 = 0")) +
        ") UNION ALL SELECT *, 'head' FROM (" + nbClassifySql + ")"),

    // ---- EXACT UNLEARNING (NB): the takedown request against a
    // trained model — the forget slice's counts are subtracted from
    // the persisted tables (O(forget) + O(model); the corpus is never
    // rescanned) and v/n_all re-derive from the shrunken counts. The
    // oracle RETRAINS on train∖forget: for count models, exact
    // unlearning and retraining are the same function ----
    QueryDef("q_nb_unlearn", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val train = d.where(col("doc_id") % 5 =!= 0)
      val model = graft.pipeline.Classifier.train(train, labelCol = "lang")
      val unlearned = graft.pipeline.Classifier.unlearn(model,
        train.where(col("doc_id") % 6 === 1), labelCol = "lang")
      graft.pipeline.Classifier.classify(unlearned, d)
    },
      // exact unlearning: the oracle retrains from scratch on
      // train∖forget — count subtraction must land on the identical model
      oracle = nbUnlearnSql)
  )
}
