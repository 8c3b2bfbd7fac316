package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.Dedup
import graft.functions.{TextFunctions => TF}

import Fixtures._

/** Text quality and statistics: per-doc stats and quality signals, language
  * id, tokenization, PII scrub, normalization, the web extraction chain and
  * the end-to-end curation pipeline. */
object TextQueries extends QueryFamily {

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

  /** Fixed-point PageRank oracle for q_pagerank's doc-id-derived graph. */
  private lazy val pagerankSql: String =
    "WITH " + pageRankCtes(
      "SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 89 AS dst" +
      " FROM documents UNION ALL" +
      " SELECT (doc_id * 13 + 5) % 83, doc_id % 97 FROM documents",
      iters = 5) + " SELECT node, rank FROM r5"

  /** lang-id oracle: same marker-occurrence argmax as TF.langId, with the
    * same alphabetical tie-break order and the same padded-split counting. */
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

  /** quality-score oracle mirroring TF.qualityScore arithmetic exactly. */
  private lazy val qualityScoreSql: String =
    s"SELECT doc_id, round($qualityExprSql, 6) AS quality FROM documents"

  /** End-to-end pipeline oracle: the same five stages re-derived in SQL
    * (quality + predicted-lang filters, md5 keep-one, n-gram
    * decontamination vs the doc_id<30 eval slice, 512-token packing). */
  private lazy val pipelineE2eSql: String = {
    s"WITH lp AS (SELECT doc_id AS lp_id, lang_pred FROM ($langIdSql))," +
      s" flt AS (SELECT d.doc_id, d.lang, d.text FROM documents d" +
      s" JOIN lp ON d.doc_id = lp.lp_id" +
      s" WHERE round($qualityExprSql, 6) >= 0.5 AND lp.lang_pred = 'en')," +
      " dd AS (SELECT * FROM flt QUALIFY" +
      " row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)," +
      s" shdd AS (SELECT doc_id, $shingles3Sql AS s FROM" +
      " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM dd))," +
      s" ev AS (SELECT DISTINCT unnest(s) AS g FROM (SELECT $shingles3Sql AS s FROM" +
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

  val defs: Seq[QueryDef] = Seq(
    // ---- text analysis: Gopher-style repetition quality signals ----
    QueryDef("q_repetition", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TF.duplicateTokenFraction(col("text")), 6).as("dup_token_frac"),
        round(TF.topBigramFraction(col("text")), 6).as("top_bigram_frac")),
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)," +
        " b AS (SELECT doc_id, toks," +
        " list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg FROM t)" +
        " SELECT doc_id," +
        " round(CASE WHEN len(toks) = 0 THEN 0.0" +
        "  ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6) AS dup_token_frac," +
        " round(CASE WHEN len(toks) < 2 THEN 0.0" +
        "  ELSE CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)" +
        "   / (len(toks) - 1) END, 6) AS top_bigram_frac FROM b"),

    // ---- text analysis: per-doc stats ----
    QueryDef("q_text_stats", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        col("n_chars"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.bpeishTokenCount(col("text")).as("n_bpeish"),
        round(TF.meanTokenLen(col("text")), 6).as("mean_token_len"),
        TF.occurrences(col("text"), "the").as("the_count")),
      oracle = "SELECT doc_id, n_chars," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens," +
        " CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish," +
        " round(CAST(list_sum(list_transform(string_split_regex(text, '\\s+'), t -> length(t))) AS DOUBLE)" +
        "   / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE), 6) AS mean_token_len," +
        " CAST(len(string_split(text, 'the')) - 1 AS BIGINT) AS the_count" +
        " FROM documents"),

    // ---- text analysis: heuristic language id ----
    QueryDef("q_lang_id", (s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
        TF.langId(col("text")).as("lang_pred")),
      oracle = langIdSql),

    // ---- heavy hitters: tokens above 1% corpus share, EXACT via
    // Misra-Gries candidates (provable superset for freq > n/k) + a
    // broadcast recount — the full-vocabulary shuffle never happens ----
    QueryDef("q_heavy_hitters", (s, dir) =>
      graft.pipeline.Sketches.heavyHitters(
        docs(s, dir).select(explode(TF.tokens(col("text"))).as("token")),
        valueCol = "token", minShareBp = 100),
      oracle = "WITH t AS (SELECT unnest(string_split_regex(text, '\\s+')) AS token" +
        " FROM documents)," +
        " n AS (SELECT count(*) AS total FROM t)" +
        " SELECT token, count(*) AS cnt FROM t GROUP BY token" +
        " HAVING count(*) * 10000 > (SELECT total FROM n) * 100"),

    // ---- co-occurrence PMI over the top-30 vocabulary: doc-frequency
    // association mining — pair explode bounded at V²/2 per doc, the
    // pair aggregate has ≤ V² keys so map-side combine collapses the
    // shuffle to vocab size; integer-1e-4 PMI with the entropy nudge ----
    QueryDef("q_cooccurrence_pmi", (s, dir) =>
      graft.pipeline.Sketches.cooccurrencePmi(
        docs(s, dir).select("doc_id", "text"), topV = 30),
      // co-occurrence PMI: identical derivation — distinct tokens per doc,
      // top-V vocab (n desc, token), doc-keyed pair self-join, identical
      // parenthesization and the same +1e-6 floor nudge
      oracle = "WITH dtok AS (SELECT doc_id, unnest(list_filter(list_distinct(" +
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

    // ---- text analysis: per-language vocabulary top-k. The token-count
    // aggregate is Zipf-skewed (stopwords dominate) — partial map-side
    // combine absorbs the skew before the shuffle; the top-k window runs
    // per language over the already-aggregated counts ----
    QueryDef("q_vocab_topk", (s, dir) => {
      val counts = docs(s, dir)
        .select(col("lang"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token"))
      counts.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
    },
      oracle = "WITH t AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token" +
        " FROM documents)," +
        " c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2)" +
        " SELECT lang, token, n," +
        " CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS INT) AS rnk" +
        " FROM c QUALIFY rnk <= 5"),

    // ---- text analysis: quality score ----
    QueryDef("q_quality_score", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality")),
      oracle = qualityScoreSql),

    // ---- exact BPE, planted-count contract: a fixed hand-ranked merges
    // table over doc_id-derived texts — every word's token count is a
    // closed form the oracle re-derives, and the counts only come out
    // right if the merge loop applies ranks in order ("lower" fuses to 1
    // token only through the full (e,r)→(er,\0)→(l,o)→(lo,w)→
    // (low,er\0) cascade; "low" stops at 2; un-merged "wide" stays
    // chars+1) ----
    QueryDef("q_bpe_tokens", (s, dir) =>
      plantedBpeCorpus(s, dir).select(col("doc_id"),
        graft.functions.Bpe.tokenCount(plantedBpeModel)(col("text"))
          .as("n_tokens")),
      // closed-form token counts for the planted BPE texts: per repeat
      // group, (word tokens + its following space) × repeats — lower=1+1,
      // low=2+1, er=1+1, re=2+1 — plus unmerged trailing "wide" = 5
      oracle = "SELECT doc_id," +
        " CAST(2 * (doc_id % 3 + 1) + 3 * (doc_id % 4 + 1)" +
        " + 2 * (doc_id % 2 + 1) + 3 * (doc_id % 5 + 1) + 5 AS BIGINT)" +
        " AS n_tokens FROM documents"),

    // ---- exact BPE over the REAL corpus with the trained, persisted
    // merges table: encode→decode must reproduce every document
    // byte-for-byte (hash-oracled against the raw text column) ----
    QueryDef("q_bpe_roundtrip", (s, dir) => {
      import graft.functions.Bpe
      val model = Bpe.load(s, graft.sources.WireFixtures.bpeMergesDir(s, dir))
      docs(s, dir).select(col("doc_id"),
        Bpe.roundtrip(model)(col("text")).as("text"))
    },
      // the tokenizer roundtrip is the identity on the corpus
      oracle = "SELECT doc_id, text FROM documents"),

    // ---- text analysis: char-distribution entropy (gibberish /
    // degenerate-repetition signal) in integer 1e-4-bit units ----
    QueryDef("q_char_entropy", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TF.charEntropyE4(col("text")).as("entropy_e4")),
      // char entropy: per-char counts via unnest + group-by (set-based
      // re-derivation of the sorted-run fold), same identity and nudge
      oracle = "WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c" +
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

    // ---- per-language quality TERTILES (the CCNet head/middle/tail
    // artifact): exact integer rank bands per stratum ----
    QueryDef("q_quality_tertile", (s, dir) =>
      graft.pipeline.Weighting.quantileBuckets(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality")),
        scoreCol = "quality", stratumCol = "lang",
        cutsBp = Seq(3333, 6666),
        labels = Seq("tail", "middle", "head")),
      // quality tertiles: same exact rank machinery, two cross-multiplied
      // band cuts → CASE labels
      oracle = s"WITH s AS (SELECT doc_id, lang, round($qualityExprSql, 6) AS quality" +
        " FROM documents)," +
        " r AS (SELECT doc_id, lang, quality," +
        " CAST(rank() OVER (PARTITION BY lang ORDER BY quality) - 1 AS BIGINT)" +
        " AS cnt_below," +
        " CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n FROM s)" +
        " SELECT doc_id, lang, quality, cnt_below, n," +
        " CASE WHEN cnt_below * 10000 < 3333 * n THEN 'tail'" +
        " WHEN cnt_below * 10000 < 6666 * n THEN 'middle'" +
        " ELSE 'head' END AS bucket FROM r"),

    // ---- text analysis: Gopher rule battery — per-rule booleans + the
    // keep conjunction, auditable per doc ----
    QueryDef("q_gopher_rules", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TF.gopherRules(col("text")).as("r"))
        .select(col("doc_id"), col("r.len_ok"), col("r.mean_len_ok"),
          col("r.dup_ok"), col("r.bigram_ok"), col("r.punct_ok"),
          col("r.stop_ok"), col("r.keep")),
      oracle = gopherRulesSql),

    // ---- text analysis: content fingerprint ----
    QueryDef("q_fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TF.fingerprintHex(col("text")).as("fp_hex"),
        substring(TF.fingerprintHex(col("text")), 1, 16).as("fp16")),
      oracle = "SELECT doc_id, md5(text) AS fp_hex, substr(md5(text), 1, 16) AS fp16" +
        " FROM documents"),

    // ---- text analysis: PII scrub — emails/IPv4s/phones → placeholder
    // tokens, with per-kind audit counts. PII is PLANTED deterministically
    // (doc_id mod 4 picks the kind) so the oracle re-derives both the
    // counts and the byte-exact scrubbed text; the scrub itself is a pure
    // codegen regexp_replace chain with RE2-safe patterns ----
    QueryDef("q_pii_scrub", (s, dir) => {
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
    },
      oracle = "WITH inj AS (SELECT doc_id, text ||" +
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

    // ---- text analysis: per-DOMAIN corpus stats — URLs planted
    // deterministically (doc_id picks domain + count), extracted,
    // domain-normalized (lowercase, www-stripped), aggregated: the
    // grouping/provenance stage of a web-corpus pipeline ----
    QueryDef("q_domain_stats", (s, dir) => {
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
    },
      oracle = "WITH inj AS (SELECT doc_id, text || ' see https://' ||" +
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

    // ---- unicode NFC canonicalization (native codegen expression):
    // DECOMPOSED combining sequences planted after every document
    // (e+U+0301 acute, i+U+0308 diaeresis, A+U+030A ring) compose to
    // their precomposed forms; output hashes the normalized text byte-
    // for-byte against DuckDB utf8proc NFC ----
    QueryDef("q_normalize_text", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 nai\u0308ve A\u030angstro\u0308m")).as("text"))
      val nfc = graft.functions.GraftFunctions.nfc_normalize(col("text"))
      injected.select(col("doc_id"),
        length(col("text")).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"),
        md5(nfc.cast("binary")).as("text_md5"))
    },
      // NFC canonicalization: same decomposed plant via chr() code points,
      // DuckDB's utf8proc NFC vs the JDK Normalizer — both implement the
      // Unicode canonical composition algorithm
      oracle = "WITH inj AS (SELECT doc_id, text || ' cafe' || chr(769) ||" +
        " ' nai' || chr(776) || 've A' || chr(778) || 'ngstro' ||" +
        " chr(776) || 'm' AS text FROM documents)" +
        " SELECT doc_id, CAST(length(text) AS BIGINT) AS n_raw," +
        " CAST(length(nfc_normalize(text)) AS BIGINT) AS n_nfc," +
        " md5(nfc_normalize(text)) AS text_md5 FROM inj"),

    // ---- the end-to-end training-data pipeline, composed: quality
    // filter → predicted-language filter → exact dedup keep-one →
    // decontamination vs the eval slice → sequence packing. Every stage
    // is the first-class operator; the whole composition hash-matches a
    // DuckDB re-derivation ----
    QueryDef("q_pipeline_e2e", (s, dir) => {
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
    },
      oracle = pipelineE2eSql),

    // ---- WEB CURATION: the raw-crawl → text stage every web corpus
    // starts with. Deterministic crawl-page shell (title, nav,
    // script/style blocks, comment, entity escapes, footer) wrapped
    // around the document text; extraction is the codegen'd
    // WebFunctions chain — script/style strip, comment strip, tag
    // strip, entity decode, whitespace collapse — plus the link-density
    // boilerplate signal, all integer/md5-exact ----
    QueryDef("q_html_extract", (s, dir) => {
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
    },
      oracle = s"WITH h AS (SELECT doc_id, $WEBHTML AS html FROM documents)," +
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

    // ---- URL canonicalization: scheme/host lowercase, www. and
    // default-port strip, fragment drop, tracking-param removal — the
    // normalization that makes URL-level dedup and per-domain caps
    // mean what they say ----
    QueryDef("q_url_canonical", (s, dir) =>
      urlFixture(docs(s, dir)).select(col("doc_id"), col("url"),
        graft.functions.WebFunctions.canonicalizeUrl(col("url"))
          .as("canonical")),
      oracle = s"WITH u AS (SELECT doc_id, $WEBURL AS url FROM documents)," +
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

    // ---- per-domain document cap: bound any single host's influence on
    // the corpus — deterministic keep-top-k by (n_chars desc, doc_id) ----
    QueryDef("q_domain_cap", (s, dir) => {
      val d = docs(s, dir).withColumn("domain",
        concat(lit("site"), (col("doc_id") % 7).cast("string"), lit(".com")))
      graft.pipeline.Sampling.capPerGroup(d, "domain", 5,
          col("n_chars").desc, col("doc_id").asc)
        .select("doc_id", "domain", "n_chars")
    },
      oracle = "SELECT doc_id," +
        " 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain, n_chars" +
        " FROM documents QUALIFY row_number() OVER" +
        " (PARTITION BY 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com'" +
        " ORDER BY n_chars DESC, doc_id) <= 5"),

    // ---- host-graph PageRank in fixed-point integer arithmetic (the
    // crawl-quality prior): 5 rounds over a deterministic link graph
    // derived from doc ids; bigint micro-unit ranks hash-oracle exactly
    // because every sum and division is order-independent ----
    QueryDef("q_pagerank", (s, dir) => {
      val d = docs(s, dir)
      val e1 = d.select((col("doc_id") % 97).as("src"),
        ((col("doc_id") * 31 + 7) % 89).as("dst"))
      val e2 = d.select(((col("doc_id") * 13 + 5) % 83).as("src"),
        (col("doc_id") % 97).as("dst"))
      graft.pipeline.Graph.pageRank(e1.unionByName(e2), iters = 5)
    },
      oracle = pagerankSql),

    // ---- host blocklist filter: exact anti-join of canonicalized
    // hosts against a curated block set (opt-out / abuse domains) —
    // broadcast LEFT ANTI, one corpus scan, nothing shuffles ----
    QueryDef("q_host_blocklist", (s, dir) => {
      import s.implicits._
      import graft.functions.{WebFunctions => W}
      val hosted = urlFixture(docs(s, dir))
        .select(col("doc_id"),
          W.hostOf(W.canonicalizeUrl(col("url"))).as("host"))
      W.dropBlockedHosts(hosted, Seq("site0.com", "site3.com").toDF("host"))
    },
      oracle = "SELECT doc_id," +
        " 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host" +
        " FROM documents WHERE doc_id % 5 NOT IN (0, 3)"),

    // ---- the composed WEB-CURATION pipeline: raw crawl pages → HTML →
    // text extraction → link-density boilerplate gate (pure density:
    // fixed anchor mass over variable text, so the gate is also a
    // minimum-content gate) → URL canonicalization → per-host cap →
    // host-level PageRank quality prior joined onto the kept docs.
    // Five first-class stages chained the way a web corpus build chains
    // them; every decision integer/md5-exact, oracle = the proven stage
    // derivations composed ----
    QueryDef("q_pipeline_web", (s, dir) => {
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
    },
      oracle = "WITH " + pageRankCtes(
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
        " CAST(regexp_extract(c.host, 'site([0-9]+)\\.com', 1) AS BIGINT)")
  )
}
