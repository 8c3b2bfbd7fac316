package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.Dedup
import graft.functions.{TextFunctions => TF}

/** Builders and oracle fragments shared by more than one query family. */
private[graft] object Fixtures {

  /** All queries read the ingest-once serving layout (Store), not the raw
    * single-file source tables — see Store's Scaladoc for why. */
  def env(s: SparkSession, dir: String): DataFrame =
    graft.sources.Store.eventLog(s, dir)

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Store.table(s, dir, name)

  /** Envelope view minus free-form props (the stable, hashable projection). */
  def envCore(s: SparkSession, dir: String): DataFrame =
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

  def tempQueryDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempQueryDirs.add(p)
    p
  }

  def docs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")

  def emb(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")

  /** The embeddings as (id, vec): the frame every ANN and semantic-dedup
    * operator takes. */
  def vecs(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Documents corpus with planted exact duplicates (each doc twice, the
    * copy shifted by +1,000,000 in id) — exercises the near-dup pipeline on
    * data that genuinely contains duplicates. */
  def dupCorpus(s: SparkSession, dir: String): DataFrame = {
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
  def verifiedDupPairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    pipeline.PlanCache.getOrPersist(corpus, "verified_pairs|0.8", {
      val cand = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(corpus, cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    })
  }

  /** Planted-merge BPE fixture shared by q_bpe_tokens and q_pack_bpe:
    * a fixed merges table plus a corpus whose per-doc token counts have
    * the closed form 2a+3b+2c+3d+5 the oracles re-derive — ONE
    * construction so the two queries can never drift apart. */
  lazy val plantedBpeModel = graft.functions.Bpe.Model(Seq(
    ("e", "r"), ("er", graft.functions.Bpe.EndOfWord), ("l", "o"),
    ("lo", "w"), ("low", "er" + graft.functions.Bpe.EndOfWord), ("r", "e")))

  def plantedBpeCorpus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .withColumn("a", (col("doc_id") % 3 + 1).cast("int"))
      .withColumn("b", (col("doc_id") % 4 + 1).cast("int"))
      .withColumn("c", (col("doc_id") % 2 + 1).cast("int"))
      .withColumn("d", (col("doc_id") % 5 + 1).cast("int"))
      .withColumn("text", concat(
        expr("repeat('lower ', a)"), expr("repeat('low ', b)"),
        expr("repeat('er ', c)"), expr("repeat('re ', d)"), lit("wide")))

  /** Envelope oracle CTE: the events table re-derived as the change
    * feed's envelope columns (scn, seq, ts_us, source_id, partition_id,
    * opcode, key_long, value). */
  val ENV =
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
  val MIXED =
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
  lazy val binlogParseSql: String =
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

  /** Naive Bayes oracle CTEs — mirror of Classifier.train + classify
    * over the 80% lang-labeled slice; per-(doc, class) scores land in
    * CTE `pairs` (doc_id, label, score_e4). */
  lazy val nbCtes: String = nbCtesFor("doc_id % 5 <> 0")

  /** The [[nbCtes]] derivation over an arbitrary train slice. */
  def nbCtesFor(trainWhere: String): String =
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

  /** Argmin-NLL classification over naive Bayes oracle CTEs. */
  def nbClassifySqlFor(ctes: String): String =
    s"WITH $ctes" +
      " SELECT doc_id, label, CAST(score_e4 AS BIGINT) AS nll_e4" +
      " FROM pairs QUALIFY row_number() OVER (PARTITION BY doc_id" +
      " ORDER BY score_e4, label) = 1"

  /** The phrase-search oracle over an arbitrary `from` relation. */
  def phraseSearchSqlFor(from: String): String =
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
  lazy val lmNllCtes: String = lmNllCtesFor("doc_id % 5 <> 0")

  /** The [[lmNllCtes]] derivation over an arbitrary train slice. */
  def lmNllCtesFor(trainWhere: String): String =
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

  /** Per-doc bigram-LM NLL over bigram-LM oracle CTEs. */
  def lmNllSqlFor(ctes: String): String =
    s"WITH $ctes" +
      " SELECT d.doc_id, CAST(coalesce(sc.n_terms, 0) AS BIGINT) AS n_terms," +
      " CAST(coalesce(sc.nll_e4, 0) AS BIGINT) AS nll_e4" +
      " FROM documents d LEFT JOIN sc USING (doc_id)"

  /** Shared line-strip oracle CTEs (q_line_dedup + the CCNet pipeline):
    * boilerplate injection, per-line explode with positions, the 1%
    * integer cross-multiplied doc-share threshold, and order-preserving
    * reassembly of surviving lines. */
  lazy val lineStripCtes: String =
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

  /** TF.qualityScore arithmetic as a bare SQL expression (over `text`). */
  lazy val qualityExprSql: String = {
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

  /** minhash oracle: ground truth = brute-force exact 3-gram Jaccard ≥ 0.8
    * over the planted-duplicate corpus (the LSH pipeline's recall at
    * j ≥ 0.8 with k=64/bands=16 is ≈ 1, and planted dups have j = 1).
    * The pairs are derived by shared-shingle equi-join
    * instead of the all-pairs cross join: any pair at Jaccard > 0 shares a
    * shingle, and with distinct shingle sets |A∩B| = the shared count and
    * |A∪B| = |A|+|B|−shared, so the result is IDENTICAL to the brute
    * force (verified) at ~100× less oracle wall time (the advisor flagged
    * the cross-join form at >7 min per evaluation at sf0.1). */
  lazy val minhashOracleSql: String = jaccardPairsOracleSql(0.8, "")

  /** Exact-Jaccard ≥ `threshold` pair set with optional extra constant
    * columns — shared by the minhash oracle and the simhash
    * signature-quality contract. */
  def jaccardPairsOracleSql(threshold: Double, extraCols: String,
      extraWhere: String = "", freshWhere: String = "",
      corpusWhere: String = ""): String = {
    "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
      s" SELECT doc_id + 1000000 AS doc_id, text FROM documents$freshWhere)," +
      s" sh AS (SELECT doc_id, $shingles3Sql AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM corpus$corpusWhere))," +
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

  /** Connected-components oracle scaffold: the brute-force exact-Jaccard
    * ≥ 0.8 edge set over the full planted-duplicate corpus (the edge-set
    * definition the LSH pipeline recalls at ≈1 — the same ground truth
    * q_dedup_minhash's oracle hash-proves), made symmetric, then a
    * recursive CTE floods every reachable label through the graph;
    * `SELECT ... min(lbl) ... GROUP BY id` is the transitive min-label —
    * exactly what the Spark propagation converges to. */
  def componentsOracleSql(select: String): String = {
    // same shared-shingle equi-join derivation as minhashOracleSql (exact,
    // identical to the all-pairs form, ~100× cheaper per evaluation)
    "WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
      " SELECT doc_id + 1000000 AS doc_id, text FROM documents)," +
      s" sh AS (SELECT doc_id, $shingles3Sql AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM corpus))," +
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

  /** DuckDB list of the distinct word 3-shingles of a `toks` list column:
    * the shingle set every n-gram oracle compares. */
  val shingles3Sql: String =
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))"

  /** The whole envelope: the feed every lossless re-encoding must
    * reproduce row for row. */
  val envelopeSql: String = s"$ENV SELECT * FROM envelope"

  /** Per-source totals of the GoldenGate trail: the batch parse and the
    * streaming assembly both hash-match it. */
  val trailTotalsSql: String =
    s"$ENV SELECT source_id, count(*) AS n_events," +
      " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
      " count(DISTINCT key_long) AS n_keys," +
      " min(scn) AS min_scn, max(scn) AS max_scn" +
      " FROM envelope GROUP BY source_id"

  /** The JDBC capture's txlog join over the SCN band: the batch read and
    * the streaming capture deliver the same rows. */
  val jdbcCaptureSql: String =
    "SELECT l_orderkey AS txn, o_orderkey * 10 AS scn, l_partkey, l_quantity" +
      " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      " WHERE o_orderkey * 10 > 100000 AND o_orderkey % 20 = 0"

  /** Planted-twin top-1 contract of the twin-planted ANN queries: each of
    * the first `queries` vectors finds its +1e6 twin at rank 1, cosine 1.0. */
  def twinTop1Sql(queries: Int): String =
    "SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
      " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
      s" FROM embeddings WHERE vec_id < $queries"

  /** ANN takedown contract: rank-1 is the twin (+1e6) where it is live,
    * the tritwin (+2e6) where the twin was taken down (query ids < 8). */
  val annTakedownTop1Sql: String =
    "SELECT vec_id AS query_id, CASE WHEN vec_id < 8" +
      " THEN vec_id + 2000000 ELSE vec_id + 1000000 END AS neighbor_id," +
      " CAST(1 AS INT) AS rank, CAST(1.0 AS DOUBLE) AS cosine" +
      " FROM embeddings WHERE vec_id < 15"

  /** Perceptual near-dup recall contract: every planted resized
    * derivative pairs with its original. */
  val imageNeardupSql: String =
    "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents" +
      " WHERE doc_id < 2000"

  /** Naive Bayes after unlearning the doc_id % 6 = 1 slice: the model
    * retrained without it. */
  lazy val nbUnlearnSql: String = nbClassifySqlFor(
    nbCtesFor("doc_id % 5 <> 0 AND NOT (doc_id % 6 = 1)"))

  /** Bigram-LM NLL after unlearning the doc_id % 6 = 1 slice: the model
    * retrained without it. */
  lazy val lmUnlearnSql: String = lmNllSqlFor(
    lmNllCtesFor("doc_id % 5 <> 0 AND NOT (doc_id % 6 = 1)"))
}
