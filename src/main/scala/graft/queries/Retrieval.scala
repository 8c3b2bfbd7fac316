package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.{Ann, Dedup}

import Fixtures._

/** Retrieval: BM25, postings, phrase/proximity/KWIC search, hybrid RRF,
  * store-served and versioned postings, takedowns and pins. */
object RetrievalQueries extends QueryFamily {

  /** Parameterized BM25 scoring SQL for an arbitrary term list —
    * identical parenthesization per factor; df/N/avgdl from one scalar
    * row; per-term floor(score*1e4 + 1e-6) summed as integers. */
  private def bm25SqlFor(terms: Seq[String],
      from: String = "documents"): String = {
    def term(w: String, df: String): String = {
      val tf = s"CAST(len(list_filter(tk, x -> x = '$w')) AS DOUBLE)"
      val idf = s"ln((CAST((SELECT n FROM st) - (SELECT $df FROM st) AS DOUBLE) + 0.5)" +
        s" / (CAST((SELECT $df FROM st) AS DOUBLE) + 0.5) + 1.0)"
      val dl = "CAST(len(tk) AS DOUBLE)"
      val avgdl = "(CAST((SELECT sumdl FROM st) AS DOUBLE) / CAST((SELECT n FROM st) AS DOUBLE))"
      s"CAST(floor($idf * (($tf * (1.2 + 1.0)) / ($tf + 1.2 *" +
        s" ((1.0 - 0.75) + 0.75 * ($dl / $avgdl)))) * 10000.0 + 1e-6) AS BIGINT)"
    }
    val dfDefs = terms.zipWithIndex.map { case (w, i) =>
      s" sum(CASE WHEN list_contains(tk, '$w') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",")
    val score = terms.zipWithIndex
      .map { case (w, i) => term(w, s"df$i") }.mkString(" + ")
    s"WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM $from)," +
      s" st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl,$dfDefs FROM t)" +
      " SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl," +
      s" $score AS score_e4" +
      " FROM t"
  }

  private lazy val bm25Sql: String = bm25SqlFor(Seq("the", "of", "data"))

  /** Shared hybrid-RRF oracle CTEs (q_hybrid_rrf + the search
    * flagship): brute-cosine top-20 ranking for query vector 0, integer
    * floor(1e8/(60+rank)) contributions unioned with the caller's
    * `bm` CTE (BM25 top-k), summed per doc — ends at `sc(doc_id,
    * rrf_e8)`. ONE copy so the two oracles can never drift. */
  private lazy val rrfScoredCtes: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def norm(a: String) =
      s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    "q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)," +
      " c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings)," +
      s" s AS (SELECT neighbor_id, ${dot("qvec", "cvec")} / (${norm("qvec")} * ${norm("cvec")}) AS cosine" +
      " FROM c, q WHERE neighbor_id <> 0)," +
      " ann AS (SELECT neighbor_id AS doc_id, rank FROM" +
      " (SELECT neighbor_id, CAST(row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank FROM s)" +
      " WHERE rank <= 20)," +
      " u AS (SELECT doc_id, 100000000 // (60 + rank) AS contrib FROM bm" +
      " UNION ALL SELECT doc_id, 100000000 // (60 + rank) FROM ann)," +
      " sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_e8" +
      " FROM u GROUP BY 1)"
  }

  /** BM25 top-k oracle (q_bm25_topk and q_bm25_index — the index-served
    * path is bit-identical to the scan path by contract, so one oracle
    * proves both). */
  private lazy val bm25TopKSql: String = bm25TopKSqlFor("documents")

  /** The BM25 top-k oracle over an arbitrary `from` relation. */
  private def bm25TopKSqlFor(from: String): String =
    s"SELECT doc_id, dl, score_e4, rank FROM (SELECT doc_id, dl, score_e4," +
      " CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rank" +
      s" FROM (${bm25SqlFor(Seq("the", "of", "data"), from)})) WHERE rank <= 20"

  /** Phrase-search oracle (q_phrase_search and q_postings_incr — the
    * incremental store covers the full corpus, so serving from it must
    * reproduce the full-corpus derivation exactly). The takedown
    * queries (q_phrase_delete / q_postings_gc) re-derive over the live
    * slice only via `from`. */
  private lazy val phraseSearchSql: String = phraseSearchSqlFor("documents")

  /** Phrase search over the corpus minus the taken-down doc_id % 7 = 2
    * slice. */
  private lazy val phraseTakedownSql: String =
    phraseSearchSqlFor("(SELECT * FROM documents WHERE doc_id % 7 <> 2)")

  val defs: Seq[QueryDef] = Seq(
    // ---- BM25 relevance scoring: one corpus pass, document frequencies
    // and length stats as a single cross-joined scalar row, per-term
    // contributions floored to integer 1e-4 units before the sum ----
    QueryDef("q_bm25", (s, dir) =>
      graft.pipeline.Retrieval.bm25(docs(s, dir), Seq("the", "of", "data")),
      // BM25: identical parenthesization per factor; df/N/avgdl from one
      // scalar row; per-term floor(score*1e4 + 1e-6) summed as integers
      oracle = bm25Sql),

    // ---- BM25 top-k retrieval: per-partition k-heaps merge on one
    // reducer (TakeOrderedAndProject), never a global sort ----
    QueryDef("q_bm25_topk", (s, dir) =>
      graft.pipeline.Retrieval.bm25TopK(docs(s, dir),
        Seq("the", "of", "data"), k = 20),
      // BM25 top-k: same scoring, global (score desc, id) rank capped at 20
      oracle = bm25TopKSql),

    // ---- inverted index: per-token true document frequency + capped
    // posting list (lowest 5 doc ids with aligned tfs — the cap is
    // exercised by every stopword at this SF; n_docs > 5 marks
    // truncation). The cap applies BEFORE any list materializes.
    // Driver surface flattens the aligned arrays to ','-joined strings:
    // the harness comparator sorts columns with pandas, which cannot
    // order list cells — the ONLY query whose natural output carries
    // arrays, so keep every driver query array-free ----
    QueryDef("q_postings", (s, dir) =>
      graft.pipeline.Retrieval.postings(docs(s, dir), maxPostings = 5)
        .select(col("token"), col("n_docs"),
          expr("array_join(transform(post_ids, x -> cast(x as string)), ',')")
            .as("post_ids"),
          expr("array_join(transform(post_tfs, x -> cast(x as string)), ',')")
            .as("post_tfs")),
      // inverted index: same (token, doc) tf aggregate, window cap at 5,
      // ordered list aggregates for the aligned posting arrays
      oracle = "WITH tf AS (SELECT token, doc_id, count(*) AS tf FROM" +
        " (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token" +
        " FROM documents) GROUP BY token, doc_id)," +
        " capped AS (SELECT token, doc_id, tf," +
        " row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn," +
        " count(*) OVER (PARTITION BY token) AS n_docs FROM tf)" +
        " SELECT token, CAST(max(n_docs) AS BIGINT) AS n_docs," +
        " string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS post_ids," +
        " string_agg(CAST(tf AS VARCHAR), ',' ORDER BY doc_id) AS post_tfs" +
        " FROM capped WHERE rn <= 5 GROUP BY token"),

    // ---- exact phrase search over the POSITIONAL postings index:
    // per-token scan pruning (only the phrase's tokens' rows are read),
    // occurrence→start voting, one map-side-combined aggregate ----
    QueryDef("q_phrase_search", (s, dir) =>
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.positionalPostings(docs(s, dir)),
        Seq("table", "value")),
      // phrase search: starts re-derived per doc from the token array
      // (1-based DuckDB list indices → the engine's 0-based positions)
      oracle = phraseSearchSql),

    // ---- proximity search: 'spark' and 'table' within a 6-token
    // window, any order — the phrase voting frame with the slot
    // constraint relaxed to distinct-term votes per start; served from
    // the PERSISTED index (token-pruned point read, no re-tokenize) ----
    QueryDef("q_proximity_search", (s, dir) =>
      graft.pipeline.Retrieval.proximitySearch(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsStoreDir(s, dir)),
        Seq("spark", "table"), window = 6),
      // proximity: every 1-based start whose 6-token slice contains both
      // terms (list slicing clamps at the doc edge exactly like the
      // engine's vote clamp)
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h AS (SELECT doc_id, list_filter(generate_series(1, len(tk))," +
        " i -> len(list_filter(tk[i:i+5], x -> x = 'spark')) > 0" +
        " AND len(list_filter(tk[i:i+5], x -> x = 'table')) > 0) AS st" +
        " FROM t)" +
        " SELECT doc_id, CAST(len(st) AS BIGINT) AS n_windows," +
        " CAST(st[1] - 1 AS BIGINT) AS first_start" +
        " FROM h WHERE len(st) > 0"),

    // ---- KWIC snippets over the phrase hits: ±3 tokens of context
    // around each doc's first occurrence, edge-clamped; hits come from
    // the PERSISTED index, text enters via one id-keyed join against
    // the hit set (the only corpus touch), never a shuffle ----
    QueryDef("q_kwic_snippets", (s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.Retrieval.kwicSnippets(d,
        graft.pipeline.Retrieval.phraseSearch(
          graft.pipeline.Retrieval.readPostingsIndex(s,
            graft.sources.WireFixtures.postingsStoreDir(s, dir)),
          Seq("table", "value")),
        phraseLen = 2, context = 3)
    },
      // KWIC: the same hit derivation, then a 1-based clamped list slice
      // (engine start0 = max(first_pos-3, 0) 0-based → +1 here)
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h AS (SELECT doc_id, tk, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)," +
        " f AS (SELECT doc_id, tk, CAST(st[1] - 1 AS BIGINT) AS first_pos" +
        " FROM h WHERE len(st) > 0)" +
        " SELECT doc_id, first_pos," +
        " array_to_string(tk[CAST(greatest(first_pos - 3, 0) + 1 AS BIGINT):" +
        "CAST(least(first_pos + 2 + 3, len(tk)) AS BIGINT)], ' ') AS snippet" +
        " FROM f"),

    // ---- KWIC for PROXIMITY hits: the relaxed query's triage surface —
    // the 6-token window at each doc's first matching start, ±3 context
    // tokens, edge-clamped; same hit-sized id join as the phrase KWIC ----
    QueryDef("q_kwic_proximity", (s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.Retrieval.kwicProximity(d,
        graft.pipeline.Retrieval.proximitySearch(
          graft.pipeline.Retrieval.readPostingsIndex(s,
            graft.sources.WireFixtures.postingsStoreDir(s, dir)),
          Seq("spark", "table"), window = 6),
        window = 6, context = 3)
    },
      // proximity KWIC: the proximity hit derivation, then the same
      // 1-based clamped list slice with span 6 (engine start0 =
      // max(first_start-3, 0) 0-based → +1 here; end = first_start+6+3)
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h AS (SELECT doc_id, tk, list_filter(generate_series(1, len(tk))," +
        " i -> len(list_filter(tk[i:i+5], x -> x = 'spark')) > 0" +
        " AND len(list_filter(tk[i:i+5], x -> x = 'table')) > 0) AS st" +
        " FROM t)," +
        " f AS (SELECT doc_id, tk, CAST(st[1] - 1 AS BIGINT) AS first_start" +
        " FROM h WHERE len(st) > 0)" +
        " SELECT doc_id, first_start," +
        " array_to_string(tk[CAST(greatest(first_start - 3, 0) + 1 AS BIGINT):" +
        "CAST(least(first_start + 6 + 3, len(tk)) AS BIGINT)], ' ') AS snippet" +
        " FROM f"),

    // ---- INCREMENTALLY-built postings index, served: the store's base
    // slice was written once, the held-back slice appended later (only
    // the batch tokenized, stored rows never rewritten) — phrase search
    // over the persisted index must equal the full-corpus derivation ----
    QueryDef("q_postings_incr", (s, dir) =>
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsStoreDir(s, dir)),
        Seq("table", "value")),
      // incremental-store phrase search: the store covers the full corpus
      // (base slice + appended slice), so the full-corpus derivation IS
      // the oracle — identical output proves append ≡ rebuild
      oracle = phraseSearchSql),

    // ---- BM25 top-k served FROM the persisted index: tf from the
    // token-pruned postings scan, df from a terms-sized aggregate, dl
    // from the doclens norms — document text never read; scores
    // bit-identical to q_bm25_topk (same oracle) ----
    QueryDef("q_bm25_index", (s, dir) => {
      val store = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndex(s, store),
        graft.pipeline.Retrieval.readDocLengths(s, store),
        Seq("the", "of", "data"), k = 20)
    },
      // index-served BM25 is bit-identical to the scan path by contract —
      // same oracle proves it (tf/df/dl from the store, not the text)
      oracle = bm25TopKSql),

    // ---- the composed SEARCH/AUDIT pipeline (retrieval flagship):
    // everything serves from the INCREMENTALLY-built postings store —
    // BM25 top-20 from pruned postings + doclens, fused (RRF) with the
    // brute-cosine top-20 for query vector 0, each fused hit annotated
    // with its phrase-audit flag (one pruned index pass) and its length
    // norm. Four round-9 surfaces chained the way a search result page
    // chains them; integer-exact end-to-end ----
    QueryDef("q_pipeline_search", (s, dir) => {
      val R = graft.pipeline.Retrieval
      val store = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      val postings = R.readPostingsIndex(s, store)
      val doclens = R.readDocLengths(s, store)
      val bm = R.bm25TopKFromIndex(postings, doclens,
        Seq("the", "of", "data"), k = 20).select("doc_id", "rank")
      val e = vecs(s, dir)
      val vecRank = Ann.bruteForceTopK(e.where(col("id") === 0), e, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      val fused = R.rrfFuse(Seq(bm, vecRank), topK = 10)
      val hits = R.phraseSearch(postings, Seq("table", "value"))
      fused
        .join(hits.select(col("doc_id"), lit(true).as("has_phrase")),
          Seq("doc_id"), "left")
        .join(doclens, "doc_id")
        .select(col("rank"), col("doc_id"), col("rrf_e8"),
          coalesce(col("has_phrase"), lit(false)).as("has_phrase"),
          col("dl"))
    },
      // composed search/audit flagship: the shared hybrid-RRF derivation
      // extended with the phrase-audit flag and the store's length norm
      // per fused hit
      oracle = s"WITH bm AS ($bm25TopKSql), $rrfScoredCtes," +
        " fused AS (SELECT doc_id, rrf_e8, rank FROM" +
        " (SELECT doc_id, rrf_e8, CAST(row_number() OVER" +
        " (ORDER BY rrf_e8 DESC, doc_id) AS BIGINT) AS rank FROM sc)" +
        " WHERE rank <= 10)," +
        " t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " ph AS (SELECT doc_id, TRUE AS hp FROM" +
        " (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)" +
        " WHERE len(st) > 0)," +
        " dlt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t)" +
        " SELECT rank, fused.doc_id, rrf_e8," +
        " coalesce(hp, FALSE) AS has_phrase, dl" +
        " FROM fused LEFT JOIN ph USING (doc_id) JOIN dlt USING (doc_id)"),

    // ---- HYBRID retrieval: reciprocal-rank fusion of the BM25 top-20
    // (lexical) with the brute-cosine top-20 for query vector 0
    // (semantic) — integer-exact floor(1e8/(60+rank)) contributions,
    // k-sized inputs, TakeOrderedAndProject final ----
    QueryDef("q_hybrid_rrf", (s, dir) => {
      val textRank = graft.pipeline.Retrieval.bm25TopK(docs(s, dir),
        Seq("the", "of", "data"), k = 20).select("doc_id", "rank")
      val e = vecs(s, dir)
      val vecRank = Ann.bruteForceTopK(e.where(col("id") === 0), e, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.pipeline.Retrieval.rrfFuse(Seq(textRank, vecRank), topK = 10)
    },
      // hybrid RRF: both rankings re-derived (BM25 top-20 via the shared
      // scoring SQL; brute cosine top-20 for query vector 0), fused with
      // the same integer floor(1e8/(60+rank)) contributions
      oracle = s"WITH bm AS ($bm25TopKSql), $rrfScoredCtes" +
        " SELECT doc_id, rrf_e8, rank FROM" +
        " (SELECT doc_id, rrf_e8, CAST(row_number() OVER" +
        " (ORDER BY rrf_e8 DESC, doc_id) AS BIGINT) AS rank FROM sc)" +
        " WHERE rank <= 10"),

    // ---- STORE-SERVED hybrid retrieval: the same RRF fusion with both
    // legs reading MAINTAINED INDEXES, never sources — the high-QPS
    // twin of q_hybrid_rrf (which stays the exactness oracle for the
    // fusion algebra over scan-path legs). Lexical leg: BM25 top-20
    // from the postings store (token-pruned scan, bit-identical to the
    // corpus-scan path by q_bm25_index's contract). Semantic leg: each
    // query id < 15 probes the persisted IVF store and its planted
    // rank-1 twin (cosine 1.0 — deterministic under any codebook, the
    // q_ann_store contract) forms the related-docs ranking ordered by
    // query id. Document text is never read and only the probed cells'
    // int8 rows are scanned — PlansSpec holds both. Reference
    // analogue: serving reads the maintained index, never the source
    // (databus-core/.../ScnIndex.java:623 skip-scan) ----
    QueryDef("q_hybrid_rrf_store", (s, dir) => {
      val R = graft.pipeline.Retrieval
      val pstore = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      val textRank = R.bm25TopKFromIndex(
        R.readPostingsIndex(s, pstore), R.readDocLengths(s, pstore),
        Seq("the", "of", "data"), k = 20).select("doc_id", "rank")
      val all = vecs(s, dir)
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      val vecRank = Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15),
          withTwins, graft.sources.WireFixtures.annIndexDir(s, dir), k = 5)
        .where(col("rank") === 1)
        .select(col("neighbor_id").as("doc_id"),
          graft.pipeline.Ranks.globalRowNumber(col("query_id"),
            col("query_id")).cast("long").as("rank"))
      R.rrfFuse(Seq(textRank, vecRank), topK = 10)
    },
      // store-served hybrid: the lexical leg is the same BM25 top-20 (the
      // index path is bit-identical by contract), the semantic leg is the
      // planted rank-1 twin of each query id < 15 ranked by query id —
      // fusion algebra identical to q_hybrid_rrf
      oracle = s"WITH bm AS ($bm25TopKSql)," +
        " ann AS (SELECT vec_id + 1000000 AS doc_id," +
        " CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS rank" +
        " FROM embeddings WHERE vec_id < 15)," +
        " u AS (SELECT doc_id, 100000000 // (60 + rank) AS contrib FROM bm" +
        " UNION ALL SELECT doc_id, 100000000 // (60 + rank) FROM ann)," +
        " sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_e8" +
        " FROM u GROUP BY 1)" +
        " SELECT doc_id, rrf_e8, rank FROM" +
        " (SELECT doc_id, rrf_e8, CAST(row_number() OVER" +
        " (ORDER BY rrf_e8 DESC, doc_id) AS BIGINT) AS rank FROM sc)" +
        " WHERE rank <= 10"),

    // ---- BATCH phrase suite: every phrase answered by ONE pass over
    // the union of the suite's token postings (vs a per-phrase rescan);
    // single-token and multi-token phrases share the voting frame ----
    QueryDef("q_phrase_batch", (s, dir) =>
      graft.pipeline.Retrieval.phraseSearchAll(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsStoreDir(s, dir)),
        Seq(Seq("table", "value"), Seq("the", "data"), Seq("spark"))),
      // batch suite: union of per-phrase derivations tagged by phrase id
      // (single-token phrase 2 matches every doc containing the token)
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk" +
        " FROM documents)," +
        " h0 AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'table' AND tk[i+1] = 'value') AS st FROM t)," +
        " h1 AS (SELECT doc_id, list_filter(generate_series(1, len(tk) - 1)," +
        " i -> tk[i] = 'the' AND tk[i+1] = 'data') AS st FROM t)," +
        " h2 AS (SELECT doc_id, list_filter(generate_series(1, len(tk))," +
        " i -> tk[i] = 'spark') AS st FROM t)" +
        " SELECT CAST(0 AS BIGINT) AS phrase_id, doc_id," +
        " CAST(len(st) AS BIGINT) AS n_hits," +
        " CAST(st[1] - 1 AS BIGINT) AS first_pos FROM h0 WHERE len(st) > 0" +
        " UNION ALL SELECT CAST(1 AS BIGINT), doc_id," +
        " CAST(len(st) AS BIGINT), CAST(st[1] - 1 AS BIGINT)" +
        " FROM h1 WHERE len(st) > 0" +
        " UNION ALL SELECT CAST(2 AS BIGINT), doc_id," +
        " CAST(len(st) AS BIGINT), CAST(st[1] - 1 AS BIGINT)" +
        " FROM h2 WHERE len(st) > 0"),

    // ---- store COMPACTION: five trickle appends (the first one
    // publishes the store's generation 1) leave five overlapping token
    // ranges; compaction publishes the canonical range layout as the
    // next generation and serving over the compacted store is
    // row-identical to the full-corpus derivation ----
    QueryDef("q_postings_compact", (s, dir) => {
      val root = tempQueryDir("pcompact").toString
      val d = docs(s, dir).select("doc_id", "text")
      (0 until 5).foreach(i =>
        graft.pipeline.Retrieval.appendToPostingsIndex(
          d.where(col("doc_id") % 5 === i), s"$root/index"))
      graft.pipeline.Retrieval.compactPostingsIndex(s, s"$root/index")
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        Seq("table", "value"))
    },
      // compaction is row-identical by construction — the same oracle
      // proves serving over the compacted store
      oracle = phraseSearchSql),

    // ---- BATCH BM25 serving: two term queries answered by ONE pruned
    // pass over the postings store (df/norms shared — corpus
    // properties); per-query scores bit-identical to the single-query
    // index path, rank a per-query window ----
    QueryDef("q_bm25_multi", (s, dir) => {
      val store = graft.sources.WireFixtures.postingsStoreDir(s, dir)
      graft.pipeline.Retrieval.bm25TopKFromIndexBatch(
        graft.pipeline.Retrieval.readPostingsIndex(s, store),
        graft.pipeline.Retrieval.readDocLengths(s, store),
        Seq(0L -> Seq("the", "of", "data"), 1L -> Seq("table", "value")),
        k = 10)
    },
      // batch serving: per-query full scoring re-derived and ranked,
      // tagged with the query id — the union is the batch
      oracle = {
      def one(qid: Int, terms: Seq[String]): String =
        s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, dl, score_e4, rank" +
          s" FROM (SELECT doc_id, dl, score_e4," +
          " CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rank" +
          s" FROM (${bm25SqlFor(terms)})) WHERE rank <= 10"
      one(0, Seq("the", "of", "data")) + " UNION ALL " +
        one(1, Seq("table", "value"))
    }),

    // ---- TAKEDOWN-aware phrase serving: the store holds the full
    // corpus but doc_id % 7 = 2 is tombstoned (O(request) — stored rows
    // untouched); the read's broadcast anti-join must make the hits
    // indistinguishable from an index that never saw those docs ----
    QueryDef("q_phrase_delete", (s, dir) =>
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s,
          graft.sources.WireFixtures.postingsTakedownDir(s, dir)),
        Seq("table", "value")),
      // takedown: serving over the tombstoned store must equal an index
      // that never saw doc_id % 7 = 2 — the oracle re-derives over the
      // live slice only; the GC query (physical purge + cleared set) has
      // the identical contract
      oracle = phraseTakedownSql),

    // ---- TAKEDOWN-aware BM25 serving: the deleted docs must leave not
    // just the result set but the CORPUS STATISTICS — N, avgdl and
    // every df shrink to the live slice (the oracle recomputes all of
    // them over live docs only), or deleted documents keep distorting
    // every score ----
    QueryDef("q_bm25_delete", (s, dir) => {
      val store = graft.sources.WireFixtures.postingsTakedownDir(s, dir)
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndex(s, store),
        graft.pipeline.Retrieval.readDocLengths(s, store),
        Seq("the", "of", "data"), k = 20)
    },
      // BM25 after takedown: N, avgdl and every df recomputed over the
      // live slice — deleted docs leave the corpus statistics, not just
      // the result set
      oracle = bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 7 <> 2)")),

    // ---- takedown GC: tombstone, then COMPACT — the rewrite publishes
    // a fresh generation of the live rows (empty overlay) and gc retires
    // the old one, physically dropping the tombstoned rows — then serve;
    // results identical to the tombstone-only read ----
    QueryDef("q_postings_gc", (s, dir) => {
      val root = tempQueryDir("pgc").toString
      val d = docs(s, dir).select("doc_id", "text")
      graft.pipeline.Retrieval.writePostingsIndex(d, s"$root/index")
      graft.pipeline.Retrieval.tombstoneDocsDf(
        d.select("doc_id").where(col("doc_id") % 7 === 2), s"$root/index")
      graft.pipeline.Retrieval.compactPostingsIndex(s, s"$root/index")
      graft.pipeline.Retrieval.phraseSearch(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        Seq("table", "value"))
    },
      oracle = phraseTakedownSql),

    // ---- SNAPSHOT-PINNED serving: three append batches land in the
    // store, but the read pins `as of batch 1` — batch 2's files are
    // partition-pruned out of the plan, and BM25's N/avgdl/df are the
    // snapshot's, not the store head's. The reproducibility contract a
    // training run needs: pin the index state it saw, replay it after
    // any number of later appends ----
    QueryDef("q_postings_asof", (s, dir) => {
      val root = tempQueryDir("asof").toString
      val d = docs(s, dir).select("doc_id", "text")
      (0 until 3).foreach(b =>
        graft.pipeline.Retrieval.appendToPostingsIndexBatch(
          d.where(col("doc_id") % 3 === b), s"$root/index", b))
      val R = graft.pipeline.Retrieval
      val V = graft.pipeline.VersionedStore
      val asOf1 = Some(V.Pin(V.currentGen(s"$root/index").get, Some(1L)))
      R.bm25TopKFromIndex(R.readPostingsIndex(s, s"$root/index", asOf1),
        R.readDocLengths(s, s"$root/index", asOf1),
        Seq("the", "of", "data"), k = 20)
    },
      // snapshot-pinned serving: the as-of-batch-1 state is exactly the
      // docs batches 0 and 1 carried (doc_id % 3 <> 2) — BM25 statistics
      // included
      oracle = bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 3 <> 2)")),

    // ---- ONE time-travel coordinate for the postings store — the
    // retrieval twin of q_ann_pin: BOTH axes move after the capture
    // (one more append batch, then a compaction that publishes a fresh
    // generation), and the pinned BM25 still serves the snapshot's
    // scores — corpus statistics included — while the head serves the
    // full post-compaction store. keepGenerations=1 is the retention
    // policy that keeps the pin alive ----
    QueryDef("q_retrieval_pin", (s, dir) => {
      val root = tempQueryDir("retpin").toString
      val R = graft.pipeline.Retrieval
      val d = docs(s, dir).select("doc_id", "text")
      R.writePostingsIndex(d.where(col("doc_id") % 3 === 0), s"$root/index",
        batchId = Some(0L))
      R.appendToPostingsIndexBatch(
        d.where(col("doc_id") % 3 === 1), s"$root/index", 1L)
      val pin = graft.pipeline.VersionedStore.pin(s"$root/index")
      R.appendToPostingsIndexBatch(
        d.where(col("doc_id") % 3 === 2), s"$root/index", 2L)
      R.compactPostingsIndex(s, s"$root/index", keepGenerations = 1)
      val terms = Seq("the", "of", "data")
      R.bm25TopKFromStorePinned(s, s"$root/index", pin, terms, k = 20)
        .withColumn("probe_view", lit("pinned"))
        .unionByName(R.bm25TopKFromIndex(
            R.readPostingsIndex(s, s"$root/index"),
            R.readDocLengths(s, s"$root/index"), terms, k = 20)
          .withColumn("probe_view", lit("head")))
    },
      // unified (gen, maxBatch) pin on the postings store: q_postings_asof's
      // snapshot contract holding across a later append AND a later
      // compaction-publish — pinned scores derive from the two pinned
      // batches' slice, head from the full corpus
      oracle = "SELECT *, 'pinned' AS probe_view FROM (" +
        bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 3 <> 2)") +
        ") UNION ALL SELECT *, 'head' FROM (" + bm25TopKSql + ")"),

    // ---- VERSIONED multi-table index: the postings+doclens PAIR
    // published as atomic generations behind one pointer flip — the
    // protocol that ELIMINATES the two-commit crash window (docs
    // indexed without norms) instead of detecting it. Generation 1
    // indexes half the corpus, generation 2 the whole; a third publish
    // CRASHES before its completeness marker (simulated) and must be
    // invisible. Serving reads BOTH: the current generation (BM25 over
    // the full corpus) and the PINNED generation 1 (BM25 over the half
    // corpus — whole-rebuild snapshot reproducibility), tagged by gen;
    // the oracle re-derives each from its slice ----
    QueryDef("q_bm25_versioned", (s, dir) => {
      val root = tempQueryDir("vidx").toString +
        "/index"
      val R = graft.pipeline.Retrieval
      val V = graft.pipeline.VersionedStore
      val d = docs(s, dir).select("doc_id", "text")
      def tables(slice: DataFrame) = Map(
        "postings" -> R.positionalPostings(slice)
          .repartitionByRange(4, col("token"))
          .sortWithinPartitions("token", "doc_id", "pos"),
        "doclens" -> R.docLengths(slice).coalesce(2))
      val g1 = V.publish(root, tables(d.where(col("doc_id") % 2 === 0)))
      val g2 = V.publish(root, tables(d))
      // a publish that crashes mid-write leaves dead bytes, never a
      // torn pair: tables down, marker missing, pointer unmoved
      R.docLengths(d.limit(3)).write.parquet(s"$root/gen-9/doclens")
      val terms = Seq("the", "of", "data")
      val at1 = Some(V.Pin(g1, None))
      R.bm25TopKFromIndex(R.readPostingsIndex(s, root),
          R.readDocLengths(s, root), terms, k = 20)
        .withColumn("gen", lit(g2))
        .unionByName(R.bm25TopKFromIndex(
            R.readPostingsIndex(s, root, at1),
            R.readDocLengths(s, root, at1), terms, k = 20)
          .withColumn("gen", lit(g1)))
    },
      // versioned index: the current generation is the full corpus, the
      // pinned generation 1 the doc_id-even half; each BM25 re-derives
      // from its slice (the crashed generation 9 must contribute nothing)
      oracle = s"SELECT *, CAST(2 AS BIGINT) AS gen FROM (${bm25TopKSqlFor(
        "documents")})" +
        s" UNION ALL SELECT *, CAST(1 AS BIGINT) AS gen FROM (${
          bm25TopKSqlFor("(SELECT * FROM documents WHERE doc_id % 2 = 0)")})"),

    // ---- VERSIONED takedown: the O(request) erasure path for
    // generation-published stores — the id set lands as a tombstone
    // OVERLAY under EVERY retained complete generation (request-sized
    // appends; no table read or rewritten, no immediate corpus-sized
    // republish), and live serving filters it everywhere: the current
    // generation's BM25 (N/avgdl/df shrink) AND the pinned generation
    // (time travel must not resurrect erased docs). The physical purge
    // rides the next live-row publish; gc bounds pinned-read
    // reachability. Oracle re-derives both generations from their live
    // slices ----
    QueryDef("q_takedown_versioned", (s, dir) => {
      val root = tempQueryDir("vtd").toString +
        "/index"
      val R = graft.pipeline.Retrieval
      val V = graft.pipeline.VersionedStore
      val d = docs(s, dir).select("doc_id", "text")
      R.writePostingsIndex(d.where(col("doc_id") % 2 === 0), root) // gen 1
      R.writePostingsIndex(d, root) // gen 2
      // the erasure request — one O(request) overlay append per
      // retained generation, routed by the store-root layout dispatch
      R.tombstoneDocsDf(d.select("doc_id").where(col("doc_id") % 7 === 2),
        root)
      val terms = Seq("the", "of", "data")
      R.bm25TopKFromIndex(R.readPostingsIndex(s, root),
          R.readDocLengths(s, root), terms, k = 20)
        .withColumn("gen", lit(2L))
        .unionByName(R.bm25TopKFromIndex(
            R.readPostingsIndex(s, root, Some(V.Pin(1L, None))),
            R.readDocLengths(s, root, Some(V.Pin(1L, None))), terms, k = 20)
          .withColumn("gen", lit(1L)))
    },
      // versioned takedown: the erased ids (doc_id % 7 = 2) leave BOTH
      // generations' serving — current re-derives from the full live
      // slice, the pinned generation from its even-id live slice (the
      // overlay applies to pinned reads; erasure wins over time travel)
      oracle = s"SELECT *, CAST(2 AS BIGINT) AS gen FROM (${bm25TopKSqlFor(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 2)")})" +
        s" UNION ALL SELECT *, CAST(1 AS BIGINT) AS gen FROM (${
          bm25TopKSqlFor(
            "(SELECT * FROM documents WHERE doc_id % 2 = 0" +
              " AND doc_id % 7 <> 2)")})"),

    // ---- the composed TAKEDOWN pipeline — the round trip a real
    // leak response runs: (1) AUDIT: contamination attribution names
    // every train doc sharing ≥10% of an eval item's shingles
    // (self-matches excluded — eval ids overlap the corpus here);
    // (2) PURGE: the attributed ids tombstone the persisted postings
    // index in one O(request) write; (3) SERVE: BM25 from the store —
    // scores must match a corpus that never contained the leaked docs
    // (N, avgdl, df all shrink), which the oracle re-derives end-to-end
    // from the same attribution predicate ----
    QueryDef("q_pipeline_takedown", (s, dir) => {
      val root = tempQueryDir("tdpipe").toString
      val d = docs(s, dir).select("doc_id", "text")
      val purge = Dedup.contaminationReport(d,
          d.where(col("doc_id") < 50), maxGramDf = Int.MaxValue)
        .where(col("train_id") >= 50 && col("leak_bp") >= 1000)
        .select(col("train_id").as("doc_id")).distinct().persist()
      // the contamination scan and the index build are independent —
      // overlapped (guide §2.6); the tombstone append still lands only
      // after the store exists, from the cached purge set
      locally {
        val fIdx = graft.pipeline.Overlap.run(
          graft.pipeline.Retrieval.writePostingsIndex(d, s"$root/index"))
        val fPurge = graft.pipeline.Overlap.run { purge.count(); () }
        graft.pipeline.Overlap.settle(fIdx, fPurge)
      }
      graft.pipeline.Retrieval.tombstoneDocsDf(purge, s"$root/index")
      purge.unpersist()
      graft.pipeline.Retrieval.bm25TopKFromIndex(
        graft.pipeline.Retrieval.readPostingsIndex(s, s"$root/index"),
        graft.pipeline.Retrieval.readDocLengths(s, s"$root/index"),
        Seq("the", "of", "data"), k = 20)
    },
      // composed takedown pipeline: the live slice is "every doc the
      // attribution audit did NOT name" — same shingle/leak_bp derivation
      // as the q_contamination_report oracle, inlined as the purge
      // predicate, then the full BM25 re-derivation over what remains
      oracle = bm25TopKSqlFor(
      "(SELECT * FROM documents WHERE doc_id NOT IN (" +
        "WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " tg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh)," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " p AS (SELECT train_id, eval_id, CAST(count(*) AS BIGINT)" +
        " AS n_shared FROM tg JOIN eg USING (g) GROUP BY 1, 2)" +
        " SELECT DISTINCT train_id FROM p JOIN es USING (eval_id)" +
        " WHERE train_id >= 50 AND n_shared * 10000 // eval_grams >= 1000))"))
  )
}
