package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.Dedup
import graft.functions.{TextFunctions => TF}

import Fixtures._

/** Dedup and decontamination: exact, minhash/LSH, n-gram, simhash,
  * embedding and semantic dedup, connected components and keep-one,
  * line/span/substring dedup, winnowing and content-defined chunking,
  * n-gram and semantic decontamination. */
object DedupQueries extends QueryFamily {

  /** Pinned pair-recall floor for q_semdedup_recall — the intra-cell
    * hyperplane-LSH configuration (8 planes × 4 tables, semdedup's
    * stated 100 TB regime) measured on the banded near-dup corpus
    * ([[graft.sources.WireFixtures.nearDupBandCorpus]]) at cosine 0.95:
    * 0.9724 / 0.9718 / 0.9697 at sf0.001 / sf0.01 / sf0.1, pinned with
    * headroom below the minimum. Deterministic (hash-derived jitter,
    * seeded k-means, seeded planes). The discriminating
    * too-concentrated case (16 planes × 1 table ≈ 0.44) is
    * SemanticWeightingSpec's. */
  private val RecallFloorSemdedupLsh = 0.93

  /** decontamination oracle: train docs sharing any distinct 3-gram with
    * the eval subset are dropped (same shingle construction as the
    * minhash oracle). */
  private lazy val decontaminateSql: String = {
    "WITH sh AS (SELECT doc_id, " + shingles3Sql + " AS s FROM" +
      " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents))," +
      " ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 50)," +
      " bad AS (SELECT DISTINCT t.doc_id FROM" +
      " (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN ev USING (g))" +
      " SELECT doc_id FROM documents" +
      " WHERE doc_id NOT IN (SELECT doc_id FROM bad)"
  }

  /** near-dup pipeline oracle: quality filter → shared-shingle ≥0.8 edge
    * set among survivors → recursive-CTE transitive closure → keep-one →
    * packing window. Same LSH-recall caveat as the component queries. */
  private lazy val pipelineNeardupSql: String = {
    "WITH RECURSIVE corpus AS (SELECT doc_id, lang, text FROM documents" +
      " UNION ALL SELECT doc_id + 1000000 AS doc_id, lang, text FROM documents)," +
      s" flt AS (SELECT doc_id, lang, text FROM corpus WHERE round($qualityExprSql, 6) >= 0.5)," +
      s" sh AS (SELECT doc_id, $shingles3Sql AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM flt))," +
      " u AS (SELECT doc_id, unnest(s) AS g FROM sh)," +
      " pairs AS (SELECT x.doc_id AS src, y.doc_id AS dst, count(*) AS shared" +
      " FROM u x JOIN u y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)," +
      " e AS (SELECT p.src, p.dst FROM pairs p JOIN sh a ON a.doc_id = p.src" +
      " JOIN sh b ON b.doc_id = p.dst" +
      " WHERE CAST(p.shared AS DOUBLE) / CAST(len(a.s) + len(b.s) - p.shared AS DOUBLE) >= 0.8)," +
      " ee AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e)," +
      " walk(id, lbl) AS (SELECT DISTINCT src AS id, src AS lbl FROM ee" +
      " UNION SELECT ee.dst AS id, walk.lbl FROM walk JOIN ee ON ee.src = walk.id)," +
      " dropids AS (SELECT id FROM (SELECT id, min(lbl) AS component FROM walk" +
      " GROUP BY id) WHERE id <> component)," +
      " kept AS (SELECT doc_id, lang, text FROM flt" +
      " WHERE doc_id NOT IN (SELECT id FROM dropids))," +
      " tk AS (SELECT lang, doc_id," +
      " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens FROM kept)" +
      " SELECT lang, doc_id, n_tokens," +
      " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
      " CAST((sum(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS chunk_id" +
      " FROM tk WINDOW w AS (PARTITION BY lang ORDER BY doc_id" +
      " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
  }

  /** n-gram Jaccard oracle: brute force over the same 200-doc subset. */
  private lazy val ngramOracleSql: String = {
    "WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 100 UNION ALL" +
      " SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 100)," +
      s" sh AS (SELECT doc_id, $shingles3Sql AS s FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM corpus))" +
      " SELECT a.doc_id AS id_a, b.doc_id AS id_b," +
      " round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 6) AS jaccard" +
      " FROM sh a JOIN sh b ON a.doc_id < b.doc_id" +
      " WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.6"
  }

  /** Planted-pair contract of the winnowing and chunking queries: each
    * doc with doc_id % 4 = 0 pairs with its +1e6 twin and `check` holds. */
  private def twinPairsHoldSql(check: String): String =
    "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
      s" TRUE AS $check FROM documents WHERE doc_id % 4 = 0"

  /** Semantic-dedup keep set over the twin-planted embeddings: originals
    * kept, +1e6 copies dropped. */
  private val semdedupKeptSql: String =
    "SELECT vec_id AS doc_id, TRUE AS kept FROM embeddings" +
      " UNION ALL" +
      " SELECT vec_id + 1000000 AS doc_id, FALSE AS kept FROM embeddings"

  /** Semantic decontamination survivors: every vector but the ten eval
    * twins. */
  private val semanticDecontamSql: String =
    "SELECT vec_id AS id FROM embeddings WHERE vec_id >= 10"

  val defs: Seq[QueryDef] = Seq(
    // ---- dedup: exact content-hash ----
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exact(dupCorpus(s, dir)),
      oracle = "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id, text FROM documents)" +
        " SELECT md5(text) AS content_hash, min(doc_id) AS rep_id," +
        " count(*) AS dup_count FROM corpus GROUP BY md5(text)"),

    // ---- dedup: normalize-before-hash — planted copies perturbed with
    // spacing/punctuation jitter defeat raw content hashing (dup_count 1)
    // but collapse under normalized hashing (dup_count 2+) ----
    QueryDef("q_dedup_normalized", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val perturbed = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(regexp_replace(col("text"), " ", "  "), lit(" !!")).as("text"))
      val corpus = d.unionByName(perturbed)
        .select(col("doc_id"), TF.normalizeText(col("text")).as("text"))
      Dedup.exact(corpus)
    },
      oracle = "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id," +
        " replace(text, ' ', '  ') || ' !!' AS text FROM documents)," +
        " norm AS (SELECT doc_id, lower(trim(regexp_replace(" +
        "regexp_replace(text, '[.,;:!?''\"()\\[\\]{}-]', ' ', 'g')," +
        " '\\s+', ' ', 'g'))) AS text FROM corpus)" +
        " SELECT md5(text) AS content_hash, min(doc_id) AS rep_id," +
        " count(*) AS dup_count FROM norm GROUP BY md5(text)"),

    // ---- dedup: minhash LSH candidates → exact n-gram-Jaccard verify ----
    QueryDef("q_dedup_minhash", (s, dir) => {
      val corpus = dupCorpus(s, dir)
      val cand = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(corpus, cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    },
      oracle = minhashOracleSql),

    // ---- dedup: INCREMENTAL near-dup — the shifted copies arrive as a
    // new batch against the already-signed original corpus; only pairs
    // touching the batch are (re)computed and verified ----
    QueryDef("q_dedup_incremental", (s, dir) => {
      val old = docs(s, dir).select("doc_id", "text")
      val fresh = old.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val cand = Dedup.incrementalMinhashPairs(fresh, old, jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(old.unionByName(fresh),
          cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    },
      // only pairs touching the new batch (ids >= 1,000,000)
      oracle = jaccardPairsOracleSql(0.8, "",
        " AND (p.id_a >= 1000000 OR p.id_b >= 1000000)")),

    // ---- dedup: TAKEDOWN-aware incremental — the store's signature
    // table has doc_id % 7 = 2 tombstoned; a fresh twin batch (docs
    // % 4 = 0, ids +1e6) is signed and banded against the LIVE stored
    // rows only, so the twin of a taken-down doc pairs with nothing.
    // Without the tombstone filter a deleted doc keeps generating
    // candidate pairs from its stored signatures forever ----
    QueryDef("q_dedup_delete", (s, dir) => {
      val store = graft.sources.WireFixtures.minhashTakedownStoreDir(s, dir)
      val old = docs(s, dir).select("doc_id", "text")
      val fresh = old.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val sigsNew = Dedup.minhashSignatures(fresh, "text", "doc_id", 3, 64)
      // the store-protocol shape: the increment bands only itself, the
      // stored side serves its PERSISTED banded table (live rows only —
      // the takedown filter applies at candidate generation), and the
      // estimate joins signatures for candidate ids alone
      val bNew = Dedup.bandedBucketsFromSignatures(sigsNew)
      val cand = Dedup.incrementalPairsFromBanded(bNew,
        Dedup.readBandedStore(s, store).unionByName(bNew),
        Dedup.readSignatureStore(s, store).unionByName(sigsNew),
        jaccardThreshold = 0.5)
      Dedup.ngramJaccardVerify(old.unionByName(fresh),
          cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
    },
      // takedown-aware incremental pairs: touching-the-batch edges whose
      // stored endpoint is LIVE (base ids with doc_id % 7 = 2 are
      // tombstoned; a batch id < 1e6 never occurs, so the guards read
      // "any base endpoint must not be taken down")
      oracle = jaccardPairsOracleSql(0.8, "",
        " AND (p.id_a >= 1000000 OR p.id_b >= 1000000)" +
          " AND (p.id_a >= 1000000 OR p.id_a % 7 <> 2)" +
          " AND (p.id_b >= 1000000 OR p.id_b % 7 <> 2)",
        " WHERE doc_id % 4 = 0")),

    // ---- ONE time-travel coordinate for the dedup signature store —
    // the dedup twin of q_ann_pin / q_retrieval_pin: BOTH axes move
    // after the capture (one more append batch, then a compaction that
    // publishes a fresh generation), and the pinned read still serves
    // the snapshot's near-dup pair set while the head serves the full
    // post-compaction store. keepGenerations=1 keeps the pin alive ----
    QueryDef("q_dedup_pin", (s, dir) => {
      val root = tempQueryDir("dedpin").toString
      val old = docs(s, dir).select("doc_id", "text")
      val corpus = old.unionByName(
        old.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      def slice(b: Int) = corpus.where(col("doc_id") % 3 === b)
      val store = s"$root/store"
      Dedup.writeSignatureStore(slice(0), store, batchId = Some(0L))
      Dedup.appendToSignatureStoreBatch(slice(1), store, 1L)
      val pin = graft.pipeline.VersionedStore.pin(store)
      Dedup.appendToSignatureStoreBatch(slice(2), store, 2L)
      Dedup.compactSignatureStore(s, store, keepGenerations = 1)
      def verified(pairs: org.apache.spark.sql.DataFrame) =
        Dedup.ngramJaccardVerify(corpus,
            broadcast(pairs.select("id_a", "id_b")))
          .where(col("jaccard") >= 0.8)
      val headBanded = Dedup.readBandedStore(s, store)
      val headPairs = Dedup.estimatePairsFromSignatures(
        Dedup.incrementalCandidatesFromBanded(headBanded, headBanded),
        Dedup.readSignatureStore(s, store), jaccardThreshold = 0.5)
      verified(Dedup.nearDupPairsFromStorePinned(s, store, pin))
        .withColumn("probe_view", lit("pinned"))
        .unionByName(
          verified(headPairs).withColumn("probe_view", lit("head")))
    },
      // unified (gen, maxBatch) pin on the dedup signature store: the
      // pinned view's pair set derives from the two pinned batches' docs
      // (combined-corpus ids with doc_id % 3 ∈ {0, 1} — note a twin's id
      // is doc_id + 1e6, so it lands in a different batch than its base),
      // the head view from the full twin corpus after a later append AND
      // a compaction-publish
      oracle = "SELECT *, 'pinned' AS probe_view FROM (" +
        jaccardPairsOracleSql(0.8, "",
          corpusWhere = " WHERE doc_id % 3 <> 2") +
        ") UNION ALL SELECT *, 'head' FROM (" +
        jaccardPairsOracleSql(0.8, "") + ")"),

    // ---- dedup: exact n-gram Jaccard (brute, small subset baseline) ----
    QueryDef("q_dedup_ngram", (s, dir) => {
      val d = docs(s, dir).where(col("doc_id") < 100).select("doc_id", "text")
      val corpus = d.unionByName(
        d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val ids = corpus.select(col("doc_id").as("id_a"))
        .crossJoin(corpus.select(col("doc_id").as("id_b")))
        .where(col("id_a") < col("id_b"))
      Dedup.ngramJaccardVerify(corpus, ids).where(col("jaccard") >= 0.6)
    },
      oracle = ngramOracleSql),

    // ---- dedup: connected components over the dup-pair edge list —
    // transitive closure via min-label propagation (cluster assignment
    // between pair generation and keep-one). Driven by the PRODUCTION
    // candidate generator (minhash LSH → Jaccard verify, the same edge
    // set q_dedup_minhash hash-proves equal to brute-force ≥0.8); the
    // crossJoin edge definition survives only inside the DuckDB oracle. ----
    QueryDef("q_dedup_components", (s, dir) =>
      Dedup.connectedComponents(verifiedDupPairs(s, dir)),
      oracle = componentsOracleSql(
      "SELECT id, CAST(min(lbl) AS BIGINT) AS component FROM walk GROUP BY id")),

    // ---- dedup: keep one representative per near-dup cluster (same
    // LSH-driven composition the spec exercises: lshPairs → components →
    // keep-one) ----
    QueryDef("q_cluster_keep_one", (s, dir) =>
      Dedup.keepOnePerComponent(dupCorpus(s, dir), verifiedDupPairs(s, dir))
        .select("doc_id"),
      oracle = componentsOracleSql(
      "SELECT c.doc_id FROM corpus c WHERE c.doc_id NOT IN" +
        " (SELECT id FROM (SELECT id, min(lbl) AS component FROM walk" +
        " GROUP BY id) WHERE id <> component)")),

    // ---- dedup: PRIORITY keep-one — the cross-source rule. Priority =
    // doc_id % 3 (deterministic stand-in for a source rank): within each
    // planted-dup cluster the lowest (priority, id) survives, so a
    // higher-priority +1M copy can now beat its original — exactly what
    // min-id keep-one cannot express ----
    QueryDef("q_priority_keep_one", (s, dir) =>
      Dedup.keepOneByPriority(
        dupCorpus(s, dir).withColumn("prio", col("doc_id") % 3),
        verifiedDupPairs(s, dir), priorityCol = "prio")
        .select("doc_id"),
      // priority keep-one: same recursive-CTE components; winner per
      // component = lowest (priority, id) via QUALIFY row_number
      oracle = componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)," +
        " pr AS (SELECT c.doc_id, c.doc_id % 3 AS prio, comp.component" +
        " FROM corpus c JOIN comp ON comp.id = c.doc_id)," +
        " losers AS (SELECT doc_id FROM pr QUALIFY" +
        " row_number() OVER (PARTITION BY component ORDER BY prio, doc_id) > 1)" +
        " SELECT c.doc_id FROM corpus c" +
        " WHERE c.doc_id NOT IN (SELECT doc_id FROM losers)")),

    // ---- dedup: simhash signature-quality contract. Signatures aren't
    // SQL-reproducible (fnv1a64 votes), but simhash's defining CONTRACT
    // is: near-identical documents get near-identical signatures. Emit
    // the exact-Jaccard ≥0.9 ground-truth pairs (the provable-recall LSH
    // generator, same derivation the minhash oracle hash-proves) with a
    // hamming ≤ 16 bound per pair — measured max on the planted corpora
    // is 8 (sf0.01) / 13 (sf0.1, one 0.917-jaccard pair; p99 is 6-7), so
    // the bound holds with margin while a broken signature kernel (~32
    // expected hamming, σ≈4) still fails it by ~4σ instantly.
    // Chunk-blocking recall stays spec-covered (DedupAnnSpec). ----
    QueryDef("q_dedup_simhash", (s, dir) => {
      val corpus = dupCorpus(s, dir)
      val truth = verifiedDupPairs(s, dir).where(col("jaccard") >= 0.9)
      val sigs = Dedup.simhashSignatures(corpus)
      truth
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 16)
            .as("within_hamming"))
    },
      // simhash contract: every exact-Jaccard ≥0.9 pair sits within hamming
      // 16 of its partner's signature (measured max 8 at sf0.01, 13 at sf0.1)
      oracle = jaccardPairsOracleSql(0.9, ", TRUE AS within_hamming")),

    // ---- dedup: embedding-cosine near-dup via hyperplane LSH. Oracled:
    // identical planted twins collide in EVERY hyperplane table (recall 1
    // by construction) and the corpus has no natural ≥0.99 pair (random
    // embeddings concentrate near cosine 0), so the result is exactly the
    // planted twin set at cosine 1.0 — SQL-derivable. ----
    QueryDef("q_dedup_embedding", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      val withDups = e.unionByName(
        e.select((col("doc_id") + 1000000L).as("doc_id"), col("embedding")))
      Dedup.embeddingNearDups(withDups, vecCol = "embedding", idCol = "doc_id",
        cosineThreshold = 0.99)
    },
      // planted twins are the ONLY ≥0.99-cosine pairs and hyperplane LSH
      // recalls identical vectors with probability 1
      oracle = "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b," +
        " CAST(1.0 AS DOUBLE) AS cosine FROM embeddings"),

    // ---- semantic dedup (SemDeDup shape): k-means cells + within-cell
    // cosine pair search, greedy lowest-id-wins. Oracled by the planted-
    // twin contract: identical twins share every argmin (same cell,
    // deterministic expression) at cosine 1.0 ≥ 0.99, and the corpus has
    // no natural ≥0.99 pair (q_dedup_embedding hash-proves that corpus
    // fact) — so kept = "original ids true, +1M copies false" exactly. ----
    QueryDef("q_semdedup", (s, dir) => {
      val e = vecs(s, dir)
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Semantic.semanticDedup(withDups, k = 8, iters = 3,
        cosineThreshold = 0.99)
    },
      // semdedup planted-twin contract: identical vectors share every
      // argmin (same k-means cell) at cosine 1.0, the corpus has no natural
      // ≥0.99 pair, and the greedy policy keeps the lower id of each pair
      oracle = semdedupKeptSql),

    // ---- semantic dedup, hot-cell LSH path: within-cell pair search
    // blocked by (cell, hyperplane bucket). Identical twins collide in
    // every table AND share every argmin, so the planted contract (and
    // oracle) is unchanged — only the candidate cost is bucket-bounded.
    // Slower than q_semdedup at this SF by design: small cells make
    // all-pairs cheaper than 4×-table blocking; the blocked path exists
    // for cells too hot to all-pair at corpus scale ----
    QueryDef("q_semdedup_lsh", (s, dir) => {
      val e = vecs(s, dir)
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Semantic.semanticDedup(withDups, k = 8, iters = 3,
        cosineThreshold = 0.99, intraCellPlanes = 8, intraCellTables = 4)
    },
      // twins collide in every hyperplane table too — same contract
      oracle = semdedupKeptSql),

    // ---- ORGANIC pair-recall floor for semdedup's LSH regime: every
    // semdedup oracle is a planted-twin invariant (exact copies collide
    // in every LSH table with probability 1 — they measure nothing
    // about the plane/table choice), and the natural corpus is
    // measured isotropic (max within-cell cosine ≈ 0.51: no organic
    // near-dup mass at any dedup threshold). This gate measures the
    // fraction of exact within-cell ≥0.95-cosine pairs the intra-cell
    // hyperplane-LSH blocking recovers on the BANDED near-dup corpus
    // (deterministic jittered copies spanning cosine ~0.91-0.999 —
    // delivered-vs-generated parity, the q_ann_recall discipline on
    // the dedup tier) and fails loudly below the pinned floor. Both
    // configurations share one training and one cell assignment, and
    // LSH candidates are a subset of cell co-membership, so the ratio
    // is a true recall ----
    QueryDef("q_semdedup_recall", (s, dir) => {
      import s.implicits._
      val corpus = graft.sources.WireFixtures.nearDupBandCorpus(s, dir)
      val exact = graft.pipeline.Semantic.withinCellDupPairs(
        corpus, k = 8, iters = 3, cosineThreshold = 0.95).count()
      val lsh = graft.pipeline.Semantic.withinCellDupPairs(
        corpus, k = 8, iters = 3, cosineThreshold = 0.95,
        intraCellPlanes = 8, intraCellTables = 4).count()
      require(exact > 0, "q_semdedup_recall: banded corpus produced no" +
        " exact within-cell pairs — the measurement denominator is gone")
      val r = lsh.toDouble / exact
      println(f"[recall] sf=$dir%s method=semdedup_lsh pair_recall=$r%.4f" +
        f" floor=$RecallFloorSemdedupLsh%.2f (exact=$exact lsh=$lsh)")
      require(r >= RecallFloorSemdedupLsh,
        s"q_semdedup_recall: pair recall $r below the pinned floor" +
          s" $RecallFloorSemdedupLsh — the LSH regime lost near-dup" +
          " recall")
      Seq(("lsh_planes8_tables4", RecallFloorSemdedupLsh, true))
        .toDF("method", "floor", "floor_ok")
    },
      // semdedup LSH-regime pair-recall gate: the Spark side measures the
      // recovered fraction of exact within-cell near-dup pairs on the
      // banded jitter corpus and REQUIRES it over the pinned floor — the
      // row existing IS the assertion, same as q_ann_recall
      oracle = "SELECT 'lsh_planes8_tables4' AS method," +
        " CAST(0.93 AS DOUBLE) AS floor, TRUE AS floor_ok"),

    // ---- semantic dedup, HIERARCHICAL assignment: two-level codebook
    // (kCoarse cells, then a kSub sub-codebook per cell), leaf = coarse
    // × kSub + sub — the configuration that stays near-linear when the
    // leaf count must grow with the corpus (flat k∝N assignment is
    // O(N·k); the sf10 probe measured 121×). Identical twins share the
    // coarse AND sub argmins, so the planted contract — and the oracle
    // — is exactly q_semdedup's ----
    QueryDef("q_semdedup_hier", (s, dir) => {
      val e = vecs(s, dir)
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.pipeline.Semantic.semanticDedupHier(withDups, kCoarse = 4,
        kSub = 4, iters = 3, cosineThreshold = 0.99)
    },
      // hierarchical assignment: twins share the coarse and sub argmins,
      // so the leaf co-location — and the contract — is q_semdedup's
      oracle = semdedupKeptSql),

    // ---- decontamination: drop training docs sharing any word n-gram
    // with the eval corpus (train/test overlap scrub; n-gram hashes
    // explode narrow, eval side distinct + broadcast) ----
    QueryDef("q_decontaminate", (s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      Dedup.decontaminate(train, eval).select("doc_id")
    },
      oracle = decontaminateSql),

    // ---- contamination ATTRIBUTION: the per-(train, eval) audit the
    // scrub discards — shared distinct-gram counts plus the integer-bp
    // share of each eval item covered ("how much of this benchmark is
    // in my corpus"). Everything past the shingle kernel is hash
    // aggregates over (id, gram-hash) longs ----
    QueryDef("q_contamination_report", (s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      // explicit exact mode: this query's oracle is the UNcapped
      // derivation, and the exact report is the audit-grade surface —
      // the capped default (and its accounting) is q_contamination_capped
      Dedup.contaminationReport(train, eval, maxGramDf = Int.MaxValue)
    },
      // attribution report: same trigram sets re-derived as strings (hash
      // equality in the engine, string equality here — FNV-1a collisions
      // are negligible at any eval size, the decontaminate convention)
      oracle = "WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " tg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh)," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " p AS (SELECT train_id, eval_id, CAST(count(*) AS BIGINT)" +
        " AS n_shared FROM tg JOIN eg USING (g) GROUP BY 1, 2)" +
        " SELECT train_id, eval_id, n_shared, eval_grams," +
        " CAST(n_shared * 10000 // eval_grams AS BIGINT) AS leak_bp" +
        " FROM p JOIN es USING (eval_id)"),

    // ---- capped attribution: the boilerplate-gram guard exercised —
    // grams in more than 5 train docs are dropped BEFORE pairing (the
    // fan-out control that matters at corpus scale), and the drop is
    // accounted exactly (GramDfStats, asserted by spec) ----
    QueryDef("q_contamination_capped", (s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      Dedup.contaminationReport(train, eval, maxGramDf = 5)
    },
      // capped attribution: identical derivation with grams present in
      // more than 5 train docs excluded before pairing (eval_grams stays
      // the uncapped per-eval-doc total — the cap gates evidence, not the
      // denominator)
      oracle = "WITH sh AS (SELECT doc_id," +
        " list_distinct(list_transform(generate_series(1," +
        " greatest(len(toks) - 2, 1)), i -> array_to_string(toks[i:i+2], ' ')))" +
        " AS s FROM" +
        " (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents))," +
        " tg AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh)," +
        " keep AS (SELECT g FROM tg GROUP BY g HAVING count(*) <= 5)," +
        " eg AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh" +
        " WHERE doc_id < 50)," +
        " es AS (SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT)" +
        " AS eval_grams FROM sh WHERE doc_id < 50)," +
        " p AS (SELECT train_id, eval_id, CAST(count(*) AS BIGINT)" +
        " AS n_shared FROM tg JOIN keep USING (g) JOIN eg USING (g)" +
        " GROUP BY 1, 2)" +
        " SELECT train_id, eval_id, n_shared, eval_grams," +
        " CAST(n_shared * 10000 // eval_grams AS BIGINT) AS leak_bp" +
        " FROM p JOIN es USING (eval_id)"),

    // ---- decontamination, giant-holdout scale path: bloom prefilter on
    // the train grams, exact confirming join — bit-identical output to
    // q_decontaminate (shared oracle) with the shuffle pruned to
    // suspected grams only ----
    QueryDef("q_decontaminate_bloom", (s, dir) => {
      val train = docs(s, dir).select("doc_id", "text")
      val eval = docs(s, dir).where(col("doc_id") < 50).select("doc_id", "text")
      Dedup.decontaminateBloom(train, eval).select("doc_id")
    },
      // bloom path is bit-identical to the exact path (false positives die
      // in the confirming join) — same oracle
      oracle = decontaminateSql),

    // ---- span-level exact dedup (the line/paragraph-dedup stage of
    // CCNet/RefinedWeb over 20-token blocks): every repeated span keeps
    // only its corpus-wide first occurrence; planted duplicate docs lose
    // every span ----
    QueryDef("q_span_dedup", (s, dir) =>
      Dedup.spanDedup(dupCorpus(s, dir), spanTokens = 20),
      oracle = "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id, text FROM documents)," +
        " toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM corpus)," +
        " spans AS (SELECT doc_id, i AS span_idx," +
        " array_to_string(t[i*20+1 : i*20+20], ' ') AS span" +
        " FROM toks, unnest(generate_series(0," +
        " CAST(ceil(len(t) / 20.0) AS BIGINT) - 1)) AS u(i))," +
        " ranked AS (SELECT doc_id, span_idx, span," +
        " row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn" +
        " FROM spans)" +
        " SELECT doc_id, count(*) AS n_spans," +
        " CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept," +
        " coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' '" +
        " ORDER BY span_idx), '') AS kept_text" +
        " FROM ranked GROUP BY doc_id"),

    // ---- exact-substring duplication detection: sliding 16-token
    // windows at stride 1 catch shifted duplicates the fixed span grid
    // misses; corpus = documents + planted copies of the first 100 docs,
    // so the flagged mass is a strict, oracle-re-derivable subset ----
    QueryDef("q_substring_dup", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(d.where(col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.substringDupStats(corpus, windowTokens = 16)
    },
      // exact-substring sliding-window duplication: same md5 window hash
      oracle = "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL" +
        " SELECT doc_id + 1000000 AS doc_id, text FROM documents" +
        " WHERE doc_id < 100)," +
        " t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t" +
        " FROM corpus)," +
        " w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+16], ' ')) AS h" +
        " FROM t, unnest(generate_series(0, len(t) - 16)) AS u(i))," +
        " c AS (SELECT h, count(*) AS cnt FROM w GROUP BY h)," +
        " a AS (SELECT doc_id, count(*) AS n_windows," +
        " sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dup" +
        " FROM w JOIN c USING (h) GROUP BY doc_id)" +
        " SELECT d.doc_id," +
        " CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT) AS n_tokens," +
        " CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows," +
        " CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_windows," +
        " (coalesce(a.n_dup, 0) > 0) AS has_dup" +
        " FROM corpus d LEFT JOIN a USING (doc_id)"),

    // ---- soft dedup: down-weight instead of drop — weight_bp =
    // floor(10000/|component|) over the shared verified-pair set (each
    // near-dup component carries one doc's worth of training mass) ----
    QueryDef("q_dedup_softweight", (s, dir) =>
      graft.pipeline.Semantic.softDedupWeights(
        dupCorpus(s, dir), verifiedDupPairs(s, dir).select("id_a", "id_b")),
      // soft dedup: singleton docs weight 10000 bp; component members
      // weight floor(10000/csize) — same recursive-CTE component derivation
      oracle = componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)," +
        " cs AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)" +
        " SELECT c.doc_id," +
        " CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component," +
        " CAST(coalesce(cs.csize, 1) AS BIGINT) AS csize," +
        " CAST(10000 // coalesce(cs.csize, 1) AS BIGINT) AS weight_bp" +
        " FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id" +
        " LEFT JOIN cs ON cs.component = comp.component")),

    // ---- line-level boilerplate removal (CCNet/RefinedWeb line-wise
    // dedup): lines planted into ≥1% of documents (newsletter CTA on
    // even ids, copyright footer on ids %3) are stripped from every
    // document; the per-doc unique "ref <id>" line survives. Frequency
    // threshold is integer cross-multiplied; output hashes the cleaned
    // text byte-for-byte ----
    QueryDef("q_line_dedup", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"), concat_ws("\n",
        col("text"),
        when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter")),
        when(col("doc_id") % 3 === 0, lit("all rights reserved - example corp")),
        concat(lit("ref "), col("doc_id").cast("string"))).as("text"))
      graft.pipeline.Lines.stripFrequentLines(injected, shareBp = 100)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("n_kept"), col("n_dropped"))
    },
      // line-level boilerplate removal: same injection, per-line explode
      // with generate_series positions, integer cross-multiplied 1% doc-
      // share threshold, order-preserving string_agg reassembly
      oracle = s"WITH $lineStripCtes," +
        " nl AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM inj)" +
        " SELECT nl.doc_id, md5(coalesce(kept.text, '')) AS text_md5," +
        " CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept," +
        " CAST(nl.n_lines - coalesce(kept.n_kept, 0) AS BIGINT) AS n_dropped" +
        " FROM nl LEFT JOIN kept USING (doc_id)"),

    // ---- within-doc consecutive duplicate-line collapse (uniq rule):
    // planted runs ("repeat me" ×(id%3+1), double blanks) collapse to
    // their heads; a pure higher-order array filter — zero shuffles ----
    QueryDef("q_line_collapse", (s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"), concat(
        col("text"),
        expr("repeat(chr(10) || 'repeat me', CAST(doc_id % 3 AS INT) + 1)"),
        lit("\n\n\n"),
        concat(lit("tail "), col("doc_id").cast("string"))).as("text"))
      graft.pipeline.Lines.collapseRepeatedLines(injected)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("n_collapsed"))
    },
      // consecutive duplicate-line collapse: same injection, kept lines =
      // run heads (i = 1 OR t[i] <> t[i-1]; t[0] is NULL in DuckDB so the
      // comparison is vacuously non-true and the i = 1 arm decides)
      oracle = "WITH inj AS (SELECT doc_id, text ||" +
        " repeat(chr(10) || 'repeat me', CAST(doc_id % 3 AS INT) + 1) ||" +
        " chr(10) || chr(10) || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR)" +
        " AS text FROM documents)," +
        " l AS (SELECT doc_id, i, t[i] AS line, len(t) AS n FROM" +
        " (SELECT doc_id, string_split(text, chr(10)) AS t FROM inj)," +
        " unnest(generate_series(1, len(t))) AS u(i)" +
        " WHERE i = 1 OR t[i] <> t[i-1])" +
        " SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5," +
        " CAST(max(n) - count(*) AS BIGINT) AS n_collapsed" +
        " FROM l GROUP BY doc_id"),

    // ---- the NEAR-DUP composed pipeline: quality filter → minhash-LSH
    // verified pairs (restricted to surviving docs) → connected-components
    // keep-one → sequence packing. The second flagship composition: where
    // q_pipeline_e2e dedups exactly, this one runs the full fuzzy-dedup
    // graph machinery end-to-end, hash-matched against a DuckDB
    // re-derivation (shared-shingle ≥0.8 edges + recursive-CTE closure) ----
    QueryDef("q_pipeline_neardup", (s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
      val corpus = d0.unionByName(d0.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text")))
      val filtered = corpus
        .where(round(TF.qualityScore(col("text")), 6) >= 0.5)
      // near-dup edges among survivors: the cached verified pair set
      // (computed ONCE for all dedup queries) restricted per endpoint
      val ids = filtered.select(col("doc_id"))
      val pairs = verifiedDupPairs(s, dir)
        .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
        .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      val kept = Dedup.keepOnePerComponent(filtered, pairs)
      graft.pipeline.Packing.packChunks(
        kept.select("lang", "doc_id", "text"), budgetTokens = 512L)
    },
      oracle = pipelineNeardupSql),

    // ---- winnowing fingerprints (MOSS scheme): positional partial-copy
    // detection. The contract oracled here is the winnowing GUARANTEE:
    // a shared substring of length ≥ w+k-1 yields ≥ 1 shared selected
    // fingerprint. Planted partial copies (junk prefix ‖ full text ‖
    // junk suffix, junk from letters rare in the corpus) therefore MUST
    // share fingerprints with their originals — computed by an id-keyed
    // join of the two fingerprint sets (pair-local, no df-capped
    // self-join in the contract path). A missing planted pair would
    // surface as a row-count mismatch ----
    QueryDef("q_winnow_guarantee", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val partial = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("repeat('zq', 8 + doc_id % 7)"), lit(" "),
            col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val fps = Dedup.winnowFingerprints(d.unionByName(partial),
        k = 8, w = 8)
      val orig = fps.where(col("doc_id") < 1000000L)
        .select(col("doc_id").as("id_a"), col("fp"))
      val copies = fps.where(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("id_a"), col("fp"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(orig.join(copies, Seq("id_a", "fp"))
            .groupBy("id_a")
            .agg(count_distinct(col("fp")).as("n_shared")),
          Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_shared"), lit(0L)) >= 1L).as("guarantee_holds"))
    },
      oracle = twinPairsHoldSql("guarantee_holds")),

    // ---- content-defined chunking (Rabin-style CDC): the contract
    // oracled is APPEND LOCALITY — an appended suffix may only change
    // the original's FINAL chunk: boundaries are content-decided, every
    // boundary gram of the original lies intact in the appended copy,
    // and no new boundary can appear below the original's last one, so
    // (orig chunks except the last) ⊆ copy chunks, md5 for md5. The
    // check is an id-keyed anti-join per planted pair — a violated
    // inclusion surfaces as append_local = false ----
    QueryDef("q_cdc_append_local", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val copies = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val chunks = Dedup.cdcChunks(d.unionByName(copies), k = 8,
        divisor = 32)
      val orig = chunks.where(col("doc_id") < 1000000L)
      val copy = chunks.where(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("id_a"),
          col("chunk_md5"))
      val lastIdx = orig.groupBy(col("doc_id").as("id_a"))
        .agg(max(col("chunk_idx")).as("last_idx"))
      val missing = orig.select(col("doc_id").as("id_a"),
          col("chunk_idx"), col("chunk_md5"))
        .join(lastIdx, "id_a")
        .where(col("chunk_idx") < col("last_idx"))
        .join(copy, Seq("id_a", "chunk_md5"), "left_anti")
        .groupBy("id_a").agg(count(lit(1)).as("n_missing"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(missing, Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_missing"), lit(0L)) === 0L).as("append_local"))
    },
      oracle = twinPairsHoldSql("append_local")),

    // ---- INCREMENTAL winnowing against the persisted fingerprint
    // store: the new batch (junk-flanked partial copies) fingerprints
    // ONLY ITSELF — the stored corpus is a (doc_id, fp) parquet scan,
    // never re-fingerprinted (PlansSpec asserts exactly one
    // winnow_select in the plan). Same guarantee contract as
    // q_winnow_guarantee, served through the store protocol ----
    QueryDef("q_winnow_incr", (s, dir) => {
      val store = s.read.parquet(
        graft.sources.WireFixtures.winnowFpStoreDir(s, dir))
      val d = docs(s, dir).select("doc_id", "text")
      val inc = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("repeat('zq', 8 + doc_id % 7)"), lit(" "),
            col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val copies = Dedup.winnowFingerprints(inc, k = 8, w = 8)
        .select((col("doc_id") - 1000000L).as("id_a"), col("fp"))
      val orig = store.select(col("doc_id").as("id_a"), col("fp"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(orig.join(copies, Seq("id_a", "fp"))
            .groupBy("id_a")
            .agg(count_distinct(col("fp")).as("n_shared")),
          Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_shared"), lit(0L)) >= 1L).as("guarantee_holds"))
    },
      oracle = twinPairsHoldSql("guarantee_holds")),

    // ---- winnowing ALIGNMENT: the step after overlap detection — the
    // copied region's OFFSET, recovered by unique-fingerprint offset
    // voting. The planted junk prefix has closed-form length
    // 2·(8 + id%7) + 1 (the `zq` repeat plus the separator space), so
    // the oracle derives the expected delta EXACTLY — a non-trivial
    // recovered VALUE, not a boolean ----
    QueryDef("q_winnow_align", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val copies = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(expr("repeat('zq', 8 + doc_id % 7)"), lit(" "),
            col("text"), lit(" "),
            expr("repeat('xj', 6 + doc_id % 5)")).as("text"))
      val fps = Dedup.winnowFingerprints(d.unionByName(copies), k = 8, w = 8)
      val pairs = d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1000000L).as("id_b"))
      Dedup.winnowAlignment(fps, pairs)
        .select("id_a", "id_b", "best_delta")
    },
      oracle = "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " CAST(2 * (8 + doc_id % 7) + 1 AS BIGINT) AS best_delta" +
        " FROM documents WHERE doc_id % 4 = 0"),

    // ---- INCREMENTAL CDC re-ingestion check against the persisted
    // chunk store: the new batch (byte-identical re-uploads of stored
    // docs under fresh ids) chunks ONLY ITSELF; identical text chunks
    // identically (content-defined boundaries), so every new chunk md5
    // finds its stored twin — the storage-dedup recognition path,
    // PlansSpec-asserted single-kernel ----
    QueryDef("q_cdc_incr", (s, dir) => {
      val store = s.read.parquet(
        graft.sources.WireFixtures.cdcChunkStoreDir(s, dir))
      val d = docs(s, dir).select("doc_id", "text")
      val inc = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val incChunks = Dedup.cdcChunks(inc, k = 8, divisor = 32)
        .select((col("doc_id") - 1000000L).as("id_a"), col("chunk_md5"))
      val stored = store.select(col("doc_id").as("id_a"), col("chunk_md5"))
      val missing = incChunks
        .join(stored, Seq("id_a", "chunk_md5"), "left_anti")
        .groupBy("id_a").agg(count(lit(1)).as("n_missing"))
      d.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id_a"))
        .join(missing, Seq("id_a"), "left")
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          (coalesce(col("n_missing"), lit(0L)) === 0L).as("all_chunks_known"))
    },
      oracle = twinPairsHoldSql("all_chunks_known")),

    // ---- embedding-space decontamination: the semantic analog of the
    // n-gram scrub — train rows whose vector hits cosine ≥ 0.99 against
    // ANY eval vector drop via ONE broadcast nested-loop anti-join
    // (short-circuit per row, nothing shuffles). Planted contract: eval
    // = exact twins of ids < 10 under fresh ids, and 0.99 separates
    // twins (cosine 1.0) from every natural pair on this corpus (the
    // q_semdedup bound, driver-proven at both SFs) ----
    QueryDef("q_decontaminate_semantic", (s, dir) => {
      val e = vecs(s, dir)
      val eval = e.where(col("id") < 10)
        .select((col("id") + 5000000L).as("id"), col("vec"))
      graft.pipeline.Semantic.semanticDecontaminate(e, eval,
        cosineThreshold = 0.99).select(col("id"))
    },
      oracle = semanticDecontamSql),

    // ---- the SAME scrub for eval stores too big to broadcast:
    // hyperplane-LSH band join (ids only in the wide shuffle) → exact
    // cosine confirm at the same threshold → anti-join. Exact twins
    // collide in every table, so the planted contract — and the output
    // hash — is bit-identical to the BNLJ path above; the oracle is
    // literally shared ----
    QueryDef("q_decontaminate_semantic_lsh", (s, dir) => {
      val e = vecs(s, dir)
      val eval = e.where(col("id") < 10)
        .select((col("id") + 5000000L).as("id"), col("vec"))
      graft.pipeline.Semantic.semanticDecontaminateLsh(e, eval,
        cosineThreshold = 0.99).select(col("id"))
    },
      // LSH-prefiltered variant: same planted contract, same output —
      // exact twins collide in every hyperplane table, and the exact
      // cosine confirm discards every sub-threshold bucket collision
      oracle = semanticDecontamSql)
  )
}
