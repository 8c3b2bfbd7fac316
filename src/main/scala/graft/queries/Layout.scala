package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.Dedup
import graft.functions.{TextFunctions => TF}

import Fixtures._

/** Layout, packing and export: z-order layouts, leakage-safe splits,
  * sequence packing, sampling and mixtures, shard export and the data card. */
object LayoutQueries extends QueryFamily {

  /** Morton-spread of a BIGINT column as DuckDB SQL — the literal
    * shift-mask cascade [[graft.functions.ZorderKey.spread]] runs, so
    * the q_zorder_box oracle re-derives the native expression's key
    * bit-for-bit (masks in decimal: 0x0000ffff0000ffff etc.). */
  private def zorderSpreadSql(c: String): String = {
    val s1 = s"((($c) | (($c) << 16)) & 281470681808895)"
    val s2 = s"(($s1 | ($s1 << 8)) & 71777214294589695)"
    val s3 = s"(($s2 | ($s2 << 4)) & 1085102592571150095)"
    val s4 = s"(($s3 | ($s3 << 2)) & 3689348814741910323)"
    s"(($s4 | ($s4 << 1)) & 6148914691236517205)"
  }

  /** Stride-3 Morton spread (21-bit inputs → every 3rd bit) as DuckDB
    * SQL — [[graft.functions.ZorderKeyN.spread3]]'s cascade, masks in
    * decimal (0x1f00000000ffff etc.). */
  private def zorderSpread3Sql(c: String): String = {
    val s1 = s"((($c) | (($c) << 32)) & 8725724278095871)"
    val s2 = s"(($s1 | ($s1 << 16)) & 8725728556220671)"
    val s3 = s"(($s2 | ($s2 << 8)) & 1157144660301377551)"
    val s4 = s"(($s3 | ($s3 << 4)) & 1207822528635744451)"
    s"(($s4 | ($s4 << 2)) & 1317624576693539401)"
  }

  /** Z-order box read: row-identical to the raw box filter, zkey
    * re-derived by the same shift-mask spread. */
  private lazy val zorderBoxSql: String =
    "SELECT l_orderkey, l_partkey, l_quantity," +
      s" (${zorderSpreadSql("l_orderkey")}" +
      s" + 2 * ${zorderSpreadSql("l_partkey")}) AS zkey" +
      " FROM lineitem WHERE l_orderkey BETWEEN 100 AND 1200" +
      " AND l_partkey BETWEEN 20 AND 150"

  val defs: Seq[QueryDef] = Seq(
    // ---- Z-ORDER layout: rewrite lineitem clustered on the Morton
    // key of (l_orderkey, l_partkey) — the multi-dimensional lake
    // layout a 2-D box predicate prunes against (every file's footer
    // range is tight in BOTH columns; LayoutSpec measures the file-skip
    // vs a single-column sort). The query serves a box read from the
    // rewritten layout; zkey re-derived per row proves the native
    // codegen interleave bit-for-bit against DuckDB shift-mask math ----
    QueryDef("q_zorder_box", (s, dir) => {
      val out = tempQueryDir("zorder").toString +
        "/layout"
      graft.pipeline.Layout.zorderWrite(
        tbl(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
        out, "l_orderkey", "l_partkey", numFiles = 8)
      graft.pipeline.Layout.read(s, out)
        .where(col("l_orderkey").between(100, 1200) &&
          col("l_partkey").between(20, 150))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          graft.pipeline.Layout.zorderKey(
            col("l_orderkey"), col("l_partkey")).as("zkey"))
    },
      // z-order box read: row-identical to the raw box filter (the layout
      // rewrite moves bytes, never rows), zkey re-derived by the same
      // shift-mask spread the native expression generates
      oracle = zorderBoxSql),

    // ---- 3-D Z-ORDER layout: lineitem clustered on the Morton key of
    // (l_partkey, l_suppkey, ship-day) — part × supplier × time, the
    // box shape a lake tables' OPTIMIZE ZORDER actually uses. 21-bit
    // budget per dim (loud overflow); the 3-predicate box serves from
    // the rewritten layout and the key re-derivation proves the native
    // 3-way interleave bit-for-bit against DuckDB shift-mask math ----
    QueryDef("q_zorder_box3", (s, dir) => {
      val out = tempQueryDir("zorder3").toString +
        "/layout"
      val src = tbl(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          datediff(col("l_shipdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("long").as("ship_day"),
          col("l_quantity"))
      graft.pipeline.Layout.zorderWriteN(src, out,
        Seq("l_partkey", "l_suppkey", "ship_day"), numFiles = 8)
      graft.pipeline.Layout.read(s, out)
        .where(col("l_partkey").between(20, 150) &&
          col("l_suppkey").between(2, 60) &&
          col("ship_day").between(400, 1400))
        .select(col("l_partkey"), col("l_suppkey"), col("ship_day"),
          col("l_quantity"),
          graft.pipeline.Layout.zorderKeyN(col("l_partkey"),
            col("l_suppkey"), col("ship_day")).as("zkey3"))
    },
      // 3-D layout box: the 3-way interleave re-derived by the stride-3
      // shift-mask cascade over (part, supplier, ship-day)
      oracle = "SELECT l_partkey, l_suppkey, ship_day, l_quantity," +
        s" (${zorderSpread3Sql("l_partkey")}" +
        s" + 2 * ${zorderSpread3Sql("l_suppkey")}" +
        s" + 4 * ${zorderSpread3Sql("ship_day")}) AS zkey3" +
        " FROM (SELECT l_partkey, l_suppkey," +
        " CAST(date_diff('day', DATE '1992-01-01'," +
        " CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day, l_quantity" +
        " FROM lineitem)" +
        " WHERE l_partkey BETWEEN 20 AND 150" +
        " AND l_suppkey BETWEEN 2 AND 60" +
        " AND ship_day BETWEEN 400 AND 1400"),

    // ---- INCREMENTAL Z-ORDER maintenance: the layout built once, two
    // later batches APPENDED (O(batch) each — no table rewrite on
    // the write path), the clustering debt then MEASURED from parquet
    // footers only (zero rows scanned) and repaired by one publish.
    // Three full-range writes must stack past depth 2, so the
    // recluster is require()d to have run — a silent no-op would serve
    // the degraded layout while claiming maintenance happened. Row
    // identity through append+recluster is the oracle (the box read is
    // generation-independent); LayoutSpec pins the depth math ----
    QueryDef("q_zorder_incr", (s, dir) => {
      val out = tempQueryDir("zinc").toString +
        "/layout"
      val src = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val L = graft.pipeline.Layout
      L.zorderWrite(src.where(col("l_orderkey") % 3 === 0), out,
        "l_orderkey", "l_partkey", numFiles = 4)
      L.zorderAppend(src.where(col("l_orderkey") % 3 === 1), out,
        "l_orderkey", "l_partkey", numFiles = 4)
      L.zorderAppend(src.where(col("l_orderkey") % 3 === 2), out,
        "l_orderkey", "l_partkey", numFiles = 4)
      val (depth, ran) = L.reclusterIfNeeded(s, out,
        "l_orderkey", "l_partkey", maxDepth = 2, numFiles = 8)
      require(ran, s"recluster did not trigger: measured depth $depth")
      graft.pipeline.Layout.read(s, out)
        .where(col("l_orderkey").between(100, 1200) &&
          col("l_partkey").between(20, 150))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          L.zorderKey(col("l_orderkey"), col("l_partkey")).as("zkey"))
    },
      // incremental layout: append + recluster move bytes, never rows —
      // the box read over the maintained layout is row-identical to the
      // raw box filter, zkey re-derivation included
      oracle = zorderBoxSql),

    // ---- sequence packing: concat-and-chunk token layout per language
    // (absolute token offsets + context-window chunk ids) ----
    QueryDef("q_pack_chunks", (s, dir) =>
      graft.pipeline.Packing.packChunks(
        docs(s, dir).select("lang", "doc_id", "text"), budgetTokens = 256L),
      oracle = "WITH t AS (SELECT lang, doc_id," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens" +
        " FROM documents)" +
        " SELECT lang, doc_id, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
        " CAST((sum(n_tokens) OVER w - n_tokens) // 256 AS BIGINT) AS chunk_id" +
        " FROM t WINDOW w AS (PARTITION BY lang ORDER BY doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    // ---- sliding context windows: 32-token chunks advancing by 24
    // (overlap 8) within each doc — the RAG/long-context layout ----
    QueryDef("q_sliding_chunks", (s, dir) =>
      graft.pipeline.Packing.slidingChunks(
        docs(s, dir).select("doc_id", "text"), window = 32, stride = 24),
      oracle = "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks" +
        " FROM documents)," +
        " s AS (SELECT doc_id, toks, len(toks) AS n," +
        " CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT) + 1 AS nc FROM t)" +
        " SELECT doc_id, CAST(i AS INT) AS chunk_idx," +
        " CAST(i * 24 AS BIGINT) AS tok_start," +
        " CAST(least(32, n - i * 24) AS BIGINT) AS tok_len," +
        " array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text" +
        " FROM s, unnest(generate_series(0, nc - 1)) AS u(i)"),

    // ---- deterministic stratified sampling: per-language basis-point
    // rates over an integer-exact hash stream — map-only, resumable,
    // re-derivable in plain SQL (upsample en, downsample zh) ----
    QueryDef("q_sample_stratified", (s, dir) =>
      graft.pipeline.Sampling.stratifiedSample(
        docs(s, dir).select("doc_id", "lang"), keyCol = "doc_id",
        stratumCol = "lang", ratesBp = Map("en" -> 8000, "zh" -> 2500),
        defaultBp = 1000, salt = 42L),
      // MINSTD hash stream: ((key + salt) % (2^31-1)) * 48271 % (2^31-1) —
      // integer-exact in both engines
      oracle = "SELECT doc_id, lang FROM documents" +
        " WHERE ((doc_id + 42) % 2147483647) * 48271 % 2147483647 % 10000" +
        " < CASE lang WHEN 'en' THEN 8000 WHEN 'zh' THEN 2500 ELSE 1000 END"),

    // ---- deterministic global training order: exact distributed rank
    // over the per-key hash (reproducible corpus shuffle, no
    // single-partition sort) ----
    QueryDef("q_shuffle_order", (s, dir) =>
      graft.pipeline.Sampling.shuffleOrder(
        docs(s, dir).select("doc_id"), keyCol = "doc_id", salt = 7L),
      oracle = "SELECT doc_id, row_number() OVER (ORDER BY" +
        " ((doc_id + 7) % 2147483647) * 48271 % 2147483647, doc_id) - 1" +
        " AS order_idx FROM documents"),

    // ---- token-budget domain mixing: per-language token budgets filled
    // in MINSTD hash order (the data-mixture stage; integer-exact) ----
    QueryDef("q_mix_budget", (s, dir) =>
      graft.pipeline.Sampling.mixToBudget(
        docs(s, dir).select("doc_id", "lang", "text"),
        idCol = "doc_id", domainCol = "lang", textCol = "text",
        budgetTokens = Map("en" -> 1500L, "de" -> 400L, "zh" -> 300L),
        defaultBudget = 250L, salt = 11L),
      // token-budget mixing: same MINSTD hash order, budget as CASE chain
      oracle = "WITH t AS (SELECT doc_id, lang AS domain," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens," +
        " ((doc_id + 11) % 2147483647) * 48271 % 2147483647 AS h" +
        " FROM documents)" +
        " SELECT doc_id, domain, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS cum_before," +
        " (sum(n_tokens) OVER w - n_tokens) <" +
        " (CASE domain WHEN 'en' THEN 1500 WHEN 'de' THEN 400" +
        " WHEN 'zh' THEN 300 ELSE 250 END) AS selected" +
        " FROM t WINDOW w AS (PARTITION BY domain ORDER BY h, doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    // ---- temperature mixing: τ=1/2 budgets apportioned from the
    // per-language token masses (√-flattened, largest-remainder rounded
    // to sum exactly), then the same deterministic budget fill as
    // q_mix_budget — the full "compute the mixture, then mix" stage of
    // a multilingual pretraining pipeline, integer-exact end-to-end ----
    QueryDef("q_mix_temperature", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val budgets = graft.pipeline.Sampling.sqrtTemperatureBudgets(
        d, "lang", "text", totalBudget = 3000L)
      graft.pipeline.Sampling.mixToBudget(d, idCol = "doc_id",
        domainCol = "lang", textCol = "text", budgetTokens = budgets,
        defaultBudget = 0L, salt = 11L)
    },
      // re-derives the τ=1/2 budgets bit-for-bit (floor of the correctly-
      // rounded sqrt, BigInt-free because this SF stays in BIGINT range,
      // largest-remainder by (rem desc, domain)) and replays the mix window
      oracle = "WITH t AS (SELECT doc_id, lang AS domain," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens," +
        " ((doc_id + 11) % 2147483647) * 48271 % 2147483647 AS h" +
        " FROM documents)," +
        " m AS (SELECT domain, CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)" +
        "   * 1000000)) AS BIGINT) AS w FROM t GROUP BY domain)," +
        " tot AS (SELECT sum(w) AS tw FROM m)," +
        " b AS (SELECT domain, (3000 * w) // tw AS base," +
        "   (3000 * w) % tw AS rem FROM m, tot)," +
        " lo AS (SELECT 3000 - sum(base) AS leftover FROM b)," +
        " bb AS (SELECT domain, base + CASE WHEN" +
        "   row_number() OVER (ORDER BY rem DESC, domain) <=" +
        "   (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS budget FROM b)" +
        " SELECT t.doc_id, t.domain, t.n_tokens," +
        " CAST(sum(t.n_tokens) OVER w - t.n_tokens AS BIGINT) AS cum_before," +
        " (sum(t.n_tokens) OVER w - t.n_tokens) < bb.budget AS selected" +
        " FROM t JOIN bb USING (domain)" +
        " WINDOW w AS (PARTITION BY t.domain ORDER BY t.h, t.doc_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    // ---- leakage-free split: near-dup CLUSTERS assigned wholly to
    // train or test by MINSTD hash of the component label — a test doc
    // can never have a near-duplicate in train. Runs over the planted-
    // duplicate corpus with the production LSH-verified edge set ----
    QueryDef("q_leakage_split", (s, dir) =>
      Dedup.leakageFreeSplit(dupCorpus(s, dir), verifiedDupPairs(s, dir),
        testBp = 2000, salt = 23L),
      // leakage-free split: recursive-CTE components + the same MINSTD
      // hash-of-component stream as the sampling oracles
      oracle = componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)" +
        " SELECT c.doc_id," +
        " CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component," +
        " CASE WHEN ((coalesce(comp.component, c.doc_id) + 23) % 2147483647)" +
        " * 48271 % 2147483647 % 10000 < 2000 THEN 'test' ELSE 'train' END AS split" +
        " FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id")),

    // ---- three-way variant: same hash stream cut at two thresholds —
    // test membership is unchanged from q_leakage_split (same salt and
    // testBp), which IS the stability property the op promises ----
    QueryDef("q_leakage_split3", (s, dir) =>
      Dedup.leakageFreeSplit3(dupCorpus(s, dir), verifiedDupPairs(s, dir),
        valBp = 1000, testBp = 2000, salt = 23L),
      // three-way split: same hash, two thresholds
      oracle = componentsOracleSql(
      ", comp AS (SELECT id, min(lbl) AS component FROM walk GROUP BY id)," +
        " hh AS (SELECT c.doc_id," +
        " CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component," +
        " ((coalesce(comp.component, c.doc_id) + 23) % 2147483647)" +
        " * 48271 % 2147483647 % 10000 AS h" +
        " FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id)" +
        " SELECT doc_id, component," +
        " CASE WHEN h < 2000 THEN 'test' WHEN h < 3000 THEN 'val'" +
        " ELSE 'train' END AS split FROM hh")),

    // ---- sharded export + manifest: deterministic MINSTD shard
    // assignment, one file per shard (repartition-before-partitionBy),
    // manifest computed from the WRITTEN data read back — proves the
    // export roundtrip, not just the plan ----
    QueryDef("q_export_shards", (s, dir) => {
      implicit val sp: SparkSession = s
      val root = tempQueryDir("export").toString
      graft.pipeline.Export.writeShards(
        docs(s, dir).select("doc_id", "text"), s"$root/data",
        numShards = 8, salt = 17L)
    },
      // sharded export manifest: same MINSTD shard arithmetic, aggregated
      // straight from the documents table (the write is content-preserving,
      // so the readback manifest equals the source-side derivation)
      oracle = "SELECT ((doc_id + 17) % 2147483647) * 48271 % 2147483647 % 8 AS shard," +
        " count(*) AS n_docs," +
        " CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens," +
        " min(doc_id) AS min_id, max(doc_id) AS max_id" +
        " FROM documents GROUP BY 1"),

    // ---- packing × exact BPE: context windows packed against the
    // merges-table token counts a trainer would see — the planted-merge
    // corpus of q_bpe_tokens (closed-form counts) flowing through
    // packChunks' cumulative-offset window, grouped by doc_id%3 ----
    QueryDef("q_pack_bpe", (s, dir) =>
      graft.pipeline.Packing.packChunks(
        plantedBpeCorpus(s, dir).withColumn("grp",
          (col("doc_id") % 3).cast("int")),
        budgetTokens = 64, groupCol = "grp", idCol = "doc_id",
        textCol = "text",
        tokenCounter = graft.functions.Bpe.tokenCount(plantedBpeModel)),
      // packChunks over exact-BPE counts: the oracle re-derives the
      // closed-form per-doc counts (q_bpe_tokens' arithmetic) and replays
      // the cumulative-offset window in SQL
      oracle = "WITH t AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS grp," +
        " CAST(2 * (doc_id % 3 + 1) + 3 * (doc_id % 4 + 1)" +
        " + 2 * (doc_id % 2 + 1) + 3 * (doc_id % 5 + 1) + 5 AS BIGINT)" +
        " AS n_tokens FROM documents)" +
        " SELECT grp, doc_id, n_tokens," +
        " CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id)" +
        "   - n_tokens AS BIGINT) AS tok_offset," +
        " CAST((sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id)" +
        "   - n_tokens) // 64 AS BIGINT) AS chunk_id" +
        " FROM t"),

    // ---- dataset card: the corpus-statistics rollup every published
    // dataset ships — doc/token/char totals at every (lang × source)
    // granularity in ONE cube pass (grouping-sets partial aggregation;
    // integer-exact metrics only) ----
    QueryDef("q_data_card", (s, dir) =>
      docs(s, dir)
        .select(col("lang"), col("source"),
          col("n_chars").cast("long").as("nc"),
          TF.tokenCount(col("text")).cast("long").as("nt"))
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nc")).as("sum_chars"),
          max(col("nc")).as("max_chars")),
      oracle = "SELECT lang, source, count(*) AS n_docs," +
        " CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)" +
        " AS n_tokens," +
        " CAST(sum(n_chars) AS BIGINT) AS sum_chars," +
        " CAST(max(n_chars) AS BIGINT) AS max_chars" +
        " FROM documents GROUP BY CUBE (lang, source)"),

    // ---- the composed TRAINING-FILE pipeline — the materialization
    // chain a corpus build ends in: token-count gate → deterministic
    // shard assignment (the export hash) → within-shard training-order
    // shuffle (MINSTD rank) → packing into 256-token context windows.
    // Packing is per shard, so the cumulative window parallelizes by
    // shard instead of one global sort; every decision integer-exact ----
    QueryDef("q_pipeline_train", (s, dir) => {
      import graft.pipeline.Sampling
      // tokenize ONCE: the gate filters on the materialized count and
      // packChunks re-reads the same column (a tokenCounter over text
      // would re-split every document — no CSE across filter + project)
      val gated = docs(s, dir)
        .withColumn("n_toks", TF.tokenCount(col("text")).cast("long"))
        .where(col("n_toks") >= 40L)
      val assigned = gated
        .withColumn("shard",
          pmod(Sampling.minstd(col("doc_id"), 17L), lit(8L)))
        // unique orderable shuffle key: hash major, id tiebreak minor
        // (minstd < 2^31 and ids ≪ 1e7, so the packing never collides)
        .withColumn("ord",
          Sampling.minstd(col("doc_id"), 7L) * 10000000L + col("doc_id"))
      graft.pipeline.Packing.packChunks(assigned, budgetTokens = 256,
        groupCol = "shard", idCol = "ord", textCol = "text",
        tokenCounter = _ => col("n_toks"))
    },
      oracle = "WITH g AS (SELECT doc_id," +
        " CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens" +
        " FROM documents" +
        " WHERE len(string_split_regex(text, '\\s+')) >= 40)," +
        " a AS (SELECT" +
        " ((doc_id + 17) % 2147483647) * 48271 % 2147483647 % 8 AS shard," +
        " (((doc_id + 7) % 2147483647) * 48271 % 2147483647) * 10000000" +
        " + doc_id AS ord, n_tokens FROM g)" +
        " SELECT shard, ord, n_tokens," +
        " CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset," +
        " CAST((sum(n_tokens) OVER w - n_tokens) // 256 AS BIGINT)" +
        " AS chunk_id FROM a WINDOW w AS (PARTITION BY shard ORDER BY ord" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),

    // ---- JSONL sharded export roundtrip: the interchange format LLM
    // tooling ingests — written one file per deterministic shard, read
    // back with an explicit schema; every value re-derived by the oracle
    // from the source table (shard = minstd mod, text by md5) ----
    QueryDef("q_jsonl_roundtrip", (s, dir) => {
      val root = tempQueryDir("jsonl").toString
      graft.pipeline.Export.writeJsonlShards(
        docs(s, dir).select("doc_id", "lang", "text"), s"$root/data",
        numShards = 8, salt = 17L)
      graft.pipeline.Export.readJsonl(s, s"$root/data",
          "doc_id BIGINT, lang STRING, text STRING")
        .select(col("doc_id"), col("lang"),
          col("shard").cast("long").as("shard"),
          md5(col("text").cast("binary")).as("text_md5"))
    },
      oracle = "SELECT doc_id, lang," +
        " ((doc_id + 17) % 2147483647) * 48271 % 2147483647 % 8 AS shard," +
        " md5(text) AS text_md5 FROM documents")
  )
}
