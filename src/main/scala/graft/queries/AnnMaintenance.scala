package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.{Ann, VersionedStore}

import Fixtures._

/** ANN store maintenance: rebalance, merge, takedown, as-of reads and pins. */
object AnnMaintenanceQueries extends QueryFamily {

  /** Pinned-versus-head contract: the pinned view serves the +1e6 twin,
    * the head the +5e5 twin a later append planted. */
  private val pinnedTwinSql: String =
    "SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
      " 'pinned' AS probe_view FROM embeddings WHERE vec_id < 15" +
      " UNION ALL SELECT vec_id, vec_id + 500000, 'head'" +
      " FROM embeddings WHERE vec_id < 15"

  val defs: Seq[QueryDef] = Seq(
    // ---- PINNED batch serving: the two round-14 features composed —
    // a lake-annotation job (the batch regime's stated user) registers
    // a pin and annotates against a FROZEN index while both time-travel
    // axes move underneath (a later append batch of tie-winning lower-id
    // twins, then a compaction publish). q_ann_pin's contract through
    // the shuffle regime: pinned serves the +1e6 twin, head the +5e5 ----
    QueryDef("q_ann_batch_pin", (s, dir) => {
      val root = tempQueryDir("annbpin").toString
      val all = vecs(s, dir)
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      val pin = VersionedStore.pin(s"$root/index")
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      Ann.compactIndexCells(s, s"$root/index", keepGenerations = 1)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      Ann.ivfQuantizedTopKFromStoreBatch(q, corpus, s"$root/index",
          k = 5, nProbe = 8, at = Some(pin))
        .where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit("pinned").as("probe_view"))
        .unionByName(
          Ann.ivfQuantizedTopKFromStoreBatch(q, corpus, s"$root/index",
              k = 5, nProbe = 8)
            .where(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id"),
              lit("head").as("probe_view")))
    },
      // pinned BATCH serving: q_ann_pin's contract through the shuffle
      // regime — the lake-annotation job's frozen-index path
      oracle = pinnedTwinSql),

    // ---- RAW-IVF PIN PARITY: the float-precision tier is the one a
    // training job RERANKS against, so it pins exactly like the coded
    // tiers — otherwise a job that pins its quantized retrieval still
    // sees the head move mid-epoch on the rerank side. One store, both
    // time-travel axes moving after the capture (append batch 2, then a
    // compaction publish), served through ALL FOUR raw-family cells:
    // {request, batch} × {pinned, head}. Exact scoring tie-break keeps
    // the smallest neighbor_id, so pinned views serve the +1e6 twin
    // (batch 2 pruned from the plan) and head views the +5e5 one ----
    QueryDef("q_ann_ivf_pin", (s, dir) => {
      val root = tempQueryDir("annivfpin").toString
      val all = vecs(s, dir)
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      val pin = VersionedStore.pin(s"$root/index")
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      Ann.compactIndexCells(s, s"$root/index", keepGenerations = 1)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      def view(df: DataFrame, v: String): DataFrame =
        df.where(col("rank") === 1)
          .select(col("query_id"), col("neighbor_id"),
            lit(v).as("probe_view"))
      view(Ann.ivfTopKFromStore(q, corpus, s"$root/index", k = 5,
          nProbe = 8, at = Some(pin)), "pinned")
        .unionByName(view(Ann.ivfTopKFromStore(q, corpus, s"$root/index",
          k = 5, nProbe = 8), "head"))
        .unionByName(view(Ann.ivfTopKFromStoreBatch(q, corpus,
          s"$root/index", k = 5, nProbe = 8, at = Some(pin)), "pinned_batch"))
        .unionByName(view(Ann.ivfTopKFromStoreBatch(q, corpus,
          s"$root/index", k = 5, nProbe = 8), "head_batch"))
    },
      // raw-IVF pin parity: q_ann_pin's contract through the float-
      // precision family, all four serving cells — pinned views serve the
      // +1e6 twin (append batch 2 partition-pruned out of the plan), head
      // views the +5e5 tie-winner (exact tie-break keeps the smallest id)
      oracle = "SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id," +
        " 'pinned' AS probe_view FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head'" +
        " FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 1000000, 'pinned_batch'" +
        " FROM embeddings WHERE vec_id < 15" +
        " UNION ALL SELECT vec_id, vec_id + 500000, 'head_batch'" +
        " FROM embeddings WHERE vec_id < 15"),

    // ---- IVF REBALANCE: a deliberately coarse index (k=4) whose cells
    // are all far over the size cap gets its oversized cells SPLIT in
    // place — per-cell k-means over that cell's members only, three
    // atomic swaps, untouched rows never re-assigned. Serving after the
    // split probes every sub-cell (the fixture is tiny; the point here
    // is the maintenance protocol, LayoutSpec/DedupAnnSpec measure the
    // balance) and must land on the same planted-twin contract as every
    // other ANN store query — identical vectors share every argmin, so
    // a twin follows its original through any split ----
    QueryDef("q_ann_rebalance", (s, dir) => {
      val root = tempQueryDir("annreb").toString
      val all = vecs(s, dir)
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      // iters=2: the planted contract is codebook-independent (identical
      // vectors share every argmin at ANY training state), so the
      // fixture build doesn't buy correctness with more k-means passes
      Ann.writeIndex(withTwins, s"$root/index", k = 4, iters = 2)
      // n/5 < n/4 ≤ the largest cell, so at least one split always runs
      val cap = math.max(1L, withTwins.count() / 5)
      val report = Ann.rebalanceCells(s, s"$root/index", withTwins,
        maxCellSize = cap, splitFactor = 2, iters = 2)
      require(report.nonEmpty,
        s"rebalance split nothing at cap $cap — the guard the query exists for")
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), withTwins,
        s"$root/index", k = 5, nProbe = 8)
        .where(col("rank") === 1)
    },
      // rebalanced store: splitting a cell re-assigns members among NEW
      // sub-centroids only — identical vectors still share every argmin,
      // so the planted-twin contract survives any sequence of splits
      oracle = twinTop1Sql(15)),

    // ---- IVF cell MERGE: the codebook-shrinking counterpart of
    // q_ann_rebalance — thin cells' members reassign to their nearest
    // surviving centroid in ONE fused assignment job (no training) and
    // the dead/thin centroids leave the codebook, so churn never grows
    // probe cost monotonically. k=8 with floor=avg: pigeonhole
    // guarantees a survivor (largest cell ≥ avg) and the fixture's
    // k-means leaves thin cells below it (require-guarded). Serving
    // after the merge probes every surviving cell (nProbe=8 ≥ post-merge
    // codebook) — exact, so the planted twins stay rank-1 ----
    QueryDef("q_ann_merge", (s, dir) => {
      val root = tempQueryDir("annmrg").toString
      val all = vecs(s, dir)
      val withTwins = all.unionByName(
        all.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.writeIndex(withTwins, s"$root/index", k = 8, iters = 2)
      val floor = math.max(2L, withTwins.count() / 8)
      val report = Ann.mergeCells(s, s"$root/index", withTwins,
        minCellSize = floor)
      require(report.nonEmpty,
        s"merge absorbed nothing at floor $floor — the guard the query" +
          " exists for")
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), withTwins,
        s"$root/index", k = 5, nProbe = 8)
        .where(col("rank") === 1)
    },
      // merged store: absorbing thin cells re-assigns their members among
      // SURVIVING centroids only — identical vectors still share every
      // argmin, and probing all surviving cells is exact, so the planted
      // twins stay rank-1 through any merge
      oracle = twinTop1Sql(15)),

    // ---- TAKEDOWN-aware ANN serving: the store holds each vector plus
    // a twin (+1e6) and a tritwin (+2e6); the twins of query ids < 8
    // are tombstoned. Identical vectors share a cell and the exact
    // re-rank breaks cosine-1.0 ties by lowest neighbor id, so rank-1
    // is the twin where it is live and the tritwin where it was taken
    // down — the planted takedown contract, fully determined ----
    QueryDef("q_ann_delete", (s, dir) => {
      val all = vecs(s, dir)
      val tripled = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 2000000L).as("id"), col("vec")))
      val store = graft.sources.WireFixtures.annTakedownIndexDir(s, dir)
      Ann.ivfQuantizedTopKFromStore(all.where(col("id") < 15), tripled,
        store, k = 5)
        .where(col("rank") === 1)
    },
      // takedown contract: rank-1 is the twin (+1e6, the lowest-id
      // cosine-1.0 candidate) where the twin is live, the tritwin (+2e6)
      // where the twin was tombstoned (query ids < 8)
      oracle = annTakedownTop1Sql),

    // ---- SNAPSHOT-PINNED ANN serving (q_postings_asof's contract on
    // the batch-addressed IVF store): batch 0 = base corpus, batch 1 =
    // twins at +1e6, batch 2 = twins at +5e5 — LOWER ids, so at the
    // store head they win the cosine-1.0 tie (re-rank breaks ties by
    // lowest neighbor id) while the `as of batch 1` pin partition-prunes
    // their files out of the plan entirely and serves the +1e6 twin.
    // The training run that recorded maxBatch=1 replays the exact
    // retrieval it saw, after any number of later appends ----
    QueryDef("q_ann_asof", (s, dir) => {
      val root = tempQueryDir("annasof").toString
      val all = vecs(s, dir)
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      val asOf1 = VersionedStore.Pin(
        VersionedStore.currentGen(s"$root/index").get, Some(1L))
      Ann.ivfQuantizedTopKFromStore(q, corpus, s"$root/index", k = 5,
          nProbe = 8, at = Some(asOf1))
        .where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit("pinned").as("probe_view"))
        .unionByName(
          Ann.ivfQuantizedTopKFromStore(q, corpus, s"$root/index", k = 5,
              nProbe = 8)
            .where(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id"),
              lit("head").as("probe_view")))
    },
      // snapshot-pinned ANN: the as-of-batch-1 read serves the +1e6 twin
      // (batch 2's lower-id twins are pruned out of the plan); the head
      // read serves the +5e5 twin that wins the cosine-1.0 tie
      oracle = pinnedTwinSql),

    // ---- UNIFIED TIME-TRAVEL PIN: as-of has two axes — generation
    // (whole rebuilds) and append batch (within a generation) — and a
    // reader wanting "the store as served at T" must otherwise know
    // both. VersionedStore.pin captures ONE (gen, maxBatch) token; the pinned
    // server replays it across a later APPEND (batch 2, lower-id twins
    // that would win the cosine tie) AND a later PUBLISH (compaction →
    // fresh generation): pinned serves the +1e6 twin, head the +5e5 —
    // q_ann_asof's contract with the publish axis moving too ----
    QueryDef("q_ann_pin", (s, dir) => {
      val root = tempQueryDir("annpin").toString
      val all = vecs(s, dir)
      Ann.writeIndex(all, s"$root/index", k = 8, iters = 3,
        batchId = Some(0L))
      Ann.appendToIndexBatch(
        all.select((col("id") + 1000000L).as("id"), col("vec")),
        s"$root/index", 1L)
      val pin = VersionedStore.pin(s"$root/index")
      // BOTH axes move after the capture: one more append batch, then a
      // compaction that publishes a fresh generation (keepGenerations=1
      // is the retention policy that keeps the pin alive)
      Ann.appendToIndexBatch(
        all.select((col("id") + 500000L).as("id"), col("vec")),
        s"$root/index", 2L)
      Ann.compactIndexCells(s, s"$root/index", keepGenerations = 1)
      val corpus = all
        .unionByName(all.select((col("id") + 1000000L).as("id"), col("vec")))
        .unionByName(all.select((col("id") + 500000L).as("id"), col("vec")))
      val q = all.where(col("id") < 15)
      Ann.ivfQuantizedTopKFromStore(q, corpus, s"$root/index", k = 5,
          nProbe = 8, at = Some(pin))
        .where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit("pinned").as("probe_view"))
        .unionByName(
          Ann.ivfQuantizedTopKFromStore(q, corpus, s"$root/index", k = 5,
              nProbe = 8)
            .where(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id"),
              lit("head").as("probe_view")))
    },
      // unified (gen, maxBatch) pin: q_ann_asof's contract holding across
      // a later append AND a later compaction-publish — pinned serves the
      // +1e6 twin, the post-publish head the +5e5 tie-winner
      oracle = pinnedTwinSql)
  )
}
