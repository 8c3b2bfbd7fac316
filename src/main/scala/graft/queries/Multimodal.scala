package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.{Dedup, Multimodal}

import Fixtures._

/** Multimodal: payload decode, frame and resize plans, perceptual near-dup,
  * media features and the media pipeline. */
object MultimodalQueries extends QueryFamily {

  /** q_frame_sample / q_resize_plan oracles re-derive the fake-media
    * header fields (w = id%64+16, h = id*7%64+16, f = id*13%30+1) the way
    * q_multimodal_meta's oracle does. */
  private lazy val frameSampleSql: String =
    ("SELECT doc_id, CAST(f AS INT) AS frame_idx FROM" +
      " (SELECT doc_id, unnest(range(0, CAST((doc_id * 13) % 30 AS BIGINT) + 1, 7)) AS f" +
      " FROM documents WHERE doc_id % 3 = 2)")

  private lazy val resizePlanSql: String =
    ("WITH m AS (SELECT doc_id," +
      " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' ELSE 'video' END AS media_type," +
      " CAST(doc_id % 64 + 16 AS INT) AS width," +
      " CAST((doc_id * 7) % 64 + 16 AS INT) AS height" +
      " FROM documents WHERE doc_id % 3 <> 1)" +
      " SELECT doc_id, media_type, width, height," +
      " CASE WHEN greatest(width, height) > 48" +
      "   THEN CAST((width * 48) // greatest(width, height) AS INT) ELSE width END AS new_width," +
      " CASE WHEN greatest(width, height) > 48" +
      "   THEN CAST((height * 48) // greatest(width, height) AS INT) ELSE height END AS new_height" +
      " FROM m")

  val defs: Seq[QueryDef] = Seq(
    // ---- multimodal: binary payload plumbing + magic-sniffing decode ----
    QueryDef("q_multimodal_meta", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeMeta(
        Multimodal.attachFakeMedia(docs(s, dir).select("doc_id"))).toDF()
    },
      oracle = "SELECT doc_id," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 0 ELSE CAST(doc_id % 64 + 16 AS INT) END AS width," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 0 ELSE CAST((doc_id * 7) % 64 + 16 AS INT) END AS height," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE CAST((doc_id * 13) % 30 + 1 AS INT) END AS n_frames," +
        " CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN CAST(16000 + (doc_id * 13) % 30 + 1 AS INT) ELSE 0 END AS sample_rate," +
        // image/audio fixture: 8-byte header + f*8 body; video: a real
        // Y4M container — 38-byte header (dims are always 2 digits:
        // 16..79) + f frames of 'FRAME\n' + w*h mono luma bytes
        " CASE WHEN doc_id % 3 = 2 THEN" +
        " CAST(38 + ((doc_id * 13) % 30 + 1)" +
        "   * (6 + (doc_id % 64 + 16) * ((doc_id * 7) % 64 + 16)) AS BIGINT)" +
        " ELSE CAST(8 + ((doc_id * 13) % 30 + 1) * 8 AS BIGINT) END AS n_bytes" +
        " FROM documents"),

    // ---- multimodal: REAL image decode — genuine PNG/JPEG bytes are
    // encoded per-partition then decoded via javax.imageio; format,
    // width, height and channel count all come from the codec ----
    QueryDef("q_image_decode", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeImages(
        Multimodal.attachRealImages(docs(s, dir).select("doc_id")))
    },
      // Re-derives what the real codec must report: the encoder sizes the
      // image from the doc id (w = id%64+16, h = id*7%64+16) and alternates
      // PNG/JPEG by parity; ImageIO decode of TYPE_3BYTE_BGR yields 3 bands
      // for both containers. A codec that misreads dims/format breaks the
      // hash.
      oracle = "SELECT doc_id," +
        " CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt," +
        " CAST(doc_id % 64 + 16 AS INT) AS width," +
        " CAST((doc_id * 7) % 64 + 16 AS INT) AS height," +
        " CAST(3 AS INT) AS channels" +
        " FROM documents"),

    // ---- multimodal: deterministic frame-sampling plan over videos ----
    QueryDef("q_frame_sample", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.frameSamplePlan(
        Multimodal.decodeMeta(
          Multimodal.attachFakeMedia(docs(s, dir).select("doc_id"))).toDF(),
        stride = 7)
    },
      oracle = frameSampleSql),

    // ---- multimodal: REAL audio decode — genuine RIFF/WAVE bytes
    // (16-bit mono PCM) parsed by javax.sound.sampled; rate, frames,
    // channels and the 44-byte-header size all come from the codec ----
    QueryDef("q_audio_decode", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeAudio(
        Multimodal.attachRealAudio(docs(s, dir).select("doc_id")))
    },
      // re-derives what the RIFF parse must report: the encoder derives
      // rate/frames from the id, mono 16-bit PCM, and a canonical WAVE
      // render is a 44-byte header + 2 bytes/frame
      oracle = "SELECT doc_id," +
        " CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate," +
        " CAST((doc_id * 13) % 300 + 50 AS BIGINT) AS n_frames," +
        " CAST(1 AS INT) AS channels," +
        " CAST(44 + ((doc_id * 13) % 300 + 50) * 2 AS BIGINT) AS n_bytes" +
        " FROM documents"),

    // ---- multimodal: REAL resize materialization — decode, bilinear
    // resample to fit 48px (the plan's exact integer dims), re-encode,
    // then re-decode: output dims come from the codec reading genuinely
    // resampled bytes ----
    QueryDef("q_image_resize", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decodeImages(
        Multimodal.resizeImages(
          Multimodal.attachRealImages(docs(s, dir).select("doc_id")),
          maxDim = 48))
    },
      // the materialized resize must land on the plan's integer-exact
      // scale-to-fit dims — re-derived here from the id arithmetic the
      // encoder sized the source images with
      oracle = "WITH m AS (SELECT doc_id, CAST(doc_id % 64 + 16 AS INT) AS w," +
        " CAST((doc_id * 7) % 64 + 16 AS INT) AS h FROM documents)" +
        " SELECT doc_id," +
        " CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((w * 48) // greatest(w, h) AS INT) ELSE w END AS width," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((h * 48) // greatest(w, h) AS INT) ELSE h END AS height," +
        " CAST(3 AS INT) AS channels FROM m"),

    // ---- multimodal: integer-exact resize plan for images/videos ----
    QueryDef("q_resize_plan", (s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.resizePlan(
        Multimodal.decodeMeta(
          Multimodal.attachFakeMedia(docs(s, dir).select("doc_id"))).toDF(),
        maxDim = 48)
    },
      oracle = resizePlanSql),

    // ---- multimodal dedup: PERCEPTUAL image near-dup — smooth-content
    // real images (the content class dHash is built for), bilinear-
    // resized derivatives planted at id+1M, block-averaged dHash over
    // the DECODED rasters, then Dedup's 8×8-bit chunk-blocked hamming
    // join (exact recall at radius 7). Recall contract: every planted
    // derivative must be found — precision over synthetic smooth
    // content is content-defined (gradient-sign collisions are what a
    // perceptual hash MEANS by "same image"), hence the derivative-pair
    // projection. doc_id < 2000 bounds the corpus to the measured
    // operating envelope (beyond it ~4e-4 of resamples flip >7 bits —
    // near-tie margins, documented at Multimodal.imageDHash) ----
    QueryDef("q_image_neardup", (s, dir) => {
      implicit val sp: SparkSession = s
      val base = docs(s, dir).select("doc_id").where(col("doc_id") < 2000)
      val orig = Multimodal.attachSmoothImages(base)
      val deriv = Multimodal.resizeImages(orig, maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      Multimodal.imageNearDups(orig.unionByName(deriv), maxHamming = 7)
        .where(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))
    },
      // recall contract: every planted resized derivative is recovered by
      // dHash + chunk-blocked hamming (see the query comment for why the
      // projection is recall-shaped and the corpus envelope-bounded)
      oracle = imageNeardupSql),

    // ---- multimodal dedup: ACOUSTIC near-dup — real WAV fixtures,
    // gain-halved derivatives planted at id+1M (a genuine amplitude
    // change re-encoded through the codec), energy-envelope fingerprints
    // over the DECODED PCM, 4×16-bit chunk-blocked hamming join at
    // radius 3. Full precision+recall contract: the output must be
    // EXACTLY the planted pairs — energy comparisons are gain-invariant
    // (≤1 bit flips) while unrelated clips sit ≥10 bits apart ----
    QueryDef("q_audio_neardup", (s, dir) => {
      implicit val sp: SparkSession = s
      val orig = Multimodal.attachRealAudio(docs(s, dir).select("doc_id"))
      val deriv = Multimodal.gainHalvedAudio(orig)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      Multimodal.audioNearDups(orig.unionByName(deriv), maxHamming = 3)
        .select(col("id_a"), col("id_b"))
    },
      // precision+recall contract: the acoustic near-dup output is exactly
      // the planted gain-halved pairs
      oracle = "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents"),

    // ---- multimodal dedup, INCREMENTAL store protocol: the corpus's
    // dHash signatures live in a persisted parquet store (decoded and
    // signed once — WireFixtures.imageSigStoreDir); an arriving batch of
    // resized derivatives signs ONLY itself and chunk-joins against the
    // store scan. Per-batch cost is O(batch) decode + a collision-sized
    // join no matter how large the stored corpus — the media analog of
    // the minhash incremental protocol (q_dedup_incremental). Same
    // recall contract and envelope bound as q_image_neardup ----
    QueryDef("q_image_incr", (s, dir) => {
      implicit val sp: SparkSession = s
      val stored = s.read.parquet(
        graft.sources.WireFixtures.imageSigStoreDir(s, dir))
      val batch = Multimodal.resizeImages(
        Multimodal.attachSmoothImages(
          docs(s, dir).select("doc_id").where(col("doc_id") < 2000)),
        maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      Dedup.incrementalHammingPairs(Multimodal.imageSignatures(batch),
          stored, maxHamming = 7, chunks = 8)
        .where(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"))
    },
      // incremental store path: identical recall contract — every batch
      // derivative pairs with its stored original through the store scan
      oracle = imageNeardupSql),

    // ---- multimodal → embedding composition: blobs through the feature
    // extractor (deterministic stub encoder — the documented stand-in
    // for a vision model; bytes in, array<float> out, batched per
    // partition) straight into the hyperplane-LSH near-dup op. Planted
    // identical payloads at id+1M yield identical feature vectors, which
    // collide in every hash table at cosine 1.0 — same contract shape as
    // q_dedup_embedding, proving media features plug into the embedding
    // dedup/ANN family unchanged ----
    QueryDef("q_media_features", (s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.attachSmoothImages(docs(s, dir).select("doc_id"))
      val withTwins = media.unionByName(
        media.select((col("doc_id") + 1000000L).as("doc_id"), col("payload")))
      Dedup.embeddingNearDups(Multimodal.extractFeatures(withTwins),
        vecCol = "embedding", idCol = "doc_id", cosineThreshold = 0.99)
    },
      // identical payloads → identical feature vectors → cosine 1.0 in
      // every hyperplane table; the feature corpus has no natural ≥0.99
      // pair (empirically verified at both SFs, like q_dedup_embedding)
      oracle = "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b," +
        " CAST(1.0 AS DOUBLE) AS cosine FROM documents"),

    // ---- COMPOSED MULTIMODAL PIPELINE: ingest blobs → REAL decode →
    // resolution quality gate (on decoded dims, not metadata claims) →
    // perceptual near-dup → cluster keep-one. Every stage is a
    // first-class op; the oracle re-derives the whole chain in closed
    // form (encoder dim arithmetic + resize-plan integer scaling +
    // planted-pair keep-one: an original always wins its cluster, a
    // derivative survives only when its original failed the gate) ----
    QueryDef("q_pipeline_media", (s, dir) => {
      implicit val sp: SparkSession = s
      val base = docs(s, dir).select("doc_id").where(col("doc_id") < 2000)
      val orig = Multimodal.attachSmoothImages(base)
      val deriv = Multimodal.resizeImages(orig, maxDim = 48)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("payload"))
      val media = orig.unionByName(deriv)
      val kept = Multimodal.decodeImages(media)
        .where(col("width") * col("height") >= 576)
        .select("doc_id")
      val pairs = Multimodal.imageNearDups(media.join(kept, "doc_id"),
          maxHamming = 7)
        .where(col("id_b") === col("id_a") + 1000000L)
        .select("id_a", "id_b")
      Dedup.keepOnePerComponent(kept, pairs).select("doc_id")
    },
      // the whole media chain in closed form: encoder dims (w=id%64+16,
      // h=id*7%64+16), derivative dims via the integer scale-to-fit the
      // resize query already hash-proves the codec lands on, the ≥576-px²
      // gate on both generations, then keep-one — an original that passed
      // always survives (min id of its cluster); a derivative survives
      // only when its original failed the gate (singleton)
      oracle = "WITH m AS (SELECT doc_id, CAST(doc_id % 64 + 16 AS INT) AS w," +
        " CAST((doc_id * 7) % 64 + 16 AS INT) AS h FROM documents" +
        " WHERE doc_id < 2000)," +
        " d AS (SELECT doc_id + 1000000 AS doc_id," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((w * 48) // greatest(w, h) AS INT) ELSE w END AS w," +
        " CASE WHEN greatest(w, h) > 48" +
        "   THEN CAST((h * 48) // greatest(w, h) AS INT) ELSE h END AS h" +
        " FROM m)" +
        " SELECT doc_id FROM m WHERE w * h >= 576" +
        " UNION ALL" +
        " SELECT doc_id FROM d WHERE w * h >= 576" +
        " AND doc_id - 1000000 NOT IN" +
        "   (SELECT doc_id FROM m WHERE w * h >= 576)")
  )
}
