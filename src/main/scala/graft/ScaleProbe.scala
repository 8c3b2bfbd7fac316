package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

import graft.pipeline.{Ann, Dedup, Graph, Layout, Semantic}

/** sf0.1 → sf1 scaling probe (SCALING.md).
  *
  * Derives a 10× dataset from sf0.1 by key-shifted replication — fact
  * tables replicate with disjoint key ranges, dimensions stay fixed —
  * then times the heavy query families at both scales. Replication
  * details chosen so per-operator WORK scales linearly instead of
  * super-linearly by fixture accident:
  *  - documents: each replica's text goes through a replica-specific
  *    `translate` of the most frequent letters, so shingles are disjoint
  *    ACROSS replicas — near-dup structure within a replica is identical
  *    to sf0.1 and total pair count scales exactly 10× (replicating text
  *    verbatim would instead create 10-cliques: pair count ∝ factor²);
  *  - embeddings: first component nudged per replica — no cross-replica
  *    exact twins, so planted-twin top-1 stays unique;
  *  - orders/lineitem/customer: key-shifted copies (join fan-out per key
  *    unchanged).
  *
  * Run: `sbt "runMain graft.Probe scale [leg]"` (optionally
  * SPARK_GRAFT_CPUS); [[run]] lists the legs.
  */
object ScaleProbe {

  // the suffix versions the derivation (round 11 added the events
  // table; round 15 replaced the 9-letter rotation / first-component
  // nudge with non-collapsing per-replica transforms) so a cached set
  // from an older recipe never serves a probe built for the new one
  val DerivedDir = "/tmp/graft_sf1f"
  val Factor = 10

  /** Second-decade derivation (round 13): sf1 × 10 — the scale record
    * used to stop at 10×, and 100 TB claims extrapolated two decades
    * from one measured point; `sf10` probes the heaviest families at a
    * second one. Derived FROM the sf1 set with the same replication
    * recipes, shifts computed from the source's own maxima (the sf1
    * constants assume sf0.1 cardinalities). */
  val Derived10Dir = "/tmp/graft_sf10f"

  /** The 20 most frequent English letters — the character set the
    * per-replica document transform permutes. Wide enough that a
    * seeded shuffle scrambles nearly every frequent letter (expected
    * fixed points between two random permutations: 1), so shingle
    * overlap across replicas is noise-level. */
  private val PermAlpha = "etaoinshrdlcumwfgypb"

  /** Deterministic per-(level, replica) PERMUTATION of [[PermAlpha]] —
    * the round-15 replacement for the 9-letter rotation, whose
    * composition collapsed: rotations form the cyclic group C9, so two
    * derivation levels of 10 replicas each land 100 composites on 9
    * classes and near-identical document families grow the dedup pair
    * mass ~quadratically per decade (SCALING.md round 14, the measured
    * 498×). Random permutations compose in S20 (|S20| ≈ 2.4e18):
    * distinct (level, replica) seeds give composites that are distinct
    * and ~fully scrambled relative to each other, so cross-replica
    * near-dup structure stays noise at ANY number of stacked decades.
    * Replica 0 is the identity at every level — the source corpus is
    * always a literal subset of its derivation. Seeded Fisher–Yates
    * (java.util.Random is a fixed LCG by spec): fully deterministic,
    * no ambient RNG. */
  private def replicaPerm(level: Int, i: Int): String = {
    val rnd = new java.util.Random(level.toLong * 1000003L + i)
    val a = PermAlpha.toCharArray
    var j = a.length - 1
    while (j > 0) {
      val k = rnd.nextInt(j + 1)
      val t = a(j); a(j) = a(k); a(k) = t
      j -= 1
    }
    new String(a)
  }

  /** Per-(level, replica) text transform: translate by
    * [[replicaPerm]]; identity for replica 0. */
  private def permText(level: Int, i: Int,
      textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (i == 0) textCol
    else translate(textCol, PermAlpha, replicaPerm(level, i))

  /** Per-(level, replica) embedding transform: a deterministic SIGN
    * FLIP per dimension (hash-derived) — the round-15 replacement for
    * the first-component nudge, which kept every replica within
    * cosine ≈ 1−1e-6 of its source (all 100 composites of a vector
    * formed ONE near-dup family: the measured ~101× semdedup pair mass
    * per decade). Sign patterns preserve norms and all WITHIN-replica
    * geometry exactly (cos(s·x, s·y) = cos(x, y)), while cross-replica
    * cosine becomes a ±-weighted sum of squared components — |cos|
    * ~ dim^-1/2 ≈ 0.125 at dim 64, far below any near-dup threshold —
    * and patterns multiply across levels, so the property survives
    * stacked decades. Replica 0 is the identity. */
  private def signFlip(level: Int, i: Int,
      vecCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (i == 0) vecCol
    else transform(vecCol, (x, pos) =>
      when(pmod(hash(lit(level * 1000 + i), pos), lit(2)) === 0, x)
        .otherwise(-x))


  /** Families deliberately OFF the probe list, each with a reason —
    * everything else in [[SparkEntry.queries]] probes at both scales
    * (no silent caps: the probe set is derived, not hand-curated, so a
    * new query family is on the scale record by default). The bucketed
    * variants persist spark-warehouse TABLE copies of the join inputs —
    * a fixture-materialization cost, not an operator (their unbucketed
    * twins q3_join/q5_join carry the scale row). */
  private val Excluded = Set("q3_join_bucketed", "q5_join_bucketed")

  /** The EXHAUSTIVE probe list: every registered query family minus
    * [[Excluded]] — r12 widened this from the hand-grown 122-family
    * list so the sf1 artifact covers the full query surface. */
  private def AllProbes: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq
      .filterNot(Excluded.contains).sorted

  def derive(spark: SparkSession, src: String, dest: String): Unit = {
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dest, "_SUCCESS")))
      return
    val d = new java.io.File(dest)
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.mkdirs()

    def reps(f: Int => DataFrame): DataFrame =
      (0 until Factor).map(f).reduce(_ unionByName _)

    // dimensions: unchanged cardinality
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$dest/$t.parquet")
    }
    reps { i =>
      spark.read.parquet(s"$src/customer.parquet")
        .withColumn("c_custkey", col("c_custkey") + i * 15000L)
    }.write.parquet(s"$dest/customer.parquet")
    reps { i =>
      spark.read.parquet(s"$src/orders.parquet")
        .withColumn("o_orderkey", col("o_orderkey") + i * 150000L)
        .withColumn("o_custkey", col("o_custkey") + i * 15000L)
    }.write.parquet(s"$dest/orders.parquet")
    reps { i =>
      spark.read.parquet(s"$src/lineitem.parquet")
        .withColumn("l_orderkey", col("l_orderkey") + i * 150000L)
    }.write.parquet(s"$dest/lineitem.parquet")
    // per-replica letter PERMUTATION ⇒ cross-replica shingle
    // disjointness that COMPOSES across derivation levels (the level-1
    // seed space; see [[replicaPerm]])
    reps { i =>
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("doc_id", col("doc_id") + i * 10000L)
        .withColumn("text", permText(1, i, col("text")))
    }.write.parquet(s"$dest/documents.parquet")
    // per-replica sign flip ⇒ no cross-replica near-dup families at
    // any threshold, within-replica geometry bit-preserved
    reps { i =>
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + i * 10000L)
        .withColumn("embedding", signFlip(1, i, col("embedding")))
    }.write.parquet(s"$dest/embeddings.parquet")
    // events: id shift is a MULTIPLE OF THE WINDOW SIZE past the max id,
    // so every replica's scn = event_id - event_id % WindowSize windows
    // stay intact (no replica boundary ever splits a transaction window
    // and windows are disjoint across replicas — the EOW/window-delivery
    // invariants the relay families pin); user ids shift by a multiple
    // of NumPartitions, preserving each key's partition routing and
    // keeping per-key CDC history depth constant (10× keys, not 10×
    // versions per key — the linear shape of a 10× feed)
    val ev = graft.sources.ChangeFeed.raw(spark, src)
    val (maxId, maxUser) = {
      val r = ev.agg(max("event_id"), max("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val w = graft.sources.ChangeFeed.WindowSize
    val p = graft.sources.ChangeFeed.NumPartitions
    val idShift = (maxId / w + 1) * w
    val userShift = (maxUser / p + 1) * p
    reps { i =>
      ev.withColumn("event_id", col("event_id") + i * idShift)
        .withColumn("user_id", col("user_id") + i * userShift)
    }.write.parquet(s"$dest/events.parquet")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dest, "_SUCCESS"))
  }

  /** [[derive]] generalized past its sf0.1-sized key-shift constants:
    * every shift derives from the SOURCE's own max key (rounded up to
    * the same window/partition units where ordering invariants demand
    * it), so the recipe composes — sf1 → sf10, and another decade if
    * ever needed. `level` salts the per-replica document permutation and
    * embedding sign-flip seeds (2 for the sf10 derivation) so transforms
    * at different levels COMPOSE into distinct, mutually-scrambled
    * composites instead of collapsing into shared classes — the
    * round-14 fixture-saturation finding (pair mass ×498/decade under
    * composed 9-rotations, ×~101 under composed nudges) is a property
    * the new transforms cannot reproduce at any depth
    * ([[replicaPerm]]/[[signFlip]]). */
  def deriveNext(spark: SparkSession, src: String, dest: String,
      level: Int): Unit = {
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dest, "_SUCCESS")))
      return
    val d = new java.io.File(dest)
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.mkdirs()
    def reps(f: Int => DataFrame): DataFrame =
      (0 until Factor).map(f).reduce(_ unionByName _)
    def maxOf(t: String, c: String): Long =
      spark.read.parquet(s"$src/$t.parquet").agg(max(col(c))).head().getLong(0)
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$dest/$t.parquet")
    }
    val custShift = maxOf("customer", "c_custkey") + 1L
    val orderShift = maxOf("orders", "o_orderkey") + 1L
    reps { i =>
      spark.read.parquet(s"$src/customer.parquet")
        .withColumn("c_custkey", col("c_custkey") + i * custShift)
    }.write.parquet(s"$dest/customer.parquet")
    reps { i =>
      spark.read.parquet(s"$src/orders.parquet")
        .withColumn("o_orderkey", col("o_orderkey") + i * orderShift)
        .withColumn("o_custkey", col("o_custkey") + i * custShift)
    }.write.parquet(s"$dest/orders.parquet")
    reps { i =>
      spark.read.parquet(s"$src/lineitem.parquet")
        .withColumn("l_orderkey", col("l_orderkey") + i * orderShift)
    }.write.parquet(s"$dest/lineitem.parquet")
    val docShift = maxOf("documents", "doc_id") + 1L
    reps { i =>
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("doc_id", col("doc_id") + i * docShift)
        .withColumn("text", permText(level, i, col("text")))
    }.write.parquet(s"$dest/documents.parquet")
    val vecShift = maxOf("embeddings", "vec_id") + 1L
    reps { i =>
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + i * vecShift)
        .withColumn("embedding", signFlip(level, i, col("embedding")))
    }.write.parquet(s"$dest/embeddings.parquet")
    val ev = graft.sources.ChangeFeed.raw(spark, src)
    val (maxId, maxUser) = {
      val r = ev.agg(max("event_id"), max("user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val w = graft.sources.ChangeFeed.WindowSize
    val p = graft.sources.ChangeFeed.NumPartitions
    val idShift = (maxId / w + 1) * w
    val userShift = (maxUser / p + 1) * p
    reps { i =>
      ev.withColumn("event_id", col("event_id") + i * idShift)
        .withColumn("user_id", col("user_id") + i * userShift)
    }.write.parquet(s"$dest/events.parquet")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dest, "_SUCCESS"))
  }

  private val Base = "/root/testdata/sf0.1"
  private val WarmDir = "/root/testdata/sf0.001"

  /** The sf10 leg's registry families: the top of BENCH_sf1_r12 by wall
    * time, the store-maintenance shapes, the round-13 store families
    * (pin resolution, sigstore CDC append), the round-14 serving regimes
    * and the semdedup recall gate, whose floor asserts inside the timed
    * run so a quality cliff at sf10 fails the row loudly.
    * q_ann_recall left the list in round 15: recall@k at a frozen budget
    * measures corpus size, not operator quality; [[annRecallKN]] is its
    * scale-honest replacement. */
  private val Heavy10 = Seq(
    "q_ivfpq_cdc_stream", "q_ann_cdc_stream", "q_index_cdc_stream",
    "q_dedup_stream_incr", "q_ann_rebalance", "q_postings_compact",
    "q_repetition", "q_gopher_rules", "q_zorder_incr",
    "q_pipeline_web", "q_store_fsck_models", "q_quantile_stream",
    "q_retrieval_pin", "q_sigstore_cdc_stream", "q_dedup_pin",
    "q_ann_store_batch", "q_semdedup_recall")

  /** The sf10 leg's rows at deployment geometry, in print order, each
    * with its own timing of one scale (min-of-2 seconds). */
  private val Sf10Custom: Seq[(String, (SparkSession, String) => Double)] =
    Seq(
      "q_semdedup_kN" -> (semdedupKN _),
      "q_semdedup_hier" -> (semdedupHier _),
      "q_semdedup_lsh64" -> (semdedupLsh64 _),
      "q_zorder_kN" -> (zorderKN _),
      "q_ann_recall_kN" -> (annRecallKN _))

  /** One `Probe scale` invocation, checked by [[Leg.parse]] before any
    * fixture is derived. */
  private[graft] sealed trait Leg
  private[graft] object Leg {
    /** Every probed query sf0.1 → sf1, then cc and pr. */
    case object Sweep extends Leg
    /** Relay pipeline throughput at sf0.1 and sf1. */
    case object Relay extends Leg
    /** Distributed connected components, sf0.1 → sf1. */
    case object Cc extends Leg
    /** Distributed PageRank, sf0.1 → sf1. */
    case object Pr extends Leg
    /** The heavy families sf1 → sf10; `names` narrows the list. */
    final case class Sf10(names: Seq[String]) extends Leg
    /** The named queries alone, sf0.1 → sf1. */
    final case class Queries(names: Seq[String]) extends Leg

    /** The leg `args` select. A name no leg knows fails loudly, listing
      * the known ones: silently filtering would print an empty
      * "successful" run. */
    def parse(args: Seq[String]): Leg = args match {
      case Seq() => Sweep
      case Seq("relay") => Relay
      case Seq("cc") => Cc
      case Seq("pr") => Pr
      case "sf10" +: names =>
        val known = Heavy10 ++ Sf10Custom.map(_._1)
        val unknown = names.filterNot(known.contains)
        require(unknown.isEmpty,
          s"not in the sf10 probe list: ${unknown.mkString(", ")}" +
            s" (known: ${known.mkString(", ")})")
        Sf10(names)
      case names =>
        val unknown = names.filterNot(AllProbes.contains)
        require(unknown.isEmpty,
          s"not a scale leg or probed query: ${unknown.mkString(", ")}" +
            " (legs: relay, sf10 [name ...], cc, pr;" +
            s" queries: ${AllProbes.mkString(", ")})")
        Queries(names)
    }
  }

  /** Times one row at two scales and prints
    * `label  lo-seconds  hi-seconds  ratio×`, the line `tools/bench_sf1.py`
    * and `tools/bench_sf10.py` parse; returns the printed line. `secs`
    * times the row at one dir, so a leg keeps its fixture work outside
    * its own timer. A non-fatal error at either scale prints a FAILED
    * line and the caller goes on: one broken fixture must not vacate the
    * artifact, and a FAILED line is a finding, not a skip. A fatal one
    * (an OOM) propagates and ends the run, so no later row times against
    * a thrashing JVM and lands in the artifact as if healthy. */
  private[graft] def decade(label: String, lo: String, hi: String)(
      secs: String => Double): String = {
    val line = try {
      val a = secs(lo)
      val b = secs(hi)
      f"$label%-22s $a%8.2f $b%8.2f  ${b / a}%5.1fx"
    } catch {
      case NonFatal(e) =>
        f"$label%-22s FAILED ${e.getClass.getSimpleName}:" +
          s" ${Option(e.getMessage).getOrElse("").take(120)}"
    }
    println(line)
    line
  }

  /** Derives the sf1 set, then runs the leg `args` select
    * ([[Leg.parse]]): no args sweeps every probed query plus cc and pr;
    * `relay`, `sf10 [name ...]`, `cc` and `pr` run one leg; any other
    * args are query names to probe alone. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val leg = Leg.parse(args)
    derive(spark, Base, DerivedDir)
    leg match {
      case Leg.Sweep =>
        queries(spark, AllProbes)
        cc(spark)
        pr(spark)
      case Leg.Queries(names) => queries(spark, names)
      case Leg.Cc => cc(spark)
      case Leg.Pr => pr(spark)
      case Leg.Relay =>
        // the sf1 row puts the 10×-feed events/s on record: the pipeline
        // is a narrow codegen'd map over a partitioned scan, so events/s
        // should hold roughly flat as the feed grows
        Seq(Base, DerivedDir).foreach { dir =>
          val (n, eps, binEps, wireEps) = Bench.relayThroughput(spark, dir)
          println(f"relay $dir%-18s events=$n%9d pipeline=${eps.round}%9d/s" +
            f" binary=${binEps.round}%9d/s wire=${wireEps.round}%9d/s")
        }
      case Leg.Sf10(names) => sf10(spark, names)
    }
  }

  /** Min-of-2 wall seconds of `body`. */
  private def timed(body: => Any): Double = Bench.minOf2(Bench.seconds(body))

  /** An untimed pass of query `q` on the tiny set: JIT and codegen warm
    * before the first measured row (the Bench rationale). */
  private def warm(spark: SparkSession, q: String): Unit = Bench.warmUp(q)(
    Bench.force(SparkEntry.queries(q)(spark, WarmDir)))

  private def time(spark: SparkSession, q: String, dir: String): Double =
    timed(Bench.force(SparkEntry.queries(q)(spark, dir)))

  /** The named registry queries sf0.1 → sf1. */
  private def queries(spark: SparkSession, names: Seq[String]): Unit = {
    names.foreach(warm(spark, _))
    println(f"${"query"}%-22s ${"sf0.1"}%8s ${"sf1"}%8s  ratio")
    names.foreach(q => decade(q, Base, DerivedDir)(time(spark, q, _)))
  }

  /** Distributed connected components (maxDriverEdges = 0): the
    * label-propagation loop a 100 TB verified-pair graph must use — the
    * driver union-find fast path is bypassed entirely. The edge list
    * (LSH→verify over the twin-planted corpus, ~10× more edges at sf1 by
    * fixture design) is materialized OUTSIDE the timer so the number is
    * the loop itself, not pair generation. */
  private def cc(spark: SparkSession): Unit =
    decade("cc_distributed", Base, DerivedDir) { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val cand = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
      val pairs = Dedup.ngramJaccardVerify(corpus, cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
        .localCheckpoint(true)
      val nEdges = pairs.count()
      val best = timed(Bench.force(
        Dedup.connectedComponents(pairs, maxDriverEdges = 0)))
      System.err.println(s"[probe] cc_distributed $dir edges=$nEdges")
      best
    }

  /** Distributed PageRank (maxDriverEdges = 0) over a doc-id-dense graph,
    * so the edge list grows ~10× across the decade (q_pagerank's edge
    * derivation saturates its mod-space); rounds are fixed (5), so the
    * expectation is near-linear in edges plus a fixed per-round job
    * cost. */
  private def pr(spark: SparkSession): Unit =
    decade("pagerank_distributed", Base, DerivedDir) { dir =>
      val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val edges = d.select((col("doc_id") % 100000).as("src"),
          ((col("doc_id") * 31 + 7) % 100000).as("dst"))
        .unionByName(d.select(((col("doc_id") * 13 + 5) % 100000).as("src"),
          (col("doc_id") % 100000).as("dst")))
      timed(Bench.force(Graph.pageRank(edges, iters = 5, maxDriverEdges = 0)))
    }

  /** SECOND-DECADE probe (round 13): sf1 → sf10 for [[Heavy10]] and
    * [[Sf10Custom]], or the ones `names` selects (resuming a partial
    * sweep re-times only what is missing). */
  private def sf10(spark: SparkSession, names: Seq[String]): Unit = {
    deriveNext(spark, DerivedDir, Derived10Dir, level = 2)
    def want(q: String) = names.isEmpty || names.contains(q)
    val heavy = Heavy10.filter(want)
    heavy.foreach(warm(spark, _))
    println(f"${"query"}%-22s ${"sf1"}%8s ${"sf10"}%8s  ratio")
    heavy.foreach(q => decade(q, DerivedDir, Derived10Dir)(time(spark, q, _)))
    // warm the semdedup kernels the custom rows share (the loop above
    // warms only registry families)
    Bench.warmUp("semanticDedup")(Bench.force(Semantic.semanticDedup(
      spark.read.parquet(s"$WarmDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      k = 8, iters = 2, intraCellPlanes = 12, intraCellTables = 4)))
    Sf10Custom.foreach { case (q, secs) =>
      if (want(q)) decade(q, DerivedDir, Derived10Dir)(secs(spark, _))
    }
  }

  /** `dir`'s embeddings plus an exact twin of each, as (id, vec). */
  private def withDups(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    e.unionByName(e.select((col("id") + 100000000L).as("id"), col("vec")))
  }

  /** semdedup at the deployment configuration: k ∝ N (80 at sf1, 800 at
    * sf10), constant cell size. Flat assignment evaluates k distances per
    * row, so this row is the documented quadratic; the corpus read stays
    * outside the timer. */
  private def semdedupKN(spark: SparkSession, dir: String): Double =
    Bench.minOf2 {
      val vecs = withDups(spark, dir)
      Bench.seconds(Bench.force(Semantic.semanticDedup(vecs,
        k = if (dir == Derived10Dir) 800 else 80, iters = 3)))
    }

  /** Scale-honest semdedup, hierarchical: leaf count grows ∝ N through
    * √-sized levels (9² = 81 leaves at sf1, 28² = 784 at sf10 — the
    * k = 80/800 cell-size targets). */
  private def semdedupHier(spark: SparkSession, dir: String): Double = {
    val kc = if (dir == Derived10Dir) 28 else 9
    timed(Bench.force(Semantic.semanticDedupHier(withDups(spark, dir),
      kCoarse = kc, kSub = kc, iters = 3, trainSampleCap = 4096)))
  }

  /** Scale-honest semdedup, fixed k + LSH: assignment stays linear and
    * the hot cells' pairs are bucket-bounded. */
  private def semdedupLsh64(spark: SparkSession, dir: String): Double =
    timed(Bench.force(Semantic.semanticDedup(withDups(spark, dir), k = 64,
      iters = 3, intraCellPlanes = 12, intraCellTables = 4)))

  /** z-order at DEPLOYMENT geometry (round 16): q_zorder_incr holds
    * numFiles = 4 at every scale, so at sf10 it times a parallelism
    * accident (4 tasks × 10× rows each). A deployment sizes files to
    * constant bytes: numFiles 4/8 at sf1 → 40/80 at sf10. Same write +
    * 2 appends + required recluster + box-read shape as the driver row. */
  private def zorderKN(spark: SparkSession, dir: String): Double = timed {
    val nf = if (dir == Derived10Dir) 40 else 4
    val out = java.nio.file.Files
      .createTempDirectory("zorderkn").toString + "/layout"
    try {
      val src = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      Layout.zorderWrite(src.where(col("l_orderkey") % 3 === 0), out,
        "l_orderkey", "l_partkey", numFiles = nf)
      Layout.zorderAppend(src.where(col("l_orderkey") % 3 === 1), out,
        "l_orderkey", "l_partkey", numFiles = nf)
      Layout.zorderAppend(src.where(col("l_orderkey") % 3 === 2), out,
        "l_orderkey", "l_partkey", numFiles = nf)
      val (depth, ran) = Layout.reclusterIfNeeded(spark, out,
        "l_orderkey", "l_partkey", maxDepth = 2, numFiles = 2 * nf)
      require(ran, s"recluster did not trigger: depth $depth")
      Bench.force(Layout.read(spark, out)
        .where(col("l_orderkey").between(100, 1200) &&
          col("l_partkey").between(20, 150))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out).getParentFile)
  }

  /** The scale-honest ANN recall gate (round 15): k ∝ N (constant
    * ~125-vector cells) and the sf0.1 gate's budget FRACTIONS (probe
    * 37.5% of cells, rerank 100). recall@10 against exact brute force on
    * 30 organic queries, floor asserted INSIDE the timed run so a quality
    * cliff fails loudly; the store build is a cached fixture. The 0.90
    * floor comes from round 15 (0.9867 at sf1, 1.0000 at sf10). */
  private def annRecallKN(spark: SparkSession, dir: String): Double = timed {
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val k = math.max(16L, all.count() / 125L).toInt
    val store = graft.sources.WireFixtures.annOrganicIndexDir(spark, dir, k = k)
    val q = all.where(col("id") < 30)
    val exact = Ann.bruteForceTopK(q, all, k = 10)
    val served = Ann.ivfQuantizedTopKFromStore(q, all, store, k = 10,
      nProbe = math.max(1, k * 3 / 8), rerank = 100)
    val r = Ann.recallAtK(served, exact)
    println(f"[recall] sf=$dir%s method=ivf_quantized_kN k=$k%d" +
      f" recall_at_10=$r%.4f floor=0.90")
    require(r >= 0.90,
      s"q_ann_recall_kN: recall@10 = $r below the 0.90 floor at" +
        s" deployment geometry (k=$k) — the quantized tier lost" +
        " organic retrieval quality at scale")
  }
}
