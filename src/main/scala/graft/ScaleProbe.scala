package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Run: `sbt "runMain graft.Probe scale [leg ...]"` (optionally
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

  /** Third-decade derivation (round 14): sf10 × 10 — [[deriveNext]]
    * composing once more (its shifts come from the source's own
    * maxima, so the recipe stacks). `sf100` spot-probes the top-3
    * heaviest families at it, turning the 100 TB claim from two
    * measured decades plus extrapolation into three measured decades
    * on the curve's hottest points. */
  val Derived100Dir = "/tmp/graft_sf100f"

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
    * it), so the recipe composes — sf1 → sf10, sf10 → sf100, another
    * decade if ever needed. `level` salts the per-replica document
    * permutation and embedding sign-flip seeds (2 for the sf10
    * derivation, 3 for sf100) so transforms at different levels
    * COMPOSE into distinct, mutually-scrambled composites instead of
    * collapsing into shared classes — the round-14 fixture-saturation
    * finding (pair mass ×498/decade under composed 9-rotations, ×~101
    * under composed nudges) is a property the new transforms cannot
    * reproduce at any depth ([[replicaPerm]]/[[signFlip]]). */
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

  /** Derives the sf1 set, then runs the legs `args` select: `annprune`,
    * `annbatch [int8|ivfpq|ivfpq10|pinned ...]`, `zstd`, `heaps`,
    * `relay [curve]`, `sf10 [name ...]`, `sf100 [leg ...]`, `cc` (the
    * distributed-CC leg), `pr` (the distributed PageRank leg) or `media`
    * (the perceptual near-dup legs). Any other args are query names to
    * probe alone (local iteration on a new family); no args runs the
    * exhaustive sf0.1 → sf1 sweep plus the cc, pr and semdedup legs. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    derive(spark, base, DerivedDir)
    val ccOnly = args.contains("cc")
    val mediaOnly = args.contains("media")
    val prOnly = args.contains("pr")
    val relayOnly = args.contains("relay")
    val sf10Only = args.contains("sf10")
    val sf100Only = args.contains("sf100")

    if (args.contains("annprune")) {
      // SCAN-SIDE proof that store-served ANN is an index probe (round
      // 13): rows flowing out of the int8 cells scan must track the
      // probed cells' population, not the store size — the literal
      // In(cell_id) + range-clustered layout at work. AQE off so the
      // executed plan's scan metrics are directly addressable.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def probePrune(dir: String): Unit = {
        val store = graft.sources.WireFixtures.annOrganicIndexDir(spark, dir)
        val all = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val served = graft.pipeline.Ann.ivfQuantizedTopKFromStore(
          all.where(col("id") < 3), all, store, k = 10, nProbe = 2)
        served.collect()
        val scanned = served.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.output.exists(_.name == "q") => s
        }.map(_.metrics("numOutputRows").value).sum
        val t = graft.pipeline.VersionedStore.tableRoot(store)
        val total = spark.read.parquet(s"$t/cells").count()
        val cells = spark.read.parquet(s"$t/codebook").count()
        // 3 queries × nProbe=2 probe ≤ 6 of `cells` centroids: frac must
        // sit at ~probed/cells across scales (rows ∝ the probed cells'
        // population), never at 1.0 (the old whole-tier scan)
        println(f"annprune $dir%-22s store_rows=$total%8d" +
          f" scan_rows=$scanned%8d cells=$cells%3d queries=3 nProbe=2" +
          f" frac=${scanned.toDouble / total}%.3f")
      }
      probePrune(base)
      probePrune(DerivedDir)
      return
    }

    if (args.contains("annbatch")) {
      // BATCH-REGIME serving at the scale it exists for: a CORPUS-SIZED
      // query batch through ivfQuantizedTopKFromStoreBatch (round 14's
      // shuffle regime, spec-proven correct but never measured at its
      // stated workload). Geometry is the scale-honest k ∝ N (constant
      // ~25-vector cells: 2,000 vectors / k=80 at sf0.1, 20,000 / 800
      // at sf1 — the semdedup-kN adjudication's shape): the
      // regime's candidate volume is queries × nProbe × cellSize, so
      // constant cells make the decade ~linear; a fixed-k store would
      // measure the fixture's quadratic candidate blow-up, not the
      // operator. Store build (training + assignment) is a fixture
      // cost, materialized OUTSIDE the timer via the cached organic
      // index. The probe stage itself (queries × k centroid distances)
      // bounds how far k ∝ N stretches in one flat level — its scale
      // path is a coarse-over-coarse hierarchy, stated in SCALING.md.
      def vecsOf(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      def annBatchLeg(dir: String, k: Int): Double = {
        val store =
          graft.sources.WireFixtures.annOrganicIndexDir(spark, dir, k = k)
        val all = vecsOf(dir)
        Bench.minOf2(Bench.seconds(Bench.force(
          graft.pipeline.Ann.ivfQuantizedTopKFromStoreBatch(
            all, all, store, k = 10, nProbe = 2))))
      }
      // extra args filter the legs (int8 / ivfpq / pinned) so each can
      // run in its own JVM — the sf100 probe-hygiene rule applied here
      val legSel = args.filterNot(_ == "annbatch")
      val legKnown = Seq("int8", "ivfpq", "ivfpq10", "pinned")
      require(legSel.forall(legKnown.contains),
        s"not an annbatch leg: ${legSel.filterNot(legKnown.contains)
          .mkString(", ")} (known: ${legKnown.mkString(", ")})")
      def wantLeg(l: String) = legSel.isEmpty || legSel.contains(l)
      if (wantLeg("int8")) {
        val a = annBatchLeg(base, 80)
        val b = annBatchLeg(DerivedDir, 800)
        println(f"${"q_ann_batch (k∝N)"}%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
      }
      // the COMPRESSED tier's corpus-sized regime (ivfPqTopKFromStoreBatch
      // — the stated 100 TB serving path) at the same k ∝ N geometry:
      // residual ADC LUTs (m=8) ride the distributed probe frame, so the
      // decade measures the LUT projection + cell_id hash join + min-ADC
      // rerank at growing scale, store build (both quantizers) outside
      // the timer via the cached organic fixture
      def ivfPqBatchLeg(dir: String, k: Int): Double = {
        val store = graft.sources.WireFixtures.ivfPqOrganicIndexDir(
          spark, dir, k = k, m = 8)
        val all = vecsOf(dir)
        Bench.minOf2(Bench.seconds(Bench.force(
          graft.pipeline.Ann.ivfPqTopKFromStoreBatch(
            all, all, store, k = 10, nProbe = 2))))
      }
      if (wantLeg("ivfpq")) {
        val a = ivfPqBatchLeg(base, 80)
        val b = ivfPqBatchLeg(DerivedDir, 800)
        println(f"${"q_ivfpq_batch (k∝N)"}%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
      }
      // the SECOND decade for the compressed batch regime (sf1 → sf10,
      // k 800 → 8000): its own leg because the sf10 store build (k-means
      // at k=8000 over 200k vectors) is minutes of fixture cost — run it
      // in a dedicated JVM like every sf10+ leg
      if (wantLeg("ivfpq10")) {
        deriveNext(spark, DerivedDir, Derived10Dir, level = 2)
        val a = ivfPqBatchLeg(DerivedDir, 800)
        val b = ivfPqBatchLeg(Derived10Dir, 8000)
        println(f"${"q_ivfpq_batch d2"}%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
      }
      // PINNED batch serving at scale (the r15 stretch): store prebuilt,
      // pin captured outside the timer — the timed region is ONLY the
      // pinned serve, so the decade pins the claim that pin resolution
      // (pointer resolve + generation-root listing) stays metadata-cost
      // under the shuffle regime while the corpus grows 10×. The head
      // serve times alongside as the control arm: pinned/head ≈ 1 is
      // the contract (same files, same plan, one extra existence check)
      if (wantLeg("pinned")) {
        def pinnedBatchLeg(dir: String, k: Int): (Double, Double) = {
          val store =
            graft.sources.WireFixtures.annOrganicIndexDir(spark, dir, k = k)
          val pin = graft.pipeline.VersionedStore.pin(store)
          val all = vecsOf(dir)
          val head = Bench.minOf2(Bench.seconds(Bench.force(
            graft.pipeline.Ann.ivfQuantizedTopKFromStoreBatch(
              all, all, store, k = 10, nProbe = 2))))
          val pinned = Bench.minOf2(Bench.seconds(Bench.force(
            graft.pipeline.Ann.ivfQuantizedTopKFromStoreBatch(
              all, all, store, k = 10, nProbe = 2, at = Some(pin)))))
          (head, pinned)
        }
        val (ha, pa) = pinnedBatchLeg(base, 80)
        val (hb, pb) = pinnedBatchLeg(DerivedDir, 800)
        println(f"${"q_ann_batch_pinned"}%-22s $pa%8.2f $pb%8.2f  ${pb / pa}%5.1f×" +
          f"  (head $ha%.2f/$hb%.2f, pinned/head ${pa / ha}%.2f/${pb / hb}%.2f)")
      }
      return
    }

    if (args.contains("zstd")) {
      // STORE-WRITE codec leg (optimization guide §6: "zstd: smaller
      // than snappy at similar read speed" — prove it on THIS engine's
      // store shapes instead of citing it): time a signature-store
      // build (hash-heavy payload: minhash sigs + banded keys) and a
      // raw-docs passthrough write (text-heavy payload) under snappy vs
      // zstd at sf1 and sf10, with read-back scans and on-disk bytes.
      // Store BUILDS are the write-dominant operators here; the bench
      // inputs stay snappy (re-encoding the fixtures is not a round
      // job), so this leg is the production-conf evidence, not a bench
      // change.
      deriveNext(spark, DerivedDir, Derived10Dir, level = 2)
      def du(dir: String): Long =
        graft.pipeline.StoreFs.listFileStatusesRecursive(dir)
          .map(_.getLen).sum
      def minOf2(run: => Unit): Double = Bench.minOf2(Bench.seconds(run))
      def leg(dir: String, label: String): Unit = {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        Seq("snappy", "zstd").foreach { codec =>
          spark.conf.set("spark.sql.parquet.compression.codec", codec)
          // signature-store build: the engine's write-dominant shape
          var n = 0
          val sigDirs = scala.collection.mutable.ArrayBuffer.empty[String]
          val tSig = minOf2 {
            val out = s"/tmp/graft_zstdleg/$label-$codec-sig-$n"; n += 1
            sigDirs += out
            graft.pipeline.Dedup.writeSignatureStore(docs, out,
              numFiles = 8)
          }
          val sigDir = sigDirs.last
          val sigBytes = du(sigDir)
          val t = graft.pipeline.VersionedStore.tableRoot(sigDir)
          val tSigRead = minOf2 {
            spark.read.parquet(s"$t/sigs")
              .write.format("noop").mode("overwrite").save()
            spark.read.parquet(s"$t/banded")
              .write.format("noop").mode("overwrite").save()
          }
          // raw text passthrough: how the codec behaves on documents
          var m = 0
          val docDirs = scala.collection.mutable.ArrayBuffer.empty[String]
          val tDoc = minOf2 {
            val out = s"/tmp/graft_zstdleg/$label-$codec-docs-$m"; m += 1
            docDirs += out
            docs.write.mode("overwrite").parquet(out)
          }
          val docBytes = du(docDirs.last)
          val tDocRead = minOf2 {
            spark.read.parquet(docDirs.last)
              .write.format("noop").mode("overwrite").save()
          }
          println(f"[zstd] $label%-5s codec=$codec%-6s" +
            f" sig_write=$tSig%7.2f s sig_read=$tSigRead%6.2f s" +
            f" sig_bytes=$sigBytes%12d" +
            f" docs_write=$tDoc%7.2f s docs_read=$tDocRead%6.2f s" +
            f" docs_bytes=$docBytes%12d")
          (sigDirs ++ docDirs).foreach(d =>
            graft.pipeline.StoreFs.deleteRecursive(d))
        }
      }
      leg(DerivedDir, "sf1")
      leg(Derived10Dir, "sf10")
      return
    }

    if (args.contains("heaps")) {
      // VOCABULARY-GROWTH bracket for the word-keyed text families
      // (round 16, the r15 wrong-#2 adjudication turned into a
      // measurement): the standard decade derivation gives every
      // replica a distinct letter permutation, so vocabulary grows 10×
      // per decade — the Heaps'-law worst case (a real corpus grows
      // V ∝ N^β, β ≈ 0.5 → ~3.2× per decade). This mode derives two
      // vocab-CONTROLLED sf10 document corpora from the sf1 set —
      // replicas drawn from 1 or 3 distinct permutation classes — and
      // times the gopher battery on all three plus the standard corpus,
      // bracketing the decade ratio as a function of vocabulary growth
      // alone (same bytes, same doc count, same per-doc structure).
      // Reusing a permutation class makes exact-dup doc families across
      // replicas, which is harmless here: the battery is a per-doc
      // projection, and these corpora feed ONLY this experiment (the
      // dedup families keep the all-distinct fixture precisely so their
      // pair mass stays linear — vocab realism and dup-mass realism are
      // incompatible in a replica fixture, so each family measures
      // against the corpus realistic for ITS key structure).
      deriveNext(spark, DerivedDir, Derived10Dir, level = 2)
      def heapsDocs(dest: String, distinctPerms: Int): Unit = {
        if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(dest, "_SUCCESS"))) return
        val d = new java.io.File(dest)
        org.apache.commons.io.FileUtils.deleteDirectory(d)
        d.mkdirs()
        val src = spark.read.parquet(s"$DerivedDir/documents.parquet")
        val docShift = src.agg(max("doc_id")).head().getLong(0) + 1L
        (0 until Factor).map { i =>
          src.withColumn("doc_id", col("doc_id") + i * docShift)
            .withColumn("text", permText(2, i % distinctPerms, col("text")))
        }.reduce(_ unionByName _)
          .write.parquet(s"$dest/documents.parquet")
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(dest, "_SUCCESS"))
      }
      val v1 = "/tmp/graft_sf10_heaps1"
      val v3 = "/tmp/graft_sf10_heaps3"
      heapsDocs(v1, 1)
      heapsDocs(v3, 3)
      Bench.warmUp("q_gopher_rules")(Bench.force(
        SparkEntry.queries("q_gopher_rules")(spark, "/root/testdata/sf0.001")))
      def tq(dir: String): Double = Bench.minOf2(Bench.seconds(
        Bench.force(SparkEntry.queries("q_gopher_rules")(spark, dir))))
      val a = tq(DerivedDir)
      println(f"${"q_gopher_rules sf1"}%-26s $a%8.2f s")
      Seq(("sf10 vocab x1", v1), ("sf10 vocab x3 (Heaps)", v3),
        ("sf10 vocab x10", Derived10Dir)).foreach { case (label, dir) =>
        val b = tq(dir)
        println(f"$label%-26s $b%8.2f s  ${b / a}%5.1f×")
      }
      return
    }

    if (relayOnly) {
      // relay-pipeline THROUGHPUT at both scales (Bench's three legs:
      // envelope scan, binary segment source, DbusEventV2 wire decode —
      // each source → mod-filter → ordered dispatch, fully consumed,
      // best-of-2). The sf1 row puts the 10×-feed events/s on record:
      // the pipeline is a narrow codegen'd map over a partitioned scan,
      // so events/s should hold roughly flat as the feed grows.
      import graft.operators.{DbusKeyFilter, KeyModFilter, Relay}
      val f = DbusKeyFilter("MOD", Seq(KeyModFilter(4, 0, 3)))
      def probe(dir: String): Unit = {
        val (n, eps) = Bench.throughput(() => Relay.streamOrdered(
          graft.sources.Store.eventLog(spark, dir), filter = f).count())
        val bin = graft.sources.WireFixtures.relayLogDir(spark, dir)
        val (_, binEps) = Bench.throughput(() => Relay.streamOrdered(
          spark.read.format("graft-relay").option("path", bin).load(),
          filter = f).count())
        val wire = graft.sources.WireFixtures.dbusv2LogDir(spark, dir)
        val (_, wireEps) = Bench.throughput(() => Relay.streamOrdered(
          spark.read.format("graft-relay").option("path", wire).load(),
          filter = f).count())
        println(f"relay $dir%-18s events=$n%9d pipeline=${eps.round}%9d/s" +
          f" binary=${binEps.round}%9d/s wire=${wireEps.round}%9d/s")
      }
      if (args.contains("curve")) {
        // WARMTH CURVE (diagnostic): the sf0.1 legs finish in ~0.2 s —
        // job-floor territory where the dominant cost is JVM state (JIT
        // tiers, codegen class loading), not the pipeline. Probing the
        // same dir repeatedly in one JVM separates the warmth component
        // (the curve climbs then plateaus) from any real per-event
        // regression (the plateau itself moved) — the q_compact_log
        // solo-isolation discipline applied to the throughput legs.
        (1 to 8).foreach(_ => probe(base))
      } else {
        probe(base)
        probe(DerivedDir)
      }
      return
    }

    val all = AllProbes
    val probes =
      if (args.isEmpty || ccOnly || mediaOnly || prOnly || sf10Only ||
        sf100Only) all
      else {
        // fail loudly on a typo'd or unprobed name — silently filtering
        // would print an empty "successful" run
        val unknown = args.filterNot(all.contains)
        require(unknown.isEmpty,
          s"not in the probe list: ${unknown.mkString(", ")} " +
            s"(known: ${all.mkString(", ")})")
        args
      }

    if (mediaOnly) {
      // perceptual near-dup families: signature kernel + hamming join
      // over the FULL corpus (no contract bound). Fixture blobs are
      // materialized OUTSIDE the timer (they stand in for ingested
      // media); the timed region is the op — one codec pass per blob
      // into 64-bit sigs, then the chunk-blocked pair join. Signatures
      // are built inline (not via the plan cache) so min-of-2 measures
      // the op, not a cache hit.
      import spark.implicits._
      def mediaProbe(dir: String, image: Boolean): Double = {
        val ids = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id")
        implicit val sp: SparkSession = spark
        val orig = if (image) graft.pipeline.Multimodal.attachSmoothImages(ids)
          else graft.pipeline.Multimodal.attachRealAudio(ids)
        val deriv = (if (image)
            graft.pipeline.Multimodal.resizeImages(orig, maxDim = 48)
          else graft.pipeline.Multimodal.gainHalvedAudio(orig))
          .select((col("doc_id") + 10000000L).as("doc_id"), col("payload"))
        val media = orig.unionByName(deriv).localCheckpoint(true)
        def once(): Double = Bench.seconds {
          val sigs = media
            .as[graft.pipeline.Multimodal.ImageRow]
            .mapPartitions(_.map(r => (r.doc_id,
              if (image) graft.pipeline.Multimodal.imageDHash(r.payload)
              else graft.pipeline.Multimodal.audioFingerprint(r.payload))))
            .toDF("id", "sig")
          Bench.force(graft.pipeline.Dedup.hammingPairsFromSignatures(
            sigs, if (image) 7 else 3, if (image) 8 else 4))
        }
        once() // JIT/codegen warm pass on this leg's kernels
        Bench.minOf2(once())
      }
      Seq(("image_neardup", true), ("audio_neardup", false)).foreach {
        case (name, img) =>
          val a = mediaProbe(base, img)
          val b = mediaProbe(DerivedDir, img)
          println(f"$name%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
      }
      return
    }

    // warm codegen/JIT on the tiny SF first (same rationale as Bench).
    // The sf10/sf100 modes skip this ALL-query preamble: they warm
    // exactly the families they time (inline in their blocks), and with
    // the one-JVM-per-leg hygiene rule a ~250-query warm pass per leg
    // would be minutes of dead preamble multiplied by the leg count.
    def warm(q: String): Unit = Bench.warmUp(q)(
      Bench.force(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")))
    if (!ccOnly && !prOnly && !sf10Only && !sf100Only) probes.foreach(warm)

    def time(q: String, dir: String): Double = Bench.minOf2(
      Bench.seconds(Bench.force(SparkEntry.queries(q)(spark, dir))))

    if (sf100Only) {
      // THIRD-DECADE spot probe (round 14): sf10 → sf100 for the top-3
      // heaviest families (by BENCH_sf10_r13 wall time: the IVF-PQ CDC
      // maintainer, the byte-heaviest rule filter, and semdedup's
      // stated 100 TB LSH regime). Single timing per scale — at tens
      // of minutes per sf100 family a min-of-2 buys noise reduction a
      // decade ratio does not need (box variance is percent-level, the
      // question is linear-vs-super-linear); FAILED lines stay loud.
      deriveNext(spark, DerivedDir, Derived10Dir, level = 2)
      deriveNext(spark, Derived10Dir, Derived100Dir, level = 3)
      def one(label: String)(run: String => Unit): Unit = try {
        val a = Bench.seconds(run(Derived10Dir))
        val b = Bench.seconds(run(Derived100Dir))
        println(f"$label%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(f"$label%-22s FAILED ${e.getClass.getSimpleName}:" +
            s" ${Option(e.getMessage).getOrElse("").take(160)}")
      }
      val sel100 = args.filterNot(_ == "sf100")
      // fail loudly on a typo'd leg name (the AllProbes rule); the two
      // diagnostic legs (stages, logp) are OPT-IN ONLY — the default
      // sweep carries the three adjudicated families, and PROBE HYGIENE
      // (SCALING.md round 15): run each sf100 leg in its OWN JVM —
      // `runMain graft.Probe scale sf100 <leg>` per leg — so one leg's
      // retained shuffle files can never exhaust the disk under a later
      // leg (the r15 q_semdedup_lsh64 failure shape)
      val known100 = Seq("q_ivfpq_cdc_stream", "q_gopher_rules",
        "q_semdedup_lsh64", "q_semdedup_lsh64_logp", "q_semdedup_stages",
        "q_semdedup_stages10")
      require(sel100.forall(known100.contains),
        s"not in the sf100 probe list: ${sel100.filterNot(known100.contains)
          .mkString(", ")} (known: ${known100.mkString(", ")})")
      def want(l: String) = sel100.contains(l) ||
        (sel100.isEmpty && l != "q_semdedup_lsh64_logp" &&
          l != "q_semdedup_stages" && l != "q_semdedup_stages10")
      println(f"${"query"}%-22s ${"sf10"}%8s ${"sf100"}%8s  ratio")
      Seq("q_ivfpq_cdc_stream", "q_gopher_rules").foreach { q =>
        if (want(q)) {
          warm(q) // class-loading/codegen on the tiny set, as sf10 does
          one(q)(dir => Bench.force(SparkEntry.queries(q)(spark, dir)))
        }
      }
      def withDups100(dir: String): DataFrame = {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        e.unionByName(
          e.select((col("id") + 100000000L).as("id"), col("vec")))
      }
      // warm the semdedup kernels on the tiny corpus so the legs' first
      // (sf10-side) timing is not JIT/codegen-loading cost — the
      // replacement for the removed all-query preamble
      if (want("q_semdedup_lsh64") || want("q_semdedup_lsh64_logp") ||
        want("q_semdedup_stages") || want("q_semdedup_stages10"))
        Bench.warmUp("semanticDedup")(Bench.force(
          graft.pipeline.Semantic.semanticDedup(
            withDups100("/root/testdata/sf0.001"), k = 8, iters = 2,
            intraCellPlanes = 12, intraCellTables = 4)))
      if (want("q_semdedup_lsh64")) one("q_semdedup_lsh64") { dir =>
        Bench.force(graft.pipeline.Semantic.semanticDedup(
          withDups100(dir), k = 64, iters = 3, intraCellPlanes = 12,
          intraCellTables = 4))
      }
      // DEPLOYMENT-GEOMETRY lsh64 (the q_ann_recall_kN discipline applied
      // to the LSH knob): fixed planes at growing N let expected bucket
      // occupancy grow linearly (occupancy = cellSize / 2^planes), so the
      // random-collision candidate term Σ bucket² goes quadratic — at
      // sf100's 62.5k-vector cells, 12 planes means ~15 rows/bucket and
      // ~10^8 id pairs, which is the fixture geometry, not the operator.
      // A deployment holds OCCUPANCY constant: planes grow with log₂ of
      // the decade (12 → 16 at 10×; occupancy 1.5 → 0.95), the same
      // reasoning as k ∝ N for cells. Exact twins still collide in every
      // table at any plane count, so the dedup contract is unchanged;
      // near-pair recall at the added planes is the documented
      // plane/table trade (q_semdedup_recall pins the serving config)
      if (want("q_semdedup_lsh64_logp")) one("q_semdedup_lsh64_logp") { dir =>
        val planes = if (dir == Derived100Dir) 16 else 12
        Bench.force(graft.pipeline.Semantic.semanticDedup(
          withDups100(dir), k = 64, iters = 3, intraCellPlanes = planes,
          intraCellTables = 4))
      }
      // PER-STAGE wall breakdown of the lsh64 shape (the r15 verdict's
      // alternative deliverable): the same pipeline the leg times —
      // train → assign → bucket → candidates → verify → exclude — each
      // stage materialized (eager localCheckpoint) so its wall is its
      // own, with candidate/verified row counts printed so the decade's
      // pair-mass shape is on record next to the stage walls
      locally {
        def stages(dir: String, planes: Int): Unit = try {
          val base = withDups100(dir)
            .select(col("id").cast("long").as("id"), col("vec"))
          def timed[T](label: String)(f: => T): T = {
            val t0 = System.nanoTime(); val r = f
            println(f"[stages] $dir%-22s $label%-14s" +
              f" ${(System.nanoTime() - t0) / 1e9}%8.2f s")
            r
          }
          val (codebook, _) = timed("train_k64x3")(
            graft.pipeline.Ann.trainCentroids(base, 64, 3))
          val cells = timed("assign")(base.withColumn("cell_id",
            graft.pipeline.Ann.nearestCellExpr(codebook, col("vec")))
            .localCheckpoint(true))
          val bucketed = timed(s"bucket_${planes}x4")(
            graft.functions.VectorFunctions.hyperplaneBuckets(
              cells.select("id", "vec"), "id", "vec", planes, 4)
              .select("id", "table", "bucket")
              .join(cells.select(col("id"), col("cell_id")), "id")
              .localCheckpoint(true))
          val candidates = timed("cand_distinct")(
            bucketed.select(col("cell_id"), col("table"), col("bucket"),
                col("id").as("id_a"))
              .join(bucketed.select(col("cell_id"), col("table"),
                col("bucket"), col("id").as("id_b")),
                Seq("cell_id", "table", "bucket"))
              .where(col("id_a") < col("id_b"))
              .select("id_a", "id_b").distinct()
              .localCheckpoint(true))
          println(s"[stages] $dir candidates=${candidates.count()}")
          val verified = timed("verify")(
            graft.pipeline.Dedup.embeddingCosineVerify(
              cells.select("id", "vec"), candidates, 0.99)
              .localCheckpoint(true))
          println(s"[stages] $dir verified=${verified.count()}")
          timed("exclude") {
            val dropped = verified.select(col("id_b").as("id")).distinct()
            Bench.force(cells.select("id")
              .join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
              .select(col("id").as("doc_id"), col("dup").isNull.as("kept")))
          }
          Seq(cells, bucketed, candidates, verified).foreach(_.unpersist())
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(f"${"q_semdedup_stages"}%-22s FAILED" +
              s" ${e.getClass.getSimpleName}:" +
              s" ${Option(e.getMessage).getOrElse("").take(160)}")
        }
        // sf100 stages run at DEPLOYMENT geometry (16 planes — the
        // lsh64_logp rule: occupancy held constant so the candidate
        // term stays linear). The fixed-12-plane sf100 shape is already
        // on record from the r15 diagnostic run: train 3218 s /
        // assign 667 s / bucket 3.6 s / cand 245 s, candidates = 3.3e8
        // (95× the sf10 pair mass at 10× data — the quadratic
        // random-collision term measured), and its verify join's
        // ~3.3e8-pair shuffle exceeds this box's disk headroom — a
        // fixture-geometry bound, not an operator stage
        if (want("q_semdedup_stages")) {
          stages(Derived10Dir, 12)
          stages(Derived100Dir, 16)
        }
        // sf10-only stage table (cheap): re-measuring the stage mix
        // after a kernel change without paying the sf100 pass
        if (want("q_semdedup_stages10")) stages(Derived10Dir, 12)
      }
      return
    }
    if (sf10Only) {
      // SECOND-DECADE probe (round 13): sf1 → sf10 for the heaviest
      // families — the sf1 sweep is exhaustive, this pins the curve's
      // second point where extrapolation to 100 TB was a single-segment
      // line. List = the top of BENCH_sf1_r12 by wall time plus the
      // verdict-named store-maintenance shapes; min-of-2 per scale,
      // FAILED lines loud, sweep continues (the sf1 sweep's rules).
      deriveNext(spark, DerivedDir, Derived10Dir, level = 2)
      val heavyAll = Seq(
        "q_ivfpq_cdc_stream", "q_ann_cdc_stream", "q_index_cdc_stream",
        "q_dedup_stream_incr", "q_ann_rebalance", "q_postings_compact",
        "q_repetition", "q_gopher_rules", "q_zorder_incr",
        "q_pipeline_web", "q_store_fsck_models", "q_quantile_stream",
        // round-14 additions: the round-13 store families (pin
        // resolution, sigstore CDC append) and the round-14 serving
        // regimes at their second decade, plus the semdedup recall
        // GATE — its floor asserting inside the timed run means a
        // quality cliff at sf10 fails the probe loudly instead of
        // hiding behind an sf1-only measurement. q_ann_recall (the
        // FIXED-budget ANN gate) left this list in round 15: recall@k
        // at a frozen (k=16, nProbe=6, ksub) budget is NOT a
        // scale-invariant — top-10 margins shrink as the candidate
        // pool grows 100×, so the row measured corpus size, not
        // operator quality (its r14 sf10 "pass" at recall 1.00 was the
        // saturated fixture handing every query its own near-identical
        // replica family — the gate was trivial, not healthy). The
        // scale-honest replacement is the q_ann_recall_kN leg below:
        // deployment geometry, budgets ∝ N, floor asserted
        "q_retrieval_pin", "q_sigstore_cdc_stream", "q_dedup_pin",
        "q_ann_store_batch", "q_semdedup_recall")
      // extra args filter the list (resuming a partial sweep after an
      // environment-sized failure re-times only what is missing)
      val sel = args.filterNot(_ == "sf10")
      // fail loudly on a typo'd name — the AllProbes rule: silently
      // filtering would print an empty "successful" run an operator
      // reads as a completed re-time
      val known = heavyAll ++
        Seq("q_semdedup_kN", "q_semdedup_hier", "q_semdedup_lsh64",
          "q_ann_recall_kN", "q_zorder_kN")
      require(sel.forall(known.contains),
        s"not in the sf10 probe list: ${sel.filterNot(known.contains)
          .mkString(", ")} (known: ${known.mkString(", ")})")
      val heavy =
        if (sel.isEmpty) heavyAll else heavyAll.filter(sel.contains)
      heavy.foreach(warm)
      println(f"${"query"}%-22s ${"sf1"}%8s ${"sf10"}%8s  ratio")
      heavy.foreach { q =>
        try {
          val a = time(q, DerivedDir)
          val b = time(q, Derived10Dir)
          println(f"$q%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(f"$q%-22s FAILED ${e.getClass.getSimpleName}:" +
              s" ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      }
      // semdedup at the deployment configuration (k ∝ N, constant cell
      // size — the sf1 adjudication's scale-honest shape, third point)
      def semdedup10(dir: String, k: Int): Double = Bench.minOf2 {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val withDups = e.unionByName(
          e.select((col("id") + 100000000L).as("id"), col("vec")))
        Bench.seconds(Bench.force(graft.pipeline.Semantic.semanticDedup(
          withDups, k = k, iters = 3)))
      }
      // warm the custom-leg kernels on the tiny corpus (the heavy list
      // above warms only the SparkEntry families)
      Bench.warmUp("semanticDedup")(Bench.force(
        graft.pipeline.Semantic.semanticDedup(
          spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          k = 8, iters = 2, intraCellPlanes = 12, intraCellTables = 4)))
      if (sel.isEmpty || sel.contains("q_semdedup_kN")) try {
        val sa = semdedup10(DerivedDir, 80)
        val sb = semdedup10(Derived10Dir, 800)
        println(f"${"q_semdedup_kN"}%-22s $sa%8.2f $sb%8.2f  ${sb / sa}%5.1f×")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(f"${"q_semdedup_kN"}%-22s FAILED" +
            s" ${e.getClass.getSimpleName}:" +
            s" ${Option(e.getMessage).getOrElse("").take(120)}")
      }
      // the two SCALE-HONEST semdedup configurations over the same
      // corpus (the k∝N row above is the documented quadratic: flat
      // assignment evaluates k distances per row, so 10× rows × 10× k
      // = 100× work). Hierarchical grows leaf count ∝ N through
      // √-sized levels (9²=81 leaves at sf1, 28²=784 at sf10 — the same
      // cell-size targets as k=80/800); fixed-k+LSH keeps assignment
      // linear and bucket-bounds the hot-cell pairs
      def withDupsOf(dir: String) = {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        e.unionByName(
          e.select((col("id") + 100000000L).as("id"), col("vec")))
      }
      def leg(label: String)(run: String => Unit): Unit =
        if (sel.isEmpty || sel.contains(label)) try {
          def one(dir: String): Double = Bench.minOf2(Bench.seconds(run(dir)))
          val a = one(DerivedDir); val b = one(Derived10Dir)
          println(f"$label%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(f"$label%-22s FAILED ${e.getClass.getSimpleName}:" +
              s" ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      leg("q_semdedup_hier") { dir =>
        val (kc, ks) = if (dir == Derived10Dir) (28, 28) else (9, 9)
        Bench.force(graft.pipeline.Semantic.semanticDedupHier(
          withDupsOf(dir), kCoarse = kc, kSub = ks, iters = 3,
          trainSampleCap = 4096))
      }
      leg("q_semdedup_lsh64") { dir =>
        Bench.force(graft.pipeline.Semantic.semanticDedup(
          withDupsOf(dir), k = 64, iters = 3, intraCellPlanes = 12,
          intraCellTables = 4))
      }
      // zorder at DEPLOYMENT geometry (round 16): q_zorder_incr's
      // harness holds numFiles = 4 at every scale, so the range-sort
      // runs 4 tasks whatever the data — at sf10 that times a
      // parallelism accident (4 tasks × 10× rows each), not the
      // operator. A deployment sizes files to constant bytes, so
      // numFiles grows with the corpus: 4/8 at sf1 → 40/80 at sf10
      // (constant rows per file, full sort parallelism). Same
      // write + 2 appends + required recluster + box-read shape as the
      // driver row.
      leg("q_zorder_kN") { dir =>
        val nf = if (dir == Derived10Dir) 40 else 4
        val out = java.nio.file.Files
          .createTempDirectory("zorderkn").toString + "/layout"
        try {
          val src = spark.read.parquet(s"$dir/lineitem.parquet")
            .select("l_orderkey", "l_partkey", "l_quantity")
          val L = graft.pipeline.Layout
          L.zorderWrite(src.where(col("l_orderkey") % 3 === 0), out,
            "l_orderkey", "l_partkey", numFiles = nf)
          L.zorderAppend(src.where(col("l_orderkey") % 3 === 1), out,
            "l_orderkey", "l_partkey", numFiles = nf)
          L.zorderAppend(src.where(col("l_orderkey") % 3 === 2), out,
            "l_orderkey", "l_partkey", numFiles = nf)
          val (depth, ran) = L.reclusterIfNeeded(spark, out,
            "l_orderkey", "l_partkey", maxDepth = 2, numFiles = 2 * nf)
          require(ran, s"recluster did not trigger: depth $depth")
          Bench.force(L.read(spark, out)
            .where(col("l_orderkey").between(100, 1200) &&
              col("l_partkey").between(20, 150))
            .select(col("l_orderkey"), col("l_partkey"),
              col("l_quantity")))
        } finally org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(out).getParentFile)
      }
      // the SCALE-HONEST ANN recall gate (round 15, replacing the
      // fixed-budget q_ann_recall row — see heavyAll's comment):
      // deployment geometry with k ∝ N (constant ~125-vector cells)
      // and the SAME budget FRACTIONS as the sf0.1 gate (probe 37.5%
      // of cells, rerank 100) — what an operator actually scales when
      // the corpus grows. recall@10 vs exact brute force on 30 organic
      // queries, floor asserted INSIDE the timed leg so a genuine
      // quality cliff still fails loudly; the store build (train +
      // assignment) is a cached fixture, outside the timer
      leg("q_ann_recall_kN") { dir =>
        val all = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val n = all.count()
        val k = math.max(16L, n / 125L).toInt
        val store = graft.sources.WireFixtures.annOrganicIndexDir(
          spark, dir, k = k)
        val q = all.where(col("id") < 30)
        val exact = graft.pipeline.Ann.bruteForceTopK(q, all, k = 10)
        val served = graft.pipeline.Ann.ivfQuantizedTopKFromStore(
          q, all, store, k = 10, nProbe = math.max(1, k * 3 / 8),
          rerank = 100)
        val r = graft.pipeline.Ann.recallAtK(served, exact)
        println(f"[recall] sf=$dir%s method=ivf_quantized_kN k=$k%d" +
          f" recall_at_10=$r%.4f floor=0.90")
        // floor pinned from the round-15 measurements (0.9867 at sf1
        // k=160, 1.0000 at sf10 k=1600): at deployment geometry the
        // tier recovers near-exact retrieval, so a floor of 0.90 is a
        // real cliff detector, not a corpus-size artifact
        require(r >= 0.90,
          s"q_ann_recall_kN: recall@10 = $r below the 0.90 floor at" +
            s" deployment geometry (k=$k) — the quantized tier lost" +
            " organic retrieval quality at scale")
      }
      return
    }
    if (!ccOnly && !prOnly) {
      println(f"${"query"}%-22s ${"sf0.1"}%8s ${"sf1"}%8s  ratio")
      probes.foreach { q =>
        // a family that errors at either scale prints LOUDLY and the
        // sweep continues — one broken fixture must not vacate the
        // whole artifact, and a FAILED line is a finding, not a skip.
        // NonFatal only: an OOM must kill the run, not leave every
        // later family timing against a thrashing JVM and landing those
        // numbers in the checked-in artifact as if healthy
        try {
          val a = time(q, base)
          val b = time(q, DerivedDir)
          println(f"$q%-22s $a%8.2f $b%8.2f  ${b / a}%5.1f×")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(f"$q%-22s FAILED ${e.getClass.getSimpleName}:" +
              s" ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      }
    }

    // distributed connected components (maxDriverEdges = 0): the
    // label-propagation loop a 100 TB verified-pair graph must use —
    // the driver union-find fast path is bypassed entirely. The edge
    // list (LSH→verify over the twin-planted corpus, ~10× more edges at
    // sf1 by fixture design) is materialized OUTSIDE the timer so the
    // number is the loop itself, not pair generation.
    def ccDistributed(dir: String): Double = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val cand = graft.pipeline.Dedup.minhashLshPairs(
        corpus, jaccardThreshold = 0.5)
      val pairs = graft.pipeline.Dedup.ngramJaccardVerify(
          corpus, cand.select("id_a", "id_b"))
        .where(col("jaccard") >= 0.8)
        .localCheckpoint(true)
      val nEdges = pairs.count()
      val best = Bench.minOf2(Bench.seconds(Bench.force(
        graft.pipeline.Dedup.connectedComponents(pairs, maxDriverEdges = 0))))
      System.err.println(s"[probe] cc_distributed $dir edges=$nEdges")
      best
    }
    if (probes != all && !ccOnly && !prOnly) { return }
    if (!prOnly) {
    val ca = ccDistributed(base)
    val cb = ccDistributed(DerivedDir)
    println(f"${"cc_distributed"}%-22s $ca%8.2f $cb%8.2f  ${cb / ca}%5.1f×")
    }

    // distributed PageRank loop (maxDriverEdges = 0): the q_pagerank
    // edge derivation (which saturates its mod-space) is replaced by a
    // doc-id-dense graph so the edge list actually grows ~10× across
    // the probe; rounds are fixed (5) by contract, so the expectation
    // is near-linear in edges with fixed per-round job cost on top.
    def prDistributed(dir: String): Double = {
      val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val edges = d.select((col("doc_id") % 100000).as("src"),
          ((col("doc_id") * 31 + 7) % 100000).as("dst"))
        .unionByName(d.select(((col("doc_id") * 13 + 5) % 100000).as("src"),
          (col("doc_id") % 100000).as("dst")))
      Bench.minOf2(Bench.seconds(Bench.force(
        graft.pipeline.Graph.pageRank(edges, iters = 5, maxDriverEdges = 0))))
    }
    if (!ccOnly) { // `cc` mode stays the quick cc-iteration loop
      val pa = prDistributed(base)
      val pb = prDistributed(DerivedDir)
      println(f"${"pagerank_distributed"}%-22s $pa%8.2f $pb%8.2f  ${pb / pa}%5.1f×")
    }
    if (prOnly) { return }
    // semdedup probed with k ∝ N (the documented cell-size knob): fixed k
    // at 10× data means 10× cells → 100× within-cell pairs; scaling k
    // keeps expected cell size constant, so pair work scales linearly
    if (ccOnly) { return }
    def semdedup(dir: String, k: Int): Double = Bench.minOf2 {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val withDups = e.unionByName(
        e.select((col("id") + 1000000L).as("id"), col("vec")))
      Bench.seconds(Bench.force(
        graft.pipeline.Semantic.semanticDedup(withDups, k = k, iters = 3)))
    }
    val sa = semdedup(base, 8)
    val sb = semdedup(DerivedDir, 80)
    println(f"${"q_semdedup (k∝N)"}%-22s $sa%8.2f $sb%8.2f  ${sb / sa}%5.1f×")
  }
}
