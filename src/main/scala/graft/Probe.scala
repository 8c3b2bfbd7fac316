package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.pipeline.Dedup

/** Dev measurement tooling behind one entry point (not part of the driver
  * contract): `runMain graft.Probe <mode> [args]`. Every mode runs in
  * Bench's session (SPARK_GRAFT_CPUS cores) and times with `Bench.force`;
  * `time`, `jobs` and `plan` read SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  *   time [query ...]    cold and warm seconds per query (all queries by
  *                       default): separates JIT/codegen warm-up from real
  *                       cost when hunting bench regressions
  *   jobs <query ...>    one warm run per query with a job listener: every
  *                       Spark job's wall and the driver-side gaps between
  *                       jobs, for harness-heavy queries spread over dozens;
  *                       driver-side time is wall minus the union of job
  *                       intervals
  *   plan [query ...]    warm seconds plus the executed plan as
  *                       `explain("formatted")` (all queries by default)
  *   drain [events ...] the fixed cost of one AvailableNow foreachBatch
  *                       drain over a trivial feed: the floor under every
  *                       *_stream query; then `GraftEngine.consume` over
  *                       the engine's own relay log of each size (default
  *                       10000, an append, and 300000, a backlog) with
  *                       each drain's wall, jobs, shuffle bytes and
  *                       classes compiled; then `Applier.start` once per
  *                       append until one fold has run, with each
  *                       apply's wall and jobs, and the fold's apart
  *   cold [sfDir]        cold-start versus warm cost of the store-backed
  *                       families
  *   contract [dataDir]  the two corpus-dependent contract bounds a new
  *                       corpus must re-measure (COVERAGE.md)
  *   scale [leg]         the decade scaling probes of SCALING.md
  *                       ([[ScaleProbe.run]]): no leg sweeps every query
  *                       sf0.1 → sf1 plus `cc` and `pr`; `relay` (relay
  *                       throughput), `sf10 [query ...]` (the heavy
  *                       families sf1 → sf10), `cc` (distributed connected
  *                       components), `pr` (distributed PageRank), or
  *                       query names to probe alone
  */
object Probe {

  private val Modes = Seq("time", "jobs", "plan", "drain", "cold", "contract",
    "scale")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (!Modes.contains(mode)) {
      System.err.println("usage: graft.Probe <mode> [args]; modes: " +
        Modes.mkString(", "))
      sys.exit(2)
    }
    val rest = args.toSeq.drop(1)
    val spark = Bench.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def named(names: Seq[String]): Seq[String] =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    mode match {
      case "time" => time(spark, dir, named(rest))
      case "jobs" => jobs(spark, dir, rest)
      case "plan" => plan(spark, dir, named(rest))
      case "drain" =>
        drain(spark, if (rest.isEmpty) Seq(10000L, 300000L) else rest.map(_.toLong))
      case "cold" =>
        cold(spark, rest.headOption.getOrElse("/root/testdata/sf0.1"))
      case "contract" =>
        contract(spark, rest.headOption.getOrElse(ScaleProbe.DerivedDir))
      case "scale" => ScaleProbe.run(spark, rest)
    }
    spark.stop()
  }

  private def time(spark: SparkSession, dir: String,
      names: Seq[String]): Unit = {
    spark.range(100000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val cold = Bench.seconds(Bench.force(fn(spark, dir)))
      val warm = Bench.seconds(Bench.force(fn(spark, dir)))
      println(f"$n%-24s cold=$cold%7.2f warm=$warm%7.2f")
    }
  }

  /** Every Spark job started while `body` ran, on any thread, as (id,
    * start ms, end ms, label): a job without a call site (an AQE stage
    * job) is labelled by its last stage's name. Also the shuffle bytes
    * its stages wrote. */
  private final class JobLog extends SparkListener {
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, String)]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    /** Each job's job group ("null" without one). */
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val starts = mutable.Map[Int, (Long, String)]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      starts.synchronized {
        groups.put(js.jobId, String.valueOf(Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
        starts(js.jobId) = (js.time,
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .filter(_.nonEmpty)
            .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
            .getOrElse(""))
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      starts.synchronized(starts.remove(je.jobId)).foreach { case (t0, d) =>
        jobs.synchronized { jobs += ((je.jobId, t0, je.time, d)) }
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      shuffleBytes.addAndGet(
        sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
    }
  }

  /** `body`'s wall seconds and its [[JobLog]]. */
  private def logJobs(spark: SparkSession)(body: => Any): (Double, JobLog) = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val wall = try Bench.seconds(body) finally {
      Thread.sleep(200) // let the listener bus drain
      spark.sparkContext.removeSparkListener(log)
    }
    (wall, log)
  }

  private def jobs(spark: SparkSession, dir: String,
      names: Seq[String]): Unit =
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      Bench.force(fn(spark, dir)) // warm pass: JIT + fixture onboarding
      val (wall, log) = logJobs(spark)(Bench.force(fn(spark, dir)))
      val sorted = log.jobs.sortBy(_._2).toSeq
      println(f"== $name wall=$wall%.2f s, jobs=${sorted.size}")
      var prevEnd = 0L
      var jobSum = 0.0
      var busy = 0.0 // the union of job intervals: concurrent jobs overlap
      sorted.foreach { case (id, s, e, d) =>
        val gap = if (prevEnd == 0) 0.0 else (s - prevEnd) / 1e3
        busy += math.max(0L, e - math.max(s, prevEnd)) / 1e3
        prevEnd = math.max(prevEnd, e)
        jobSum += (e - s) / 1e3
        val desc = if (d.length > 60) d.take(60) else d
        println(f"  job $id%4d ${(e - s) / 1e3}%7.3f s  gap=$gap%7.3f s  $desc")
      }
      println(f"  jobs total=$jobSum%.2f s, busy=$busy%.2f s," +
        f" driver-side = ${wall - busy}%.2f s")
    }

  private def plan(spark: SparkSession, dir: String,
      names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val fn = SparkEntry.queries(n)
        Bench.force(fn(spark, dir)) // warm pass: JIT + fixture onboarding
        val q = fn(spark, dir)
        val warm = Bench.seconds(Bench.force(q))
        println(f"warm $warm%.2f s")
        q.explain("formatted")
      } catch { case NonFatal(e) => println(s"failed: ${e.getMessage}") }
    }

  private def drain(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("streamprobe").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$root/feed")
    def once(cp: String): Double = Bench.seconds {
      spark.readStream.schema("id LONG, v STRING")
        .parquet(s"$root/feed")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    (1 to 6).foreach { i =>
      val t = once(s"$root/cp$i")
      println(f"drain $i (fresh cp): $t%.3f s")
    }
    // resumed drains off one checkpoint (the harness pattern)
    val cp = s"$root/cpR"
    (1 to 3).foreach { i =>
      val t = once(cp)
      println(f"drain resume $i:    $t%.3f s")
    }
    sizes.foreach(engineDrain(spark, root, _))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** `GraftEngine.consume` over the engine's own relay log of `events`
    * synthetic events (one `genDataEvents` append): each of two drains
    * from fresh checkpoints with its wall, Spark jobs, shuffle bytes and
    * the classes it compiled (Spark's `CodegenMetrics` count, so a
    * second drain reusing the first one's code reads 0), then the
    * better of the two. */
  private def engineDrain(spark: SparkSession, root: String,
      events: Long): Unit = {
    val dir = s"$root/engine-$events"
    val engine = new GraftEngine(spark, s"$dir/log")
    engine.genDataEvents(events)
    val bytes = graft.pipeline.StoreFs.listDataFiles(s"$dir/log")
      .map(_.getLen).sum
    val noop = new graft.streaming.DatabusConsumer {
      override def onEvent(e: graft.streaming.EnvelopeRow): Boolean = true
    }
    def report(what: String, wall: Double, log: JobLog, compiled: Long): Unit =
      println(f"engine $what events=$events%8d log=$bytes%9d B" +
        f" wall=$wall%.3f s jobs=${log.jobs.size}" +
        f" shuffle=${log.shuffleBytes.get} B compiled=$compiled")
    var runs = 0
    val (wall, log, compiled) = Bench.bestOf2 {
      runs += 1
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (wall, log) = logJobs(spark)(
        engine.consume(noop, s"$dir/cp-$runs").awaitTermination())
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      report(s"drain $runs", wall, log, compiled)
      (wall, log, compiled)
    }(_._1)
    report("best", wall, log, compiled)
    applierDrain(spark, dir, engine, events)
  }

  /** The Applier over the same log, one `Applier.start` per append: it
    * drains the log as it stands, then [[Applier.CompactEvery]] more
    * appends of `events` events, so one apply fills the log and the next
    * lands in the folded generation. Each apply prints its wall and its
    * own jobs; the fold an apply started prints apart, with its wall
    * after the apply returned and the jobs of its own job group. */
  private def applierDrain(spark: SparkSession, dir: String,
      engine: GraftEngine, events: Long): Unit = {
    import graft.streaming.Applier
    val state = s"$dir/state"
    val fold = s"applier-fold $state"
    (0 to Applier.CompactEvery).foreach { k =>
      if (k > 0) engine.genDataEvents(events)
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      val t0 = System.nanoTime()
      Applier.start(engine.streamLive(), state, s"$dir/cp-apply")
        .awaitTermination()
      val t1 = System.nanoTime()
      Applier.awaitFold(state)
      val t2 = System.nanoTime()
      Thread.sleep(200) // let the listener bus drain
      spark.sparkContext.removeSparkListener(log)
      val folds = log.jobs.count(j => log.groups.get(j._1) == fold)
      println(f"engine apply $k events=$events%8d wall=${(t1 - t0) / 1e9}%.3f s" +
        f" jobs=${log.jobs.size - folds}")
      if (folds > 0)
        println(f"engine fold  $k wall=${(t2 - t1) / 1e9}%.3f s jobs=$folds")
    }
  }

  /** (store-dir suffix under WireFixtures' per-SF root, serving query) */
  private val ColdFamilies = Seq(
    "ann_index_k8i3g" -> "q_ann_store",
    "ann_index_incr_k8i3g" -> "q_ann_store_incr",
    "postings_index_g" -> "q_postings_incr",
    "winnow_fp_k8w8" -> "q_winnow_incr",
    "cdc_chunks_k8d32" -> "q_cdc_incr",
    "image_sigs_dhash9x8" -> "q_image_incr",
    "lm_bigram_t80g" -> "q_lm_store",
    // takedown stores: cold = index build + tombstone write + first
    // tombstone-filtered serve — the fresh-deployment path of the
    // takedown wave
    "postings_takedown_m7r2g" -> "q_phrase_delete",
    "ann_takedown_k8i3g" -> "q_ann_delete",
    "minhash_takedown_m7r2g" -> "q_dedup_delete")

  /** COLD-START cost of the store-backed families (SCALING.md's min-of-2
    * measures the warm steady state; this puts the first-touch cost on
    * record). Per family the persisted store dir is deleted and the plan
    * cache cleared, then the serving query is timed COLD (store onboarding
    * + first serve in one number — what a fresh deployment pays) and
    * again WARM (store on disk, plan cache populated). JVM/codegen
    * warm-up runs first at sf0.001 (the Bench methodology) so the first
    * measured family doesn't absorb Janino/JIT costs. */
  private def cold(spark: SparkSession, sfDir: String): Unit = {
    def run(name: String, dir: String): Double =
      Bench.seconds(Bench.force(SparkEntry.queries(name)(spark, dir)))
    ColdFamilies.foreach { case (_, q) =>
      Bench.warmUp(q)(run(q, "/root/testdata/sf0.001"))
    }
    println(f"${"family"}%-22s ${"cold(build+serve)"}%18s ${"warm"}%8s")
    ColdFamilies.foreach { case (suffix, q) =>
      val storeDir = graft.sources.WireFixtures.storePath(sfDir, suffix)
      // Demote-then-delete under the SAME ProcessLock writeOnce's
      // promotion protocol uses ("a promoted dir is never deleted"):
      // the _SUCCESS marker drops first, so a concurrent builder
      // waiting on the lock sees an unpromoted partial and rebuilds
      // rather than reading a dir mid-delete or re-promoting over it.
      // (A reader already PAST writeOnce can still race the delete —
      // the probe assumes no concurrent servers, which is its dev-only
      // contract; the lock closes the builder race, the real one.)
      // ProcessLock's contract: hold a JVM-local monitor around it —
      // FileChannel.lock throws OverlappingFileLockException on
      // same-JVM contention. writeOnce synchronizes on WireFixtures,
      // so the probe takes the SAME monitor to serialize with any
      // in-JVM builder before taking the cross-process lock.
      graft.sources.WireFixtures.synchronized {
        graft.sources.ProcessLock.exclusive(s"$storeDir.lock") {
          if (graft.pipeline.StoreFs.isDirectory(storeDir)) {
            graft.pipeline.StoreFs.deleteRecursive(s"$storeDir/_SUCCESS")
            graft.pipeline.StoreFs.deleteRecursive(storeDir)
          }
        }
      }
      graft.pipeline.PlanCache.clear()
      val cold = run(q, sfDir)
      val warm = run(q, sfDir)
      println(f"$suffix%-22s $cold%18.2f $warm%8.2f")
    }
  }

  /** Re-measures the two CORPUS-DEPENDENT contract bounds (COVERAGE.md
    * caveat) on a dataset dir — the validation a new corpus must run
    * before trusting q_dedup_simhash's hamming bound and
    * q_dedup_embedding's "no natural ≥0.99 cosine pair" assumption:
    *
    *   1. simhash: distribution of hamming(sig_a, sig_b) over the
    *      exact-Jaccard ≥ 0.9 ground-truth pair set (same LSH-candidates →
    *      n-gram-verify derivation as the driver contract query);
    *   2. embeddings: census of natural (distinct-id) cosine ≥ 0.99 pairs
    *      by exhaustive scan — brute force on purpose: the validation must
    *      not depend on the recall of the structure it validates.
    */
  private def contract(spark: SparkSession, dir: String): Unit = {
    // --- simhash hamming bound over exact-Jaccard ≥ 0.9 pairs ---
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val corpus = d.unionByName(
      d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val cand = Dedup.minhashLshPairs(corpus, jaccardThreshold = 0.5)
    val truth = Dedup.ngramJaccardVerify(corpus, cand.select("id_a", "id_b"))
      .where(col("jaccard") >= 0.9)
    val sigs = Dedup.simhashSignatures(corpus)
    val ham = truth
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("h"))
    val st = ham.agg(count(lit(1)).as("pairs"), max(col("h")).as("max_h"),
      expr("percentile(h, 0.99)").as("p99"),
      sum(when(col("h") > 16, 1L).otherwise(0L)).as("over_16")).head()
    println(s"[contract] simhash dir=$dir pairs=${st.getLong(0)} " +
      s"max_hamming=${st.get(1)} p99=${st.get(2)} over_bound_16=${st.getLong(3)}")

    // --- natural near-twin embedding census (brute force) ---
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
    val cos = graft.functions.VectorFunctions.cosine(col("vec"), col("cvec"))
    val near = e.join(
        broadcast(e.select(col("id").as("cid"), col("vec").as("cvec"))),
        col("id") < col("cid") && cos >= 0.99)
      .agg(count(lit(1)).as("n")).head().getLong(0)
    println(s"[contract] embeddings dir=$dir natural_pairs_ge_0.99=$near")
  }
}
