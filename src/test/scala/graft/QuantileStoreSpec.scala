package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{QuantileStore, Weighting}

/** Persisted histogram quantile-sketch store: merge-at-serve equals a
  * single-shot build, replay and compaction change nothing, the stated
  * rank bound holds against the exact gate across appends, floor
  * bucketing keeps score order on negatives, and ungated strata fail
  * loudly. */
class QuantileStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  // deterministic skewed scores over two strata (LCG — no RNG in specs)
  private def scored = (0 until 600).map { i =>
    val stratum = if (i % 3 == 0) "a" else "b"
    val score = ((i.toLong * 48271) % 997) * (if (i % 3 == 0) 3 else 1)
    (i.toLong, stratum, score)
  }.toDF("id", "stratum", "score")

  test("batch appends merge to the single-shot histogram; replay + compaction invariant") {
    val dir = s"${tmp("qs")}/sketch"
    val single = s"${tmp("qs")}/single"
    (0 until 3).foreach(b => QuantileStore.appendBatch(
      scored.where($"id" % 3 === b), dir, b.toLong, "score", "stratum", 10L))
    QuantileStore.appendBatch(scored, single, 0L, "score", "stratum", 10L)
    def hist(d: String) = QuantileStore.readHistogram(spark, d)
      .as[(String, Long, Long)].collect().toSet
    assert(hist(dir) == hist(single))
    // at-least-once replay of batch 1: overwritten, not doubled
    QuantileStore.appendBatch(
      scored.where($"id" % 3 === 1), dir, 1L, "score", "stratum", 10L)
    assert(hist(dir) == hist(single))
    val cutsBefore = QuantileStore.cutoffs(spark, dir, 7500, 10L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    QuantileStore.compact(spark, dir)
    assert(QuantileStore.cutoffs(spark, dir, 7500, 10L)
      .as[(String, Long, Long, Long, Long)].collect().toSet == cutsBefore)
    // compaction folded the partials into ONE batch=-1 generation
    assert(spark.read.parquet(
        s"${graft.pipeline.VersionedStore.tableRoot(dir)}/partials")
      .select("batch").distinct()
      .as[Long].collect().toSeq == Seq(-1L))
  }

  test("a compact that crashed before its pointer flip serves unchanged cutoffs") {
    import graft.pipeline.{StoreFs, StoreFsck, VersionedStore}
    val dir = s"${tmp("qs")}/sketch"
    (0 until 3).foreach(b => QuantileStore.appendBatch(
      scored.where($"id" % 3 === b), dir, b.toLong, "score", "stratum", 10L))
    def cuts = QuantileStore.cutoffs(spark, dir, 7500, 10L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val before = cuts
    val gen = VersionedStore.currentGen(dir).get
    // two crashed compactions: one died writing its rollup (a dead
    // publisher's reservation), one after its marker but before the flip
    // — both rolled up a WRONG histogram, which no reader may see
    val wrong = Seq(("a", 0L, 1000000L), ("b", 0L, 1000000L))
      .toDF("stratum", "bucket", "cnt")
    wrong.write.parquet(s"$dir/gen-${gen + 1}/partials/batch=-1")
    StoreFs.writeAtomic(s"$dir/gen-${gen + 1}/_COMPLETE", Array.empty)
    StoreFs.writeAtomic(s"$dir/gen-${gen + 2}/_RESERVED",
      s"${VersionedStore.hostId} 2147483647 1".getBytes("UTF-8"))
    wrong.write.parquet(s"$dir/gen-${gen + 2}/partials/batch=-1")
    assert(cuts == before)
    val fsck = StoreFsck.versionedStore(spark, dir).as[(String, Long)]
      .collect().toMap
    assert(fsck("unreferenced_complete_generations") == 1L &&
      fsck("stale_reservations") == 1L, s"$fsck")
    // the next compact publishes past both and its gc retires them
    QuantileStore.compact(spark, dir)
    assert(cuts == before)
    assert(StoreFs.listDirNames(dir) ==
      Seq(s"gen-${VersionedStore.currentGen(dir).get}"))
  }

  test("rank bound holds vs the exact gate, after every append") {
    val dir = s"${tmp("qs")}/sketch"
    (0 until 3).foreach { b =>
      val seen = scored.where($"id" % 3 <= b)
      QuantileStore.appendBatch(
        scored.where($"id" % 3 === b), dir, b.toLong, "score", "stratum", 10L)
      val gated = QuantileStore.gateFromStore(seen, dir, "score", "stratum",
          qBp = 5000, bucketWidth = 10L)
        .where($"selected").groupBy("stratum").count()
        .as[(String, Long)].collect().toMap
      val exact = Weighting.quantileThreshold(
          seen.select($"id".as("doc_id"), $"stratum", $"score"),
          "score", "stratum", qBp = 5000)
        .where($"selected").groupBy("stratum").count()
        .as[(String, Long)].collect().toMap
      val bounds = QuantileStore.cutoffs(spark, dir, 5000, 10L)
        .select("stratum", "rank_bound").as[(String, Long)].collect().toMap
      bounds.keys.foreach { st =>
        val (g, e) = (gated(st), exact.getOrElse(st, 0L))
        assert(g >= e && g - e <= bounds(st),
          s"append $b stratum $st: store=$g exact=$e bound=${bounds(st)}")
      }
    }
  }

  test("negative scores floor-bucket (order preserved across zero)") {
    val dir = s"${tmp("qs")}/sketch"
    val df = Seq((-23L, "x"), (-3L, "x"), (0L, "x"), (3L, "x"), (23L, "x"))
      .toDF("score", "stratum")
    QuantileStore.appendBatch(df, dir, 0L, "score", "stratum", 10L)
    val h = QuantileStore.readHistogram(spark, dir)
      .as[(String, Long, Long)].collect()
      .map { case (s, b, c) => ((s, b), c) }.toMap
    // floor semantics: -23 → -3, -3 → -1, 0 and 3 → 0, 23 → 2
    assert(h == Map(("x", -3L) -> 1L, ("x", -1L) -> 1L,
      ("x", 0L) -> 2L, ("x", 2L) -> 1L))
  }

  test("non-integral scores and unseen strata fail loudly") {
    val dir = s"${tmp("qs")}/sketch"
    intercept[IllegalArgumentException] {
      QuantileStore.appendBatch(Seq((0.5, "a")).toDF("score", "stratum"),
        dir, 0L, "score", "stratum", 10L)
    }
    QuantileStore.appendBatch(Seq((5L, "a")).toDF("score", "stratum"),
      dir, 0L, "score", "stratum", 10L)
    // bucket ids are INTEGRAL division: above 2^53 a double `/` would
    // round to a neighboring bucket and silently break the
    // bit-reproducibility contract (the oracle's integer `//`)
    val big = (1L << 62) + 7L
    val dirBig = s"${tmp("qsbig")}/big"
    QuantileStore.appendBatch(Seq((big, "a")).toDF("score", "stratum"),
      dirBig, 0L, "score", "stratum", 10L)
    assert(QuantileStore.readHistogram(spark, dirBig)
      .select("bucket").as[Long].head() == big / 10L)
    // the ungated-stratum guard lives IN the plan (raise_error): the
    // serve fails on execution, with zero extra validation scan
    val ex = intercept[Exception] {
      QuantileStore.gateFromStore(
        Seq((5L, "zz")).toDF("score", "stratum"), dir,
        "score", "stratum", qBp = 5000, bucketWidth = 10L).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("absent from the sketch store"), msgs)
  }
}
