package graft

import org.apache.spark.sql.functions._

import graft.functions.ZorderKey
import graft.pipeline.Layout

/** Z-order layout: key math vs a bit-by-bit reference, the measurable
  * clustering claim (a 2-D box intersects FEWER file rectangles than
  * under a single-column sort), row identity through the rewrite, loud
  * range failures, and the SQL surface. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Per-file `<col>_min`/`<col>_max` of a PLAIN parquet dir — the
    * single-column-sort baseline, which is not a layout store. */
  private def plainBounds(dir: String, cols: Seq[String]) = {
    val aggs = cols.flatMap(c => Seq(min(c).as(s"${c}_min"),
      max(c).as(s"${c}_max")))
    spark.read.parquet(dir)
      .select((input_file_name().as("file") +: cols.map(col)): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  private def refKey(a: Long, b: Long): Long = {
    var k = 0L
    var i = 0
    while (i < 31) {
      k |= ((a >> i) & 1L) << (2 * i)
      k |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    k
  }

  test("zorder key matches the bit-by-bit reference across the domain") {
    val probes = Seq(0L, 1L, 2L, 3L, 7L, 8L, 255L, 256L, 65535L, 65536L,
      123456789L, 0x7fffffffL)
    for (a <- probes; b <- probes)
      assert(ZorderKey.key(a, b) == refKey(a, b), s"key($a, $b)")
    // z-order is a total order consistent with quadrant nesting: both
    // coords in the low half sorts before both in the high half
    assert(ZorderKey.key(15L, 15L) < ZorderKey.key(16L, 16L))
  }

  test("out-of-range inputs fail loudly, never silently mask") {
    intercept[IllegalArgumentException] { ZorderKey.key(-1L, 0L) }
    intercept[IllegalArgumentException] { ZorderKey.key(0L, 0x80000000L) }
  }

  test("a 2-D box intersects fewer z-ordered file rectangles than a-sorted ones") {
    // 64x64 grid, 16 files: the a-sort slices the plane into thin
    // full-height strips (every b-range is the whole domain), the
    // z-order tiles it into near-squares
    val grid = (0 until 64).flatMap(a => (0 until 64).map(b =>
      (a.toLong, b.toLong))).toDF("a", "b")
    val root = java.nio.file.Files.createTempDirectory("zspec").toString
    Layout.zorderWrite(grid, s"$root/z", "a", "b", numFiles = 16)
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$root/lin")

    // the box is wide in `a`, narrow in `b` — the shape the a-sort is
    // blind to: its strips all span the full b domain, so only the
    // a-predicate prunes; z-order tiles prune on BOTH predicates
    def hit(bounds: org.apache.spark.sql.DataFrame): Long = bounds
      .where(col("a_max") >= 4 && col("a_min") <= 59 &&
        col("b_max") >= 24 && col("b_min") <= 39)
      .count()
    val (zHit, linHit) = (hit(Layout.fileBounds(spark, s"$root/z", "a", "b")),
      hit(plainBounds(s"$root/lin", Seq("a", "b"))))
    assert(zHit < linHit,
      s"z-order must prune better: z=$zHit linear=$linHit of 16 files")

    // the rewrite moves bytes, never rows
    val back = Layout.read(spark, s"$root/z")
    assert(back.count() == 64L * 64L &&
      back.exceptAll(grid).isEmpty && grid.exceptAll(back).isEmpty)
  }

  test("zorder_key is SQL-registered and codegen agrees with eval") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT zorder_key(CAST(5 AS BIGINT), CAST(3 AS BIGINT)) AS k")
      .as[Long].head()
    assert(row == refKey(5L, 3L))
  }

  private def refKeyN(vals: Seq[Long], bits: Int): Long = {
    val n = vals.size
    var k = 0L
    for (d <- 0 until n; i <- 0 until bits)
      k |= ((vals(d) >> i) & 1L) << (i * n + d)
    k
  }

  test("N-ary zorder key matches the bit-by-bit reference; loud overflow") {
    import graft.functions.ZorderKeyN
    val p3 = Seq(0L, 1L, 2L, 7L, 255L, 65535L, (1L << 21) - 1L)
    for (a <- p3; b <- p3; c <- p3)
      assert(ZorderKeyN.key3(a, b, c) == refKeyN(Seq(a, b, c), 21),
        s"key3($a, $b, $c)")
    val p4 = Seq(0L, 1L, 3L, 127L, 4095L, (1L << 15) - 1L)
    for (a <- p4; b <- p4; c <- p4; d <- p4)
      assert(ZorderKeyN.key4(a, b, c, d) == refKeyN(Seq(a, b, c, d), 15),
        s"key4($a, $b, $c, $d)")
    // octant nesting: all-low-half sorts before all-high-half
    assert(ZorderKeyN.key3(15L, 15L, 15L) < ZorderKeyN.key3(16L, 16L, 16L))
    // bit-budget overflow fails loudly — a masked bit would silently
    // cluster by a different tuple than the caller's predicate space
    intercept[IllegalArgumentException] { ZorderKeyN.key3(1L << 21, 0L, 0L) }
    intercept[IllegalArgumentException] { ZorderKeyN.key3(0L, -1L, 0L) }
    intercept[IllegalArgumentException] { ZorderKeyN.key4(0L, 0L, 0L, 1L << 15) }
  }

  test("a 3-D box intersects fewer 3-D z-ordered file boxes than a-sorted ones") {
    // 16^3 grid, 16 files: the a-sort slices into thin slabs spanning
    // the full (b, c) domain; the 3-D z-order tiles near-cubes
    val grid = (0 until 16).flatMap(a => (0 until 16).flatMap(b =>
      (0 until 16).map(c => (a.toLong, b.toLong, c.toLong))))
      .toDF("a", "b", "c")
    val root = java.nio.file.Files.createTempDirectory("z3spec").toString
    Layout.zorderWriteN(grid, s"$root/z", Seq("a", "b", "c"), numFiles = 16)
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$root/lin")

    // wide in `a`, narrow in `b` and `c` — the two dims the a-sort
    // cannot prune on at all
    def hit(bounds: org.apache.spark.sql.DataFrame): Long = bounds
      .where(col("a_max") >= 1 && col("a_min") <= 14 &&
        col("b_max") >= 6 && col("b_min") <= 9 &&
        col("c_max") >= 6 && col("c_min") <= 9)
      .count()
    val dims = Seq("a", "b", "c")
    val (zHit, linHit) = (hit(Layout.fileBoundsN(spark, s"$root/z", dims)),
      hit(plainBounds(s"$root/lin", dims)))
    assert(zHit < linHit,
      s"3-D z-order must prune better: z=$zHit linear=$linHit of 16 files")

    // the rewrite moves bytes, never rows
    val back = Layout.read(spark, s"$root/z")
    assert(back.count() == 16L * 16L * 16L &&
      back.exceptAll(grid).isEmpty && grid.exceptAll(back).isEmpty)
  }

  test("incremental layout: footer bounds = scanned truth; appends deepen, recluster restores") {
    // three generations each covering the WHOLE plane — the worst case
    // for append overlap (every generation claims every key region)
    val grid = (0 until 64).flatMap(a => (0 until 64).map(b =>
      (a.toLong, b.toLong))).toDF("a", "b")
    val root = java.nio.file.Files.createTempDirectory("zinc").toString
    val dir = s"$root/t"
    // the canonical fresh measure for THIS dataset and writer: one
    // from-scratch z-order write of the full grid (range-partition
    // boundaries are sampled, so a file can straddle a tile edge — the
    // fresh depth is a small constant, not exactly 1; what matters is
    // appends stacking ABOVE it and recluster paying back DOWN to it)
    Layout.zorderWrite(grid, s"$root/canon", "a", "b", numFiles = 4)
    val canonDepth = Layout.clusteringDepth(s"$root/canon", "a", "b")
    assert(canonDepth >= 1 && canonDepth <= 4,
      s"fresh full-grid z-order should be a small constant, got $canonDepth")

    Layout.zorderWrite(grid.where(($"a" + $"b") % 3 === 0), dir, "a", "b",
      numFiles = 4)
    val freshDepth = Layout.clusteringDepth(dir, "a", "b")

    Layout.zorderAppend(grid.where(($"a" + $"b") % 3 === 1), dir, "a", "b",
      numFiles = 4)
    Layout.zorderAppend(grid.where(($"a" + $"b") % 3 === 2), dir, "a", "b",
      numFiles = 4)
    // an EMPTY append (a no-rows trigger) writes a 0-row part file with
    // no row groups: the footer pass must SKIP it (it covers nothing),
    // not brick every later maintenance decision on this layout
    Layout.zorderAppend(grid.where(lit(false)), dir, "a", "b", numFiles = 1)

    // the footer-only bounds must equal the row-scanning ground truth
    // (keyed by file name — footer paths and input_file_name render the
    // same file with different URI spellings)
    val truth = Layout.fileBounds(spark, dir, "a", "b")
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (f, a0, a1, b0, b1) =>
        f.split('/').last -> Seq((a0, a1), (b0, b1)) }.toMap
    val footer = Layout.footerBounds(dir, Seq("a", "b"))
      .map { case (f, bs) => f.split('/').last -> bs }.toMap
    assert(footer == truth, s"footer bounds ≠ scanned bounds")

    val deepDepth = Layout.clusteringDepth(dir, "a", "b")
    assert(deepDepth >= freshDepth + 2,
      s"3 full-plane generations must stack depth: $freshDepth → $deepDepth")

    // box-query row identity is generation-independent
    def box(d: String) = Layout.read(spark, d)
      .where($"a".between(4, 59) && $"b".between(24, 39))
    val before = box(dir).collect().toSet

    // under the threshold: measured, not rewritten
    val (d1, ran1) = Layout.reclusterIfNeeded(spark, dir, "a", "b",
      maxDepth = deepDepth, numFiles = 4)
    assert(d1 == deepDepth && !ran1)
    // over the threshold: one publish restores the canonical measure
    val (d2, ran2) = Layout.reclusterIfNeeded(spark, dir, "a", "b",
      maxDepth = freshDepth, numFiles = 4)
    assert(d2 == deepDepth && ran2)
    val after = Layout.clusteringDepth(dir, "a", "b")
    assert(after <= canonDepth + 1 && deepDepth >= after + 2,
      s"recluster must pay the append debt down to the from-scratch" +
        s" measure: canon=$canonDepth deep=$deepDepth after=$after")
    assert(box(dir).collect().toSet == before, "recluster changed rows")
    val back = Layout.read(spark, dir)
    assert(back.count() == 64L * 64L && back.exceptAll(grid).isEmpty)
    // the recluster published one generation and retired the old one
    import graft.pipeline.{StoreFs, VersionedStore}
    assert(StoreFs.listDirNames(dir) ==
      Seq(s"gen-${VersionedStore.currentGen(dir).get}"))
  }

  test("the recluster DECISION is metadata-only: zero Spark jobs launched") {
    val grid = (0 until 32).flatMap(a => (0 until 32).map(b =>
      (a.toLong, b.toLong))).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("zmeta").toString + "/t"
    Layout.zorderWrite(grid, dir, "a", "b", numFiles = 4)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val d = Layout.clusteringDepth(dir, "a", "b")
      val (d2, ran) = Layout.reclusterIfNeeded(spark, dir, "a", "b",
        maxDepth = math.max(d, 2), numFiles = 4)
      assert(d2 == d && !ran)
      // listener events post asynchronously — give the bus a beat
      Thread.sleep(1000)
      assert(jobs.get() == 0,
        s"depth measurement launched ${jobs.get()} Spark job(s) — the" +
          " decision must read footers only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("N-dim incremental layout: appends deepen the N-box measure, recluster restores") {
    val grid = (0 until 16).flatMap(a => (0 until 16).flatMap(b =>
      (0 until 16).map(c => (a.toLong, b.toLong, c.toLong))))
      .toDF("a", "b", "c")
    val dims = Seq("a", "b", "c")
    val dir = java.nio.file.Files.createTempDirectory("zinc3").toString + "/t"
    Layout.zorderWriteN(grid.where(($"a" + $"b" + $"c") % 3 === 0), dir,
      dims, numFiles = 4)
    val fresh = Layout.clusteringDepthN(dir, dims)
    Layout.zorderAppendN(grid.where(($"a" + $"b" + $"c") % 3 === 1), dir,
      dims, numFiles = 4)
    Layout.zorderAppendN(grid.where(($"a" + $"b" + $"c") % 3 === 2), dir,
      dims, numFiles = 4)
    // the footer-only N-boxes must equal the row-scanning ground truth
    val truth = Layout.fileBoundsN(spark, dir, dims)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map { case (f, a0, a1, b0, b1, c0, c1) =>
        f.split('/').last -> Seq((a0, a1), (b0, b1), (c0, c1)) }.toMap
    val footer = Layout.footerBounds(dir, dims)
      .map { case (f, bs) => f.split('/').last -> bs }.toMap
    assert(footer == truth, "N-dim footer bounds ≠ scanned bounds")

    val deep = Layout.clusteringDepthN(dir, dims)
    assert(deep >= fresh + 2,
      s"3 full-space generations must stack the N-box depth: $fresh → $deep")
    val (d, ran) = Layout.reclusterIfNeededN(spark, dir, dims,
      maxDepth = fresh, numFiles = 4)
    assert(d == deep && ran)
    val after = Layout.clusteringDepthN(dir, dims)
    assert(deep >= after + 2, s"recluster must repay: deep=$deep after=$after")
    val back = Layout.read(spark, dir)
    assert(back.count() == 16L * 16L * 16L && back.exceptAll(grid).isEmpty)
  }

  test("zorder_key_n is SQL-registered; codegen and eval agree; arity checked") {
    graft.functions.GraftFunctions.register(spark)
    val k3 = spark.sql("SELECT zorder_key_n(CAST(5 AS BIGINT)," +
      " CAST(3 AS BIGINT), CAST(9 AS BIGINT)) AS k").as[Long].head()
    assert(k3 == refKeyN(Seq(5L, 3L, 9L), 21))
    val k4 = spark.sql("SELECT zorder_key_n(CAST(5 AS BIGINT)," +
      " CAST(3 AS BIGINT), CAST(9 AS BIGINT), CAST(2 AS BIGINT)) AS k")
      .as[Long].head()
    assert(k4 == refKeyN(Seq(5L, 3L, 9L, 2L), 15))
    // 2 dims is zorder_key's job; 5 is over the key budget — analysis
    // rejects both instead of silently interleaving something else
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT zorder_key_n(CAST(1 AS BIGINT), CAST(2 AS BIGINT))")
        .collect()
    }
  }
}
