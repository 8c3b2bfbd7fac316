package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional storage layout: Z-order (Morton-curve) clustering
  * for tables that are filtered on TWO key columns at once.
  *
  * The problem it solves at 100 TB: a table sorted on one column gives
  * parquet min/max footer pruning for that column only — a box query
  * `a BETWEEN .. AND b BETWEEN ..` over a billion-row table sorted by
  * `a` still scans every file the `a`-range touches, because each of
  * those files spans the full `b` domain. Sorting by the bit-interleaved
  * [[graft.functions.ZorderKey]] instead clusters rows along the
  * Z-curve, so every file covers a small RECTANGLE of (a, b) space and
  * its footer (min, max) is tight in BOTH dimensions — the scan planner
  * then skips every file whose rectangle misses the query box, for
  * either or both predicates. This is the engine-level form of a lake
  * OPTIMIZE ZORDER maintenance pass, expressed as a plain
  * repartition-by-range + in-file sort on a codegen'd key (no custom
  * writer; Catalyst/DSv2 pruning machinery does the rest unmodified).
  *
  * Same discipline as every layout op here (the Store rewrite, postings
  * compaction): rewrite ONCE on the cluster key, serve many scans.
  * A layout is a one-table [[VersionedStore]]: a full write or a
  * recluster publishes the next generation (then gc), an append lands
  * in the current one, and every reader resolves the generation through
  * [[read]] / [[footerBounds]] — callers never see the generation dir.
  * Reference analogue: the buffer's two-level (scn, index) access
  * discipline, ScnIndex.java:94 — re-expressed as lake file layout.
  */
object Layout {

  /** The layout's one table inside its generation. */
  private val Table = "rows"

  /** The layout's rows at its current generation — the one reader every
    * serve path uses (the generation dir stays hidden). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame =
    spark.read.parquet(tablePath(dir))

  private def tablePath(dir: String): String =
    s"${VersionedStore.tableRoot(dir)}/$Table"

  /** The 62-bit Morton key of two non-negative LONG columns (loud
    * failure outside [0, 2^31) — see [[graft.functions.ZorderKey]]). */
  def zorderKey(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.zorder_key(a, b)

  /** The one clustered-write discipline every layout op here shares:
    * range-partition on the (dropped-before-write) key, sort within
    * each file so row-group stats are tight too. */
  private def clustered(df: DataFrame, key: Column, numFiles: Int)
      : DataFrame =
    df.withColumn("__zkey", key)
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")

  /** Publish `df` clustered on `key` as the layout's next generation and
    * retire the previous one — a full write and a recluster alike. */
  private def rewrite(df: DataFrame, key: Column, dir: String,
      numFiles: Int): Unit = {
    VersionedStore.publish(dir, Map(Table -> clustered(df, key, numFiles)))
    VersionedStore.gc(dir, keep = 0)
  }

  /** Append `df` clustered on `key` inside the current generation. */
  private def appendClustered(df: DataFrame, key: Column, dir: String,
      numFiles: Int): Unit =
    VersionedStore.append(dir,
      Seq(Table -> (() => clustered(df, key, numFiles))), "append")()

  /** Rewrite `df` into `numFiles` parquet files clustered on the
    * Z-curve of (`colA`, `colB`): range-partition by the Morton key
    * (equal-count rectangles, skew-proof the way every range write here
    * is) and sort within each file so row-group stats are tight too.
    * The key is layout metadata, not data — it is dropped before write,
    * and the files carry the caller's schema unchanged. */
  def zorderWrite(df: DataFrame, dir: String, colA: String, colB: String,
      numFiles: Int = 8): Unit = {
    require(numFiles > 0, s"zorderWrite: numFiles $numFiles")
    rewrite(df, zorderKey(col(colA), col(colB)), dir, numFiles)
  }

  /** Per-file (min, max) bounding rectangles of a written layout in the
    * two layout dimensions — the footer ranges the scan planner prunes
    * against, surfaced as a frame so a layout's clustering quality is
    * MEASURABLE (files whose rectangle misses a query box are exactly
    * the files a predicate scan skips). One row per file; cost is one
    * pass over the layout. */
  def fileBounds(spark: org.apache.spark.sql.SparkSession, dir: String,
      colA: String, colB: String): DataFrame =
    read(spark, dir)
      .select(input_file_name().as("file"), col(colA), col(colB))
      .groupBy("file")
      .agg(min(colA).as("a_min"), max(colA).as("a_max"),
        min(colB).as("b_min"), max(colB).as("b_max"))

  /** Append one batch to a Z-ordered layout WITHOUT rewriting the table:
    * the batch is clustered on the Morton key within itself and lands as
    * new files — O(batch) per append, the same discipline as every
    * incremental store here. Each append's files stay individually
    * tight, but appends OVERLAP in key space (two appends covering
    * the same region both claim it), so a box query's pruning degrades
    * gradually as appends accumulate — measurable via
    * [[clusteringDepth]], repaired by [[reclusterIfNeeded]]. This is the
    * lake OPTIMIZE-ZORDER write/maintain split: appends never pay the
    * table rewrite; the rewrite runs when the measured debt says so. */
  def zorderAppend(df: DataFrame, dir: String, colA: String, colB: String,
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"zorderAppend: numFiles $numFiles")
    appendClustered(df, zorderKey(col(colA), col(colB)), dir, numFiles)
  }

  /** Per-file (min, max) bounds of the two layout columns read from
    * PARQUET FOOTERS ONLY — no row is scanned, so the maintenance
    * decision costs O(files), the same metadata pass the scan planner
    * itself runs. (The row-scanning [[fileBounds]] stays as the
    * spec-side ground truth the footer path is checked against.)
    * Loud failure on a column with no footer stats (wrong name or
    * non-integral type) — a silent empty answer would read as
    * "perfectly clustered" ([[DriverParquet.footerBounds]]). */
  def footerBounds(dir: String, cols: Seq[String])
      : Seq[(String, Seq[(Long, Long)])] = {
    val (fs, root) = StoreFs.fsPath(tablePath(dir))
    if (!fs.exists(root)) return Seq.empty
    val files = {
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st.getPath
      }
      b.result()
    }
    DriverParquet.footerBounds(files, cols)
  }

  /** The layout's CLUSTERING DEPTH: the maximum number of files whose
    * footer boxes cover any single point of (colA, colB) space — exactly
    * the files a point predicate must read under footer pruning, i.e.
    * the layout's worst-case read amplification. Metadata-only: footer
    * boxes plus a driver-side slab sweep (per distinct `a` boundary, a
    * 1-D endpoint sweep over the active files' `b` intervals —
    * O(files²·log) worst case, the planner-listing cost class; file
    * counts here are a maintenance pass's, not a corpus's). A freshly
    * [[zorderWrite]]-written layout tiles near-disjoint rectangles and
    * measures ~1; every full-range [[zorderAppend]] stacks
    * one more cover over the whole plane, so the measure rises by ~1
    * per append wave — the trigger [[reclusterIfNeeded]] reads. */
  def clusteringDepth(dir: String, colA: String, colB: String): Int = {
    val boxes = footerBounds(dir, Seq(colA, colB))
      .map { case (_, Seq(a, b)) => (a, b) }
    // O(f² log f) sweep: 4096 files stays in the seconds range; a tail
    // longer than that has a known answer — recluster unconditionally
    require(boxes.size <= 4096,
      s"clusteringDepth: ${boxes.size} files — a tail this long needs" +
        " an unconditional recluster, not a depth measurement")
    boxStabDepth(boxes)
  }

  /** Max number of closed boxes covering any (a, b) point — the pure
    * sweep [[clusteringDepth]] runs over footer boxes; the 2-D face of
    * the N-dim recursion [[boxStabDepthN]]. */
  private[graft] def boxStabDepth(
      boxes: Seq[((Long, Long), (Long, Long))]): Int =
    boxStabDepthN(boxes.map { case (a, b) => Seq(a, b) })

  /** Rewrite the layout IF the measured [[clusteringDepth]] exceeds
    * `maxDepth` — the maintenance pass that turns [[zorderAppend]]'s
    * accumulating debt back into a depth-1 layout. The decision reads
    * footers only; the rewrite (one table scan, range-partitioned on the
    * key) is one [[VersionedStore.publish]] followed by
    * [[VersionedStore.gc]], so readers serve the old generation until
    * the pointer flips, and a crash before the flip leaves a generation
    * [[StoreFsck.versionedStore]] names, never a half-table. Returns the
    * measured depth and whether the rewrite ran. */
  def reclusterIfNeeded(spark: org.apache.spark.sql.SparkSession,
      dir: String, colA: String, colB: String, maxDepth: Int = 2,
      numFiles: Int = 8): (Int, Boolean) = {
    require(maxDepth >= 1, s"reclusterIfNeeded: maxDepth $maxDepth")
    val depth = clusteringDepth(dir, colA, colB)
    if (depth <= maxDepth) return (depth, false)
    rewrite(read(spark, dir), zorderKey(col(colA), col(colB)), dir, numFiles)
    (depth, true)
  }

  /** The N-dimensional Morton key (3 or 4 non-negative LONG columns;
    * bit budget 21/15 bits per dim — loud failure outside it, see
    * [[graft.functions.ZorderKeyN]]). */
  def zorderKeyN(cols: Column*): Column =
    graft.functions.GraftFunctions.zorder_key_n(cols: _*)

  /** [[zorderWrite]] generalized to 3-4 layout dimensions: every file's
    * footer range is a small N-BOX of the key space, so an N-predicate
    * box query prunes on every dimension at once. Same rewrite shape
    * (range-partition + in-file sort on the key, key dropped before
    * write); the per-dim bit budget shrinks (21 bits for 3 dims, 15
    * for 4), so dimensions wider than the budget must be bucketed by
    * the caller first — loudly enforced, never masked. */
  def zorderWriteN(df: DataFrame, dir: String, cols: Seq[String],
      numFiles: Int = 8): Unit = {
    require(numFiles > 0, s"zorderWriteN: numFiles $numFiles")
    require(cols.size >= 3 && cols.size <= 4,
      s"zorderWriteN: 3 or 4 layout columns expected, got $cols" +
        " (use zorderWrite for 2)")
    rewrite(df, zorderKeyN(cols.map(col): _*), dir, numFiles)
  }

  /** [[zorderAppend]] for an N-dim layout: O(batch) append, the batch
    * clustered on the N-ary Morton key within itself. Same debt model
    * as 2-D: appends overlap in key space until
    * [[reclusterIfNeededN]] repays them. */
  def zorderAppendN(df: DataFrame, dir: String, cols: Seq[String],
      numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"zorderAppendN: numFiles $numFiles")
    require(cols.size >= 3 && cols.size <= 4,
      s"zorderAppendN: 3 or 4 layout columns expected, got $cols" +
        " (use zorderAppend for 2)")
    appendClustered(df, zorderKeyN(cols.map(col): _*), dir, numFiles)
  }

  /** [[clusteringDepth]] for an N-dim layout: max #files whose footer
    * N-boxes cover any point — exact, via a recursive slab sweep (at
    * each boundary of the first dimension, the active boxes' remaining
    * dims solve the (N−1)-dim problem; the base case is the 1-D
    * endpoint sweep). O(files^N · log) worst case on DRIVER-side file
    * counts — the maintenance-decision cost class, not a data scan. */
  def clusteringDepthN(dir: String, cols: Seq[String]): Int = {
    require(cols.size >= 3 && cols.size <= 4,
      s"clusteringDepthN: 3 or 4 layout columns expected, got $cols" +
        " (use clusteringDepth for 2)")
    val boxes = footerBounds(dir, cols).map(_._2)
    // the recursion is O((2f)^(N-1) · f log f) in the FILE count, so
    // the loud-failure cap must be calibrated PER N (a 2-D-sized cap
    // would admit hour-long 3/4-D stalls): 256 files in 3-D and 64 in
    // 4-D keep the sweep in the seconds range. Maintained layouts stay
    // far below this (the recluster loop resets to numFiles); a tail
    // that long has a known answer — recluster unconditionally.
    val cap = if (cols.size == 3) 256 else 64
    require(boxes.size <= cap,
      s"clusteringDepthN: ${boxes.size} files exceeds the ${cols.size}-D" +
        s" sweep cap $cap — a tail this long needs an unconditional" +
        " recluster, not a depth measurement")
    boxStabDepthN(boxes)
  }

  private[graft] def boxStabDepthN(boxes: Seq[Seq[(Long, Long)]]): Int = {
    if (boxes.isEmpty) return 0
    if (boxes.head.size == 1) {
      // 1-D endpoint sweep (opens before closes at equal endpoints —
      // a closed interval still covers its endpoint)
      val ev = boxes.flatMap { case Seq((b0, b1)) => Seq((b0, 1), (b1, -1)) }
      var d = 0
      var m = 0
      ev.sortBy { case (b, delta) => (b, -delta) }.foreach { case (_, delta) =>
        d += delta
        if (d > m) m = d
      }
      m
    } else {
      val cuts = boxes.flatMap { b => Seq(b.head._1, b.head._2) }
        .distinct.sorted
      cuts.foldLeft(0) { (m, a) =>
        val active = boxes.collect {
          case b if b.head._1 <= a && a <= b.head._2 => b.tail
        }
        math.max(m, boxStabDepthN(active))
      }
    }
  }

  /** [[reclusterIfNeeded]] for an N-dim layout: footer-only decision,
    * the same publish + gc rewrite. Returns (measured depth, rewrote?). */
  def reclusterIfNeededN(spark: org.apache.spark.sql.SparkSession,
      dir: String, cols: Seq[String], maxDepth: Int = 2,
      numFiles: Int = 8): (Int, Boolean) = {
    require(maxDepth >= 1, s"reclusterIfNeededN: maxDepth $maxDepth")
    val depth = clusteringDepthN(dir, cols) // arity-checked there
    if (depth <= maxDepth) return (depth, false)
    rewrite(read(spark, dir), zorderKeyN(cols.map(col): _*), dir, numFiles)
    (depth, true)
  }

  /** [[fileBounds]] for an N-dim layout: one row per file with
    * `<col>_min`/`<col>_max` per layout dimension — the N-box the scan
    * planner prunes against. */
  def fileBoundsN(spark: org.apache.spark.sql.SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(c).as(s"${c}_min"), max(c).as(s"${c}_max")))
    read(spark, dir)
      .select((input_file_name().as("file") +: cols.map(col)): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
  }
}
