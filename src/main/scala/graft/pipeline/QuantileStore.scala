package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted MERGEABLE quantile-sketch store — the streaming/incremental
  * form of the quality gate [[Weighting.quantileThreshold]] serves
  * exactly and [[Weighting.quantileSketchThreshold]] serves
  * approximately in one pass.
  *
  * The sketch is a fixed-width HISTOGRAM over an integer score:
  * per micro-batch, (stratum, bucket, cnt) rows with
  * `bucket = score div bucketWidth` — the one quantile summary that is
  *   - EXACTLY mergeable (counts sum; merge order cannot matter, unlike
  *     GK/KLL whose merged cutoff is order-dependent — that
  *     nondeterminism is why the GK gate only surfaces a contract
  *     boolean, while this store's cutoffs are bit-reproducible by any
  *     engine and oracle directly),
  *   - O(batch + #buckets) per trigger (the batch aggregates map-side
  *     to at most #buckets × #strata narrow rows before writing),
  *   - rank-bounded: the served cutoff's true rank differs from the
  *     target by at most the cutoff bucket's own count, a bound the
  *     store can STATE per serve ([[cutoffs]] emits it) rather than
  *     merely promise.
  *
  * Integer scores are the engine's score convention anyway (e4-scaled
  * quality, token counts, nll_e4) — for those, bucketWidth trades
  * serve-side resolution against store width explicitly, and
  * bucketWidth=1 degenerates to an EXACT count-by-value table when the
  * domain is small.
  *
  * Store protocol: a one-table [[VersionedStore]] (the BATCH-PARTIAL
  * layout it shares with the gram-df store of
  * [[Dedup.contaminationAuditStreamBatch]]): each batch lands as its own
  * `partials/batch=<id>` delta through [[VersionedStore.append]] with
  * OVERWRITE semantics, so an at-least-once foreachBatch replay rewrites
  * rather than double-counts, and the delta becomes visible whole;
  * serving re-aggregates the partials of the current generation
  * (merge-at-serve); [[compact]] publishes the summed partials as the
  * next generation under the reserved numeric batch id -1, then gc's —
  * a crash before the pointer flip leaves every reader on the old
  * generation. Reference analogue: maintained-on-append summaries served
  * without touching the source (databus-core/.../ScnIndex.java:94).
  */
object QuantileStore {

  /** The one table of a batch-partial store (this sketch store and the
    * gram-df store), `batch=<id>`-partitioned — shared with
    * [[StoreFsck.batchPartialStore]]. */
  private[graft] val PartialsTable = "partials"

  /** Record one micro-batch's score histogram. `scoreCol` must be an
    * INTEGRAL column (loudly enforced — a silently floored double score
    * would gate a different distribution than the caller computed).
    * Negative scores are in contract: the pmod/div floor bucketing below
    * keeps bucket order = score order across the whole signed domain. */
  def appendBatch(batch: DataFrame, dir: String, batchId: Long,
      scoreCol: String, stratumCol: String, bucketWidth: Long): Unit = {
    require(bucketWidth > 0, s"QuantileStore: bucketWidth $bucketWidth")
    val dt = batch.schema(scoreCol).dataType
    require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType,
      s"QuantileStore.appendBatch: integral score expected, " +
        s"got ${dt.catalogString} — floor/scale the score explicitly first")
    // floor division via pmod: exact for negatives too (pmod is the
    // non-negative remainder, so x - pmod(x, w) is the floor multiple
    // and the INTEGRAL division of it is exact), keeping bucket order =
    // score order across the whole domain. The division must be SQL
    // `div` (IntegralDivide): Spark's `/` on longs is double division,
    // which rounds above 2^53 and would silently land large scores in a
    // neighboring bucket — breaking the bit-reproducibility contract
    // and the oracle's integer `//` derivation
    val x = col(scoreCol).cast("long")
    VersionedStore.append(dir, Seq(s"$PartialsTable/batch=$batchId" -> (() =>
      batch.select(col(stratumCol).as("stratum"),
          call_function("div", x - pmod(x, lit(bucketWidth)),
            lit(bucketWidth)).cast("long").as("bucket"))
        .groupBy("stratum", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .coalesce(1))), "overwrite")()
  }

  /** The merged histogram: (stratum, bucket, cnt) summed across every
    * appended batch — #buckets × #strata rows, never corpus-sized. */
  def readHistogram(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${VersionedStore.tableRoot(dir)}/$PartialsTable")
      .select("stratum", "bucket", "cnt") // drop the batch partition col
      .groupBy("stratum", "bucket")
      .agg(sum(col("cnt")).as("cnt"))

  /** Per-stratum cutoffs for the qBp quantile, integer-exact from the
    * merged histogram: `cut_bucket` is the smallest bucket whose
    * cumulative count crosses the target rank (cross-multiplied — no
    * division), `cutoff` its lower bound in score units, and
    * `rank_bound` the cutoff bucket's own count — the stated maximum
    * over-selection of the bucket gate vs the exact rank gate. The
    * whole derivation runs over sketch-sized rows (the window is per
    * stratum over buckets, not documents). */
  def cutoffs(spark: SparkSession, dir: String, qBp: Int,
      bucketWidth: Long): DataFrame = {
    require(qBp > 0 && qBp < 10000, s"QuantileStore: qBp $qBp")
    val h = readHistogram(spark, dir)
    val byBucket = Window.partitionBy(col("stratum")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("stratum"))
    // ONE pass: the boundary row (first bucket whose cum crosses the
    // target rank) already carries its own cnt, so rank_bound rides the
    // window chain instead of a second store scan + re-aggregation
    h.withColumn("cum", sum(col("cnt")).over(byBucket))
      .withColumn("n", sum(col("cnt")).over(whole))
      // the exact gate selects rows with cnt_below·10⁴ ≥ qBp·n; the
      // boundary row sits in the first bucket whose cum crosses it
      .where(col("cum") * 10000L > lit(qBp.toLong) * col("n"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("stratum")).orderBy(col("bucket"))))
      .where(col("__rn") === 1)
      .select(col("stratum"), col("n").cast("long").as("n"),
        col("bucket").as("cut_bucket"),
        (col("bucket") * bucketWidth).as("cutoff"),
        col("cnt").cast("long").as("rank_bound"))
  }

  /** Gate a corpus against the store: rows whose score reaches the
    * stratum's cutoff bucket are selected. One broadcast join of
    * sketch-sized cutoffs — the corpus never shuffles. Selection
    * over-admits at most `rank_bound` rows per stratum vs the exact
    * rank gate (the rows of the cutoff bucket below the true boundary);
    * under-admits none. Strata the store never saw have no cutoff and
    * FAIL loudly rather than pass ungated. */
  def gateFromStore(df: DataFrame, dir: String, scoreCol: String,
      stratumCol: String, qBp: Int, bucketWidth: Long): DataFrame = {
    val cuts = cutoffs(df.sparkSession, dir, qBp, bucketWidth)
      .select(col("stratum").as(stratumCol), col("cutoff"))
    // loud null-cutoff guard IN THE PLAN (raise_error), zero extra
    // cost: an ungated stratum fails the serving job on its first row
    // instead of silently passing — and the guard adds no corpus-sized
    // pre-scan (an eager `where(isNull).isEmpty` check would read the
    // whole corpus once per serve just to validate)
    df.join(broadcast(cuts), Seq(stratumCol), "left")
      .withColumn("selected",
        when(col("cutoff").isNull,
          raise_error(concat(
            lit(s"QuantileStore.gateFromStore: stratum '"),
            col(stratumCol).cast("string"),
            lit(s"' absent from the sketch store at $dir — append its" +
              " batches before gating"))).cast("boolean"))
          .otherwise(col(scoreCol).cast("long") >= col("cutoff")))
      .drop("cutoff")
  }

  /** Roll the per-batch partials into one summed partial under the
    * reserved numeric batch id -1, published as the next generation and
    * followed by [[VersionedStore.gc]] (exactly
    * [[Dedup.compactGramDfStore]]'s protocol): a long stream's
    * one-file-per-trigger tail folds to #buckets rows, and every
    * serve-side aggregate afterwards reads one partial. Sums are
    * associative, so cutoffs before and after are identical. */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"QuantileStore.compact: numFiles $numFiles")
    VersionedStore.publish(dir, Map(s"$PartialsTable/batch=-1" ->
      readHistogram(spark, dir).coalesce(numFiles)))
    VersionedStore.gc(dir, keep = 0)
  }
}
