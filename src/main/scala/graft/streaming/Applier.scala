package graft.streaming

import scala.concurrent.Future

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.operators.Bootstrap
import graft.pipeline.{DriverParquet, Overlap, StoreFs, VersionedStore}

/** K6/A2 — the continuous bootstrap materializer: applies the change
  * stream into a queryable snapshot, upserting by key and dropping
  * tombstoned keys.
  *
  * The state dir is a [[VersionedStore]] in the reference's snapshot +
  * log shape (BootstrapProducerCallback appends each change to
  * `log_<srcid>`, BootstrapApplierThread merges that log into
  * `tab_<srcid>` — BootstrapProducerCallback.java:58,621;
  * BootstrapApplierThread.java:242-386):
  *   - `snapshot`: the merged state as of the last fold;
  *   - `log/batch=<n>`: one raw delta per applied micro-batch.
  *
  * An apply appends its batch as the next delta — O(batch): the state is
  * neither read nor rewritten, and the delta becomes visible whole
  * ([[VersionedStore.append]]). Once the log holds [[CompactEvery]]
  * deltas the apply starts the FOLD and returns: off the apply path, as
  * the reference's applier thread runs beside its producer, the fold
  * publishes `applyLog(snapshot ∪ log)` as the next generation
  * ([[VersionedStore.publish]]), then gc's. A fold changes the layout,
  * never the served state.
  *
  * The fold contract:
  *   - at most one fold per state dir is in flight, and the next apply
  *     to the dir joins it first (rethrowing its failure), so no append
  *     races a fold: the store's single-writer regime;
  *   - the fold's jobs carry their own job group, `applier-fold
  *     <stateDir>`, not the query's, so stopping the query that started
  *     it does not cancel it;
  *   - readers ([[snapshot]]) never wait: they serve the old generation,
  *     whole, until the fold's pointer flip. A frame reads its
  *     generation's files when it runs, and the fold's gc retires the old
  *     generation, so a read that may outlive the next fold holds a pin
  *     ([[VersionedStore.registerPin]]);
  *   - crash recovery: a process that exits mid-fold leaves a reservation
  *     that gc retires, and a log still at [[CompactEvery]] deltas, so
  *     the next apply folds again.
  *
  * Replay safety: foreachBatch is at-least-once, and an apply replayed
  * after a crash appends an identical second delta. Take-latest per
  * (scn, seq) cannot tell the copies apart, so the served state equals
  * one apply — the idempotent-sink argument that makes a foreachBatch
  * sink exactly-once (Structured Streaming, SIGMOD 2018). On a
  * Delta/Iceberg-equipped cluster the body becomes
  * `snapshot.merge(batch)` with the same contract.
  */
object Applier {

  private val Snapshot = "snapshot"
  private val Log = "log"

  /** Log deltas that start a fold. Chosen by measurement on relay-tail
    * (10k-event batches over 100k keys): an apply writes one batch, and
    * a snapshot read merges at most this many deltas. */
  private[graft] val CompactEvery = 8

  /** Field-metadata flag on the key columns of the stored schema: the
    * readers take the merge key from the store itself, so [[snapshot]]
    * needs no key parameter. */
  private val KeyTag = "applier_key"

  /** The in-flight fold of each state dir, keyed by its qualified path. */
  private val folds =
    new java.util.concurrent.ConcurrentHashMap[String, Future[Unit]]()

  private def foldKey(stateDir: String): String = {
    val (fs, p) = StoreFs.fsPath(stateDir)
    fs.makeQualified(p).toString
  }

  /** Wait for `stateDir`'s in-flight fold, if any; rethrows its failure
    * as the original exception. The next apply does this first; tests
    * and probes call it to read a fold's outcome. */
  private[graft] def awaitFold(stateDir: String): Unit =
    Option(folds.remove(foldKey(stateDir))).foreach { f =>
      Overlap.settle(f)
    }

  /** The merged state: `applyLog(snapshot ∪ log)` of the current
    * generation, None before the first apply. Loud on a state dir in a
    * layout this build does not read ([[VersionedStore.publishedRoot]]).
    * Runs no Spark job: the stored schema, key tags included, is read
    * from one file's footer. */
  def snapshot(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedStore.publishedRoot(stateDir).map { t =>
      val file = Seq(Snapshot, Log).iterator
        .map(n => StoreFs.listDataFiles(s"$t/$n").map(_.getPath))
        .collectFirst { case fs if fs.nonEmpty => fs.minBy(_.toString) }
        .getOrElse(throw new IllegalStateException(
          s"Applier.snapshot: generation $t holds neither $Snapshot nor $Log"))
      val schema = StructType(DriverParquet.footerSchema(file)
        .filterNot(_.name == "batch"))
      val keys = schema.filter(_.metadata.contains(KeyTag)).map(_.name)
      require(keys.nonEmpty, s"Applier.snapshot: no key columns recorded in $t")
      Bootstrap.applyLog(stored(spark, t, schema), keys)
    }

  /** snapshot ∪ log under generation dir `t`, read with `schema` (no
    * inference job), the log's `batch` partition column dropped. */
  private def stored(spark: SparkSession, t: String, schema: StructType)
      : DataFrame =
    Seq(Snapshot, Log).filter(n => StoreFs.isDirectory(s"$t/$n"))
      .map(n => spark.read.schema(schema).parquet(s"$t/$n").drop("batch"))
      .reduce(_ unionByName _)

  /** Apply one micro-batch of envelope changes, as one Spark job:
    *   1. join the state dir's in-flight fold, rethrowing its failure;
    *   2. append the batch as log delta `n` (one more than the largest id
    *      in the current generation's log). An empty batch lands
    *      nothing: a driver-local one is seen before any write, and runs
    *      no job; any other is told from the staged files' footer row
    *      counts, with no job besides its write;
    *   3. once the log holds [[CompactEvery]] deltas, start the fold and
    *      return (see the object doc).
    *
    * The fold reads the stored tables with the delta's schema, the
    * schema they were written with, so it starts no Parquet
    * schema-inference job. A state written under a different stream
    * schema or other key columns is outside this contract. A fold that
    * crashes before its pointer flip leaves readers on the old
    * generation; the next apply folds again, and its gc retires the
    * leftover. */
  def applyBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      keyCols: Seq[String] = Seq("key_long")): Unit = {
    require(keyCols.nonEmpty && keyCols.forall(batch.columns.contains),
      s"Applier.applyBatch: key columns $keyCols not all in the batch")
    awaitFold(stateDir)
    if (DriverParquet.localRows(batch).exists(_._2.isEmpty)) return
    val delta = batch.select(batch.columns.toSeq.map { c =>
      if (!keyCols.contains(c)) batch(c)
      else batch(c).as(c, new MetadataBuilder()
        .withMetadata(batch.schema(c).metadata).putBoolean(KeyTag, true)
        .build())
    }: _*)
    val ids = VersionedStore.publishedRoot(stateDir).toSeq
      .flatMap(t => VersionedStore.batchIdsOf(s"$t/$Log"))
    val table = s"$Log/batch=${ids.maxOption.fold(0L)(_ + 1)}"
    val landed = VersionedStore.append(stateDir, Seq(table -> (() => delta)),
      "overwrite", landIf = dir => DriverParquet.footerRowCount(
        StoreFs.listDataFiles(s"$dir/$table").map(_.getPath)) > 0)()
    if (landed && ids.size + 1 >= CompactEvery) {
      val schema = delta.schema
      folds.put(foldKey(stateDir),
        Overlap.runInGroup(s"applier-fold $stateDir") {
          VersionedStore.publish(stateDir, Map(Snapshot -> Bootstrap.applyLog(
            stored(spark, VersionedStore.tableRoot(stateDir), schema),
            keyCols)))
          VersionedStore.gc(stateDir, keep = 0)
          ()
        })
    }
  }

  /** Start the continuous materializer on a relay stream. Each apply
    * runs in the stream's home session ([[HomeSink]]), so an apply
    * started after another reuses its generated code. */
  def start(stream: DataFrame, stateDir: String, checkpointDir: String,
      keyCols: Seq[String] = Seq("key_long")): StreamingQuery =
    HomeSink.start(stream, Some(checkpointDir)) { (batch, _) =>
      applyBatch(batch.sparkSession, batch, stateDir, keyCols)
    }
}
