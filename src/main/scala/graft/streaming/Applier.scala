package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.operators.Bootstrap
import graft.pipeline.{StoreFs, VersionedStore}

/** K6/A2 — the continuous bootstrap materializer: applies the change
  * stream into a queryable snapshot, upserting by key and dropping
  * tombstoned keys.
  *
  * The state dir is a [[VersionedStore]] in the reference's snapshot +
  * log shape (BootstrapProducerCallback appends each change to
  * `log_<srcid>`, BootstrapApplierThread merges that log into
  * `tab_<srcid>` — BootstrapProducerCallback.java:58,621;
  * BootstrapApplierThread.java:242-386):
  *   - `snapshot`: the merged state as of the last compaction;
  *   - `log/batch=<n>`: one raw delta per applied micro-batch.
  *
  * An apply appends its batch as the next delta — O(batch): the state is
  * neither read nor rewritten, and the delta becomes visible whole
  * ([[VersionedStore.append]]). Every [[CompactEvery]]-th delta the apply
  * folds the log into the snapshot: one [[VersionedStore.publish]] of
  * `applyLog(snapshot ∪ log)`, then gc. Readers ([[snapshot]]) serve
  * take-latest-per-key over snapshot ∪ log.
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

  /** Log deltas that trigger a compaction. Chosen by measurement on
    * relay-tail (10k-event batches over 100k keys): a non-compacting
    * apply writes one batch, and a snapshot read merges at most this
    * many deltas. */
  private val CompactEvery = 8

  /** Field-metadata flag on the key columns of the stored schema: the
    * readers take the merge key from the store itself, so [[snapshot]]
    * needs no key parameter. */
  private val KeyTag = "applier_key"

  /** The merged state: `applyLog(snapshot ∪ log)` of the current
    * generation, None before the first apply. Loud on a state dir in a
    * layout this build does not read ([[VersionedStore.publishedRoot]]).
    * Infers the stored schema once, from one table. */
  def snapshot(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedStore.publishedRoot(stateDir).map { t =>
      val first = Seq(Snapshot, Log).find(n => StoreFs.isDirectory(s"$t/$n"))
        .getOrElse(throw new IllegalStateException(
          s"Applier.snapshot: generation $t holds neither $Snapshot nor $Log"))
      val schema = StructType(spark.read.parquet(s"$t/$first").schema
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

  /** Apply one micro-batch of envelope changes: append it as log delta
    * `n` (one more than the largest id in the current generation's log),
    * and compact once the log holds [[CompactEvery]] deltas. An empty
    * batch writes nothing.
    *
    * The compaction reads the stored tables with `batch.schema`, the
    * schema they were written with, so it starts no Parquet
    * schema-inference job. A state written under a different stream
    * schema or other key columns is outside this contract. A compaction
    * that crashes before its pointer flip leaves readers on the old
    * generation; the next apply compacts again, and its gc retires the
    * leftover. */
  def applyBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      keyCols: Seq[String] = Seq("key_long")): Unit = {
    require(keyCols.nonEmpty && keyCols.forall(batch.columns.contains),
      s"Applier.applyBatch: key columns $keyCols not all in the batch")
    if (batch.isEmpty) return
    val delta = batch.select(batch.columns.toSeq.map { c =>
      if (!keyCols.contains(c)) batch(c)
      else batch(c).as(c, new MetadataBuilder()
        .withMetadata(batch.schema(c).metadata).putBoolean(KeyTag, true)
        .build())
    }: _*)
    val ids = VersionedStore.publishedRoot(stateDir).toSeq
      .flatMap(t => VersionedStore.batchIdsOf(s"$t/$Log"))
    VersionedStore.append(stateDir,
      Seq(s"$Log/batch=${ids.maxOption.fold(0L)(_ + 1)}" -> (() => delta)),
      "overwrite")()
    if (ids.size + 1 >= CompactEvery) {
      VersionedStore.publish(stateDir, Map(Snapshot -> Bootstrap.applyLog(
        stored(spark, VersionedStore.tableRoot(stateDir), delta.schema),
        keyCols)))
      VersionedStore.gc(stateDir, keep = 0)
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
