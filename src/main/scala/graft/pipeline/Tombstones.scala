package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Takedown (delete) discipline for the persisted stores (positional
  * postings, ANN cells, signature tables): a store records deletions as
  * TOMBSTONES — an id-set side table under each retained generation's
  * `gen-<id>/tombstones` ([[VersionedStore.takedownDf]]'s overlay) — and
  * every read anti-joins it, so a takedown is O(request) regardless of
  * store size and never rewrites stored rows. Compaction is the GC: it
  * physically drops tombstoned rows during its rewrite, which publishes
  * a fresh [[VersionedStore]] generation whose overlay starts empty,
  * resetting the read side to a plain scan. A takedown against a root
  * with no published generation fails loudly (it would record nothing a
  * reader consults).
  *
  * This is the missing half of the append-only store protocol: append
  * handles growth, tombstones handle the takedown/right-to-be-forgotten
  * request that would otherwise force a full index rebuild. Reference
  * analogue: databus models deletes as first-class events rather than
  * buffer rewrites (DbusOpcode.java:22-26's DELETE opcode), and defers
  * physical removal to a maintenance pass
  * (databus-bootstrap-producer/.../BootstrapDBCleaner.java:1).
  *
  * Replay/idempotency: a tombstone set is a SEMANTIC SET — appending
  * the same id twice changes nothing an anti-join can observe, so a
  * blind append of one more file is naturally replay-safe (unlike the
  * count-bearing stores, which need batch-addressed overwrite writes —
  * see `appendToPostingsIndexBatch`). GC deduplicates physically.
  *
  * Scale shape: takedown sets are request-sized (ids only, 8 bytes a
  * row — a million-doc purge is megabytes), so the ids are held on the
  * driver and each generation's overlay file is written there
  * ([[writeSet]], [[DriverParquet.write]]): a takedown of driver-held
  * ids runs NO Spark job, and a bulk or streaming one runs only the one
  * job that validates and collects its ids. The read-side anti-join
  * broadcasts; a set grown too large to broadcast is exactly the signal
  * to run the compaction GC, which empties it.
  */
object Tombstones {

  private def dirOf(storeDir: String) = s"$storeDir/tombstones"

  /** Declared schema of a tombstone set — what [[writeSet]] writes and
    * what every reader of the set passes, so reading it starts no
    * Parquet schema-inference job. */
  val Schema: StructType = StructType.fromDDL("id BIGINT")

  /** Record a takedown: append `ids` to the store's tombstone set.
    * Driver-sized form — legal/compliance requests arrive by the
    * handful; a bulk purge uses [[appendDf]]. The ids are LONGs by type,
    * so there is nothing to validate, and the request runs no Spark job:
    * [[VersionedStore.takedownIds]] writes each retained generation's
    * overlay file on the driver. */
  def append(spark: SparkSession, storeDir: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "Tombstones.append: empty id set")
    VersionedStore.takedownIds(spark, ids, storeDir)
  }

  /** Bulk takedown: `ids` must carry exactly one LONG-castable column
    * (any name). One narrow file per request keeps the set
    * one-listing-cheap until GC. A value that does not cast losslessly
    * FAILS the request loudly — a silently-null tombstone would record
    * the legal-erasure request as a no-op (anti-joins never match
    * null), and a silently-TRUNCATED one (Double/Decimal 42.9 →
    * cast("long") → 42) would record it against the WRONG id — both
    * while the caller believes it succeeded. The round-trip check
    * (cast to long, cast back, compare) rejects nulls, non-numeric
    * strings, and fractional values in the one request-sized job that
    * also collects the ids for the driver-side overlay write. */
  def appendDf(ids: DataFrame, storeDir: String): Unit = {
    appendValidated(ids, storeDir)
    ()
  }

  /** Validate a takedown request: ONE request-sized job collects each
    * id with its validity, and the request fails loudly on any invalid
    * id. Returns the validated ids, materialized once, so every
    * generation's overlay records the same set even when the source is
    * nondeterministic (a query over changing data, a sampled frame).
    * String ids must be CANONICAL decimal — the round-trip check
    * (cast to long, cast back, compare) rejects lossless-but-cosmetic
    * forms like `"042"`/`" 42"`/`"+42"` alongside nulls, non-numeric
    * strings and fractional values; fail-safe by design, since a
    * silently-normalized id and a silently-dropped one are
    * indistinguishable to the requester. */
  private[pipeline] def validated(ids: DataFrame): Seq[Long] = {
    require(ids.columns.length == 1,
      s"Tombstones.appendDf: one id column expected, got ${ids.columns.toSeq}")
    val orig = col(ids.columns.head)
    val asLong = orig.cast("long")
    val bad = asLong.isNull || asLong.cast(ids.schema.head.dataType) =!= orig
    val rows = ids.select(asLong, bad).collect()
    require(!rows.exists(_.getBoolean(1)),
      "Tombstones.appendDf: null, non-LONG-castable or fractional ids —" +
        " the takedown would silently no-op or hit the wrong id;" +
        " fix the id column before recording")
    rows.toSeq.map(_.getLong(0))
  }

  /** Raw set write under ONE generation dir (no validation) — the
    * primitive [[VersionedStore.takedownIds]] fans out. The ids are
    * written on the driver as one file under a `_`-prefixed staging dir
    * of the generation, which no reader lists, and then renamed into
    * `tombstones/`: a reader sees the whole file or none of it, the
    * staged move of [[VersionedStore.append]]. */
  private[pipeline] def writeSet(spark: SparkSession, ids: Seq[Long],
      storeDir: String): Unit = {
    val stage = s"$storeDir/_staging-${java.util.UUID.randomUUID}"
    val file = DriverParquet.write(spark, Schema,
      ids.map(id => InternalRow(id)), stage)
    StoreFs.mkdirs(dirOf(storeDir))
    val dst = s"${dirOf(storeDir)}/${file.drop(file.lastIndexOf('/') + 1)}"
    require(StoreFs.rename(file, dst),
      s"Tombstones: cannot move staged $file to $dst")
    StoreFs.deleteRecursive(stage)
  }

  /** Shared validated append: validates once, records only when there
    * is something to record (an empty batch must not litter the
    * one-listing-cheap set with empty files) into every retained
    * generation's overlay ([[VersionedStore.takedownIds]] — pinned
    * reads AND in-flight reservations included), and returns the number
    * of ids recorded. Every takedown entry point above stays O(request). */
  private def appendValidated(ids: DataFrame, storeDir: String): Long = {
    val v = validated(ids)
    if (v.nonEmpty) VersionedStore.takedownIds(ids.sparkSession, v, storeDir)
    v.size.toLong
  }

  /** One micro-batch of a STREAMING takedown: the `deleteOpcode` rows
    * of a CDC batch append their ids to the store's tombstone set.
    * Replay safety needs NO batch addressing here — the tombstone set
    * is a semantic set (see the scaladoc above): an at-least-once
    * foreachBatch retry re-appends the same ids and changes nothing an
    * anti-join can observe. Invalid ids fail the trigger loudly, same
    * contract as [[appendDf]]. Returns the ids recorded this batch.
    * Reference analogue: DELETE is a first-class opcode in the event
    * stream, applied by the consumer, never a buffer rewrite
    * (databus-core/.../DbusOpcode.java:22-26). */
  def takedownStreamBatch(batch: DataFrame, storeDir: String,
      opcodeCol: String = "opcode", idCol: String = "id",
      deleteOpcode: String = "DELETE"): Long =
    appendValidated(
      batch.where(col(opcodeCol) === lit(deleteOpcode)).select(idCol),
      storeDir)

  /** First-class streaming takedown sink: attach to a CDC feed and
    * every micro-batch's DELETE opcodes tombstone `storeDir` — the
    * extraction of the inline DELETE-routing the CDC index maintainers
    * carry in their foreachBatch. The caller composes it with the
    * upsert half of the protocol when maintaining a full index; alone
    * it is the compliance sink (a takedown feed with no upserts).
    * Checkpointed: a resumed run re-delivers at most the in-flight
    * trigger, which re-appends idempotently.
    *
    * `trigger` defaults to AvailableNow (the drain-style regime the
    * specs and backfills use) but is a PARAMETER: a continuous
    * compliance feed passes a processing-time trigger — a hardcoded
    * drain would silently stop tombstoning after the initial backlog,
    * the worst failure mode for a legal-erasure path. Each micro-batch
    * runs in the feed's home session ([[graft.streaming.HomeSink]]). */
  def takedownStream(feed: DataFrame, storeDir: String, checkpoint: String,
      opcodeCol: String = "opcode", idCol: String = "id",
      deleteOpcode: String = "DELETE",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.HomeSink.start(feed, Some(checkpoint), trigger) { (b, _) =>
      takedownStreamBatch(b, storeDir, opcodeCol, idCol, deleteOpcode)
      ()
    }

  /** The store's tombstone set, or None when no takedown was ever
    * recorded (the common case — reads stay plain scans). The existence
    * probe goes through the Hadoop FileSystem API ([[StoreFs]]), not
    * `java.io.File`: on a non-local store URI (hdfs://, s3a://, file:)
    * a local-File probe would return None for a store that HAS recorded
    * takedowns — silently serving legally-erased docs as live, the
    * exact failure [[appendDf]]'s loud-failure contract exists to
    * prevent. Read with [[Schema]]. */
  def readOpt(spark: SparkSession, storeDir: String): Option[DataFrame] =
    if (StoreFs.hasFileWithSuffix(dirOf(storeDir), ".parquet"))
      Some(spark.read.schema(Schema).parquet(dirOf(storeDir)))
    else None

  /** The live rows of a store table: `rows` minus the tombstoned ids.
    * No tombstones ⇒ `rows` unchanged (zero plan overhead); otherwise
    * one BROADCAST anti-join on the id — the takedown set is
    * request-sized by construction, never corpus-sized. */
  def filterLive(rows: DataFrame, storeDir: String, idCol: String)
      : DataFrame =
    readOpt(rows.sparkSession, storeDir) match {
      case None => rows
      case Some(t) =>
        // re-select in the original order: a USING join moves the key
        // column first, and the read surface's column order is part of
        // its contract (schema-stable whether or not takedowns exist)
        rows.join(broadcast(t.withColumnRenamed("id", idCol)),
            Seq(idCol), "left_anti")
          .select(rows.columns.map(col).toSeq: _*)
    }
}
