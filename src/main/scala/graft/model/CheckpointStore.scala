package graft.model

import java.nio.charset.StandardCharsets

import graft.pipeline.StoreFs

/** C2 — checkpoint persistence providers.
  *
  * Reference: FileSystemCheckpointPersistenceProvider /
  * ClusterCheckpointPersistenceProvider (databus-client-api/.../pub/
  * FileSystemCheckpointPersistenceProvider.java:1). The engine's streaming
  * offsets already live in the Structured Streaming checkpointLocation;
  * this store persists the *consumer-visible* Checkpoint JSON (the
  * reference's contract: a consumer can be moved between clients by
  * carrying its checkpoint), with atomic write-rename like the reference's
  * staging-file protocol.
  *
  * All I/O goes through [[StoreFs]] (the Hadoop `FileSystem` API), NOT
  * `java.nio`: on a non-local root (hdfs://, file:, object stores) a
  * local-file probe returns "no checkpoint" for a consumer that HAS one —
  * the consumer silently restarts from scratch (at-least-once still
  * holds, but the checkpoint contract is silently lost), the same
  * silent-local-probe hazard class the store maintenance paths closed.
  * The write is [[StoreFs.writeAtomic]] (write-tmp + rename over the
  * old file) — a reader sees the old checkpoint or the new, never a torn
  * one, on every scheme that renames atomically (`file:` and HDFS).
  */
trait CheckpointStore {
  def store(consumerId: String, cp: CheckpointMult): Unit
  def load(consumerId: String): Option[CheckpointMult]
}

class FileSystemCheckpointStore(rootDir: String) extends CheckpointStore {
  private def path(id: String): String = s"$rootDir/$id.json"

  override def store(consumerId: String, cp: CheckpointMult): Unit = {
    StoreFs.mkdirs(rootDir)
    StoreFs.writeAtomic(path(consumerId),
      cp.toJson.getBytes(StandardCharsets.UTF_8))
  }

  override def load(consumerId: String): Option[CheckpointMult] =
    StoreFs.readBytesOpt(path(consumerId)).map(b =>
      CheckpointStore.parseMult(new String(b, StandardCharsets.UTF_8)))
}

object CheckpointStore {
  private val Entry = """"(\d+)":(\{[^{}]*\})""".r
  private val Cursor = """"cursorPartition":(\d+)""".r

  /** Parse CheckpointMult.toJson output. */
  def parseMult(json: String): CheckpointMult = {
    val cps = Entry.findAllMatchIn(json).map { m =>
      m.group(1).toShort -> Checkpoint.fromJson(m.group(2))
    }.toMap
    val cursor = Cursor.findFirstMatchIn(json).map(_.group(1).toShort)
    CheckpointMult(cps, cursor)
  }
}
