package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem operations for STORE MAINTENANCE (tombstone probes,
  * pointer flips and staged renames, fsck listings, codebook existence checks), routed
  * through the Hadoop `FileSystem` API so they resolve the same URI
  * schemes Spark's data plane does.
  *
  * Why this exists: the store data plane (parquet reads/writes) already
  * goes through Spark and works on any `FileSystem` scheme — local,
  * `file:`, HDFS, object stores. Maintenance paths written with
  * `java.io.File` silently see NOTHING on a non-local URI: an existence
  * probe returns false, a listing returns null. For a tombstone store
  * that failure mode is a correctness hazard, not a perf one — a
  * recorded legal takedown would silently stop filtering reads
  * (`Tombstones.readOpt` ⇒ None ⇒ erased docs served as live). Routing
  * every maintenance probe through `Path.getFileSystem` keeps local
  * behavior identical and makes non-local store URIs either WORK or
  * fail loudly — never no-op.
  *
  * Reference analogue: checkpoint persistence is deliberately
  * provider-abstracted behind one interface with local-FS and cluster
  * implementations (databus-client-api/.../checkpoint/
  * FileSystemCheckpointPersistenceProvider.java:1,
  * ClusterCheckpointPersistenceProvider.java:1) — maintenance I/O is a
  * pluggable provider, never raw `java.io.File`.
  *
  * Configuration resolution: the active (else default) SparkSession's
  * Hadoop conf, so `fs.*` settings (credentials, scheme impls) applied
  * to the session govern maintenance too; a bare `new Configuration()`
  * fallback keeps driver-side tools usable before any session exists.
  */
object StoreFs {

  // one Hadoop conf per session, not per call: newHadoopConf() CLONES
  // the full configuration (hundreds of entries), and maintenance
  // passes call StoreFs in per-file loops (mtime stamps, fsck probes) —
  // O(files) clones for a lookup the FileSystem cache already keyed.
  // Trade-off (deliberate): fs.* settings applied to a session AFTER
  // its first StoreFs call are not picked up; maintenance credentials
  // are session-construction state here, as in the reference's
  // provider config (FileSystemCheckpointPersistenceProvider.java:1).
  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Configuration]()
  @volatile private var noSessionConf: Configuration = null

  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        if (confCache.size > 8) confCache.clear() // stopped-session GC
        confCache.computeIfAbsent(s, _.sessionState.newHadoopConf())
      case None =>
        if (noSessionConf == null) noSessionConf = new Configuration()
        noSessionConf
    }

  /** The FileSystem owning `dir`, plus `dir` as a Path — one resolution
    * per maintenance op (FileSystem instances are cached by scheme +
    * authority inside Hadoop; this is not a per-call connection). */
  def fsPath(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(conf), p)
  }

  def exists(dir: String): Boolean = {
    val (fs, p) = fsPath(dir)
    fs.exists(p)
  }

  def isDirectory(dir: String): Boolean = {
    val (fs, p) = fsPath(dir)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Child entry names of `dir` (empty when absent — the probe-a-store
    * idiom; maintenance listings are store roots with a handful of
    * entries, never corpus-sized). */
  def listNames(dir: String): Seq[String] = {
    val (fs, p) = fsPath(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Child DIRECTORY names of `dir` (fsck's layout-artifact listing). */
  def listDirNames(dir: String): Seq[String] = {
    val (fs, p) = fsPath(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  // Recursive walks go through plain listStatus per directory, NOT
  // fs.listFiles(p, recursive=true): listFiles returns
  // LocatedFileStatus and fetches BLOCK LOCATIONS per file, which on
  // LocalFileSystem costs ~50 ms per listing of a dozen files (measured
  // — it dominated the event-log append path, ~2 listings per
  // generation) where a listStatus walk is ~0.5 ms. Maintenance
  // listings never need block locations; store trees are a handful of
  // directories deep.
  // `keep` prunes by name at every level, dirs and files alike
  private def walkFiles(fs: FileSystem, p: Path,
      keep: String => Boolean = _ => true)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.filter(st => keep(st.getPath.getName)).flatMap { st =>
      if (st.isDirectory) walkFiles(fs, st.getPath, keep) else Seq(st)
    }

  /** Recursively list the file NAMES under `dir` carrying `suffix` —
    * the event-log compaction's provenance snapshot (names are unique
    * per generation: Spark part-file names carry task UUIDs). Empty
    * when absent. */
  def listFileNamesRecursive(dir: String, suffix: String): Seq[String] = {
    val (fs, p) = fsPath(dir)
    if (!fs.exists(p)) Seq.empty
    else walkFiles(fs, p).map(_.getPath.getName).filter(_.endsWith(suffix))
  }

  /** Recursive file statuses under `dir` (empty when absent) — the
    * event-log writer's stamp bookkeeping and the memo content salt. */
  def listFileStatusesRecursive(dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val (fs, p) = fsPath(dir)
    if (!fs.exists(p)) Seq.empty else walkFiles(fs, p)
  }

  /** The files a file-source read of `dir` admits: the recursive walk
    * minus every path under a name the file source hides (a `_` or `.`
    * prefix, save hive `k=v` dirs — the event log's `_staging-*` dirs,
    * `_SUCCESS` markers, `.crc` sidecars) or marked in flight
    * (`._COPYING_`) — the rule of Spark's `InMemoryFileIndex`, which
    * does not export it. Empty when absent. */
  def listDataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val (fs, p) = fsPath(dir)
    if (!fs.exists(p)) Seq.empty
    else walkFiles(fs, p, name => !(name.startsWith(".") ||
      (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")))
  }

  /** Set a file's modification time (the event-log generation stamp);
    * throws on unsupported filesystems rather than silently keeping
    * write-time mtimes (which would let the relay source admit parts
    * out of sequence order). */
  def setModificationTime(path: String, mtime: Long): Unit = {
    val (fs, p) = fsPath(path)
    fs.setTimes(p, mtime, -1)
  }

  /** A path's modification time, None when absent — the reservation
    * lease's age probe ([[VersionedStore]]): mtime is the one liveness
    * signal a foreign host's crashed publisher leaves behind. */
  def modificationTime(path: String): Option[Long] = {
    val (fs, p) = fsPath(path)
    if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime)
    else None
  }

  /** Does `dir` exist and contain at least one file with `suffix`?
    * (The tombstone-set existence probe: a dir with no data files is
    * "no takedowns recorded", same as no dir.) */
  def hasFileWithSuffix(dir: String, suffix: String): Boolean = {
    val (fs, p) = fsPath(dir)
    fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists(st => st.isFile && st.getPath.getName.endsWith(suffix))
  }

  /** Recursive delete; no-op when absent (idempotent GC). */
  def deleteRecursive(dir: String): Unit = {
    val (fs, p) = fsPath(dir)
    if (fs.exists(p)) {
      require(fs.delete(p, true), s"StoreFs: cannot delete $dir")
    }
  }

  /** Directory rename, false on failure — the single primitive under
    * [[VersionedStore.append]]'s staged landing and the event log's
    * compaction swap ([[graft.streaming.RelayStream.compactEventLog]]).
    * `dst` must not exist — Hadoop rename onto an existing directory
    * nests the source inside it rather than replacing, which would
    * corrupt a swap, so that case fails loudly here instead. */
  def rename(src: String, dst: String): Boolean = {
    val (fs, s) = fsPath(src)
    val d = new Path(dst)
    require(!fs.exists(d),
      s"StoreFs.rename: destination $dst exists — a rename onto an " +
        "existing directory would nest, not replace; delete or displace it first")
    // missing source → false, not FNFE: the swap protocol branches on
    // the boolean (File.renameTo semantics); some FileSystem impls
    // throw instead
    fs.exists(s) && fs.rename(s, d)
  }

  def mkdirs(dir: String): Unit = {
    val (fs, p) = fsPath(dir)
    require(fs.mkdirs(p), s"StoreFs: cannot mkdirs $dir")
  }

  /** Read a SMALL file fully (pointer/checkpoint/schema-sized — never
    * data-plane bytes), None when absent. Routed through the FileSystem
    * API for the same reason every probe here is: a `java.nio` read of
    * a non-local URI sees nothing, and "no checkpoint" silently
    * restarts a consumer from scratch. */
  def readBytesOpt(path: String): Option[Array[Byte]] = {
    val (fs, p) = fsPath(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in))
      finally in.close()
    }
  }

  /** Create `path` CREATE-EXCLUSIVE (fails, returns false, when it
    * already exists — never overwrites): the conditional-write
    * primitive object-store pointer protocols need where rename is
    * copy+delete or last-writer-wins. On S3A-class stores Hadoop maps
    * overwrite=false to a conditional PUT; on POSIX it is the
    * O_CREAT|O_EXCL check. Any other IO failure stays loud. */
  def createExclusive(path: String, bytes: Array[Byte] = Array.empty)
      : Boolean = {
    val (fs, p) = fsPath(path)
    val out =
      try fs.create(p, false)
      catch {
        // only a CREATE failure may read as "already existed" — a write
        // failure after a successful create must not (the torn partial
        // would masquerade as a complete prior copy); hence the split
        // try blocks
        case e: java.io.IOException =>
          if (fs.exists(p)) return false else throw e
      }
    try { out.write(bytes); out.close(); true }
    catch {
      case e: java.io.IOException =>
        try out.close() catch { case _: java.io.IOException => () }
        fs.delete(p, false) // remove the torn partial we created
        throw e
    }
  }

  /** Atomically REPLACE `path` with `bytes`: write a tmp sibling, then
    * rename it over `path`. The single-file commit primitive every
    * pointer flip, reservation, pin, checkpoint and watermark write
    * shares. `tmpSuffix` names the in-flight file (pid-scoped by
    * default), so a crashed write leaves identifiable dead bytes.
    *
    * What a concurrent reader sees, by scheme:
    *   - `file`: the old bytes or the new, never a missing file and
    *     never a checksum error. The tmp is written with no `.crc`
    *     sidecar, the destination's stale sidecar is deleted, and
    *     `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)` replaces the file in
    *     one `rename(2)`. Hadoop's checksummed local FS opens the data
    *     before its sidecar, so a reader that still finds the old
    *     sidecar holds the old data. (Hadoop's own overwrite rename on
    *     `file:` deletes the destination and then renames, and moves the
    *     sidecar in a second step: a reader could find no file, or old
    *     checksums over new bytes.) No process is forked: a call takes
    *     0.3-0.7 ms (median of 50 calls of a small file, 4-vCPU host),
    *     against 28-43 ms for the Hadoop path below, whose create forks
    *     `chmod` and whose rename forks `readlink` without a native
    *     Hadoop library.
    *   - any other scheme: the tmp is written through the `FileSystem`
    *     and renamed with OVERWRITE through
    *     [[org.apache.hadoop.fs.FileContext]], as atomic as that scheme's
    *     rename: HDFS replaces in one namenode step; an object store's
    *     copy-and-delete is not atomic, which is why its stores flip with
    *     the CREATE-EXCLUSIVE protocol ([[VersionedStore]]) instead. */
  def writeAtomic(path: String, bytes: Array[Byte],
      tmpSuffix: String = s".tmp.${ProcessHandle.current.pid}"): Unit = {
    val (fs, p) = fsPath(path)
    val dst = fs.makeQualified(p)
    val tmp = fs.makeQualified(new Path(path + tmpSuffix))
    if (dst.toUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val to = Paths.get(dst.toUri)
      Files.createDirectories(to.getParent)
      val from = Files.write(Paths.get(tmp.toUri), bytes)
      Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, fs.getConf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }
}
