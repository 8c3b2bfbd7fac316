package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The ONE commit protocol of every persisted store here: immutable
  * GENERATIONS published by one atomic pointer flip, plus staged
  * in-generation appends. Paired stores (postings + doclens, sigs +
  * banded, codebook + cells), the single-table stores (the z-order
  * [[Layout]], [[QuantileStore]], the gram-df store of
  * [[Dedup.compactGramDfStore]]) and the [[graft.streaming.Applier]]'s
  * snapshot + log state all commit through it, so one set of crash
  * windows and one fsck vocabulary ([[StoreFsck.versionedStore]]) cover
  * them all. (The event log is the one exception — see
  * [[StoreFsck.eventLogStore]].)
  *
  * Protocol (exactly how table formats version metadata, reduced to its
  * filesystem core):
  *
  *   - a generation directory `gen-<id>/` holds EVERY table of the
  *     store, plus an empty `_COMPLETE` marker written LAST;
  *   - readers resolve through the `_CURRENT` pointer file, whose
  *     content is the generation id — one small read per store open;
  *   - publish = write all tables into a fresh `gen-<id>/`, drop the
  *     marker, then flip `_CURRENT` via write-tmp + RENAME over the old
  *     pointer ([[StoreFs.writeAtomic]] — atomic on `file:` and HDFS,
  *     the single-file rename every commit-protocol ultimately bottoms
  *     out in). A crash ANYWHERE before the flip
  *     leaves `_CURRENT` on the old generation: readers never see a
  *     torn store, and the partial/unreferenced generation is an
  *     [[StoreFsck.versionedStore]] finding plus [[gc]] fodder — dead
  *     bytes, never wrong answers. Every rewrite (rebuild, compaction,
  *     recluster, rebalance, merge) is the next publish followed by
  *     [[gc]];
  *   - an APPEND ([[append]]) stages its tables under a `_`-prefixed
  *     dir of the current generation and renames them in, so a
  *     batch-addressed delta (`<table>/batch=<n>`) becomes visible by
  *     one rename, whole or not at all;
  *   - old generations stay readable until [[gc]] retires them, which
  *     gives snapshot pinning for free: one [[Pin]] (generation plus
  *     append batch inside it) is the read coordinate of every store,
  *     resolved by [[resolve]] and read by [[liveRows]].
  *
  * A root that holds tables but no published generation (the flat
  * layout written before generations existed) is REFUSED by every read
  * and write here, naming the rebuild: no writer produces one, and
  * serving or extending it would bypass the protocol.
  *
  * Scale shape: the pointer is metadata (one file, a handful of bytes);
  * generation writes are the same distributed table writes the
  * unversioned stores run; nothing store-sized ever moves to publish a
  * generation beyond the tables themselves. Object stores whose rename
  * is not atomic use the CREATE-EXCLUSIVE pointer protocol instead
  * (`graft.store.pointerProtocol`, auto-selected by scheme): each flip
  * writes an immutable `_POINTER.<gen>` marker conditionally, current
  * resolves as the max — racing flips write different markers and the
  * max wins deterministically, so no flip record is ever overwritten
  * and a torn multi-table state remains impossible on every store
  * class.
  *
  * Takedowns are an O(request) PER-GENERATION TOMBSTONE OVERLAY
  * ([[takedownDf]]): the id set appends under every retained complete
  * generation's own `gen-<id>/tombstones`, live reads
  * (every read goes through [[liveRows]]) anti-join
  * it, and the next [[publish]] — built from live rows — starts with an
  * empty set, making the eventual physical rewrite ride a publish that was
  * happening anyway instead of forcing an immediate corpus-sized republish.
  * Generation TABLES stay immutable (the overlay is a side table,
  * [[Tombstones]]); pinned reads filter too — legal erasure must not be
  * resurrectable through time travel — and [[gc]]'s `keep` still bounds
  * how long any pre-takedown bytes exist at all.
  *
  * Reference analogue: the bootstrap's two-phase snapshot/catchup
  * apply, where consumers switch to a new consistent state only at the
  * recorded SCN boundary, never mid-copy
  * (BootstrapCheckpointHandler.java:103-203); checkpoint persistence
  * likewise goes provider-abstracted metadata-first
  * (FileSystemCheckpointPersistenceProvider.java:1).
  */
object VersionedStore {

  private val Pointer = "_CURRENT"
  private val Marker = "_COMPLETE"
  private val Reserved = "_RESERVED"
  private val reserveNonce = new java.util.concurrent.atomic.AtomicLong()

  /** Pointer-marker prefix of the CREATE-EXCLUSIVE flip protocol:
    * `_POINTER.<gen>` files, one per flip, resolved as the max — shared
    * with [[StoreFsck]] like [[PointerTmpPrefix]]. */
  private[graft] val PointerMarkerPrefix = "_POINTER."

  /** The flip-protocol knob (a Spark conf, runtime-settable):
    * `rename` — one `_CURRENT` file updated by write-tmp + atomic
    * RENAME-OVERWRITE (POSIX, HDFS); `exclusive` — an immutable
    * `_POINTER.<gen>` marker per flip, written CREATE-EXCLUSIVE, the
    * max resolving as current (object stores, where rename is
    * copy+delete and an overwrite is last-writer-wins: two racing
    * flips under `exclusive` write two different markers and the max
    * wins deterministically — neither record is ever destroyed);
    * `auto` (default) — by scheme: file/hdfs/viewfs rename, everything
    * else exclusive. Resolution ([[currentGen]]) always honors BOTH
    * record forms, so a store migrates protocols by just flipping the
    * knob. */
  private val ProtocolConf = "graft.store.pointerProtocol"

  private def flipProtocol(root: String): String = {
    val mode = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.conf.get(ProtocolConf, "auto")).getOrElse("auto")
    mode match {
      case "rename" | "exclusive" => mode
      case "auto" =>
        val (fs, p) = StoreFs.fsPath(root)
        fs.makeQualified(p).toUri.getScheme match {
          case null | "file" | "hdfs" | "viewfs" => "rename"
          case _ => "exclusive"
        }
      case other => throw new IllegalArgumentException(
        s"$ProtocolConf must be auto|rename|exclusive, got '$other'")
    }
  }

  /** Generation ids recorded by `_POINTER.<gen>` flip markers. */
  private def markerGens(root: String): Seq[Long] =
    StoreFs.listNames(root).collect {
      case n if n.startsWith(PointerMarkerPrefix) &&
          n.length > PointerMarkerPrefix.length &&
          n.drop(PointerMarkerPrefix.length).forall(_.isDigit) =>
        n.drop(PointerMarkerPrefix.length).toLong
    }

  /** This host's name, as written into reservation tokens — gc's
    * pid-liveness check only applies to reservations OUR host made
    * (a pid is meaningless across hosts). */
  private[graft] lazy val hostId: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "unknown-host" }

  /** (host, pid) of a generation's reservation token — Some while a
    * publish holds the dir (or crashed holding it), None for committed
    * generations and pre-protocol partials. A token whose format is
    * unrecognized reads as a FOREIGN reservation (retired only by the
    * lease, never the pid-liveness rule) rather than as none. */
  private[graft] def reservation(root: String, gen: Long)
      : Option[(String, Long)] =
    StoreFs.readBytesOpt(s"${genDir(root, gen)}/$Reserved").map { b =>
      new String(b, "UTF-8").trim.split(' ') match {
        case Array(host, pid, _) if pid.forall(_.isDigit) =>
          (host, pid.toLong)
        case _ => ("unparseable-token", -1L)
      }
    }

  /** Lease (ms) on FOREIGN-host reservations: gc retires a `_RESERVED`
    * dir another host wrote once the token file's mtime is older than
    * this — the cross-host analog of the same-host pid-liveness check
    * (without it, a publisher that crashes on another host leaves dead
    * bytes NO sweep ever names — unbounded on a multi-writer cluster).
    * The default is deliberately generous (7 days); the operational
    * rule is LEASE > THE LONGEST PLAUSIBLE TABLE WRITE, because a
    * publisher swept mid-write fails LOUDLY at commit (the reservation
    * token recheck) — a too-short lease wastes a rebuild, never tears
    * state. 0 disables (pre-r13 behavior: foreign reservations are
    * never retired). Runtime-settable Spark conf. */
  private val LeaseConf = "graft.store.reservationLeaseMs"
  private val DefaultLeaseMs: Long = 7L * 24 * 3600 * 1000

  private def reservationLeaseMs: Long =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.conf.get(LeaseConf, DefaultLeaseMs.toString).toLong)
      .getOrElse(DefaultLeaseMs)

  /** A provably-abandoned reservation — the crashed in-flight publishes
    * gc can retire: one THIS host made whose publisher pid is dead, or
    * a FOREIGN-host one (unparseable tokens included) whose token file
    * has outlived the [[reservationLeaseMs]] lease. A live same-host
    * publisher is never stale regardless of age (liveness is provable);
    * a fresh foreign reservation is spared (its liveness is unknowable,
    * so the lease is the contract). */
  private[graft] def staleReservation(root: String, gen: Long): Boolean =
    reservation(root, gen).exists { case (host, pid) =>
      if (host == hostId && pid >= 0) {
        val h = ProcessHandle.of(pid)
        !(h.isPresent && h.get.isAlive)
      } else {
        val lease = reservationLeaseMs
        lease > 0 &&
          StoreFs.modificationTime(s"${genDir(root, gen)}/$Reserved")
            .exists(m => System.currentTimeMillis() - m > lease)
      }
    }

  /** The crashed-flip tmp prefix — shared with [[StoreFsck]] so the
    * audit and the gc can never drift apart on the naming. */
  private[graft] val PointerTmpPrefix = s"$Pointer.tmp."

  private def genDir(root: String, gen: Long) = s"$root/gen-$gen"

  /** MAINTENANCE operations (publish's reserve/commit steps, takedown,
    * gc, adopt) serialize under one lock per store root — two
    * concurrent publishers would otherwise both claim the same
    * generation id, and a takedown could slip a generation past its
    * overlay append. The lock is held only for METADATA steps: a
    * publish's distributed table write happens OUTSIDE it (between
    * reserve and commit), so a takedown — the compliance sink's
    * foreachBatch included — never blocks behind a corpus-sized
    * rebuild; it records into the in-flight reservation's overlay
    * instead. READERS never take it: a complete generation is
    * immutable and the pointer flip is atomic, so reads are lock-free
    * by construction (the whole point of the protocol). The JVM-local
    * monitor wraps the file lock per ProcessLock's contract (same-JVM
    * contention on FileChannel.lock throws).
    *
    * Scope stated honestly: the FileLock serializes publishers that can
    * SEE the same lock file — all local/file: cases, and remote stores
    * maintained from one host (the lock falls back to a host-local
    * file keyed by the store URI). Publishers on DIFFERENT hosts
    * against one remote store need an external coordinator, exactly
    * the single-writer regime every maintenance pass here assumes
    * (SURVEY §2.9: coordination is the driver's job, not the store's). */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def maintenance[T](root: String)(body: => T): T = {
    // resolve the SCHEME through the Hadoop conf, not string parsing: a
    // scheme-less root under fs.defaultFS=hdfs://... is a REMOTE store,
    // and a java.nio lock file on local disk there would be exactly the
    // silent-local-probe hazard StoreFs exists to close
    val (fs, p) = StoreFs.fsPath(root)
    val qualified = fs.makeQualified(p).toUri
    val lockFile = qualified.getScheme match {
      case null | "file" => s"${qualified.getPath}/_MAINTENANCE.lock"
      case _ =>
        val h = java.lang.Integer.toHexString(qualified.toString.hashCode)
        s"${System.getProperty("java.io.tmpdir")}/graft-vstore-$h.lock"
    }
    // per-LOCKFILE monitor (ProcessLock's same-JVM contract), not a
    // global one: publishes to unrelated roots must not serialize
    val mon = monitors.computeIfAbsent(lockFile, _ => new Object)
    mon.synchronized {
      graft.sources.ProcessLock.exclusive(lockFile)(body)
    }
  }

  /** The current generation — the NEWEST flip record across both
    * pointer protocols: the `_CURRENT` file's content (rename protocol)
    * and the max `_POINTER.<gen>` marker (exclusive protocol). None
    * before the first publish. Loud failure on unreadable `_CURRENT`
    * CONTENT even when markers exist (a corrupt pointer is an
    * operational fact demanding [[adopt]], never silently out-voted).
    *
    * Cost: one root LISTING plus the pointer read — deliberately
    * unconditional (skipping the listing when `_CURRENT` exists would
    * silently time-travel a store whose knob flipped exclusive→rename
    * while markers above `_CURRENT` remained). Store opens are
    * per-query, never per-row, and a store root holds a handful of
    * entries; a metadata cache would trade that for staleness across
    * processes. */
  def currentGen(root: String): Option[Long] = {
    val (fs, p) = StoreFs.fsPath(s"$root/$Pointer")
    val renamed =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val raw = new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          Some(raw.toLong)
        } catch {
          // unparseable content and checksum-mismatched bytes are the
          // same operational fact: the pointer is corrupt (it must
          // surface as that, not as an empty store or a generic IO
          // failure)
          case e @ (_: NumberFormatException |
                    _: org.apache.hadoop.fs.ChecksumException) =>
            throw new IllegalStateException(
              s"VersionedStore: corrupt pointer at $root/$Pointer", e)
        } finally in.close()
      }
    (renamed ++ markerGens(root)).maxOption
  }

  /** Publish one new generation holding ALL of `tables`, and flip the
    * pointer to it. Returns the new generation id. The flip happens
    * only after every table and the completeness marker are down; any
    * crash before it leaves readers on the previous generation.
    *
    * A store is BORN by publish (its first build, or its first append —
    * see [[append]]), and every later rewrite is the next publish
    * followed by [[gc]]. A root holding unpublished tables is refused
    * ([[refuseFlat]]).
    *
    * Table names are slash-separable relative paths (a batch-addressed
    * bootstrap publishes `cells/batch=0`); the BASE segment must not
    * collide with the protocol's own artifacts — no underscore-prefixed
    * names (all protocol records start with `_`, and Spark readers
    * ignore `_`-prefixed paths anyway, so such a table could never be
    * read back).
    *
    * `partitionBy` maps a table name to partition columns for its
    * write — how a compaction rewrite preserves a batch-addressed
    * table's `batch=<id>` append history (the as-of pin) through the
    * fresh generation. */
  def publish(root: String, tables: Map[String, DataFrame],
      partitionBy: Map[String, Seq[String]] = Map.empty): Long =
    publishIf(root, tables, partitionBy)(_ => true).get

  /** [[publish]], committed only when `keep` accepts the written
    * generation dir; otherwise the reservation is retired whole and
    * None is returned (nothing published). */
  private[graft] def publishIf(root: String, tables: Map[String, DataFrame],
      partitionBy: Map[String, Seq[String]] = Map.empty)(
      keep: String => Boolean): Option[Long] = {
    require(tables.nonEmpty, "VersionedStore.publish: no tables")
    require(partitionBy.keySet.subsetOf(tables.keySet),
      s"VersionedStore.publish: partitionBy names unknown tables" +
        s" ${partitionBy.keySet -- tables.keySet}")
    tables.keys.foreach { n =>
      val base = n.split('/').head
      require(base.nonEmpty && !base.startsWith("gen-") &&
        base != "tombstones" && !base.startsWith("_"),
        s"VersionedStore.publish: table name '$n' collides with the" +
          " store protocol's own layout")
    }
    // RESERVE under a SHORT lock, write the tables OUTSIDE it, COMMIT
    // under a second short lock: the maintenance lock is never held for
    // the duration of a distributed table write, so a takedown
    // (including the compliance sink's foreachBatch) is no longer
    // blocked behind a corpus-sized rebuild on the same root — it
    // appends under the lock to every complete generation AND to this
    // reservation's overlay ([[takedownIds]]), which is exactly
    // why the reservation must be visible before the first table byte
    val (gen, token) = reserve(root)
    val dir = genDir(root, gen)
    // Each table lands in its own subdir of the fresh generation dir —
    // the writes are independent, and most stores publish several tiny
    // driver-bounded tables (codebook, books, quant_stats) next to one
    // corpus-sized one. Writing them concurrently overlaps each write's
    // plan/commit latency with another's tasks (optimization guide §2.6);
    // the commit marker still only lands after EVERY write returned, so
    // generation atomicity is untouched. Overlap.settle additionally
    // terminates every sibling write before a failure propagates — the
    // reservation dir is only retried/wiped once nothing is still
    // writing into it.
    val writes = tables.toSeq.map { case (name, df) =>
      Overlap.run {
        val part = partitionBy.get(name).filter(_.nonEmpty)
        // DRIVER-LOCAL tables (codebook, books, quant_stats — plans
        // that collapse to a LocalRelation) skip the distributed
        // writer: launching a Spark job to write one driver-held row
        // costs a scheduler round-trip + task launch + commit
        // (~60–100 ms of scale-independent latency per table);
        // DriverParquet emits the byte-compatible file directly
        if (part.nonEmpty || !DriverParquet.writeIfLocal(df, s"$dir/$name")) {
          val w = df.write.mode("overwrite")
          part.fold(w)(cols => w.partitionBy(cols: _*))
            .parquet(s"$dir/$name")
        }
      }
    }
    Overlap.settle(writes: _*)
    if (keep(dir)) Some(commit(root, gen, token))
    else {
      maintenance(root) {
        StoreFs.deleteRecursive(s"$dir/$Reserved")
        StoreFs.deleteRecursive(dir)
      }
      None
    }
  }

  /** Claim the next generation id under the maintenance lock and mark
    * the dir with a reservation token. Numbering past every COMPLETE
    * generation stays the recovery for crashed publishes (re-running
    * one reuses its partial dir, wiped whole here); dirs another
    * publisher has RESERVED — live, or crashed but not yet gc'd — are
    * skipped, never wiped: the reservation is what makes the
    * write-outside-the-lock protocol collision-free. */
  private[graft] def reserve(root: String): (Long, String) =
    maintenance(root) {
      if (currentGen(root).isEmpty) refuseFlat(root)
      var gen = math.max(currentGen(root).getOrElse(0L),
        listGens(root).collect { case (g, true) => g }
          .maxOption.getOrElse(0L)) + 1L
      while (reservation(root, gen).isDefined) gen += 1L
      val dir = genDir(root, gen)
      require(!StoreFs.exists(s"$dir/$Marker"),
        s"VersionedStore.publish: generation $gen already complete at" +
          s" $root — concurrent publisher? (single-writer protocol, like" +
          " every maintenance pass here)")
      // a crashed publish may have left a PARTIAL dir under this id;
      // wipe it whole rather than per-table overwrite — otherwise a
      // stale table the new publish doesn't carry would ride inside the
      // completed generation and a pinned read would serve it as if
      // published
      StoreFs.deleteRecursive(dir)
      val token = s"$hostId ${ProcessHandle.current.pid}" +
        s" ${reserveNonce.incrementAndGet()}"
      StoreFs.writeAtomic(s"$dir/$Reserved", token.getBytes("UTF-8"))
      (gen, token)
    }

  /** The marker+flip half of [[publish]], under its own short lock. The
    * reservation token is re-checked first: if a stale-reservation gc
    * (or an operator) retired the dir while the tables were writing,
    * committing over it would publish torn state — fail loudly instead.
    * The flip is MONOTONE: concurrent publishers (outside the
    * single-writer contract, but serialized per-step here) commit in
    * write-finish order, and the pointer must never move BACKWARD to an
    * earlier reservation — a non-flipped commit stays readable via
    * a [[Pin]] and is [[adopt]]/gc fodder like any unreferenced
    * complete generation. */
  private[graft] def commit(root: String, gen: Long, token: String): Long =
    maintenance(root) {
      val dir = genDir(root, gen)
      val held = StoreFs.readBytesOpt(s"$dir/$Reserved")
        .map(new String(_, "UTF-8"))
      require(held.contains(token),
        s"VersionedStore.publish: reservation for generation $gen at" +
          s" $root was ${held.fold("retired mid-write (stale-reservation" +
            " gc against a live publisher?)")(t => s"overwritten by '$t'")}" +
          " — refusing to commit")
      touch(s"$dir/$Marker")
      // FINAL token recheck after the marker, before the flip: a
      // lease-expired gc on another host (which holds a different
      // maintenance lock — see the scope note) retires a reservation
      // token-FIRST, so a publisher swept mid-commit refuses here
      // instead of flipping the pointer at a dir the sweeper is
      // concurrently deleting. The marker just written comes back OUT
      // first — touch() may have resurrected the swept dir (fs.create
      // makes parents), and a table-less generation presenting as
      // COMPLETE would be exactly what adopt() or a pinned read must never
      // see. The residual window is the milliseconds between this
      // probe and the flip — versus a lease measured in days; full
      // cross-host publish mutual exclusion remains the external
      // coordinator's job (SURVEY §2.9)
      if (!StoreFs.readBytesOpt(s"$dir/$Reserved")
          .map(new String(_, "UTF-8")).contains(token)) {
        StoreFs.deleteRecursive(s"$dir/$Marker")
        throw new IllegalArgumentException(
          s"VersionedStore.publish: reservation for generation $gen at" +
            s" $root vanished between the marker and the flip — a" +
            " stale-reservation gc swept it mid-commit (lease shorter" +
            " than this table write?); refusing to flip")
      }
      StoreFs.deleteRecursive(s"$dir/$Reserved")
      if (currentGen(root).forall(_ < gen)) flipPointer(root, gen)
      gen
    }

  /** Is `root` a versioned store? One pointer probe per protocol form.
    * Every store writer publishes, so a root they wrote is versioned from
    * its first write; false means nothing was published there yet. */
  def isVersioned(root: String): Boolean =
    StoreFs.exists(s"$root/$Pointer") || markerGens(root).nonEmpty

  /** Fail loudly when `root` holds tables but no published generation:
    * the flat layout written before generations existed. Nothing here
    * reads, extends or migrates it any more — serving it would bypass
    * the pointer, and a publish over it would leave its tables beside
    * the generations. One root listing; only unpublished roots pay it. */
  private def refuseFlat(root: String): Unit = {
    val flat = StoreFs.listNames(root).filterNot(n =>
      n.startsWith("gen-") || n.startsWith("_") || n.startsWith("."))
    require(flat.isEmpty,
      s"VersionedStore: $root holds tables (${flat.sorted.take(4)
        .mkString(", ")}${if (flat.size > 4) ", …" else ""})" +
        " but no published generation — a legacy flat store, which this" +
        " build neither reads nor migrates. Rebuild it: delete the root" +
        " and re-run the store's writer, which publishes generation 1")
  }

  /** The current generation's directory, or None when nothing is
    * published and the root holds no tables (a store not yet born) — the
    * one pointer resolution behind [[tableRoot]] and [[append]]. Loud on
    * a dangling pointer (a generation someone hand-deleted): serving a
    * missing dir as an empty store is the silent failure this module
    * exists to prevent; loud on a flat root ([[refuseFlat]]). */
  private[graft] def publishedRoot(root: String): Option[String] =
    currentGen(root) match {
      case None => refuseFlat(root); None
      case Some(g) => Some(currentDir(root, g))
    }

  /** The directory of generation `gen`, which the pointer names — loud
    * when it is absent or incomplete (a dangling pointer). */
  private def currentDir(root: String, gen: Long): String = {
    require(StoreFs.exists(s"${genDir(root, gen)}/$Marker"),
      s"VersionedStore: pointer at $root names generation $gen which is" +
        " absent or incomplete — repair with adopt() (fsck:" +
        " pointer_to_missing_generation)")
    genDir(root, gen)
  }

  /** The directory holding `root`'s LIVE tables: the current
    * generation. Loud before the first publish, on a dangling pointer
    * and on a flat root, like [[publishedRoot]]. */
  def tableRoot(root: String): String = publishedRoot(root).getOrElse(
    throw new IllegalStateException(
      s"VersionedStore.tableRoot: no published generation at $root"))

  /** Land one APPEND's `tables` (relative names, as [[publish]] takes
    * them, each frame built by its own write) in the current generation.
    * A root with no generation is BORN instead: the same frames publish
    * as its generation 1. `check` sees the resolved table root before
    * any write (layout guards).
    *
    * Visibility: the frames are written concurrently (settled together,
    * so a retried batch never races an orphaned sibling write) under one
    * `_`-prefixed staging dir of the generation — a path no reader lists
    * — and then moved into place, the staged-then-rename move of
    * [[graft.streaming.RelayStream.writeEventLog]]. A table that does not
    * exist yet, which includes every batch-addressed delta
    * (`<table>/batch=<n>`), lands by ONE directory rename: readers see
    * the whole delta or none of it. `overwrite` first removes the
    * destination (a replayed batch replaces its own partial); `append`
    * into an existing table moves the staged files in one by one. A crash
    * mid-append leaves the staging dir as dead bytes inside the
    * generation, retired with it by the next publish + [[gc]].
    *
    * `landIf` sees the dir the tables were written under (the staging
    * dir, or the born generation's dir) before anything becomes
    * visible; when it refuses, nothing lands and the append returns
    * false. */
  private[graft] def append(root: String,
      tables: Seq[(String, () => DataFrame)], mode: String,
      landIf: String => Boolean = _ => true)(
      check: String => Unit = _ => ()): Boolean =
    publishedRoot(root) match {
      case None =>
        publishIf(root, tables.map { case (n, df) => n -> df() }.toMap)(
          landIf).isDefined
      case Some(t) =>
        check(t)
        val stage = s"$t/_staging-${java.util.UUID.randomUUID}"
        Overlap.settle(tables.map { case (n, df) =>
          Overlap.run(df().write.parquet(s"$stage/$n"))
        }: _*)
        val landed = landIf(stage)
        if (landed)
          tables.foreach { case (n, _) => land(s"$stage/$n", s"$t/$n", mode) }
        StoreFs.deleteRecursive(stage)
        landed
    }

  /** Move one staged table dir to `dst` — see [[append]]. */
  private def land(staged: String, dst: String, mode: String): Unit = {
    if (mode == "overwrite") StoreFs.deleteRecursive(dst)
    if (!StoreFs.exists(dst)) {
      StoreFs.mkdirs(dst.take(dst.lastIndexOf('/')))
      require(StoreFs.rename(staged, dst),
        s"VersionedStore.append: cannot move staged $staged to $dst")
    } else StoreFs.listNames(staged)
      .filterNot(f => f.startsWith("_") || f.startsWith("."))
      .foreach { f =>
        require(StoreFs.rename(s"$staged/$f", s"$dst/$f"),
          s"VersionedStore.append: cannot move staged $staged/$f into $dst")
      }
  }

  /** The directory of a PINNED generation — [[resolve]]'s pin arm and
    * `loadPinned`'s first step, so a pin that outlived retention
    * fails with a NAMED, actionable error (which pin, which store, what
    * the retention rule is, how to hold a generation) instead of the
    * raw path-not-found a gc'd generation would otherwise surface from
    * deep inside a parquet scan. The retention contract: an UNREGISTERED
    * pin is a client-held token with no server-side footprint — it lives
    * exactly as long as its generation survives gc/compaction
    * (`keepGenerations` later publishes); a training job that must
    * outlive that registers the pin ([[registerPin]]), which gc spares
    * until release or lease expiry. Reference analogue: an SCN that
    * fell off the relay's retention gets a NAMED too-old answer
    * (SCNNotFoundException) routing the client to bootstrap — never a
    * raw read error. */
  def pinnedGenerationRoot(root: String, gen: Long, maxBatch: Option[Long],
      who: String): String = {
    if (!StoreFs.exists(s"${genDir(root, gen)}/$Marker"))
      throw new IllegalStateException(
        s"$who: pin (gen=$gen${maxBatch.fold("")(b => s", batch=$b")})" +
          s" outlived retention at $root — gc/compaction retired the" +
          " pinned generation. Pins live as long as their generation:" +
          " keepGenerations later publishes for an unregistered pin;" +
          " registerPin holds the generation against gc until" +
          " releasePin or pin-lease expiry (graft.store.pinLeaseMs)")
    genDir(root, gen)
  }

  /** gc-visible pin registration — the reservation-lease idiom applied
    * to time-travel pins: a `_PIN.<token>` file under the pinned
    * generation's dir that [[gc]] (and therefore every store family's
    * compaction, which retires through gc) treats as "a reader still
    * needs this generation" and spares it. Lease-bounded
    * (`graft.store.pinLeaseMs`, default 7 days, mtime-based, 0 = pins
    * never expire) for exactly the reservation lease's reason: a
    * registrant that crashes without releasing must not pin the
    * generation's bytes forever on a multi-writer store. A too-short
    * lease never tears state — the pinned read after a sweep fails
    * LOUDLY with [[pinnedGenerationRoot]]'s named error. Registration
    * requires the generation to be complete and present (you can only
    * register a pin you could resolve), and serializes with gc under
    * the maintenance lock so a register can never interleave with the
    * sweep that would retire its target. Returns the token
    * [[releasePin]] takes. */
  def registerPin(root: String, gen: Long): String = maintenance(root) {
    require(StoreFs.exists(s"${genDir(root, gen)}/$Marker"),
      s"VersionedStore.registerPin: generation $gen at $root is absent" +
        " or incomplete — a pin can only register against a generation" +
        " it could resolve")
    val token = s"$hostId-${ProcessHandle.current.pid}-${System.nanoTime}"
    StoreFs.writeAtomic(s"${genDir(root, gen)}/$PinPrefix$token",
      Array.emptyByteArray)
    token
  }

  /** Release a [[registerPin]] registration (idempotent — releasing a
    * token whose generation gc already retired, or releasing twice, is
    * a no-op: the pin is gone either way, which is what release means). */
  def releasePin(root: String, gen: Long, token: String): Unit =
    StoreFs.deleteRecursive(s"${genDir(root, gen)}/$PinPrefix$token")

  /** RENEW a [[registerPin]] lease: re-stamp the `_PIN.<token>` file's
    * mtime so the lease clock restarts — the refresh a legitimate
    * registrant running PAST `graft.store.pinLeaseMs` calls on a
    * heartbeat (without it, the documented remedy for jobs that must
    * outlive keepGenerations expires out from under exactly the long
    * jobs it exists for, mitigated only by the loud post-sweep read
    * error). LOUD on a missing pin: a renew that silently no-ops when
    * the lease already expired and gc already swept would let the
    * registrant keep believing it is protected — the failure names
    * what happened and what to do (re-register while the generation
    * still exists). Serializes with gc under the maintenance lock like
    * registration, so a renew can never interleave with the sweep. */
  def renewPin(root: String, gen: Long, token: String): Unit =
    maintenance(root) {
      val p = s"${genDir(root, gen)}/$PinPrefix$token"
      require(StoreFs.exists(p),
        s"VersionedStore.renewPin: no pin '$token' on generation $gen at" +
          s" $root — the lease expired and gc swept it (or it was" +
          " released); re-register with registerPin while the generation" +
          " still exists, and renew BEFORE the lease runs out")
      StoreFs.setModificationTime(p, System.currentTimeMillis())
    }

  /** One [[registerPin]] registration as [[listPins]] reports it:
    * `expiresAtMs` is None under lease 0 (pins never expire); `live`
    * is gc's OWN sparing classification ([[pinStates]] — the listing
    * can never disagree with the sweep). */
  final case class PinInfo(gen: Long, token: String,
    registeredAtMs: Long, expiresAtMs: Option[Long], live: Boolean)

  /** Every pin registration on `root`, across all generations —
    * the observability surface for "which jobs hold generations on
    * this store, and until when?" (the operational question the
    * reference answers for checkpoints via /relayStats-style
    * introspection, SURVEY §2.10). Metadata-only: one generation
    * listing plus one name listing + mtime per generation; liveness
    * shares [[pinStates]] with gc and fsck so the three surfaces can
    * never drift apart. Sorted (gen, token) for deterministic output. */
  def listPins(root: String): Seq[PinInfo] = {
    val lease = pinLeaseMs
    listGens(root).map(_._1).sorted.flatMap { g =>
      pinStates(root, g).flatMap { case (name, live) =>
        // the mtime read runs outside the maintenance lock: a pin
        // released/swept between pinStates and here returns None — skip
        // it (the pin is gone either way) rather than fabricate an
        // epoch-1970 registration/expiry row
        StoreFs.modificationTime(s"${genDir(root, g)}/$name").map { at =>
          PinInfo(g, name.drop(PinPrefix.length), at,
            if (lease <= 0) None else Some(at + lease), live)
        }
      }.sortBy(_.token)
    }
  }

  private[graft] val PinPrefix = "_PIN."
  private val PinLeaseConf = "graft.store.pinLeaseMs"

  private def pinLeaseMs: Long =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.conf.get(PinLeaseConf, DefaultLeaseMs.toString).toLong)
      .getOrElse(DefaultLeaseMs)

  /** (pin file name, still within lease) for generation `gen` — shared
    * by [[gc]]'s sparing rule and [[StoreFsck.versionedStore]]'s
    * expired-pin finding so sweep and audit can never drift apart. */
  private[graft] def pinStates(root: String, gen: Long)
      : Seq[(String, Boolean)] = {
    val lease = pinLeaseMs
    StoreFs.listNames(genDir(root, gen))
      .filter(_.startsWith(PinPrefix))
      .map { n =>
        (n, lease <= 0 ||
          StoreFs.modificationTime(s"${genDir(root, gen)}/$n")
            .exists(m => System.currentTimeMillis() - m <= lease))
      }
  }

  /** Does generation `gen` carry at least one LIVE registered pin
    * (within the pin lease, or any pin at all under lease 0)? */
  private def livePin(root: String, gen: Long): Boolean =
    pinStates(root, gen).exists(_._2)

  /** The `batch=<id>` append-partition ids under one table dir — the
    * parse behind [[pin]] and the compactions' layout checks. STRICT
    * numeric: a malformed name (`batch=`, `batch=1-2`) is not an id —
    * [[StoreFsck.batchLayout]] reports those as `invalid_batch_subdirs`;
    * a pin simply does not count them (and must not crash on them: the
    * pin capture is often the first reader to meet the corruption). */
  private[graft] def batchIdsOf(tableDir: String): Seq[Long] =
    StoreFs.listDirNames(tableDir).collect {
      case n if n.startsWith("batch=") => n.drop(6)
    }.flatMap(v => scala.util.Try(v.toLong).toOption)

  /** ONE time-travel coordinate of a versioned store, the same two axes
    * for every store family: `gen` is the generation (whole rebuilds,
    * compactions), `maxBatch` the append batch WITHIN it (`None` on a
    * store without the batch-addressed layout, and for a read of the
    * whole generation). A job captures it at read time ([[pin]]) and
    * records a single token; every store reader takes it as
    * `at = Some(pin)` and replays the exact state it saw, across any
    * number of later appends AND later publishes, without knowing which
    * axis moved. An as-of-batch read of the head is
    * `Pin(currentGen, Some(b))`. Tombstones still apply (takedowns fan
    * into every retained generation's overlay): a pin reproduces the
    * append history, never resurrects erasure. The pin dies when [[gc]]
    * retires its generation; a dead pin fails LOUDLY
    * ([[pinnedGenerationRoot]]), never serves a substitute. */
  final case class Pin(gen: Long, maxBatch: Option[Long])

  /** A resolved read coordinate: one generation directory plus the
    * highest append batch to read (`None` = all of them) — what
    * [[resolve]] returns and [[liveRows]] reads. A reader that needs
    * several tables of one store resolves once and reads them all from
    * this one view, so a publish between two reads can never pair one
    * generation's rows with another generation's quantizers. */
  final case class View(dir: String, maxBatch: Option[Long])

  /** Capture the CURRENT [[Pin]] of a versioned store: the flipped
    * generation plus the highest `batch=<id>` append partition over its
    * tables. Metadata-only: one pointer resolution plus one listing per
    * table, never a table scan. Loud on a root with no published
    * generation — only versioned stores carry a pinnable coordinate. */
  def pin(root: String): Pin = {
    val gen = currentGen(root).getOrElse(
      throw new IllegalStateException(s"VersionedStore.pin: $root has no" +
        " published generation — only versioned stores carry a pinnable" +
        " coordinate"))
    val dir = currentDir(root, gen)
    Pin(gen, StoreFs.listDirNames(dir).filterNot(_.startsWith("_"))
      .flatMap(t => batchIdsOf(s"$dir/$t")).maxOption)
  }

  /** The one pointer resolution of a store read: the head ([[tableRoot]])
    * when `at` is None, else the pinned generation, checked by
    * [[pinnedGenerationRoot]] so a pin that outlived retention fails with
    * the named error (`who` names the reader in it). */
  def resolve(root: String, at: Option[Pin] = None,
      who: String = "VersionedStore.resolve"): View = at match {
    case None => View(tableRoot(root), None)
    case Some(p) =>
      View(pinnedGenerationRoot(root, p.gen, p.maxBatch, who), p.maxBatch)
  }

  /** The ONE write shape of a store table clustered by `keys` (postings
    * by token, ANN cells by cell_id): rows sorted by `keys` within each
    * task, so every file's footer min/max on `keys.head` is tight and
    * the serving scans' literal filters skip whole files. Three arms,
    * each running only the jobs its data needs:
    *   - `batched` — a batch-preserving rewrite, written
    *     `partitionBy("batch")`: the scan's own partitions, sorted by
    *     `batch` then `keys`. No sampling job and no exchange; each batch
    *     dir keeps its own files, at most as many as it had, since a task
    *     writes one file per batch it read. `numFiles` does not apply.
    *   - `numFiles == 1` (trickle appends): one file by `coalesce(1)`,
    *     no exchange.
    *   - otherwise `numFiles` contiguous `keys.head` ranges
    *     (repartitionByRange: one sampling job and one exchange), for
    *     bulk builds and flat compactions. */
  private[pipeline] def clustered(df: DataFrame, numFiles: Int,
      batched: Boolean, keys: String*): DataFrame =
    if (batched) df.sortWithinPartitions("batch", keys: _*)
    else (if (numFiles == 1) df.coalesce(1)
      else df.repartitionByRange(numFiles, col(keys.head)))
      .sortWithinPartitions(keys.head, keys.tail: _*)

  /** The live rows of `table` at a resolved [[View]] — the ONE read of a
    * store table: batches past `view.maxBatch` partition-prune out of the
    * plan, and that generation's tombstone overlay applies (erasure
    * holds under time travel). The `batch` layout column of a
    * batch-addressed table is KEPT, so a compaction rewrite can
    * partition by it; serving readers drop it. `schema` is the table's
    * declared schema where its module has one (no inference job); a
    * batch-addressed table's `batch` column still comes from partition
    * discovery. Loud when the view names an append batch but the table
    * has no batch-addressed layout. */
  def liveRows(spark: SparkSession, view: View, table: String,
      idCol: String, schema: Option[StructType] = None): DataFrame = {
    val raw = schema.fold(spark.read)(spark.read.schema(_))
      .parquet(s"${view.dir}/$table")
    val rows = view.maxBatch.fold(raw) { mb =>
      require(raw.columns.contains("batch"),
        s"VersionedStore: ${view.dir}/$table is not batch-addressed but" +
          s" the read names append batch $mb — only stores bootstrapped" +
          " with a batchId carry a pinnable append history")
      raw.where(col("batch") <= mb)
    }
    Tombstones.filterLive(rows, view.dir, idCol)
  }

  /** O(request) takedown for a versioned store: append `ids` (one
    * LONG-castable column, [[Tombstones.appendDf]]'s contract) to the
    * tombstone overlay of EVERY retained complete generation — current
    * AND pinned, because erasure must hold under a pinned [[liveRows]] too
    * (time travel never resurrects deleted rows). Request-sized × a
    * handful of generations; stored tables are never read or rewritten.
    * Serialized with publish/gc under the maintenance lock so a
    * concurrent publish cannot slip a generation past the overlay
    * append. Physical purge is the next live-row publish (e.g. the
    * store families' compaction paths), whose fresh generation starts
    * with an empty overlay. */
  def takedownDf(ids: DataFrame, root: String): Unit =
    Tombstones.appendDf(ids, root)

  /** The post-validation half of [[takedownDf]] — also the landing
    * point of [[Tombstones.append]], [[Tombstones.appendDf]] and the
    * streaming takedown sink, so every takedown entry point
    * (tombstoneDocs/tombstoneVectors/tombstoneSignatures/the streaming
    * sink) records into the per-generation overlay. The ids are already
    * on the driver (request-sized by the [[Tombstones]] contract, and
    * materialized once, so every generation records the same set): each
    * generation's overlay file is written there
    * ([[Tombstones.writeSet]]), so this runs no Spark job. Runs under the
    * maintenance lock. */
  private[pipeline] def takedownIds(spark: SparkSession, ids: Seq[Long],
      root: String): Unit = maintenance(root) {
    if (currentGen(root).isEmpty) refuseFlat(root)
    val all = listGens(root)
    val complete = all.collect { case (g, true) => g }
    require(complete.nonEmpty,
      s"VersionedStore.takedownDf: no complete generation at $root —" +
        " a takedown against an unpublished store would record nothing")
    // an IN-FLIGHT publish (a reservation whose tables are writing
    // outside the lock) gets the overlay too: its tables were built
    // from rows read before this takedown, so without the append here
    // the new generation would serve the erased ids the moment it
    // flipped. Appending into a CRASHED reservation is dead bytes gc
    // retires with the dir
    val gens = complete ++ all.collect {
      case (g, false) if reservation(root, g).isDefined => g
    }
    gens.foreach(g => Tombstones.writeSet(spark, ids, genDir(root, g)))
  }

  /** RECOVERY for the crashed-flip states [[StoreFsck.versionedStore]]
    * reports (an unreferenced complete generation, a missing pointer
    * with generations, a corrupt pointer): flip the pointer to the
    * NEWEST complete generation when the pointer does not already
    * reference it. Returns the adopted generation, or None when there
    * is nothing newer to adopt. Safe by the same argument as publish —
    * a complete generation is immutable and whole, so pointing at it
    * can never expose a torn store; a corrupt pointer is REPLACED
    * (newest-complete is the only recoverable definition of current).
    * Ordering vs [[gc]]: adopt FIRST — gc retires unreferenced complete
    * generations, including the crashed publish adopt would recover. */
  def adopt(root: String): Option[Long] = maintenance(root) {
    val complete = listGens(root).collect { case (g, true) => g }
    val (cur, corrupt) =
      (try (currentGen(root), false)
      catch { case _: IllegalStateException => (None, true) }) // replace
    // a DANGLING pointer (its generation deleted or incomplete) is
    // as unrecoverable a reference as corrupt content — and it is
    // the one fsck state that breaks reads, so adopt must repair it
    val usable = cur.filter(complete.contains)
    complete.maxOption.filter(g => usable.forall(_ < g)).map { g =>
      // corrupt or DANGLING records must be REMOVED, not out-voted:
      // resolution takes the max over both record forms, so a stale
      // `_CURRENT` content or `_POINTER.<gen>` marker above the adopted
      // generation would keep winning (or keep throwing, if corrupt).
      // Recovery-time non-atomicity is acceptable here — a crash
      // mid-repair leaves a missing-pointer state adopt itself recovers,
      // never a torn read
      if (corrupt || cur.exists(_ > g)) {
        StoreFs.deleteRecursive(s"$root/$Pointer")
        markerGens(root).filter(_ > g).foreach(m =>
          StoreFs.deleteRecursive(s"$root/$PointerMarkerPrefix$m"))
      }
      flipPointer(root, g)
      g
    }
  }

  /** Retire generations: keep the current one plus the `keep` most
    * recent complete predecessors, delete everything else — including
    * INCOMPLETE generations older than current (crashed publishes:
    * dead bytes by protocol) and COMPLETE generations newer than
    * current (a crashed flip's unreferenced publish — [[adopt]]'s
    * recovery target). That last case is a deliberate ORDERING
    * contract, not an accident: gc treats anything the pointer does not
    * reference as retired, so an operator who wants a crashed publish
    * recovered must run [[adopt]] BEFORE gc — gc first permanently
    * discards it (re-running the publish is then the only recovery).
    * Returns the deleted generation ids. Incomplete generations NEWER
    * than current are left alone — they may be a publish in flight. */
  def gc(root: String, keep: Int = 1): Seq[Long] = {
    require(keep >= 0, s"VersionedStore.gc: keep $keep")
    maintenance(root) {
      // crashed-flip pointer tmps are dead bytes too: no flip this lock
      // can see is in flight while we hold it. (A cross-host publisher
      // is outside the lock's stated scope ENTIRELY — a deployment that
      // runs maintenance from several hosts against one remote store
      // needs the external coordinator the scaladoc requires; the
      // incomplete-generation sparing below is belt-and-braces for that
      // misuse, free because the next publish wipes-and-reuses the dir.)
      StoreFs.listNames(root).filter(_.startsWith(PointerTmpPrefix))
        .foreach(n => StoreFs.deleteRecursive(s"$root/$n"))
      // superseded pointer MARKERS (exclusive protocol): every
      // `_POINTER.<g>` below the resolved current is a dead flip record
      // — the max is the pointer; one small file per retired flip
      currentGen(root).foreach { cur =>
        markerGens(root).filter(_ < cur).foreach(g =>
          StoreFs.deleteRecursive(s"$root/$PointerMarkerPrefix$g"))
      }
      currentGen(root) match {
        case None => Seq.empty
        case Some(cur) =>
          val gens = listGens(root)
          val keepSet = gens.filter(g => g._1 <= cur && g._2)
            .map(_._1).sorted.reverse.take(keep + 1).toSet
          // a LIVE (or foreign-host) reservation is spared at ANY
          // position: a slower publisher's generation id can fall below
          // cur once a later reservation commits first, and retiring it
          // mid-write would fail that publisher's commit for no reason
          // (the token re-check keeps even that failure loud, never torn)
          def liveReservation(g: Long): Boolean =
            reservation(root, g).isDefined && !staleReservation(root, g)
          // a REGISTERED pin ([[registerPin]]) holds its generation at
          // any position below cur: a training job mid-epoch on a
          // pinned read outlives any keepGenerations policy until it
          // releases (or its lease expires — the crashed-registrant
          // backstop, same contract as the reservation lease)
          val dead = gens.collect {
            case (g, _) if g <= cur && !keepSet.contains(g) &&
              !liveReservation(g) && !livePin(root, g) => g
            // the livePin sparing applies ABOVE cur too: registerPin
            // accepts any complete generation (an unreferenced crashed
            // publish is resolvable via pinnedGenerationRoot and may be
            // adopt()'s recovery target), so sweeping a live-pinned one
            // here would break the "registerPin holds the generation
            // against gc" contract on exactly the generations an
            // operator is mid-recovery on
            case (g, complete) if g > cur && complete &&
              !livePin(root, g) => g
            // g > cur && !complete, reservation from THIS host whose
            // publisher pid is dead: a crashed in-flight publish —
            // provably abandoned, and numbering skips reserved dirs so
            // (unlike pre-protocol partials) no publish ever reuses it
            case (g, false) if g > cur && staleReservation(root, g) => g
            // g > cur && !complete otherwise: kept — a cross-host or
            // still-live publisher may own it (pre-protocol partials:
            // the next local publish wipes-and-reuses the dir anyway)
          }.filterNot(_ == cur).sorted
          // the reservation TOKEN deletes FIRST, then the rest of the
          // dir: a lease-expired FOREIGN publisher that is actually
          // still writing (lease misconfigured below the longest table
          // write) holds a DIFFERENT maintenance lock than this gc, so
          // deletion can interleave with its commit — token-first means
          // its commit's recheck fails LOUDLY before the pointer ever
          // names a half-deleted dir, instead of passing against a
          // token the sweep had not reached yet
          dead.foreach { g =>
            StoreFs.deleteRecursive(s"${genDir(root, g)}/$Reserved")
            StoreFs.deleteRecursive(genDir(root, g))
          }
          dead
      }
    }
  }

  /** (gen id, complete?) for every generation directory under root. */
  private[graft] def listGens(root: String): Seq[(Long, Boolean)] =
    StoreFs.listDirNames(root).collect {
      case n if n.startsWith("gen-") && n.drop(4).forall(_.isDigit) =>
        val g = n.drop(4).toLong
        (g, StoreFs.exists(s"${genDir(root, g)}/$Marker"))
    }

  private def touch(path: String): Unit = {
    val (fs, p) = StoreFs.fsPath(path)
    val out = fs.create(p, true)
    out.close()
  }

  /** Atomic pointer flip, by the root's protocol ([[ProtocolConf]]):
    * rename — [[StoreFs.writeAtomic]]'s tmp + rename over `_CURRENT`,
    * tmp name pinned to [[PointerTmpPrefix]] so a crashed flip is the
    * exact dead-bytes artifact fsck and gc name; exclusive — one
    * immutable `_POINTER.<gen>` marker written CREATE-EXCLUSIVE (an
    * existing marker for the SAME generation states the same fact, so
    * the collision is an idempotent success — publish generation ids
    * are reservation-unique, adopt may legitimately re-flip). */
  private def flipPointer(root: String, gen: Long): Unit =
    flipProtocol(root) match {
      case "rename" =>
        StoreFs.writeAtomic(s"$root/$Pointer",
          gen.toString.getBytes("UTF-8"),
          tmpSuffix = s".tmp.${ProcessHandle.current.pid}")
      case _ =>
        StoreFs.createExclusive(s"$root/$PointerMarkerPrefix$gen")
        ()
    }
}
