package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Integrity audit (fsck) for the persisted store layouts — the
  * operational tool that turns each store's DOCUMENTED failure windows
  * into detectable findings instead of silent corruption.
  *
  * Two kinds of check. The COMMIT PROTOCOL has one vocabulary: every
  * store commits through [[VersionedStore]], so [[versionedStore]] names
  * every crash leftover of publish/append/gc on any store root (the
  * Applier's state included — [[applierState]] is those rows plus the
  * snapshot algebra). The event log keeps its own swap and its own rows
  * ([[eventLogStore]] says why). The per-family checks audit the
  * TABLES of the current generation against real, stated hazards:
  *   - an in-generation `appendToPostingsIndex` commits postings and
  *     doclens as two file jobs — a crash between them leaves docs
  *     indexed without length norms;
  *   - a blind re-append after a foreachBatch retry double-counts a
  *     batch (the hazard the batch-addressed writes exist to prevent —
  *     fsck detects it when some other writer blind-appended anyway);
  *   - a takedown of an id the store never indexed (or one a rewrite
  *     already purged) leaves a tombstone naming an absent id (a
  *     serving no-op by design, but the operator should see the state);
  *   - an ANN cell row pointing at a centroid the codebook doesn't
  *     have, or one vector assigned to two cells, breaks retrieval's
  *     probe accounting.
  *
  * Output is a (check_name, n_bad) frame — n_bad 0 on a healthy store. Every
  * check is a distributed aggregate/anti-join over the store tables
  * (model-sized for ANN, index-sized for postings, never corpus-sized);
  * run it like compaction: a maintenance pass, not a serving-path cost.
  * Reference analogue: the event-level integrity discipline
  * (DbusEventCorrupter / CRC checks, DbusEvent.java:52-79) lifted to
  * store-level invariants.
  */
object StoreFsck {

  private def finding(name: String, bad: DataFrame): DataFrame =
    bad.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"),
      col("n_bad").cast("long").as("n_bad"))

  /** Audit a [[Retrieval.writePostingsIndex]]-layout store. Reads RAW
    * tables (tombstones included as their own subject, not applied as a
    * filter — fsck inspects the store, not the serving view). A
    * versioned root audits its CURRENT generation's tables (the
    * generation protocol itself is [[versionedStore]]'s subject); the
    * pair-window findings here remain structurally impossible for the
    * publish path and now cover only in-generation appends. */
  def postingsStore(spark: SparkSession, dir0: String): DataFrame = {
    val dir = VersionedStore.tableRoot(dir0)
    val postings = spark.read.parquet(s"$dir/postings")
    val doclens = spark.read.parquet(s"$dir/doclens")
    val pDocs = postings.select("doc_id").distinct()
    val dDocs = doclens.select("doc_id").distinct()
    val tomb = Tombstones.readOpt(spark, dir)
      .map(_.select(col("id").as("doc_id")).distinct())
      .getOrElse(dDocs.limit(0))
    finding("postings_without_doclens", pDocs.join(dDocs, Seq("doc_id"),
        "left_anti"))
      // dl > 0 only: an empty doc legally has norms but no postings
      .unionByName(finding("doclens_without_postings",
        dDocs.join(doclens, Seq("doc_id")).where(col("dl") > 0)
          .select("doc_id").distinct()
          .join(pDocs, Seq("doc_id"), "left_anti")))
      .unionByName(finding("duplicate_postings",
        postings.groupBy("token", "doc_id", "pos")
          .agg(count(lit(1)).as("c")).where(col("c") > 1)))
      .unionByName(finding("duplicate_doclens",
        doclens.groupBy("doc_id").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
      .unionByName(finding("negative_positions",
        postings.where(col("pos") < 0)))
      .unionByName(finding("tombstones_of_absent_ids",
        tomb.join(dDocs, Seq("doc_id"), "left_anti")))
  }

  /** Audit the BATCH-ADDRESSED layout of a store's tables — pure
    * LISTING-sized checks (no rows read, so the audit still runs on a
    * store so torn that partition discovery itself would refuse to):
    *   - `mixed_flat_and_batch_layout`: a table dir holding BOTH
    *     `batch=<id>` subdirs and top-level data files. The write-time
    *     guards ([[Ann.appendToIndexBatch]] and family) refuse to
    *     create this state, but an external writer or a crashed
    *     hand-migration can — and it bricks EVERY reader at partition
    *     discovery ("conflicting directory structures"), long after
    *     the writer returned.
    *   - `invalid_batch_subdirs`: a subdir that is not `batch=<long>` —
    *     discovery would either reject it or (worse) type the batch
    *     column as string, silently breaking every `batch <= n` as-of
    *     pin by lexicographic comparison.
    *   - `torn_batch_appends`: a batch id present in SOME of the
    *     store's paired tables but not all. The two (or three) table
    *     writes of one batch append are separate jobs, so a crash
    *     between them is this layout's append-path window — e.g. a
    *     signed-but-never-banded BATCH, the same silent false-negative
    *     hazard [[minhashStore]] finds row-wise, caught here from the
    *     listings alone. Recovery is re-running the same batch append:
    *     overwrite semantics make it heal in place.
    * `tables` names the store's batch-carrying pair (e.g. sigs+banded,
    * postings+doclens, or just cells); tables absent on disk are
    * skipped (a flat store scores zero everywhere — flat IS a valid
    * layout, just not a pinnable one). */
  def batchLayout(spark: SparkSession, dir0: String,
      tables: Seq[String]): DataFrame = {
    import spark.implicits._
    val dir = VersionedStore.tableRoot(dir0)
    val present = tables.filter(t => StoreFs.isDirectory(s"$dir/$t"))
    val perTable = present.map { t =>
      val names = StoreFs.listNames(s"$dir/$t")
      val dirs = StoreFs.listDirNames(s"$dir/$t")
      val batchDirs = dirs.filter(_.startsWith("batch="))
      // strict numeric parse (Try, not a char-class filter): the audit
      // must CLASSIFY malformed names like batch=1-2 or batch= as
      // invalid, never crash on them — it is often the first reader to
      // meet the corruption
      val ids = batchDirs
        .flatMap(n => scala.util.Try(n.drop(6).toLong).toOption).toSet
      // data files at top level: anything that is not a subdir and not
      // a _metadata/_SUCCESS-style marker
      val flatData = (names.toSet -- dirs.toSet)
        .exists(n => !n.startsWith("_") && !n.startsWith("."))
      val invalid = batchDirs.length - ids.size
      (t, ids, flatData, invalid.toLong)
    }
    val mixed = perTable.count { case (_, ids, flatData, _) =>
      ids.nonEmpty && flatData }
    val invalid = perTable.map(_._4).sum
    // a batch id is torn if any batch-carrying table misses it while
    // another has it (tables that never went batched don't participate)
    val batchedTables = perTable.filter(_._2.nonEmpty)
    val union = batchedTables.flatMap(_._2).toSet
    val torn =
      if (batchedTables.size < 2) 0L
      else union.count(id => batchedTables.exists(!_._2.contains(id))).toLong
    Seq(
      ("mixed_flat_and_batch_layout", mixed.toLong),
      ("invalid_batch_subdirs", invalid),
      ("torn_batch_appends", torn))
      .toDF("check_name", "n_bad")
  }

  /** Audit a minhash SIGNATURE store (`sigs/` (id, sig[k]) + `banded/`
    * (id, band, bucket) — the WireFixtures onboarding layout). The two
    * tables commit as separate file jobs, so the crash window between
    * them is this store's documented hazard: a doc signed but never
    * banded SILENTLY never blocks with anything (false-negative dedup),
    * the worst store failure because nothing downstream errors. Checks:
    *   - signed-but-not-banded / banded-but-not-signed docs,
    *   - wrong per-doc band count (every id must carry one bucket per
    *     band — a partial band write),
    *   - wrong signature width (sig array length ≠ k),
    *   - duplicate id rows in sigs,
    *   - tombstones naming ids the store never signed. */
  def minhashStore(spark: SparkSession, dir0: String, k: Int = 64,
      bands: Int = 16): DataFrame = {
    val dir = VersionedStore.tableRoot(dir0)
    val sigs = spark.read.parquet(s"$dir/sigs")
    val banded = spark.read.parquet(s"$dir/banded")
    val sIds = sigs.select("id").distinct()
    val bIds = banded.select("id").distinct()
    val tomb = Tombstones.readOpt(spark, dir)
      .map(_.select("id").distinct())
      .getOrElse(sIds.limit(0))
    finding("signed_without_banding", sIds.join(bIds, Seq("id"), "left_anti"))
      .unionByName(finding("banded_without_signature",
        bIds.join(sIds, Seq("id"), "left_anti")))
      .unionByName(finding("wrong_band_count",
        banded.groupBy("id").agg(count(lit(1)).as("c"))
          .where(col("c") =!= bands)))
      .unionByName(finding("wrong_signature_width",
        sigs.where(size(col("sig")) =!= k)))
      .unionByName(finding("duplicate_signatures",
        sigs.groupBy("id").agg(count(lit(1)).as("c")).where(col("c") > 1)))
      .unionByName(finding("tombstones_of_absent_ids",
        tomb.join(sIds, Seq("id"), "left_anti")))
  }

  /** Audit an NB model store ([[Classifier.save]]'s counts/classes/stats
    * tables). Every invariant is one the EXACT-UNLEARNING algebra
    * depends on — a violated row means subtraction drifted (the crash
    * window of a non-batch-addressed forget replay) and every
    * classification after it is silently wrong:
    *   - non-positive counts (unlearn keeps strictly-positive rows),
    *   - duplicate (label, token) / duplicate label rows,
    *   - count rows for labels the class table lost,
    *   - stats.v ≠ the count table's distinct-token count,
    *   - stats.n_all ≠ Σ classes.n_docs. */
  def nbModelStore(spark: SparkSession, dir0: String): DataFrame = {
    val dir = VersionedStore.tableRoot(dir0)
    val counts = spark.read.parquet(s"$dir/counts")
    val classes = spark.read.parquet(s"$dir/classes")
    val stats = spark.read.parquet(s"$dir/stats")
    val vActual = counts.agg(countDistinct(col("tok")).as("va"))
    val nActual = classes.agg(coalesce(sum(col("n_docs")), lit(0L)).as("na"))
    finding("nonpositive_counts", counts.where(col("c_t") <= 0))
      .unionByName(finding("nonpositive_class_rows",
        classes.where(col("n_docs") <= 0 || col("n_toks") < 0)))
      .unionByName(finding("duplicate_count_rows",
        counts.groupBy("label", "tok").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
      .unionByName(finding("duplicate_class_rows",
        classes.groupBy("label").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
      .unionByName(finding("counts_without_class",
        counts.select("label").distinct()
          .join(classes.select("label").distinct(), Seq("label"),
            "left_anti")))
      .unionByName(finding("vocab_scalar_drift",
        stats.crossJoin(vActual).where(col("v") =!= col("va"))))
      .unionByName(finding("doc_total_drift",
        stats.crossJoin(nActual).where(col("n_all") =!= col("na"))))
  }

  /** Audit a bigram-LM model store ([[LangModel.save]]'s uni/bi/vocab
    * tables) — same unlearning-algebra invariants as [[nbModelStore]]:
    * non-positive counts, duplicate keys, bigrams whose endpoint tokens
    * the unigram table no longer holds (impossible under correct
    * subtraction: a token with any surviving bigram has c_u > 0), and
    * vocab-scalar drift. */
  def lmModelStore(spark: SparkSession, dir0: String): DataFrame = {
    val dir = VersionedStore.tableRoot(dir0)
    val uni = spark.read.parquet(s"$dir/uni")
    val bi = spark.read.parquet(s"$dir/bi")
    val vocab = spark.read.parquet(s"$dir/vocab")
    val toks = uni.select("tok").distinct()
    val vActual = uni.agg(countDistinct(col("tok")).as("va"))
    finding("nonpositive_unigrams", uni.where(col("c_u") <= 0))
      .unionByName(finding("nonpositive_bigrams", bi.where(col("c_b") <= 0)))
      .unionByName(finding("duplicate_unigrams",
        uni.groupBy("tok").agg(count(lit(1)).as("c")).where(col("c") > 1)))
      .unionByName(finding("duplicate_bigrams",
        bi.groupBy("prev", "cur").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
      .unionByName(finding("bigrams_of_lost_tokens",
        bi.select(col("prev").as("tok"))
          .unionByName(bi.select(col("cur").as("tok"))).distinct()
          .join(toks, Seq("tok"), "left_anti")))
      .unionByName(finding("vocab_scalar_drift",
        vocab.crossJoin(vActual).where(col("__v") =!= col("va"))))
  }

  /** Audit a BATCH-PARTIAL store (the contamination gram-df and
    * quantile-sketch stores: one `partials` table of `batch=<id>`
    * partitions of (key..., count) rows, [[QuantileStore.PartialsTable]]):
    *   - `legacy_string_batch_dirs`: a `batch=` dir whose id is not a
    *     number (pre-r10 compactions rolled up under a string id) — it
    *     flips (or fails) partition discovery, so it is an FS-level
    *     probe, checked FIRST; the table rows then report -1
    *     (unauditable);
    *   - non-positive partial counts,
    *   - batch ids below the reserved compaction id -1,
    *   - duplicate key rows WITHIN one batch partition (each trigger
    *     writes one row per key; an intra-batch duplicate means some
    *     writer blind-appended into a batch dir — the replay hazard
    *     batch-addressed overwrite exists to prevent). */
  def batchPartialStore(spark: SparkSession, dir: String,
      keyCols: Seq[String], countCol: String): DataFrame = {
    import spark.implicits._
    val table = s"${VersionedStore.tableRoot(dir)}/${QuantileStore.PartialsTable}"
    val legacy = StoreFs.listDirNames(table).count(n =>
      n.startsWith("batch=") && n.drop(6).toLongOption.isEmpty).toLong
    val fsFindings = Seq(("legacy_string_batch_dirs", legacy))
      .toDF("check_name", "n_bad")
    if (legacy > 0) return fsFindings
      .unionByName(Seq(("nonpositive_partials", -1L),
        ("invalid_batch_ids", -1L), ("intra_batch_duplicates", -1L))
        .toDF("check_name", "n_bad"))
    val t = spark.read.parquet(table)
    fsFindings
      .unionByName(finding("nonpositive_partials", t.where(col(countCol) <= 0)))
      .unionByName(finding("invalid_batch_ids",
        t.select("batch").distinct().where(col("batch") < -1L)))
      .unionByName(finding("intra_batch_duplicates",
        t.groupBy((col("batch") +: keyCols.map(col)): _*)
          .agg(count(lit(1)).as("c")).where(col("c") > 1)))
  }

  /** Audit an EVENT-LOG store ([[graft.streaming.RelayStream]]'s
    * window-aligned layout). The log's documented crash/retry windows:
    *
    *   - `compactEventLog` is a write-tmp → two-rename swap; a crash
    *     before the swap leaves `<dir>.compact-tmp` (dead bytes, safe to
    *     delete), a crash between promote and backup delete (or mid
    *     late-append rollback) leaves `<dir>.compact-old` (the swap
    *     landed; the backup is reclaimable — unless the live dir is also
    *     gone, in which case recovery is renaming the backup back);
    *   - a blind re-append of a batch (retry without the source's offset
    *     log) double-writes events — detectable as duplicate (scn, seq)
    *     keys, the event identity the dispatcher dedups on;
    *   - the writer range-partitions on scn so no transaction window
    *     ever splits across files (the atomicity invariant the file
    *     source's whole-file batches rely on); an scn spanning files
    *     means some writer bypassed [[graft.streaming.RelayStream.writeEventLog]].
    *
    * Filesystem probes are one existence check each (StoreFs — any URI
    * scheme); the two table checks are log-sized aggregates.
    *
    * Why the log keeps its own swap instead of [[VersionedStore]]: the
    * relay's file source reads the log PATH itself, and a streaming file
    * source cannot follow a pointer — the live log cannot move under a
    * generation directory, so its compaction swaps the dir in place. */
  def eventLogStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fsFindings = Seq(
      ("orphan_compact_tmp",
        if (StoreFs.exists(s"$dir.compact-tmp")) 1L else 0L),
      ("orphan_compact_backup",
        if (StoreFs.exists(s"$dir.compact-old")) 1L else 0L),
      ("missing_with_backup",
        if (!StoreFs.exists(dir) && StoreFs.exists(s"$dir.compact-old")) 1L
        else 0L)).toDF("check_name", "n_bad")
    if (!StoreFs.isDirectory(dir)) return fsFindings
    val log = spark.read.schema(graft.streaming.RelayStream.schema)
      .parquet(dir)
    fsFindings
      .unionByName(finding("duplicate_log_events",
        log.groupBy("scn", "seq").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
      .unionByName(finding("windows_split_across_files",
        log.select(col("scn"), input_file_name().as("f")).distinct()
          .groupBy("scn").agg(count(lit(1)).as("c")).where(col("c") > 1)))
  }

  /** Audit an [[graft.streaming.Applier]] state dir: the
    * [[versionedStore]] rows of its root (a compaction that crashed
    * before its pointer flip is an `incomplete_generations` or
    * `unreferenced_complete_generations` finding, healed by the next
    * apply's compaction + gc) plus the apply-log algebra's invariants on
    * the stored `snapshot` table — exactly one row per key, no DELETE
    * rows ([[graft.operators.Bootstrap.applyLog]] take-latest
    * semantics). Before the first compaction there is no stored
    * snapshot, and both algebra rows read 0. */
  def applierState(spark: SparkSession, dir: String,
      keyCols: Seq[String] = Seq("key_long")): DataFrame = {
    import spark.implicits._
    val snap = VersionedStore.publishedRoot(dir).map(t => s"$t/snapshot")
      .filter(StoreFs.isDirectory)
      .map(spark.read.parquet(_))
    def algebra(name: String, bad: DataFrame => DataFrame) =
      snap.fold(Seq((name, 0L)).toDF("check_name", "n_bad"))(t =>
        finding(name, bad(t)))
    versionedStore(spark, dir)
      .unionByName(algebra("duplicate_snapshot_keys",
        _.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
      .unionByName(algebra("delete_rows_in_snapshot",
        _.where(col("opcode") === "DELETE")))
  }

  /** Audit a [[VersionedStore]] root. The protocol's crash windows are
    * all DEAD-BYTES states by design (readers resolve through the
    * pointer, generations are immutable once complete), so every
    * finding here is reclaimable space or a recovery hint — never a
    * served wrong answer:
    *   - `incomplete_generations`: publishes that crashed before their
    *     `_COMPLETE` marker (gc retires the ones older than current);
    *   - `orphan_pointer_tmps`: flips that crashed between writing
    *     their tmp pointer and the rename (gc reclaims them);
    *   - `unreferenced_complete_generations`: marker down, pointer flip
    *     never landed — the publish is re-runnable or adoptable;
    *   - `missing_pointer_with_generations`: complete generations exist
    *     but no pointer (a first publish that crashed at the flip) —
    *     recovery is pointing at the newest complete generation;
    *   - `corrupt_pointer`: unreadable pointer content (must surface
    *     here rather than as "empty store");
    *   - `pointer_to_missing_generation`: the pointer names a
    *     generation that is absent or incomplete (an over-eager manual
    *     delete — the one state that DOES break reads, loudly);
    *   - `stale_reservations`: in-flight publish reservations whose
    *     same-host publisher is provably dead (crashed between reserve
    *     and commit) — gc retires them; a LIVE publisher mid-write is
    *     never flagged;
    *   - `superseded_pointer_markers`: exclusive-protocol flip records
    *     below the resolved current (the max marker is the pointer) —
    *     dead bytes gc sweeps;
    *   - `expired_pin_files`: [[VersionedStore.registerPin]]
    *     registrations past the pin lease (a crashed registrant that
    *     never released) — the generation stops being spared; the file
    *     itself is dead bytes retired with the dir;
    *   - `live_pin_files` (informational): registrations still within
    *     lease — generations gc is currently sparing for a reader;
    *     [[VersionedStore.listPins]] names the holders. */
  def versionedStore(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val gens = VersionedStore.listGens(root)
    val (cur, corrupt) =
      try (VersionedStore.currentGen(root), 0L)
      catch { case _: IllegalStateException => (None, 1L) }
    val complete = gens.filter(_._2).map(_._1)
    // ONE pinStates listing per generation, partitioned into the expired
    // and live rows below: two separate passes would double the FS
    // metadata listings AND let a pin renewed/released between them be
    // counted in both rows or neither within a single audit frame
    val pinsByGen = complete.map(g => VersionedStore.pinStates(root, g))
    Seq(
      ("incomplete_generations", gens.count(!_._2).toLong),
      // a flip that crashed between writing its tmp pointer and the
      // rename leaves dead bytes — one listing; the prefix is SHARED
      // with VersionedStore so audit and gc can never drift apart
      ("orphan_pointer_tmps",
        StoreFs.listNames(root)
          .count(_.startsWith(VersionedStore.PointerTmpPrefix)).toLong),
      ("unreferenced_complete_generations",
        cur.map(c => complete.count(_ > c).toLong)
          .getOrElse(if (corrupt == 1L) 0L else complete.size.toLong)),
      ("missing_pointer_with_generations",
        if (cur.isEmpty && corrupt == 0L && complete.nonEmpty) 1L else 0L),
      ("corrupt_pointer", corrupt),
      ("pointer_to_missing_generation",
        if (cur.exists(c => !complete.contains(c))) 1L else 0L),
      // a COMPLETE-marked generation containing no table dirs (only
      // markers / the tombstone overlay): the torn state a publisher
      // swept mid-commit by a foreign lease gc could present — commit
      // now removes its marker before refusing (prevention), this row
      // DETECTS stores older code or an external writer left behind,
      // because adopt() or a pinned read against it fails on every
      // table path
      ("empty_complete_generations",
        complete.count { g =>
          !StoreFs.listDirNames(s"$root/gen-$g")
            .exists(n => n != "tombstones" && !n.startsWith("_"))
        }.toLong),
      // a reservation THIS host made whose publisher pid is dead — a
      // crashed in-flight publish (the split-lock protocol's one
      // abandoned-bytes state); gc retires them, live and foreign
      // reservations are never flagged
      ("stale_reservations",
        gens.collect { case (g, false) => g }
          .count(g => VersionedStore.staleReservation(root, g)).toLong),
      // exclusive-protocol flip records below the resolved current —
      // dead bytes the next gc sweeps (the max marker IS the pointer)
      ("superseded_pointer_markers",
        cur.map(c => StoreFs.listNames(root).collect {
          case n if n.startsWith(VersionedStore.PointerMarkerPrefix) &&
              n.drop(VersionedStore.PointerMarkerPrefix.length)
                .forall(_.isDigit) &&
              n.length > VersionedStore.PointerMarkerPrefix.length =>
            n.drop(VersionedStore.PointerMarkerPrefix.length).toLong
        }.count(_ < c).toLong).getOrElse(0L)),
      // registered pins whose lease expired (a registrant that crashed
      // without releasePin): their generations stop being spared, so
      // the files themselves are inert dead bytes retired with the dir
      // — classification shares VersionedStore.pinStates with gc's
      // sparing rule, so audit and sweep can never drift apart
      ("expired_pin_files",
        pinsByGen.map(_.count(!_._2).toLong).sum),
      // INFORMATIONAL, not a fault: generations currently held against
      // gc by live registrations ([[VersionedStore.listPins]] names the
      // holders) — the audit-side half of the pin observability
      // surface, so an operator reading the findings sees "this store
      // has readers pinning history" next to the expired dead bytes
      ("live_pin_files",
        pinsByGen.map(_.count(_._2).toLong).sum))
      .toDF("check_name", "n_bad")
  }

  /** Audit SCHEMA-REGISTRY coverage of a digest-carrying event store:
    * distinct `schema_id` values the registry cannot resolve. The
    * registry is load-only, so a store whose payload digest no longer
    * resolves fails at DECODE TIME deep inside a query — and the
    * digest-dispatch path ([[graft.functions.AvroCodec.decodeByDigest]])
    * silently DROPS such rows, since each per-digest branch filters on
    * a known digest. A cheap audit row surfaces it like every other
    * store hazard: one distinct-aggregate over a 16-byte column (few
    * distinct digests — schema versions, not rows) anti-joined against
    * the registry's broadcast-sized digest set. Reference analogue: the
    * decoder's loud no-such-schema path
    * (DbusEventAvroDecoder.getGenericRecord / SchemaRegistryService). */
  def schemaCoverage(spark: SparkSession, events: DataFrame,
      set: graft.model.VersionedSchemaSet,
      schemaIdCol: String = "schema_id"): DataFrame = {
    import spark.implicits._
    val known = set.schemas.map(_.digestHex).toDF("digest")
    finding("events_with_unregistered_schema",
      events.select(lower(hex(col(schemaIdCol))).as("digest")).distinct()
        .join(broadcast(known), Seq("digest"), "left_anti"))
  }

  /** Audit SCHEMA-EVOLUTION round-trips: [[schemaCoverage]] proves every
    * digest RESOLVES; this proves every digest's payloads still DECODE
    * against the latest reader schema — the evolution contract the
    * digest-dispatch path ([[graft.functions.AvroCodec.decodeByDigest]])
    * assumes. An incompatible evolution (a new reader field without a
    * default, a type change Avro resolution rejects) otherwise fails at
    * decode time deep inside the first query that touches the old rows
    * — possibly long after the registry change shipped. One sampled row
    * per distinct digest (digest-count-sized: schema versions, not
    * rows) decodes driver-side writer→reader, exactly the per-branch
    * resolution the query path runs. Unregistered digests are
    * [[schemaCoverage]]'s row, not this one's. Reference analogue: the
    * decoder's resolution against the latest source schema
    * (DbusEventAvroDecoder.getGenericRecord / VersionedSchemaSet). */
  def schemaEvolution(spark: SparkSession, events: DataFrame,
      set: graft.model.VersionedSchemaSet, sourceName: String,
      payloadCol: String = "payload", schemaIdCol: String = "schema_id")
      : DataFrame = {
    import spark.implicits._
    val reader = set.getLatest(sourceName)
    val samples = events
      .select(lower(hex(col(schemaIdCol))).as("digest"),
        col(payloadCol).as("p"))
      .groupBy("digest").agg(first(col("p")).as("p"))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]]("p")))
    val failing = samples.count { case (digest, bytes) =>
      set.schemas.find(_.digestHex == digest).exists { ws =>
        reader match {
          case None => true // a source with no latest reader decodes nothing
          case Some(rs) =>
            try {
              graft.functions.AvroCodec.deserialize(bytes,
                new org.apache.avro.Schema.Parser().parse(ws.schemaJson),
                new org.apache.avro.Schema.Parser().parse(rs.schemaJson))
              false
            } catch { case scala.util.control.NonFatal(_) => true }
        }
      }
    }
    Seq(("digests_failing_latest_reader", failing.toLong))
      .toDF("check_name", "n_bad")
  }

  /** Audit the PQ tier of an [[Ann.writePqIndex]] /
    * [[Ann.writeIvfPqIndex]] store (`books/` + the code-word table).
    * Every check is a violated decode precondition:
    *   - `sparse_subspace_books`: a subspace whose cell ids are not the
    *     dense 0..ksub-1 range — the ADC LUT indexes lut[j·ksub + cell],
    *     so a gap silently misaligns every later subspace (the
    *     load-time guard in [[Ann.readPqBooks]], surfaced at audit time
    *     like every other store hazard);
    *   - `missing_subspace_books`: the subspace IDS themselves are not
    *     the dense 0..m-1 set (a books table that lost one whole
    *     subspace, e.g. 0,1,3) — the loaded book array would compact
    *     and code position j would score against the wrong book;
    *     [[Ann.readPqBooks]] refuses such a table at load, this row
    *     surfaces it at audit;
    *   - `wrong_code_width`: a code word with ≠ m entries (a writer
    *     under different training parameters appended into this store);
    *   - `codes_out_of_range`: a code referencing a sub-centroid the
    *     book does not hold;
    *   - `duplicate_code_ids`: one vector coded twice (blind re-append).
    * Books are driver-sized; the code checks are one index-sized scan
    * (the posexplode is m small ints per row). */
  def pqStore(spark: SparkSession, dir0: String,
      codesTable: String = "codes"): DataFrame = {
    val dir = VersionedStore.tableRoot(dir0)
    val books = spark.read.parquet(s"$dir/books")
    val codes = spark.read.parquet(s"$dir/$codesTable")
    val mDf = books.agg(countDistinct(col("subspace")).cast("int").as("m"))
    val perSub = books.groupBy("subspace")
      .agg(count(lit(1)).as("n"), min(col("id")).as("lo"),
        max(col("id")).as("hi"))
    finding("sparse_subspace_books",
        perSub.where(col("lo") =!= 0L || col("hi") =!= col("n") - 1L))
      // dense-subspace check: a subspace id out of step with its dense
      // rank means a whole book is missing (or duplicated under another
      // id) — the driver-sized frame makes the gap check one window
      .unionByName(finding("missing_subspace_books",
        perSub.select(col("subspace"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(pmod(hash(col("subspace")), lit(1)))
              .orderBy(col("subspace"))) - 1)
          .where(col("subspace") =!= col("rn"))))
      .unionByName(finding("wrong_code_width",
        codes.crossJoin(mDf) // 1-row scalar, broadcast
          .where(size(col("codes")) =!= col("m"))))
      .unionByName(finding("codes_out_of_range",
        codes.select(posexplode(col("codes")).as(Seq("subspace", "code")))
          .join(perSub.select(col("subspace").cast("int").as("subspace"),
            col("hi")), "subspace")
          .where(col("code") < 0 || col("code") > col("hi"))))
      .unionByName(finding("duplicate_code_ids",
        codes.groupBy("id").agg(count(lit(1)).as("c")).where(col("c") > 1)))
  }

  /** Audit QUANTIZER DRIFT on a frozen PQ tier ([[Ann.writePqIndex]] /
    * [[Ann.writeIvfPqIndex]]): the books never retrain under appends, so
    * a corpus whose distribution shifts silently loses recall with
    * nothing raised anywhere — the one failure mode of the
    * frozen-quantizer append regime that no structural check can see.
    * The audit re-measures the mean squared reconstruction error of the
    * LIVE code words against `corpus`'s float vectors (a deterministic
    * hash-sample of `1/sampleMod` ids; IVF-PQ stores measure residuals,
    * auto-detected from the cell_id column) and compares it to the
    * at-train figure the writer persisted:
    *   - `quantizer_stats_missing`: no at-train baseline in the store
    *     (written before the stats table existed) — drift is
    *     unmeasurable until the next full retrain records one;
    *   - `corpus_binding_mismatch`: the handed corpus is demonstrably
    *     NOT (a superset of) what the books trained on — fewer rows
    *     than `train_rows`, or equal rows with a different sampled-id
    *     checksum ([[Ann.idChecksumAgg]]; a GROWN lake cannot be
    *     checksum-verified, which is exactly why the row-count floor
    *     exists). Drift is NOT measured under a mis-bound corpus: real
    *     error against an unrelated baseline is a confident nonsense
    *     verdict, the failure this row exists to prevent. A wrong
    *     vector DIM fails loudly outright (that is operator error, not
    *     a finding). Stores written before the fingerprint rows existed
    *     skip the binding checks (nothing recorded to bind against);
    *   - `drift_unmeasurable`: the sampled measurement came back EMPTY
    *     (aggressive sampleMod, fully-tombstoned code table, or a
    *     corpus join matching no ids) even after falling back to the
    *     unsampled frame — reported as its own row, never as a
    *     silently-healthy cur=0;
    *   - `adc_error_drift`: current error exceeds `threshold` × the
    *     at-train error — the retrain signal. The default 2.0 flags a
    *     doubled distortion; COVERAGE.md documents the knob.
    * Cost: one sampled scan of the code table joined id-keyed into the
    * lake — never a training pass; the binding adds one column-pruned
    * corpus aggregate. Reference analogue: the reference instruments
    * every surface it serves (DbusEventsTotalStats.java:1). */
  def pqDrift(spark: SparkSession, storeDir: String, corpus: DataFrame,
      codesTable: String = "codes", threshold: Double = 2.0,
      sampleMod: Int = 1): DataFrame = {
    import spark.implicits._
    require(threshold > 0, s"pqDrift: threshold $threshold")
    require(sampleMod > 0, s"pqDrift: sampleMod $sampleMod")
    val v = VersionedStore.resolve(storeDir)
    val t = v.dir
    val statsMissing =
      !StoreFs.hasFileWithSuffix(s"$t/quant_stats", ".parquet")
    def rows(binding: Long, unmeasurable: Long, drift: Long) =
      Seq(("quantizer_stats_missing", if (statsMissing) 1L else 0L),
        ("corpus_binding_mismatch", binding),
        ("drift_unmeasurable", unmeasurable),
        ("adc_error_drift", drift)).toDF("check_name", "n_bad")
    if (statsMissing) return rows(0L, 0L, 0L)
    val stats = spark.read.parquet(s"$t/quant_stats")
      .select("metric", "value").as[(String, Double)].collect().toMap
    val train = stats.getOrElse("train_recon_mse",
      throw new IllegalArgumentException(
        s"pqDrift: quant_stats of $storeDir has no train_recon_mse row"))
    val idCorpus =
      corpus.select(col("id").cast("long").as("id"), col("vec"))
    // corpus binding (fingerprint rows present only on r13+ writes)
    stats.get("train_dim").foreach { d =>
      // headOption over non-null vecs, not head(): an EMPTY corpus
      // (mistyped lake path that exists but holds nothing) or a leading
      // NULL vec (ingest gap) must surface as the binding finding — the
      // row-count floor below names the first, the drift join skips the
      // second — never as a bare NoSuchElement/NullPointerException
      // from the dim probe
      idCorpus.where(col("vec").isNotNull)
        .select(size(col("vec"))).limit(1).collect()
        .headOption.map(_.getInt(0)).foreach { cd =>
          require(cd.toDouble == d,
            s"pqDrift: corpus dim $cd but the books of $storeDir trained" +
              s" at dim ${d.toLong} — this is the wrong corpus, not drift")
        }
    }
    val binding: Long = stats.get("train_rows").fold(0L) { tr =>
      val mod = stats.getOrElse("train_stats_sample_mod", 1.0).toInt
      val r = idCorpus.agg(count(lit(1)).as("n"),
        Ann.idChecksumAgg(mod).as("c")).head()
      val (n, c) = (r.getLong(0), r.getLong(1))
      if (n < tr.toLong) 1L // the train corpus cannot have shrunk
      else if (n == tr.toLong &&
        stats.get("train_id_checksum").exists(_ != c.toDouble)) 1L
      else 0L // grown lake: count floor passed, checksum unverifiable
    }
    if (binding > 0) return rows(1L, 0L, 0L)
    val books = Ann.readPqBooksAt(spark, t)
    val live = VersionedStore.liveRows(spark, v, codesTable, "id")
    def measure(codesFrame: DataFrame): Option[Double] = {
      val withVec = codesFrame.join(idCorpus, "id")
      // IVF-PQ stores code RESIDUALS — measure in the coded space
      val target =
        if (!codesFrame.columns.contains("cell_id")) withVec
        else withVec.join(broadcast(
            spark.read.parquet(s"$t/codebook")
              .select(col("id").as("cell_id"), col("vec").as("cent"))),
            "cell_id")
          .select(col("id"),
            zip_with(col("vec"), col("cent"), (a, b) => a - b).as("vec"),
            col("codes"))
      val r = target
        .select(Ann.pqReconErrExpr(books, col("vec"), col("codes"))
          .as("e"))
        .agg(avg(col("e"))).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val sampled =
      if (sampleMod == 1) live
      else live.where(pmod(hash(col("id")), lit(sampleMod)) === 0)
    // an empty sample falls back to the FULL live frame (pqReconMse's
    // own rule); still-empty is its own finding, never cur=0 "healthy"
    measure(sampled).orElse(if (sampleMod == 1) None else measure(live))
      match {
      case None => rows(0L, 1L, 0L)
      case Some(cur) =>
        rows(0L, 0L, if (cur > threshold * train + 1e-12) 1L else 0L)
    }
  }

  /** Audit PER-CELL FILL SKEW on an IVF-family cells table: cells whose
    * member count exceeds `factor` × the mean — the frozen coarse
    * quantizer's drift signal (appends concentrating in a hot region
    * grow one cell until every probe that ranks it scans a blob;
    * [[Ann.rebalanceCells]] is the repair). One cells-table aggregate;
    * the mean is a 1-row scalar broadcast. */
  def cellFillSkew(spark: SparkSession, storeDir: String,
      factor: Double = 8.0, cellsTable: String = "cells"): DataFrame = {
    require(factor > 1, s"cellFillSkew: factor $factor")
    val t = VersionedStore.tableRoot(storeDir)
    val counts = spark.read.parquet(s"$t/$cellsTable").drop("batch")
      .groupBy("cell_id").agg(count(lit(1)).as("n"))
    val meanDf = counts.agg(avg(col("n")).as("mean_n"))
    finding("overfull_cells",
      counts.crossJoin(meanDf) // 1-row scalar, broadcast
        .where(col("n") > lit(factor) * col("mean_n")))
  }

  /** Audit an [[Ann.writeIndex]]-layout store (codebook + cells). */
  def annStore(spark: SparkSession, dir0: String): DataFrame = {
    val dir = VersionedStore.tableRoot(dir0)
    val cells = spark.read.parquet(s"$dir/cells")
    val codebook = spark.read.parquet(s"$dir/codebook")
    finding("cells_with_unknown_centroid",
        cells.select("cell_id").distinct()
          .join(codebook.select(col("id").as("cell_id")).distinct(),
            Seq("cell_id"), "left_anti"))
      .unionByName(finding("vectors_in_multiple_cells",
        cells.select("id", "cell_id").distinct()
          .groupBy("id").agg(count(lit(1)).as("c")).where(col("c") > 1)))
      .unionByName(finding("duplicate_cell_rows",
        cells.groupBy("id", "cell_id").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)))
  }
}
