package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{StoreFsck, VersionedStore}

/** The pointer-flip generation protocol: readers never see a torn
  * multi-table state (the window the per-table swap protocols can only
  * detect), crashed publishes are invisible dead bytes, pinning is
  * free, and gc + fsck account for every leftover. */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vstore").toString + "/store"

  /** The live rows of `table` at the head, or at generation `gen`. */
  private def rows(root: String, table: String, gen: Option[Long] = None) =
    VersionedStore.liveRows(spark, VersionedStore.resolve(root,
      gen.map(VersionedStore.Pin(_, None))), table, "id")

  private def fsck(root: String): Map[String, Long] =
    StoreFsck.versionedStore(spark, root)
      .as[(String, Long)].collect().toMap

  test("publish flips atomically; both tables always from ONE generation") {
    val root = tmp()
    assert(VersionedStore.currentGen(root).isEmpty)
    intercept[IllegalStateException] {
      rows(root, "a")
    }
    val g1 = VersionedStore.publish(root, Map(
      "a" -> Seq((1L, "g1")).toDF("id", "v"),
      "b" -> Seq((1L, 10L)).toDF("id", "n")))
    assert(g1 == 1L && VersionedStore.currentGen(root).contains(1L))
    val g2 = VersionedStore.publish(root, Map(
      "a" -> Seq((1L, "g2"), (2L, "g2")).toDF("id", "v"),
      "b" -> Seq((1L, 20L), (2L, 21L)).toDF("id", "n")))
    assert(g2 == 2L)
    // current = generation 2 on BOTH tables — never a mix
    assert(rows(root, "a").count() == 2)
    assert(rows(root, "b")
      .where($"n" >= 20L).count() == 2)
    // pinning: generation 1 replays exactly, both tables
    assert(rows(root, "a", Some(1L))
      .as[(Long, String)].collect().toSeq == Seq((1L, "g1")))
    assert(rows(root, "b", Some(1L))
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    assert(fsck(root).values.forall(_ == 0L))
  }

  test("versioned reads scan ONLY the pointed generation's files") {
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "g1")).toDF("id", "v")))
    VersionedStore.publish(root, Map("t" -> Seq((1L, "g2")).toDF("id", "v")))
    Seq((9L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-3/t")
    // the plan's input set is the generation dir, never a root glob —
    // a "clever" multi-generation scan would read crashed bytes
    val files = rows(root, "t").inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/gen-2/")),
      files.mkString(", "))
    val pinned = rows(root, "t", Some(1L)).inputFiles
    assert(pinned.nonEmpty && pinned.forall(_.contains("/gen-1/")))
  }

  test("crashed publishes are dead bytes, never served; gc + fsck account for them") {
    val root = tmp()
    VersionedStore.publish(root, Map("a" -> Seq((1L, "g1")).toDF("id", "v")))
    VersionedStore.publish(root, Map("a" -> Seq((1L, "g2")).toDF("id", "v")))
    // crash BEFORE the completeness marker: tables down, no _COMPLETE
    // (including one table name later publishes will not carry)
    Seq((9L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-3/a")
    Seq((9L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-3/zombie")
    // crash AFTER the marker, BEFORE the flip: complete but unreferenced
    Seq((8L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-4/a")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/gen-4/_COMPLETE"))
    // serving is untouched by either crash shape
    assert(VersionedStore.currentGen(root).contains(2L))
    assert(rows(root, "a")
      .as[(Long, String)].head() == ((1L, "g2")))
    // torn remnant an OLD swept-mid-commit publisher could leave (the
    // commit recheck now deletes its marker before refusing — this is
    // the detection side for stores written before that, or by an
    // external writer): COMPLETE-marked, zero table dirs
    graft.pipeline.StoreFs.mkdirs(s"$root/gen-9")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/gen-9/_COMPLETE"))
    val bad = fsck(root)
    assert(bad("incomplete_generations") == 1L, bad.toString)
    assert(bad("unreferenced_complete_generations") == 2L, bad.toString)
    assert(bad("empty_complete_generations") == 1L, bad.toString)
    assert(bad("missing_pointer_with_generations") == 0L)
    assert(bad("corrupt_pointer") == 0L)
    assert(bad("pointer_to_missing_generation") == 0L)
    // an incomplete generation cannot be pinned — loudly
    assert(intercept[IllegalStateException] {
      rows(root, "a", Some(3L))
    }.getMessage.contains("pin (gen=3)"))
    // gc: keeps current, retires the old complete gen and the
    // unreferenced complete gens ABOVE current (the torn empty one
    // included — it is dead bytes like any other); the incomplete gen
    // above current is left alone (it may be a publish in flight)
    val dead = VersionedStore.gc(root, keep = 0)
    assert(dead == Seq(1L, 4L, 9L), s"gc retired $dead")
    assert(rows(root, "a")
      .as[(Long, String)].head() == ((1L, "g2")))
    assert(intercept[IllegalStateException] {
      rows(root, "a", Some(1L))
    }.getMessage.contains("pin (gen=1)"))
    assert(fsck(root)("incomplete_generations") == 1L)
    // the next publish ADOPTS the numbering past the crashed dirs? No:
    // publish refuses to overwrite a COMPLETE generation id and walks
    // on from the pointer — gen 3's incomplete dir is overwritten by
    // protocol (its tables were never visible)
    val g3 = VersionedStore.publish(root,
      Map("a" -> Seq((1L, "g3")).toDF("id", "v")))
    assert(g3 == 3L)
    assert(rows(root, "a")
      .as[(Long, String)].head() == ((1L, "g3")))
    assert(fsck(root)("incomplete_generations") == 0L)
    // the crashed gen-3 dir ALSO held a table the re-publish does not
    // carry — publish wipes the partial whole, so the stale table must
    // not ride inside the completed generation
    intercept[Exception] {
      rows(root, "zombie", Some(3L)).collect()
    }
    // a publish that crashed AFTER its marker but BEFORE its flip: the
    // next publish must number past the unreferenced complete
    // generation (re-publishing is the recovery), not refuse forever
    Seq((7L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-7/a")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/gen-7/_COMPLETE"))
    val g8 = VersionedStore.publish(root,
      Map("a" -> Seq((1L, "g8")).toDF("id", "v")))
    assert(g8 == 8L, s"publish must walk past the crashed marker, got $g8")
    assert(rows(root, "a")
      .as[(Long, String)].head() == ((1L, "g8")))
  }

  test("concurrent publishers serialize under the maintenance lock") {
    // without the lock, two publishers claim the same generation id and
    // interleave writes inside one directory — with it, four parallel
    // publishes land as four distinct, complete, readable generations
    val root = tmp()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gens = Seq(1, 2, 3, 4).map { i =>
      Future(VersionedStore.publish(root,
        Map("t" -> Seq((i.toLong, s"w$i")).toDF("id", "v"))))
    }.map(Await.result(_, 180.seconds)).sorted
    assert(gens == Seq(1L, 2L, 3L, 4L), gens.toString)
    assert(VersionedStore.currentGen(root).contains(4L))
    gens.foreach { g =>
      assert(rows(root, "t", Some(g)).count() == 1L)
    }
    assert(StoreFsck.versionedStore(spark, root)
      .as[(String, Long)].collect().toMap.values.forall(_ == 0L))
  }

  test("a takedown during an in-flight publish lands in that generation's overlay") {
    val root = tmp()
    VersionedStore.publish(root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    // a publish is mid-write: reservation taken, tables writing OUTSIDE
    // the maintenance lock (the split-lock protocol)
    val (gen, token) = VersionedStore.reserve(root)
    assert(gen == 2L)
    Seq((1L, "a2"), (2L, "b2")).toDF("id", "v")
      .write.parquet(s"$root/gen-$gen/t")
    // the takedown does NOT wait for the table write to finish — and it
    // must reach the in-flight generation too, because its tables were
    // built from rows read BEFORE the erasure
    VersionedStore.takedownDf(Seq(2L).toDF("id"), root)
    VersionedStore.commit(root, gen, token)
    assert(VersionedStore.currentGen(root).contains(gen))
    assert(rows(root, "t")
      .select("v").as[String].collect().toSeq == Seq("a2"),
      "the erased id must not serve from the generation published around" +
        " the takedown")
    assert(rows(root, "t", Some(1L))
      .select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("stale reservations: gc retires dead-publisher dirs, spares live and foreign ones") {
    import graft.pipeline.StoreFs
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // LIVE reservation (our pid): numbering skips it, gc spares it,
    // fsck does not flag it
    val (gen2, token2) = VersionedStore.reserve(root)
    assert(VersionedStore.gc(root).isEmpty)
    assert(fsck(root)("stale_reservations") == 0L)
    // a concurrent publish numbers PAST the live reservation
    val g3 = VersionedStore.publish(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    assert(g3 == gen2 + 1L)
    // DEAD same-host reservation: provably abandoned — flagged, retired
    StoreFs.writeAtomic(s"$root/gen-9/_RESERVED",
      s"${VersionedStore.hostId} 2147483647 1".getBytes("UTF-8"))
    assert(fsck(root)("stale_reservations") == 1L)
    // gc retires the dead reservation; the LIVE one — now BELOW cur,
    // because a later reservation committed first — is spared (retiring
    // it would fail the slower publisher's commit for no reason)
    assert(VersionedStore.gc(root) == Seq(9L))
    assert(!StoreFs.exists(s"$root/gen-9"))
    assert(StoreFs.exists(s"$root/gen-$gen2/_RESERVED"))
    // FOREIGN-host reservation: liveness unknowable — spared, not flagged
    StoreFs.writeAtomic(s"$root/gen-8/_RESERVED",
      "some-other-host 1 1".getBytes("UTF-8"))
    assert(fsck(root)("stale_reservations") == 0L)
    assert(VersionedStore.gc(root).isEmpty)
    StoreFs.deleteRecursive(s"$root/gen-8")
    // a retired-then-stolen reservation must refuse to commit: the
    // tables may be torn under a dir someone else now owns
    StoreFs.writeAtomic(s"$root/gen-${gen2}/_RESERVED",
      "thief 99 1".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      VersionedStore.commit(root, gen2, token2)
    }
    assert(!StoreFs.exists(s"$root/gen-$gen2/_COMPLETE"),
      "a refused commit must not mark the generation complete")
    assert(VersionedStore.currentGen(root).contains(g3))
  }

  test("reservation lease: gc retires foreign tokens past the lease, spares fresh ones") {
    import graft.pipeline.StoreFs
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val ancient = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    // a publisher that CRASHED on another host: no pid-liveness check
    // can ever prove it dead here — the token's age is the contract
    StoreFs.writeAtomic(s"$root/gen-7/_RESERVED",
      "crashed-other-host 1 1".getBytes("UTF-8"))
    StoreFs.setModificationTime(s"$root/gen-7/_RESERVED", ancient)
    // a FRESH foreign token is spared (its publisher may be mid-write)
    StoreFs.writeAtomic(s"$root/gen-8/_RESERVED",
      "live-other-host 1 1".getBytes("UTF-8"))
    assert(VersionedStore.gc(root) == Seq(7L))
    assert(!StoreFs.exists(s"$root/gen-7"))
    assert(StoreFs.exists(s"$root/gen-8/_RESERVED"),
      "a fresh foreign reservation must survive gc")
    // lease 0 disables the sweep entirely (the pre-lease regime)
    StoreFs.writeAtomic(s"$root/gen-9/_RESERVED",
      "crashed-other-host 1 1".getBytes("UTF-8"))
    StoreFs.setModificationTime(s"$root/gen-9/_RESERVED", ancient)
    spark.conf.set("graft.store.reservationLeaseMs", "0")
    try assert(VersionedStore.gc(root).isEmpty)
    finally spark.conf.unset("graft.store.reservationLeaseMs")
    // back under the default lease the abandoned dir is retired — and a
    // publisher swept mid-write would fail LOUDLY at commit (the token
    // recheck the stale-reservation spec pins), never publish torn state
    assert(VersionedStore.gc(root) == Seq(9L))
  }

  test("registered pins: gc spares a pinned generation until release or lease expiry") {
    import graft.pipeline.StoreFs
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    VersionedStore.publish(root, Map("t" -> Seq((1L, "b")).toDF("id", "v")))
    // a REGISTERED pin on the superseded generation survives keep=0 —
    // the training job mid-epoch outlives any keepGenerations policy
    val token = VersionedStore.registerPin(root, 1L)
    assert(VersionedStore.gc(root, keep = 0).isEmpty)
    assert(StoreFs.exists(s"$root/gen-1/_COMPLETE"),
      "a live registered pin must hold its generation against gc")
    // the pinned read works the whole time
    assert(VersionedStore.pinnedGenerationRoot(root, 1L, None, "spec")
      .endsWith("gen-1"))
    assert(fsck(root)("expired_pin_files") == 0L)
    // release → the next gc retires it, and the resolve fails NAMED
    VersionedStore.releasePin(root, 1L, token)
    assert(VersionedStore.gc(root, keep = 0) == Seq(1L))
    val e = intercept[IllegalStateException] {
      VersionedStore.pinnedGenerationRoot(root, 1L, Some(7L), "spec")
    }
    assert(e.getMessage.contains("outlived retention"), e.getMessage)
    assert(e.getMessage.contains("gen=1") &&
      e.getMessage.contains("batch=7"), e.getMessage)
    // releasePin is idempotent — a second release (or releasing a pin
    // whose generation is already gone) is a no-op, not an error
    VersionedStore.releasePin(root, 1L, token)
    // an EXPIRED pin (crashed registrant, 7-day default lease) stops
    // sparing: same contract as the reservation lease — a too-short
    // lease wastes a replay, never tears state (the read fails loudly)
    VersionedStore.publish(root, Map("t" -> Seq((1L, "c")).toDF("id", "v")))
    val tok3 = VersionedStore.registerPin(root, 2L)
    StoreFs.setModificationTime(s"$root/gen-2/_PIN.$tok3",
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    assert(fsck(root)("expired_pin_files") == 1L)
    assert(VersionedStore.gc(root, keep = 0) == Seq(2L))
    // registering against a retired generation refuses loudly — a pin
    // must be resolvable at registration time
    intercept[IllegalArgumentException] {
      VersionedStore.registerPin(root, 2L)
    }
    // pin-lease 0 = pins never expire (the compliance-indifferent mode)
    val tok4 = VersionedStore.registerPin(root, 3L)
    VersionedStore.publish(root, Map("t" -> Seq((1L, "d")).toDF("id", "v")))
    StoreFs.setModificationTime(s"$root/gen-3/_PIN.$tok4",
      System.currentTimeMillis() - 800L * 24 * 3600 * 1000)
    spark.conf.set("graft.store.pinLeaseMs", "0")
    try assert(VersionedStore.gc(root, keep = 0).isEmpty)
    finally spark.conf.unset("graft.store.pinLeaseMs")
  }

  test("exclusive pointer protocol: create-exclusive markers, max-resolution, protocol migration") {
    import graft.pipeline.StoreFs
    // simulate an object store whose rename is NOT atomic: force the
    // create-exclusive protocol (auto picks it for s3a/gs/abfs schemes)
    spark.conf.set("graft.store.pointerProtocol", "exclusive")
    try {
      val root = tmp()
      val g1 = VersionedStore.publish(root,
        Map("t" -> Seq((1L, "a")).toDF("id", "v")))
      assert(g1 == 1L && VersionedStore.currentGen(root).contains(1L))
      assert(!StoreFs.exists(s"$root/_CURRENT"),
        "exclusive protocol writes flip markers, never a mutable pointer")
      assert(StoreFs.exists(s"$root/_POINTER.1"))
      assert(VersionedStore.isVersioned(root))
      assert(rows(root, "t").count() == 1L)
      val g2 = VersionedStore.publish(root,
        Map("t" -> Seq((2L, "b")).toDF("id", "v")))
      assert(g2 == 2L && VersionedStore.currentGen(root).contains(2L))
      // both flip records exist — NEITHER was overwritten (the property
      // rename-on-object-store cannot give); max resolves, gc sweeps
      assert(StoreFs.exists(s"$root/_POINTER.1") &&
        StoreFs.exists(s"$root/_POINTER.2"))
      assert(fsck(root)("superseded_pointer_markers") == 1L)
      VersionedStore.gc(root, keep = 1)
      assert(!StoreFs.exists(s"$root/_POINTER.1") &&
        StoreFs.exists(s"$root/_POINTER.2"))
      assert(fsck(root)("superseded_pointer_markers") == 0L)
      assert(rows(root, "t", Some(1L)).count() == 1L,
        "gc keep=1 retains the pinned generation; only the marker retired")

      // PROTOCOL MIGRATION: a store born under rename keeps working
      // when the knob flips — resolution honors both record forms
      spark.conf.set("graft.store.pointerProtocol", "rename")
      val r2 = tmp()
      VersionedStore.publish(r2, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
      assert(StoreFs.exists(s"$r2/_CURRENT"))
      spark.conf.set("graft.store.pointerProtocol", "exclusive")
      VersionedStore.publish(r2, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
      assert(VersionedStore.currentGen(r2).contains(2L),
        "the marker record must out-resolve the older _CURRENT content")
      assert(rows(r2, "t")
        .select("v").as[String].collect().toSeq == Seq("b"))
      // and back: a rename flip above the marker wins by max again
      spark.conf.set("graft.store.pointerProtocol", "rename")
      VersionedStore.publish(r2, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
      assert(VersionedStore.currentGen(r2).contains(3L))

      // recovery: a dangling marker (its generation hand-deleted) reads
      // loudly and adopt REMOVES the stale record — under this protocol
      // a lower flip cannot out-vote it
      spark.conf.set("graft.store.pointerProtocol", "exclusive")
      val r3 = tmp()
      VersionedStore.publish(r3, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
      VersionedStore.publish(r3, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
      StoreFs.deleteRecursive(s"$r3/gen-2")
      intercept[IllegalArgumentException] { VersionedStore.tableRoot(r3) }
      assert(VersionedStore.adopt(r3).contains(1L))
      assert(!StoreFs.exists(s"$r3/_POINTER.2"))
      assert(rows(r3, "t")
        .select("v").as[String].collect().toSeq == Seq("a"))
    } finally spark.conf.unset("graft.store.pointerProtocol")
  }

  test("random publish/crash/gc interleavings: reads always serve the last flip") {
    // model-based generative check: whatever order publishes, crashed
    // partials and gc runs interleave in, (a) read serves exactly the
    // last PUBLISHED content, (b) every retained generation replays
    // immutably, (c) fsck's incomplete count matches the model's
    (1L to 4L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = tmp()
      var pointer = Option.empty[Long]
      var complete = Map.empty[Long, Seq[(Long, String)]]
      var incomplete = Set.empty[Long]
      def content(tag: Int): Seq[(Long, String)] =
        (0L until (1L + rnd.nextInt(3))).map(i => (i, s"v$tag-$i"))
      (0 until 10).foreach { step =>
        rnd.nextInt(3) match {
          case 0 => // publish
            val c = content(step)
            val g = VersionedStore.publish(root,
              Map("t" -> c.toDF("id", "v")))
            assert(g == pointer.getOrElse(0L) + 1L)
            complete += g -> c; incomplete -= g; pointer = Some(g)
          case 1 => // crash: partial dir above the pointer, no marker
            val g = pointer.getOrElse(0L) + 1L + rnd.nextInt(2)
            content(step).toDF("id", "v").write.mode("overwrite")
              .parquet(s"$root/gen-$g/t")
            incomplete += g
          case 2 => // gc
            val keep = rnd.nextInt(2)
            VersionedStore.gc(root, keep)
            pointer.foreach { cur =>
              val kept = complete.keys.filter(_ <= cur).toSeq
                .sorted.reverse.take(keep + 1).toSet
              complete = complete.filter { case (g, _) =>
                kept.contains(g) }
              incomplete = incomplete.filter(_ > cur)
            }
        }
        // invariants, every step
        assert(VersionedStore.currentGen(root) == pointer, s"seed $seed step $step")
        pointer.foreach { cur =>
          assert(rows(root, "t")
            .as[(Long, String)].collect().sorted.toSeq ==
            complete(cur).sorted, s"seed $seed step $step")
        }
        complete.foreach { case (g, c) =>
          assert(rows(root, "t", Some(g))
            .as[(Long, String)].collect().sorted.toSeq == c.sorted,
            s"seed $seed step $step gen $g")
        }
        val inc = StoreFsck.versionedStore(spark, root)
          .as[(String, Long)].collect().toMap.apply("incomplete_generations")
        assert(inc == incomplete.size.toLong, s"seed $seed step $step")
      }
    }
  }

  test("corrupt and missing pointers surface loudly, with recovery hints") {
    val root = tmp()
    VersionedStore.publish(root, Map("a" -> Seq((1L, "x")).toDF("id", "v")))
    // corrupt the pointer: reads must fail loudly, fsck must name it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_CURRENT"), "not-a-gen")
    intercept[IllegalStateException] {
      rows(root, "a")
    }
    assert(fsck(root)("corrupt_pointer") == 1L)
    // first-publish crash at the flip: generations exist, no pointer —
    // and the flip's tmp pointer file is left behind as dead bytes
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_CURRENT"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_CURRENT.tmp.99999"), "1")
    val bad = fsck(root)
    assert(bad("missing_pointer_with_generations") == 1L)
    assert(bad("unreferenced_complete_generations") == 1L)
    assert(bad("corrupt_pointer") == 0L)
    assert(bad("orphan_pointer_tmps") == 1L)
    // adopt = the recovery those findings hint at: flip to the newest
    // complete generation; gc reclaims the crashed flip's tmp pointer
    assert(VersionedStore.adopt(root).contains(1L))
    assert(rows(root, "a")
      .as[(Long, String)].head() == ((1L, "x")))
    VersionedStore.gc(root, keep = 0)
    assert(fsck(root).values.forall(_ == 0L))
    // nothing newer to adopt once the pointer references the newest
    assert(VersionedStore.adopt(root).isEmpty)
    // corrupt-pointer repair: adopt replaces unreadable pointer content
    // with the newest complete generation (the only recoverable
    // definition of current)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_CURRENT"), "junk-again")
    assert(fsck(root)("corrupt_pointer") == 1L)
    assert(VersionedStore.adopt(root).contains(1L))
    assert(VersionedStore.currentGen(root).contains(1L))
    assert(fsck(root).values.forall(_ == 0L))
    // DANGLING pointer (its generation deleted out-of-band): the one
    // state that breaks reads — adopt treats the unrecoverable
    // reference like corruption and flips to the newest complete
    // generation that still exists
    VersionedStore.publish(root, Map("a" -> Seq((2L, "y")).toDF("id", "v")))
    graft.pipeline.StoreFs.deleteRecursive(s"$root/gen-2")
    assert(fsck(root)("pointer_to_missing_generation") == 1L)
    intercept[Exception] {
      rows(root, "a").collect()
    }
    assert(VersionedStore.adopt(root).contains(1L))
    assert(rows(root, "a")
      .as[(Long, String)].head() == ((1L, "x")))
    assert(fsck(root).values.forall(_ == 0L))
  }

  test("a live pin spares an ABOVE-CUR complete generation; release hands it back to gc") {
    import graft.pipeline.StoreFs
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // a crashed flip: generation 2 is COMPLETE but the pointer still
    // names 1 (adopt()'s recovery target). registerPin accepts it (the
    // marker exists, the generation is resolvable), so gc's above-cur
    // retirement must honor the pin exactly like the below-cur rule --
    // otherwise "registerPin holds the generation against gc" silently
    // fails on the one class of generation an operator is mid-recovery on
    Seq((9L, "crash")).toDF("id", "v").write.parquet(s"$root/gen-2/t")
    StoreFs.writeAtomic(s"$root/gen-2/_COMPLETE", Array.empty)
    assert(VersionedStore.currentGen(root).contains(1L))
    val tok = VersionedStore.registerPin(root, 2L)
    assert(VersionedStore.gc(root, keep = 0).isEmpty,
      "gc must spare a live-pinned unreferenced complete generation")
    assert(StoreFs.exists(s"$root/gen-2/_COMPLETE"))
    // the pinned read resolves the whole time; adopt can still recover it
    assert(VersionedStore.pinnedGenerationRoot(root, 2L, None, "spec")
      .endsWith("gen-2"))
    VersionedStore.releasePin(root, 2L, tok)
    assert(VersionedStore.gc(root, keep = 0) == Seq(2L),
      "released, the unreferenced publish is gc fodder again")
  }

  test("renewPin restarts the lease clock; a swept/unknown pin refuses loudly") {
    import graft.pipeline.StoreFs
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    VersionedStore.publish(root, Map("t" -> Seq((1L, "b")).toDF("id", "v")))
    val tok = VersionedStore.registerPin(root, 1L)
    // age the registration past the 7-day default lease: without a
    // renew the generation stops being spared (the crashed-registrant
    // backstop) -- a renew BEFORE the sweep restamps the mtime and the
    // pin is live again, so a legitimate long job heartbeats its lease
    val ancient = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    StoreFs.setModificationTime(s"$root/gen-1/_PIN.$tok", ancient)
    assert(fsck(root)("expired_pin_files") == 1L)
    VersionedStore.renewPin(root, 1L, tok)
    assert(fsck(root)("expired_pin_files") == 0L)
    assert(fsck(root)("live_pin_files") == 1L)
    assert(VersionedStore.gc(root, keep = 0).isEmpty,
      "a renewed pin must spare its generation")
    // expire it again and let gc sweep -- the late renew then fails
    // with the NAMED error (re-register, renew before expiry), never a
    // silent no-op the registrant reads as still-protected
    StoreFs.setModificationTime(s"$root/gen-1/_PIN.$tok", ancient)
    assert(VersionedStore.gc(root, keep = 0) == Seq(1L))
    val e = intercept[IllegalArgumentException] {
      VersionedStore.renewPin(root, 1L, tok)
    }
    assert(e.getMessage.contains("renewPin"), e.getMessage)
    assert(e.getMessage.contains("re-register"), e.getMessage)
    // renewing a never-registered token refuses identically
    intercept[IllegalArgumentException] {
      VersionedStore.renewPin(root, 2L, "no-such-token")
    }
  }

  test("listPins names every holder: gen, token, lease window, gc's own liveness") {
    import graft.pipeline.StoreFs
    val root = tmp()
    VersionedStore.publish(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    VersionedStore.publish(root, Map("t" -> Seq((1L, "b")).toDF("id", "v")))
    assert(VersionedStore.listPins(root).isEmpty)
    val tokLive = VersionedStore.registerPin(root, 1L)
    val tokOld = VersionedStore.registerPin(root, 2L)
    val ancient = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    StoreFs.setModificationTime(s"$root/gen-2/_PIN.$tokOld", ancient)
    val pins = VersionedStore.listPins(root)
    assert(pins.map(p => (p.gen, p.token, p.live)) ==
      Seq((1L, tokLive, true), (2L, tokOld, false)), pins.toString)
    // the lease window is explicit: expiry = registration + lease (the
    // operational "until when" an operator asks); liveness is gc's own
    // classification, so the listing can never disagree with the sweep
    val lease = 7L * 24 * 3600 * 1000
    pins.foreach { p =>
      assert(p.expiresAtMs.contains(p.registeredAtMs + lease), p.toString)
    }
    assert(pins.head.registeredAtMs > ancient)
    // FS mtime granularity may truncate sub-second precision
    assert(pins(1).registeredAtMs <= ancient &&
      pins(1).registeredAtMs > ancient - 2000L, pins(1).toString)
    // lease 0: pins never expire -- no expiry instant exists to report
    spark.conf.set("graft.store.pinLeaseMs", "0")
    try {
      val eternal = VersionedStore.listPins(root)
      assert(eternal.forall(p => p.expiresAtMs.isEmpty && p.live),
        eternal.toString)
    } finally spark.conf.unset("graft.store.pinLeaseMs")
    // the fsck pair states the same facts as counts: one expired (dead
    // bytes), one live (a generation gc is currently sparing)
    assert(fsck(root)("expired_pin_files") == 1L)
    assert(fsck(root)("live_pin_files") == 1L)
    VersionedStore.releasePin(root, 1L, tokLive)
    VersionedStore.releasePin(root, 2L, tokOld)
    assert(VersionedStore.listPins(root).isEmpty)
  }
}
