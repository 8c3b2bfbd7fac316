package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.pipeline.{StoreFs, VersionedStore}

/** `StoreFs.writeAtomic` replaces a local file atomically: a reader
  * racing the flips sees the old bytes or the new, never a missing file
  * and never a checksum error, both through `writeAtomic` itself and
  * through `VersionedStore`'s pointer flips. */
class WriteAtomicRaceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Run `read` in a tight loop on another thread while `flip` runs `n`
    * times, each flip followed by at least one read; returns what the
    * reader saw go wrong and how many reads it made. */
  private def race(read: () => Option[String], n: Int)(flip: Int => Unit)
      : (Seq[String], Int) = {
    val wrong = new ConcurrentLinkedQueue[String]()
    val reads = new AtomicInteger
    val done = new AtomicBoolean(false)
    val reader = new Thread(() => while (!done.get) {
      try read().foreach(wrong.add)
      catch { case e: Exception => wrong.add(s"threw $e") }
      reads.incrementAndGet()
    })
    reader.start()
    try (1 to n).foreach { i =>
      flip(i)
      val r = reads.get
      while (reads.get == r) Thread.onSpinWait()
    } finally { done.set(true); reader.join() }
    (wrong.asScala.toSeq.distinct.take(5), reads.get)
  }

  test("a reader racing 200 writeAtomic flips always reads a whole value") {
    val dir = tmp("flip")
    val path = s"$dir/_CURRENT"
    StoreFs.writeAtomic(path, "0".getBytes("UTF-8"))
    val (wrong, reads) = race(() =>
      StoreFs.readBytesOpt(path) match {
        case None => Some("missing")
        case Some(b) =>
          val s = new String(b, "UTF-8")
          if (s.nonEmpty && s.forall(_.isDigit)) None else Some(s"torn '$s'")
      }, 200) { i => StoreFs.writeAtomic(path, i.toString.getBytes("UTF-8")) }
    assert(wrong.isEmpty, s"$wrong over $reads reads")
    assert(new String(StoreFs.readBytesOpt(path).get, "UTF-8") == "200")
    // no checksum sidecar is left behind to disagree with the bytes
    assert(!StoreFs.exists(s"$dir/._CURRENT.crc"))
  }

  test("a reader racing VersionedStore pointer flips always resolves a generation") {
    val root = s"${tmp("flip")}/store"
    VersionedStore.publish(root, Map("t" -> Seq(0L).toDF("id")))
    val (wrong, reads) = race(() =>
      VersionedStore.currentGen(root) match {
        case None => Some("no current generation")
        case Some(_) => None
      }, 40) { i =>
      VersionedStore.publish(root, Map("t" -> Seq(i.toLong).toDF("id")))
      if (i % 10 == 0) VersionedStore.gc(root, keep = 0)
    }
    assert(wrong.isEmpty, s"$wrong over $reads reads")
    assert(VersionedStore.currentGen(root).contains(41L))
  }
}
