package perfbench

import scala.collection.mutable

import perfbench.Gen.{Docs, Events, Sub}

/** Expected results, computed on the driver from the generated arrays
  * alone. A workload compares every engine answer against these; a
  * mismatch is a failed op, never a timing. */
object Expect {

  /** Row count plus an order-independent checksum of the rows. */
  final case class Digest(count: Long, sum: Long) {
    def +(h: Long): Digest = Digest(count + 1, sum + h)
  }
  val Empty: Digest = Digest(0, 0)

  def concat(parts: Seq[Events]): Events = Events(
    parts.flatMap(_.scn).toArray, parts.flatMap(_.seq).toArray,
    parts.flatMap(_.source).toArray, parts.flatMap(_.partition).toArray,
    parts.flatMap(_.key).toArray, parts.flatMap(_.delete).toArray,
    parts.flatMap(_.value).toArray)

  /** First index whose scn is strictly above `s` (scn is non-decreasing). */
  def firstAfter(scn: Array[Long], s: Long): Int = {
    var lo = 0
    var hi = scn.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (scn(mid) <= s) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** `/stream` after a fully consumed window `afterScn`: the first
    * `maxEvents` events in (scn, seq) order that pass `sub`. */
  def pull(ev: Events, afterScn: Long, sub: Sub, maxEvents: Int): Digest = {
    var d = Empty
    var i = firstAfter(ev.scn, afterScn)
    while (i < ev.size && d.count < maxEvents) {
      if (sub.passes(ev.key(i), ev.source(i))) d = d + ev.rowHash(i)
      i += 1
    }
    d
  }

  /** Index of each key's latest event (-1 when the key never changed). */
  def lastPerKey(ev: Events, numKeys: Int): Array[Int] = {
    val last = Array.fill(numKeys)(-1)
    var i = 0
    while (i < ev.size) { last(ev.key(i).toInt) = i; i += 1 }
    last
  }

  /** Materialized state (latest change per key, DELETEs dropped) of the
    * keys passing `sub`: what bootstrap serves and the Applier holds. */
  def state(ev: Events, last: Array[Int], sub: Sub): Digest = {
    var d = Empty
    var k = 0
    while (k < last.length) {
      val i = last(k)
      if (i >= 0 && !ev.delete(i) && sub.passes(ev.key(i), ev.source(i)))
        d = d + ev.rowHash(i)
      k += 1
    }
    d
  }

  /** Driver-side BM25 over the live documents, mirroring the engine's
    * integer contract: each term's contribution floored to 1e-4 units
    * (with the 1e-6 nudge) before the sum; ties by lowest doc id; docs
    * matching no term score 0. */
  final class Bm25Mirror {
    private val live = mutable.LongMap.empty[Array[Int]]
    private val postings = Array.fill(Gen.VocabSize)(mutable.ArrayBuffer.empty[Long])
    private var sumDl = 0L

    def liveCount: Int = live.size
    def liveText: Seq[(Long, String)] =
      live.toSeq.map { case (id, t) => id -> t.map(Gen.word).mkString(" ") }

    def add(d: Docs): Unit = {
      var i = 0
      while (i < d.size) {
        val toks = d.tokens(i)
        live(d.ids(i)) = toks
        sumDl += toks.length
        toks.distinct.foreach(t => postings(t) += d.ids(i))
        i += 1
      }
    }

    def remove(ids: Seq[Long]): Unit = ids.foreach { id =>
      live.remove(id).foreach(t => sumDl -= t.length)
    }

    def topK(terms: Seq[String], k: Int, k1: Double = 1.2,
        b: Double = 0.75): Seq[(Long, Long)] = {
      val ranks = terms.map(_.stripPrefix("w").toInt)
      val n = live.size.toLong
      val avgdl = sumDl.toDouble / n.toDouble
      val scores = mutable.LongMap.empty[Long]
      ranks.foreach { t =>
        val docs = postings(t).filter(live.contains)
        val df = docs.size.toLong
        val idf = StrictMath.log(((n - df).toDouble + 0.5) /
          (df.toDouble + 0.5) + 1.0)
        docs.foreach { id =>
          val toks = live(id)
          val tf = toks.count(_ == t).toDouble
          val dl = toks.length.toDouble
          val c = math.floor(idf * ((tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))) * 10000.0 + 1e-6).toLong
          scores(id) = scores.getOrElse(id, 0L) + c
        }
      }
      val ranked = scores.toSeq.sortBy { case (id, s) => (-s, id) }
      val top = ranked.filter(_._2 > 0).take(k)
      if (top.size >= k) top
      else {
        // zero-score docs fill the rest, lowest ids first
        val zeros = live.keys.filter(id => scores.getOrElse(id, 0L) == 0L)
          .toSeq.sorted.take(k - top.size).map(_ -> 0L)
        top ++ zeros
      }
    }
  }

  /** Delivery ledger for the relay tail: every generated seq must reach
    * the consumer at least once, in whole windows, and in (scn, seq)
    * order per physical partition. Thread-safe: consumer callbacks run on
    * executor threads, one task per partition at a time. */
  final class TailLedger(firstSeq: Long, numSeqs: Int) {
    private val seen = new java.util.BitSet(numSeqs)
    private val last = Array.fill(Gen.NumPartitions)((Long.MinValue, Long.MinValue))
    private val windowSize = mutable.LongMap.empty[Int]
    private val firstEnd = mutable.LongMap.empty[Long]
    var delivered = 0L
    var redelivered = 0L
    var outOfOrder = 0L
    var brokenWindows = 0L
    var windows = 0L
    var firstViolation = ""

    def expectWindows(sizes: Map[Long, Int]): Unit = synchronized {
      sizes.foreach { case (s, n) => windowSize(s) = n }
    }

    def event(partition: Int, scn: Long, seq: Long): Unit = synchronized {
      val bit = (seq - firstSeq).toInt
      if (bit < 0 || bit >= numSeqs) outOfOrder += 1
      else if (seen.get(bit)) redelivered += 1
      else {
        val (ls, lq) = last(partition)
        if (scn < ls || (scn == ls && seq <= lq)) {
          if (outOfOrder == 0) firstViolation =
            s"partition $partition got (scn $scn, seq $seq) after (scn $ls, seq $lq)"
          outOfOrder += 1
        }
        seen.set(bit)
        last(partition) = (scn, seq)
        delivered += 1
      }
    }

    /** A window closed after `count` events; returns true the first time
      * this window closes whole. */
    def endWindow(scn: Long, count: Int, nowNs: Long): Boolean = synchronized {
      windows += 1
      if (!windowSize.get(scn).contains(count)) { brokenWindows += 1; false }
      else if (firstEnd.contains(scn)) false
      else { firstEnd(scn) = nowNs; true }
    }

    def endOf(scn: Long): Option[Long] = synchronized(firstEnd.get(scn))

    /** Seqs in [firstSeq, firstSeq + n) not yet delivered. */
    def missing(n: Int): Int = synchronized {
      n - seen.get(0, n).cardinality()
    }
  }
}
