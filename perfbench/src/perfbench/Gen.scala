package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators._
import graft.streaming.RelayStream

/** Seeded input generation. Everything a workload feeds the engine comes
  * from here, as a pure function of (seed, stream id, sizes): the same
  * arguments give bit-identical arrays, so expectations computed from the
  * arrays describe exactly the frames the engine sees. */
object Gen {

  /** SplitMix64 finalizer: the integer mixer behind key placement and
    * row checksums. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** One independent random stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix64(seed * 0x100000001B3L + stream))

  /** Zipf(s) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    require(n > 0, s"Zipf over $n items")
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  // ---- change events ----

  val NumSources = 5
  val NumPartitions = 8

  /** Keys 0..numKeys-1. A key's physical partition and source are fixed
    * functions of the key; its popularity rank within its partition is a
    * seeded permutation, drawn Zipf(1.1). */
  final class KeySpace(seed: Long, val numKeys: Int) {
    def partitionOf(key: Long): Int = (mix64(key) & 7L).toInt
    def sourceOf(key: Long): Int = 1 + ((mix64(key) >>> 8) % NumSources).toInt
    /** keys of each partition, most popular first */
    val byPartition: Array[Array[Long]] = {
      val perm = shuffled(rng(seed, 1), Array.tabulate(numKeys)(identity)).map(_.toLong)
      Array.tabulate(NumPartitions)(p => perm.filter(k => partitionOf(k) == p))
    }
    private val zipf = byPartition.map(ks => new Zipf(ks.length, 1.1))
    def draw(p: Int, r: SplittableRandom): Long = byPartition(p)(zipf(p).sample(r))
  }

  /** Change events in seq order. Windows (transactions) touch one
    * physical partition and are seq-contiguous: a window's scn is the
    * seq of its first event, as in the engine's own synthetic feed. */
  final case class Events(scn: Array[Long], seq: Array[Long],
      source: Array[Int], partition: Array[Int], key: Array[Long],
      delete: Array[Boolean], value: Array[Double]) {
    def size: Int = seq.length
    def nextSeq: Long = if (size == 0) -1L else seq(size - 1) + 1
    def rowHash(i: Int): Long =
      Gen.rowHash(seq(i), key(i), source(i), partition(i), delete(i))
    /** window scn → event count */
    def windowSizes: Map[Long, Int] = scn.groupBy(identity).map { case (k, v) => k -> v.length }
    def toDF(spark: SparkSession): DataFrame = {
      val rows = new java.util.ArrayList[Row](size)
      var i = 0
      while (i < size) {
        rows.add(Row(scn(i), seq(i), 1700000000000000L + seq(i) * 50L,
          source(i), partition(i), if (delete(i)) "DELETE" else "UPSERT",
          key(i), value(i), null, null, null, null))
        i += 1
      }
      spark.createDataFrame(rows, RelayStream.schema)
    }
  }

  /** About `n` events in whole windows of 1-40 events (10% DELETE),
    * seqs starting at `firstSeq`, drawn from random stream `stream`. */
  def events(seed: Long, stream: Long, keys: KeySpace, firstSeq: Long,
      n: Int): Events = {
    val r = rng(seed, stream)
    val scn = Array.newBuilder[Long]; val seq = Array.newBuilder[Long]
    val src = Array.newBuilder[Int]; val part = Array.newBuilder[Int]
    val key = Array.newBuilder[Long]; val del = Array.newBuilder[Boolean]
    val value = Array.newBuilder[Double]
    var s = firstSeq
    var made = 0
    while (made < n) {
      val p = r.nextInt(NumPartitions)
      val w = 1 + r.nextInt(40)
      val windowScn = s
      var j = 0
      while (j < w) {
        val k = keys.draw(p, r)
        scn += windowScn; seq += s; src += keys.sourceOf(k); part += p
        key += k; del += (r.nextInt(10) == 0)
        value += r.nextInt(1000000) / 100.0
        s += 1; j += 1
      }
      made += w
    }
    Events(scn.result(), seq.result(), src.result(), part.result(),
      key.result(), del.result(), value.result())
  }

  def rowHash(seq: Long, key: Long, source: Int, partition: Int,
      delete: Boolean): Long =
    mix64(seq ^ mix64(key ^ (source.toLong << 40) ^
      (partition.toLong << 48) ^ (if (delete) 1L << 56 else 0L)))

  // ---- subscriptions ----

  /** The four subscription shapes a relay client registers. Each is a
    * function of (key, source) only, so it is also a per-key predicate. */
  sealed trait Sub {
    def filter: DbusFilter
    def passes(key: Long, source: Int): Boolean
  }
  case object AllSub extends Sub {
    val filter: DbusFilter = AllowAllFilter
    def passes(key: Long, source: Int) = true
  }
  final case class SourceSub(id: Int) extends Sub {
    val filter: DbusFilter = SourceFilter(Set(id))
    def passes(key: Long, source: Int): Boolean = source == id
  }
  final case class KeyModSub(bucket: Int) extends Sub {
    val filter: DbusFilter = KeyModFilter(8, bucket, bucket + 1)
    def passes(key: Long, source: Int): Boolean = math.abs(key) % 8 == bucket
  }
  final case class KeyRangeSub(lo: Long, hi: Long) extends Sub {
    val filter: DbusFilter = KeyRangeFilter(lo, hi)
    def passes(key: Long, source: Int): Boolean = key >= lo && key < hi
  }

  /** Subscription shape `shape % 4` (all, one source, key-mod 1/8,
    * key-range over 10% of the keys); `x` in [0, 1) picks the source,
    * bucket or range. */
  def sub(shape: Int, x: Double, numKeys: Int): Sub = shape % 4 match {
    case 0 => AllSub
    case 1 => SourceSub(1 + (x * NumSources).toInt)
    case 2 => KeyModSub((x * 8).toInt)
    case _ =>
      val lo = (x * (numKeys - numKeys / 10 + 1)).toLong
      KeyRangeSub(lo, lo + numKeys / 10)
  }

  /** Low-discrepancy draws in [0, 1): the k-th is frac(u0 + k / phi) with
    * a seeded u0. A run's parameters then cover their range evenly, so
    * runs on different seeds see the same mix of request costs. */
  final class Strata(r: SplittableRandom) {
    private val u0 = r.nextDouble()
    private var k = 0L
    def next(): Double = {
      val x = u0 + k * 0.6180339887498949
      k += 1
      x - math.floor(x)
    }
  }

  /** A seeded permutation of `xs`. */
  def shuffled(r: SplittableRandom, xs: Array[Int]): Array[Int] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  // ---- documents ----

  val VocabSize = 5000

  def word(rank: Int): String = "w" + rank

  /** `n` documents with ids firstId.. of 30-90 tokens (mean 60) drawn
    * Zipf(1.0) from a 5k-word vocabulary. */
  final case class Docs(ids: Array[Long], tokens: Array[Array[Int]]) {
    def size: Int = ids.length
    def text(i: Int): String = tokens(i).map(word).mkString(" ")
    def toDF(spark: SparkSession): DataFrame = {
      val rows = new java.util.ArrayList[Row](size)
      var i = 0
      while (i < size) { rows.add(Row(ids(i), text(i))); i += 1 }
      spark.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
    }
  }

  private lazy val wordZipf = new Zipf(VocabSize, 1.0)

  def docs(seed: Long, stream: Long, firstId: Long, n: Int): Docs = {
    val r = rng(seed, stream)
    val toks = Array.fill(n) {
      Array.fill(30 + r.nextInt(61))(wordZipf.sample(r))
    }
    Docs(Array.tabulate(n)(i => firstId + i), toks)
  }

  /** Search shape `shape % 4`: one head word (rank < 50), one tail
    * word, head + tail, head + two tail words; `head` and `tail` in
    * [0, 1) pick the words. */
  def query(shape: Int, head: Double, tail: Double): Seq[String] = {
    val h = (head * 50).toInt
    val t = 50 + (tail * (VocabSize - 50)).toInt
    val t2 = 50 + (t - 50 + (VocabSize - 50) / 2) % (VocabSize - 50)
    (shape % 4 match {
      case 0 => Seq(h)
      case 1 => Seq(t)
      case 2 => Seq(h, t)
      case _ => Seq(h, t, t2)
    }).map(word)
  }
}
