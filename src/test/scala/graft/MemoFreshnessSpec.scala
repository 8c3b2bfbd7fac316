package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, PlanCache, VersionedStore}

/** The driver-side quantizer memos (codebook trainings, PQ books,
  * centroid collects) key on [[PlanCache.contentKey]] — the plan PLUS
  * each file root's (path, mtime) listing — so a table rewritten IN
  * PLACE at the same path within one JVM loads fresh instead of
  * serving the stale quantizer. Generation-addressed stores never hit
  * this (immutable dirs, new publish = new path), but readPqBooksAt
  * explicitly accepts flat dirs and a flat store CAN be rebuilt at the
  * same path in-session; the r16 review flagged the plan-keyed memo as
  * silently stale there. */
class MemoFreshnessSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def vec(i: Long): Array[Float] =
    Array.tabulate(8)(d => ((i * 13 + d * d) % 97 + 1).toFloat)

  test("a books table rewritten in place serves the fresh quantizer") {
    val dir = s"${tmp("memo")}/pq"
    val base = (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
    Ann.writePqIndex(base, dir, m = 2, ksub = 2, iters = 2)
    val before = Ann.readPqBooks(spark, dir)
    // memo warm: a second read returns the same loaded books
    assert(Ann.readPqBooks(spark, dir).map(_.toSeq).toSeq ==
      before.map(_.toSeq).toSeq)
    // REWRITE the books table in place at the same path (the flat-dir
    // rebuild hazard): same schema, every float shifted by +1
    val t = VersionedStore.tableRoot(dir)
    val shifted = spark.read.parquet(s"$t/books")
      .select(col("subspace"), col("id"),
        transform(col("vec"), v => v + 1.0f).as("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
      .toSeq.toDF("subspace", "id", "vec")
    shifted.coalesce(1).write.mode("overwrite").parquet(s"$t/books")
    val after = Ann.readPqBooks(spark, dir)
    // the fresh load sees the rewritten floats — NOT the memo entry
    assert(after.flatten.flatMap(_._2).toSeq ==
      before.flatten.flatMap(_._2).map(_ + 1.0f).toSeq,
      "readPqBooks served a stale memoized quantizer after an" +
        " in-place books rewrite")
  }

  test("an in-place corpus rewrite retrains the codebook memo") {
    val root = tmp("memo")
    val corpusPath = s"$root/corpus"
    (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
      .coalesce(1).write.parquet(corpusPath)
    val (book1, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    // rewrite the corpus at the same path with shifted vectors
    val rewritten = (0L until 12L).map(i => (i, vec(i).map(_ + 50.0f)))
    java.nio.file.Files.walk(java.nio.file.Paths.get(corpusPath))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p))
    rewritten.toDF("id", "vec").coalesce(1).write.parquet(corpusPath)
    val (book2, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    // identical plan, different bytes on disk: the memo must retrain —
    // every centroid coordinate moves by ~+50 (ulp-tolerant: means are
    // double divisions, so exact +50 is not guaranteed)
    val b1 = book1.flatMap(_._2)
    val b2 = book2.flatMap(_._2)
    assert(b1.length == b2.length &&
      b1.zip(b2).forall { case (x, y) => math.abs(y - x - 50.0f) < 1e-3 },
      "trainCentroids served a stale memoized codebook after an" +
        " in-place corpus rewrite")
  }

  test("an out-of-band corpus rewrite is not served from the stale cache") {
    val root = tmp("memo")
    val corpusPath = s"$root/corpus"
    (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
      .coalesce(1).write.parquet(corpusPath)
    val (book1, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    // swap the corpus files with java.nio, not a Spark writer: a Spark
    // writer refreshes the cache of the paths it writes, a file move
    // does not, and the cache matches a file relation by its root path
    val staged = s"$root/staged"
    (0L until 12L).map(i => (i, vec(i).map(_ + 50.0f))).toDF("id", "vec")
      .coalesce(1).write.parquet(staged)
    val corpusDir = java.nio.file.Paths.get(corpusPath)
    new java.io.File(corpusPath).listFiles()
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    new java.io.File(staged).listFiles().foreach(f =>
      java.nio.file.Files.move(f.toPath, corpusDir.resolve(f.getName)))
    val (book2, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    val b1 = book1.flatMap(_._2)
    val b2 = book2.flatMap(_._2)
    assert(b1.length == b2.length &&
      b1.zip(b2).forall { case (x, y) => math.abs(y - x - 50.0f) < 1e-3 },
      "trainCentroids trained on rows cached before an out-of-band" +
        " corpus rewrite")
  }

  test("a same-name rewrite with its mtime reset still changes the salt") {
    val dir = s"${tmp("memo")}/t"
    (0L until 4L).toDF("id").coalesce(1).write.parquet(dir)
    def part(d: String) = new java.io.File(d).listFiles()
      .find(_.getName.startsWith("part-")).get
    val target = part(dir)
    val mtime = target.lastModified
    val salt = PlanCache.fileSalt(spark.read.parquet(dir))
    // other bytes of another length under the SAME file name, with the
    // original mtime put back: only the length tells the files apart
    val other = s"${tmp("memo")}/o"
    (0L until 400L).toDF("id").coalesce(1).write.parquet(other)
    assert(part(other).length != target.length)
    java.nio.file.Files.copy(part(other).toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(dir, s".${target.getName}.crc").delete()
    graft.pipeline.StoreFs.setModificationTime(target.getPath, mtime)
    assert(target.lastModified == mtime)
    assert(PlanCache.fileSalt(spark.read.parquet(dir)) != salt,
      "a same-name, same-mtime rewrite kept the stale content salt")
  }

  test("PlanCache.clear clears the quantizer memos too") {
    val dir = s"${tmp("memo")}/pqclear"
    val base = (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
    Ann.writePqIndex(base, dir, m = 2, ksub = 2, iters = 2)
    Ann.readPqBooks(spark, dir) // warm the memo
    PlanCache.clear()           // must reach Ann's memos via the hook
    // stale-at-same-mtime simulation: rewrite books preserving the
    // previous file listing is impossible to fake portably, so assert
    // the hook path directly — clear() empties the memo and the next
    // read reloads from disk (observable: a books dir deleted after
    // clear() fails the read instead of serving the memo)
    graft.pipeline.StoreFs.deleteRecursive(
      s"${VersionedStore.tableRoot(dir)}/books")
    intercept[Exception] { Ann.readPqBooks(spark, dir) }
  }
}
