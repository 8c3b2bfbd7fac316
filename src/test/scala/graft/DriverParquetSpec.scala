package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{StoreFs, VersionedStore}

/** Byte-compat pin for the driver-path parquet writer: a publish of a
  * DRIVER-LOCAL table (a plan that collapses to a LocalRelation) must
  * produce a table indistinguishable to readers from the distributed
  * writer's output — same schema (logical types through Spark's own
  * ParquetWriteSupport), same rows, Spark-style part-file name, a
  * _SUCCESS marker. The DuckDB oracle compare (Verify gate) re-checks
  * readability outside the JVM. */
class DriverParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  // the real published shapes: codebook/books-like (long, array<float>),
  // quant_stats-like (string, double), plus int and a null string
  private def localDf = Seq(
    (0L, 3, Option("alpha"), 1.5d, Array(1.0f, 2.5f)),
    (1L, -7, None, -0.25d, Array(0.0f)),
    (2L, 0, Option("gamma"), 1e-9d, Array.empty[Float]))
    .toDF("id", "n", "name", "value", "vec")

  test("published driver-local table reads back like a distributed write") {
    val root = s"${tmp("dpq")}/store"
    VersionedStore.publish(root, Map("meta" -> localDf.coalesce(1)))
    val t = VersionedStore.tableRoot(root)
    // reference: the distributed writer on the same frame
    val ref = s"${tmp("dpq")}/ref"
    localDf.coalesce(1).write.parquet(ref)
    val got = spark.read.parquet(s"$t/meta")
    val want = spark.read.parquet(ref)
    assert(got.schema == want.schema,
      s"schema drift: ${got.schema} vs ${want.schema}")
    assert(got.orderBy("id").collect().toSeq ==
      want.orderBy("id").collect().toSeq)
    // layout parity: Spark-style part name + _SUCCESS marker
    val names = StoreFs.listNames(s"$t/meta")
    assert(names.exists(n => n.startsWith("part-00000-") &&
      n.endsWith(".snappy.parquet")), names.toString)
    assert(names.contains("_SUCCESS"), names.toString)
  }

  test("the _SUCCESS marker follows the committer's marksuccessfuljobs switch") {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    spark.conf.set(key, "false")
    try {
      val root = s"${tmp("dpq")}/nomarker"
      VersionedStore.publish(root, Map("meta" -> localDf.coalesce(1)))
      val ref = s"${tmp("dpq")}/nomarkerref"
      localDf.coalesce(1).write.parquet(ref)
      // the distributed writer drops the marker under the same conf
      assert(!StoreFs.listNames(ref).contains("_SUCCESS"))
      val names = StoreFs.listNames(s"${VersionedStore.tableRoot(root)}/meta")
      assert(!names.contains("_SUCCESS"), names.toString)
      assert(names.exists(_.startsWith("part-00000-")), names.toString)
    } finally spark.conf.unset(key)
  }

  test("a distributed frame still takes the distributed writer") {
    val root = s"${tmp("dpq")}/store2"
    val dist = spark.range(100)
      .select(col("id"), (col("id") % 5).as("m"))
    VersionedStore.publish(root, Map("meta" -> localDf.coalesce(1),
      "data" -> dist))
    val t = VersionedStore.tableRoot(root)
    assert(spark.read.parquet(s"$t/data").count() == 100)
    assert(spark.read.parquet(s"$t/meta").count() == 3)
  }

  test("a store whose every table is driver-local publishes and audits") {
    val root = s"${tmp("dpq")}/store3"
    val book = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("id", "vec")
    val stats = Seq(("train_rows", 2.0d)).toDF("metric", "value")
    VersionedStore.publish(root, Map(
      "codebook" -> book.coalesce(1), "quant_stats" -> stats.coalesce(1)))
    val t = VersionedStore.tableRoot(root)
    assert(spark.read.parquet(s"$t/codebook")
      .orderBy("id").as[(Long, Seq[Float])].collect().toSeq ==
      Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f))))
    assert(spark.read.parquet(s"$t/quant_stats")
      .as[(String, Double)].collect().toSeq == Seq(("train_rows", 2.0d)))
    // a second publish lands a fresh generation over the driver path
    VersionedStore.publish(root, Map(
      "codebook" -> book.coalesce(1), "quant_stats" -> stats.coalesce(1)))
    assert(VersionedStore.currentGen(root).contains(2L))
  }
}
