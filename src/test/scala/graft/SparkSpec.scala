package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy; local[4] keeps test latency low). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** The `at` of an as-of-batch read of a store's head: the current
    * generation cut at append batch `b`. */
  def asOfBatch(root: String,
      b: Long): Option[graft.pipeline.VersionedStore.Pin] = {
    import graft.pipeline.VersionedStore
    Some(VersionedStore.Pin(VersionedStore.currentGen(root).get, Some(b)))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
