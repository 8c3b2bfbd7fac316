package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Bootstrap: log apply, snapshot and catch-up scans, their stitch,
  * seeding, cleaning and the Avro-file bootstrap. */
object BootstrapQueries extends QueryFamily {

  val defs: Seq[QueryDef] = Seq(
    // ---- A2/K6: log → snapshot apply (latest per key, deletes drop) ----
    QueryDef("q_apply_log", (s, dir) => Bootstrap.applyLog(envCore(s, dir)),
      oracle = s"$ENV SELECT * FROM (SELECT * FROM envelope QUALIFY" +
        " row_number() OVER (PARTITION BY key_long ORDER BY scn DESC, seq DESC) = 1)" +
        " WHERE opcode <> 'DELETE'"),

    // ---- B1: bootstrap snapshot-phase banded scan ----
    QueryDef("q_snapshot_scan", (s, dir) =>
      Bootstrap.snapshotScan(
        envCore(s, dir).withColumnRenamed("seq", "id"),
        sinceId = 100L, targetScn = 800L, startRowScn = 0L, limit = Some(2000)),
      oracle = s"$ENV SELECT scn, seq AS id, ts_us, source_id, partition_id, opcode, key_long, value" +
        " FROM envelope WHERE seq > 100 AND scn < 800 AND scn >= 0" +
        " ORDER BY seq LIMIT 2000"),

    // ---- B2: bootstrap catchup-phase banded scan ----
    QueryDef("q_catchup_scan", (s, dir) =>
      Bootstrap.catchupScan(
        envCore(s, dir).withColumnRenamed("seq", "id")
          .withColumnRenamed("scn", "windowscn"),
        sinceId = 0L, startScn = 300L, targetScn = 700L),
      oracle = s"$ENV SELECT scn AS windowscn, seq AS id, ts_us, source_id, partition_id, opcode, key_long, value" +
        " FROM envelope WHERE seq > 0 AND scn BETWEEN 300 AND 700"),

    // ---- J3/B6: snapshot ∪ catchup stitch (as-of materialization) ----
    QueryDef("q_bootstrap_stitch", (s, dir) =>
      Bootstrap.snapshotPlusCatchup(envCore(s, dir), startScn = 500L,
        targetScn = 900L),
      oracle = s"$ENV SELECT * FROM (SELECT * FROM envelope WHERE scn <= 900 QUALIFY" +
        " row_number() OVER (PARTITION BY key_long ORDER BY scn DESC, seq DESC) = 1)" +
        " WHERE opcode <> 'DELETE'"),

    // ---- B7: seeder chunk assignment ----
    QueryDef("q_seeder_chunks", (s, dir) =>
      Bootstrap.seederChunks(
        tbl(s, dir, "orders"), "o_orderkey", 500L)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key")),
      oracle = "SELECT chunk_id, count(*) AS n_rows, min(o_orderkey) AS min_key," +
        " max(o_orderkey) AS max_key FROM (SELECT o_orderkey," +
        " CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 500 AS BIGINT) AS chunk_id" +
        " FROM orders) GROUP BY chunk_id"),

    // ---- §3.3: fall-off switchover — a checkpoint below retention
    // triggers bootstrap (snapshot+catchup to the log head) and resumes
    // online from the head (ScnNotFoundException → BOOTSTRAP,
    // RelayPullThread.java:96-121); the materialized bootstrap state and
    // resume point, hash-oracled ----
    QueryDef("q_falloff_bootstrap", (s, dir) => {
      val root = tempQueryDir("falloff").toString
      // bounded retention slice (protocol control query, see q_scn_regress)
      val retained = envCore(s, dir)
        .where(col("scn") >= 300 && col("scn") < 5000)
      graft.streaming.RelayStream.writeEventLog(retained, s"$root/log",
        filesHint = 4)
      val (state, _, resumeCp) = graft.streaming.RelayStream
        .streamWithBootstrap(s, s"$root/log",
          graft.model.Checkpoint.online(100L))
      state.get
        .select("scn", "seq", "ts_us", "source_id", "partition_id",
          "opcode", "key_long", "value")
        .withColumn("resume_scn", lit(resumeCp.windowScn))
    },
      oracle = s"$ENV SELECT *," +
        " (SELECT max(scn) FROM envelope WHERE scn >= 300 AND scn < 5000) AS resume_scn FROM" +
        " (SELECT * FROM envelope WHERE scn >= 300 AND scn < 5000 QUALIFY" +
        " row_number() OVER (PARTITION BY key_long ORDER BY scn DESC, seq DESC) = 1)" +
        " WHERE opcode <> 'DELETE'"),

    // ---- B3/B4: startSCN (snapshot-consistent start) + targetSCN (dirty-
    // read upper bound) as a one-row control frame ----
    QueryDef("q_bootstrap_scns", (s, dir) => {
      val log = envCore(s, dir).withColumnRenamed("scn", "windowscn")
      val start = Bootstrap.startScn(log, sinceScn = 0L)
      val target = Bootstrap.targetScn(log)
      s.range(1).select(lit(start).as("start_scn"),
        lit(target).as("target_scn"))
    },
      oracle = s"$ENV SELECT min(scn) AS start_scn, max(scn) AS target_scn" +
        " FROM envelope"),

    // ---- B8: bootstrap DB cleaner — retention drop below the watermark ----
    QueryDef("q_clean_log", (s, dir) =>
      Bootstrap.cleanLog(
        envCore(s, dir).withColumnRenamed("scn", "windowscn"),
        scnWatermark = 500L),
      oracle = s"$ENV SELECT scn AS windowscn, seq, ts_us, source_id, partition_id," +
        " opcode, key_long, value FROM envelope WHERE scn >= 500"),

    // ---- snapshot diff → CDC events: the seeding/audit direction — the
    // minimal UPSERT/DELETE stream carrying one table state to another
    // (before/after are deterministic slices of orders with planted
    // changes) ----
    QueryDef("q_snapshot_diff", (s, dir) => {
      val base = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val before = base.where(pmod(col("o_orderkey"), lit(5)) =!= 0)
      val after = base.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("price_c",
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            col("price_c") + 1000L).otherwise(col("price_c")))
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(11)) === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      Bootstrap.snapshotDiff(before, after, keyCols = Seq("o_orderkey"))
    },
      oracle = "WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus," +
        " CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders)," +
        " b AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0)," +
        " a AS (SELECT o_orderkey, o_custkey," +
        " CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus," +
        " CASE WHEN o_orderkey % 3 = 0 THEN price_c + 1000 ELSE price_c END AS price_c" +
        " FROM base WHERE o_orderkey % 7 <> 0)" +
        " SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey," +
        " CASE WHEN a.o_orderkey IS NULL THEN 'DELETE' ELSE 'UPSERT' END AS opcode," +
        " CASE WHEN a.o_orderkey IS NULL THEN b.o_custkey ELSE a.o_custkey END AS o_custkey," +
        " CASE WHEN a.o_orderkey IS NULL THEN b.o_orderstatus ELSE a.o_orderstatus END AS o_orderstatus," +
        " CASE WHEN a.o_orderkey IS NULL THEN b.price_c ELSE a.price_c END AS price_c" +
        " FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey" +
        " WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL" +
        " OR a.o_custkey IS DISTINCT FROM b.o_custkey" +
        " OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus" +
        " OR a.price_c IS DISTINCT FROM b.price_c"),

    // ---- B9: Avro container-file bootstrap — read the seeded snapshot
    // (one task per container file) and prove it serves the full state ----
    QueryDef("q_avro_bootstrap", (s, dir) => {
      implicit val sp: SparkSession = s
      val snapDir = graft.sources.WireFixtures.avroSnapshotDir(s, dir)
      graft.sources.AvroFileBootstrap.readSnapshot(s, snapDir).toDF()
        .agg(count(lit(1)).as("n_rows"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          sum(col("srckey")).as("sum_srckey"))
    },
      oracle = s"$ENV SELECT count(*) AS n_rows, min(seq) AS min_id," +
        " max(seq) AS max_id, CAST(sum(key_long) AS BIGINT) AS sum_srckey" +
        " FROM envelope")
  )
}
