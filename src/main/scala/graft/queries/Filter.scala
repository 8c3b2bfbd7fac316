package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.ChangeFeed

import Fixtures._

/** Filters and routing: the server-side subscription filters and the
  * consumer partition router. */
object FilterQueries extends QueryFamily {

  private val compositeFilterJson =
    """{"1":{"partitionType":"MOD","filters":[{"numBuckets":4,"bktRange":{"start":0,"end":2}}]},
      |"3":{"partitionType":"RANGE","filters":[{"keyRange":{"start":0,"end":75}},{"keyRange":{"start":100,"end":200}}]}}"""
      .stripMargin.replaceAll("\n", "")

  val defs: Seq[QueryDef] = Seq(
    // ---- P4: source-set filter ----
    QueryDef("q_filter_source", (s, dir) =>
      Relay.streamEvents(envCore(s, dir), filter = SourceFilter(Set(1, 3))),
      oracle = s"$ENV SELECT * FROM envelope WHERE source_id IN (1, 3)"),

    // ---- P7: key-range filter [25, 100) ----
    QueryDef("q_filter_keyrange", (s, dir) =>
      Relay.streamEvents(envCore(s, dir), filter = KeyRangeFilter(25, 100)),
      oracle = s"$ENV SELECT * FROM envelope WHERE key_long >= 25 AND key_long < 100"),

    // ---- P8: key-mod filter, buckets [0,2) of 4 ----
    QueryDef("q_filter_keymod", (s, dir) =>
      Relay.streamEvents(envCore(s, dir), filter = KeyModFilter(4, 0, 2)),
      oracle = s"$ENV SELECT * FROM envelope WHERE abs(key_long) % 4 >= 0 AND abs(key_long) % 4 < 2"),

    // ---- P10/P11: composite per-source key filter from JSON config ----
    QueryDef("q_filter_composite", (s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = Filters.parseCompositeConfig(compositeFilterJson)),
      oracle = s"$ENV SELECT * FROM envelope WHERE CASE" +
        " WHEN source_id = 3 THEN (key_long >= 0 AND key_long < 75) OR (key_long >= 100 AND key_long < 200)" +
        " WHEN source_id = 1 THEN abs(key_long) % 4 >= 0 AND abs(key_long) % 4 < 2" +
        " ELSE TRUE END"),

    // ---- §2.8: subscription URIs → serving filter (modern + legacy
    // grammars; the consumer's registered union) ----
    QueryDef("q_filter_subscription", (s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = Filters.fromSubscriptions(
          "cdc://*/click/*, view:1, purchase", ChangeFeed.registry)),
      oracle = s"$ENV SELECT * FROM envelope WHERE source_id = 1" +
        " OR (source_id = 2 AND partition_id = 1) OR source_id = 3"),

    // ---- P5: physical partition filter with nested filter ----
    QueryDef("q_filter_physical", (s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = PhysicalPartitionFilter(Some(2: Short),
          Some(SourceFilter(Set(1, 2, 4))))),
      oracle = s"$ENV SELECT * FROM envelope WHERE partition_id = 2" +
        " AND source_id IN (1, 2, 4)"),

    // ---- P6: logical source+partition subscription filter ----
    QueryDef("q_filter_logical", (s, dir) =>
      Relay.streamEvents(envCore(s, dir),
        filter = LogicalSourceAndPartitionFilter(
          Map(1 -> None, 2 -> Some(Set(0: Short, 1: Short))))),
      oracle = s"$ENV SELECT * FROM envelope WHERE (source_id = 1)" +
        " OR (source_id = 2 AND partition_id IN (0, 1)) OR opcode IS NULL"),

    // ---- P17: FNV-1a 64 key-hash parity — the native codegen expression
    // against independent modular arithmetic in the oracle (reference
    // util/Fnv1aHashImpl.java constants: offset 0xcbf29ce484222325,
    // prime 0x100000001b3) ----
    QueryDef("q_fnv_parity", (s, dir) =>
      ChangeFeed.raw(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("fnv",
          graft.functions.GraftFunctions.fnv_hash64(col("event_type"))),
      // P17: FNV-1a 64 recomputed with independent HUGEINT modular
      // arithmetic (offset 14695981039346656037 = 0xcbf29ce484222325,
      // prime 1099511628211 = 0x100000001b3, mod 2^64, two's-complement map)
      oracle = "WITH RECURSIVE t AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1)," +
        " f AS (SELECT event_type, 1 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM t" +
        " UNION ALL SELECT event_type, i + 1," +
        " ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), unicode(event_type[i]))) * 1099511628211)" +
        " % 18446744073709551616 FROM f WHERE i <= length(event_type))" +
        " SELECT t.event_type, t.n_events," +
        " CAST(CASE WHEN fh.h >= 9223372036854775808 THEN fh.h - 18446744073709551616" +
        " ELSE fh.h END AS BIGINT) AS fnv FROM t" +
        " JOIN (SELECT event_type, h FROM f WHERE i = length(event_type) + 1) fh USING (event_type)"),

    // ---- §2.8: hash partition router — distribution of keys over
    // consumer instances (DbusHashPartitionRouter.java:1) ----
    QueryDef("q_route_partitions", (s, dir) =>
      envCore(s, dir)
        .groupBy(Routers.hashPartition(col("key_long"), 8).as("route"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("key_long")).as("n_keys")),
      oracle = s"$ENV SELECT CAST(abs(key_long) % 8 AS INT) AS route," +
        " count(*) AS n, count(DISTINCT key_long) AS n_keys" +
        " FROM envelope GROUP BY 1"),

    // ---- P8 on STRING keys: the serving mod-filter over a string-keyed
    // stream — the parse-as-long-else-hashCode bucket rule end-to-end
    // (KeyModFilter.java:55-70). Projection skips value/props, so the
    // source's column pruning skips the Avro payload decode entirely. ----
    QueryDef("q_filter_keymod_string", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
        .select("scn", "seq", "source_id", "partition_id", "opcode",
          "key_long", "key_string")
      Relay.streamEvents(log, filter = KeyModFilter(4, 0, 2))
    },
      oracle = s"$MIXED SELECT scn, seq, source_id, partition_id, opcode, key_long," +
        " key_string FROM envelope" +
        " WHERE abs(key_long) % 4 >= 0 AND abs(key_long) % 4 < 2"),

    // ---- P7 on STRING keys: KeyRange over the mixed-key wire log — the
    // reference's range filter is parse-as-long ONLY (an unparseable
    // string key throws, KeyRangeFilter.java:50-57, no hashCode fallback
    // like KeyMod), so the serving range EXCLUDES events whose string key
    // doesn't parse instead of silently ranging over their hash ----
    QueryDef("q_filter_keyrange_string", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
        .select("scn", "seq", "source_id", "partition_id", "opcode",
          "key_long", "key_string")
      Relay.streamEvents(log,
        filter = DbusKeyFilter("RANGE", Seq(KeyRangeFilter(100L, 600L))))
    },
      oracle = s"$MIXED SELECT scn, seq, source_id, partition_id, opcode, key_long," +
        " key_string FROM envelope" +
        " WHERE (key_string IS NULL OR (regexp_full_match(key_string, '-?\\d+')" +
        " AND TRY_CAST(key_string AS BIGINT) IS NOT NULL))" +
        " AND key_long >= 100 AND key_long < 600")
  )
}
