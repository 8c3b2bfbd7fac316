package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.ChangeFeed

import Fixtures._

/** CDC sources and decode: the change-feed envelope, the capture sources
  * (txlog, JDBC, GoldenGate trail, binlog), the DbusEvent V1/V2 wire
  * formats, payload decode and the dtail renderings. */
object CdcSourceQueries extends QueryFamily {

  /** Envelope events encoded into reference-layout DbusEventV2 wire bytes
    * (Avro payload part carrying the events record), keeping `seq` beside
    * the wire column for the corruption query's deterministic targeting. */
  private def dbusV2Wire(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.model.VersionedSchemaSet.eventPayloadV1
    val enc = graft.functions.AvroCodec.encodeEventPayload(schema.schemaJson)
    val payload = enc(struct(
      col("seq").as("event_id"), col("key_long").as("user_id"),
      ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
      col("value"), col("props")))
    val v2 = graft.functions.DbusV2.encodeUdf(schema.digest, 1)
    env(s, dir).select(col("seq"),
      v2(col("scn"), col("ts_us") * 1000, col("source_id"),
        col("partition_id"), col("opcode"), col("key_long"),
        payload, lit(null).cast("binary")).as("wire"))
  }

  /** V1 envelope oracle (WireFixtures.dbusv1LogDir): key kind alternates
    * by seq%2, same hashCode coercion arithmetic as [[MIXED]]. */
  private val V1ENV =
    """WITH base AS (SELECT *, CASE WHEN event_id % 2 = 1 AND user_id % 2 <> 0
      |  THEN 'u' || CAST(user_id % 1000 AS VARCHAR) || 'x' END AS odd_key FROM events),
      |envelope AS (SELECT event_id - event_id % 10 AS scn, event_id AS seq,
      | CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 3
      |   WHEN 'signup' THEN 4 WHEN 'error' THEN 5 ELSE -1 END AS source_id,
      | CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS opcode,
      | CASE WHEN event_id % 2 = 1 THEN coalesce(odd_key, CAST(user_id AS VARCHAR)) END AS key_string,
      | CAST(CASE WHEN odd_key IS NULL THEN user_id
      |   ELSE list_sum(list_transform(range(1, length(odd_key) + 1),
      |     i -> unicode(odd_key[i]) * CAST(round(31 ** (length(odd_key) - i)) AS BIGINT)))
      |   END AS BIGINT) AS key_long,
      | value FROM base)"""
      .stripMargin.replaceAll("\n", "")

  /** Per-source envelope totals: the DbusEventV2 roundtrip and its V1
    * down-conversion must both reproduce every field of the feed. */
  private val envelopeTotalsSql: String =
    s"$ENV SELECT source_id, count(*) AS n_events," +
      " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
      " min(scn) AS min_scn, max(scn) AS max_scn," +
      " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
      " min(seq) AS min_seq, max(seq) AS max_seq," +
      " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
      " max(ts_us) AS max_ts_us FROM envelope GROUP BY source_id"

  /** Per-type totals of the Avro renderings: binary and JSON encodings
    * must decode back to the same events. */
  private val dtailAvroSql: String =
    "SELECT event_type, count(*) AS n_events," +
      " CAST(sum(event_id) AS BIGINT) AS sum_ids," +
      " CAST(sum(user_id) AS BIGINT) AS sum_keys," +
      " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c" +
      " FROM events GROUP BY event_type"

  val defs: Seq[QueryDef] = Seq(
    // ---- S2/P13: envelope projection of the CDC feed ----
    QueryDef("q_envelope", (s, dir) => envCore(s, dir),
      oracle = envelopeSql),

    // ---- S7: deterministic synthetic generator (load harness) ----
    QueryDef("q_synthetic_feed", (s, dir) =>
      graft.sources.SyntheticFeed.generate(s, 10000)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          max(col("key_long")).as("max_key")),
      oracle = "SELECT CAST((seq * 2654435761) % 5 + 1 AS INT) AS source_id," +
        " count(*) AS n," +
        " CAST(sum(CASE WHEN (seq * 31) % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " max((seq * 1103515245 + 12345) % 1000) AS max_key" +
        " FROM range(0, 10000) t(seq) GROUP BY 1"),

    // ---- S1/J1: txlog capture join (source view ⋈ txlog tail) ----
    QueryDef("q_capture_txlog", (s, dir) => {
      val txlog = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("txn"), (col("o_orderkey") * 10).as("scn"),
          col("o_orderdate").as("ts"))
      val view = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("txn"), col("l_partkey"), col("l_quantity"))
      graft.sources.TxlogCapture.capture(view, txlog, sinceScn = 100000L)
        .select("txn", "scn", "l_partkey", "l_quantity")
    },
      oracle = "SELECT l_orderkey AS txn, o_orderkey * 10 AS scn, l_partkey, l_quantity" +
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
        " WHERE o_orderkey * 10 > 100000"),

    // ---- S1 LIVE form: the same capture against an actual JDBC database
    // (embedded Derby; the reference's sy$view ⋈ sy$txlog poll query with
    // scn > lastScn pushed into the database, split into 4 parallel scn
    // bands — OracleTxlogEventReader.java:613-704) ----
    QueryDef("q_capture_jdbc", (s, dir) => {
      val db = graft.sources.DerbyTxlogFixture.ensure(s, dir)
      graft.sources.JdbcTxlogCapture.read(s, db.url, db.viewTable,
          db.txlogTable, sinceScn = 100000L, numPartitions = 4)
        .select(col("txn"), col("scn"), col("l_partkey"), col("l_quantity"))
    },
      oracle = jdbcCaptureSql),

    // ---- P16: CRC stamp + validate (self-checking; no SQL oracle) ----
    QueryDef("q_crc_integrity", (s, dir) => {
      val schema = graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson
      val enc = graft.functions.AvroCodec.encodeEventPayload(schema)
      val stamped = graft.operators.Integrity.withCrc(
        ChangeFeed.raw(s, dir).withColumn("payload",
          enc(struct(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("props")))))
      // failure count rides the same plan as the per-type totals (one job,
      // one scan) instead of an eager side-job at query-construction time
      val bad = graft.operators.Integrity.validate(stamped)
        .agg(count(lit(1)).as("n_bad"))
      stamped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_valid"))
        .crossJoin(bad).where(col("n_bad") === 0).drop("n_bad")
    },
      // P16: every CRC validates, so per-type valid counts = raw counts
      oracle = "SELECT event_type, count(*) AS n_valid FROM events GROUP BY event_type"),

    // ---- P15: wire-payload gzip roundtrip (CompressUtil analog) — every
    // non-null payload must survive compress→uncompress bit-exactly ----
    QueryDef("q_gzip_roundtrip", (s, dir) => {
      val e = env(s, dir)
      val rt = graft.operators.Compression.gunzip(
        graft.operators.Compression.gzip(col("props").cast("binary")))
        .cast("string")
      e.select(col("source_id"), col("props"), rt.as("rt"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("props")).as("n_nonnull"),
          count(when(col("rt") <=> col("props") && col("rt").isNotNull,
            1)).as("n_match"))
    },
      oracle = "SELECT source_id, count(*) AS n_rows," +
        " count(props) AS n_nonnull, count(props) AS n_match" +
        " FROM (SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2" +
        " WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'error' THEN 5" +
        " ELSE -1 END AS source_id, props FROM events) b GROUP BY source_id"),

    // ---- capture-path band scan through the ImpliedScnBandPushdown rule:
    // scn is derived arithmetic on the raw feed, yet the implied event_id
    // bounds reach the parquet scan (PlansSpec asserts the pushed filters)
    QueryDef("q_capture_band", (s, dir) => {
      graft.plans.GraftRules.install(s)
      ChangeFeed.envelope(s, dir)
        .where(col("scn") > 300 && col("scn") <= 700)
        .select("scn", "seq", "ts_us", "source_id", "partition_id",
          "opcode", "key_long", "value")
    },
      oracle = s"$ENV SELECT * FROM envelope WHERE scn > 300 AND scn <= 700"),

    // ---- S5: GoldenGate trail parse → envelope (files rendered from the
    // events table, parsed back by the production StAX source) ----
    QueryDef("q_ggtrail_parse", (s, dir) => {
      val trail = graft.sources.GoldenGateTrail.read(
        s, graft.sources.WireFixtures.goldenGateTrailDir(s, dir))
      graft.sources.GoldenGateTrail.toEnvelope(trail, ChangeFeed.registry)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          countDistinct(col("key_long")).as("n_keys"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"))
    },
      oracle = trailTotalsSql),

    // ---- S3/S4: binlog dump parse → composite-SCN envelope ----
    QueryDef("q_binlog_parse", (s, dir) => {
      val recs = graft.sources.BinlogFeed.parseJsonLines(
        s, graft.sources.WireFixtures.binlogDumpDir(s, dir))
      graft.sources.BinlogFeed.toEnvelope(recs, ChangeFeed.registry)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
    },
      oracle = binlogParseSql),

    // ---- K4: dtail output formats as pure frames (DtailCliBase.java:
    // 34-60; the XxxDtailPrinter family). EVENT_INFO is plain string
    // arithmetic → hash-oracled line-for-line; JSON and AVRO_BIN are
    // proven by round-trip (parse/decode the rendered line back and
    // aggregate the typed fields against the envelope oracle) ----
    QueryDef("q_dtail_event_info", (s, dir) =>
      graft.streaming.Dtail.format(envCore(s, dir), "EVENT_INFO"),
      oracle = s"$ENV SELECT 'scn:' || scn || ' seq:' || seq || ' ts_us:' || ts_us" +
        " || ' src:' || source_id || ' part:' || partition_id" +
        " || ' op:' || opcode || ' key:' || key_long AS line FROM envelope"),

    QueryDef("q_dtail_json", (s, dir) => {
      val lineSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("scn", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source_id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("partition_id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("opcode", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("key_long", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      graft.streaming.Dtail.format(env(s, dir), "JSON")
        .select(from_json(col("line"), lineSchema).as("e"))
        .select(col("e.*"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("seq")).as("sum_seq"),
          sum(col("key_long")).as("sum_keys"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
          max(col("ts_us")).as("max_ts_us"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"))
    },
      oracle = s"$ENV SELECT source_id, count(*) AS n_events," +
        " CAST(sum(seq) AS BIGINT) AS sum_seq," +
        " CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(ts_us) AS max_ts_us," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes" +
        " FROM envelope GROUP BY source_id"),

    QueryDef("q_dtail_avro_bin", (s, dir) => {
      val dec = graft.functions.AvroCodec.decodeEventPayload(
        graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson)
      graft.streaming.Dtail.format(env(s, dir), "AVRO_BIN")
        .select(dec(unbase64(col("line"))).as("p"))
        .select(col("p.*"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"),
          sum(col("user_id")).as("sum_keys"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
    },
      oracle = dtailAvroSql),

    QueryDef("q_dtail_avro_json", (s, dir) => {
      val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      graft.streaming.Dtail.format(env(s, dir), "AVRO_JSON")
        .select(from_json(col("line"), payloadSchema).as("p"))
        .select(col("p.*"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"),
          sum(col("user_id")).as("sum_keys"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
    },
      oracle = dtailAvroSql),

    // ---- P13/J2: schema-by-digest decode of a mixed-version payload
    // column (even seq → v1 writer schema, odd → v2-with-extra-field);
    // reader = latest, so v1 rows resolve through Avro evolution ----
    QueryDef("q_decode_digest", (s, dir) => {
      val v1 = graft.model.VersionedSchemaSet.eventPayloadV1
      val v2 = graft.model.VersionedSchema("events", 2,
        v1.schemaJson.dropRight(2) +
          """,{"name":"extra","type":["string","null"],"default":"x"}]}""")
      val set = graft.model.VersionedSchemaSet(Seq(v1, v2))
      val encV1 = graft.functions.AvroCodec.encodeEventPayload(v1.schemaJson)
      val encV2 = graft.functions.AvroCodec.encodeEventPayload(v2.schemaJson)
      val payloadStruct = struct(
        col("seq").as("event_id"), col("key_long").as("user_id"),
        ChangeFeed.registry.nameCol(col("source_id")).as("event_type"),
        col("value"), col("props"))
      val mixed = env(s, dir).select(col("seq"),
        when(col("seq") % 2 === 0, encV1(payloadStruct))
          .otherwise(encV2(payloadStruct)).as("payload"),
        when(col("seq") % 2 === 0, lit(v1.digest))
          .otherwise(lit(v2.digest)).as("schema_id"))
      graft.functions.AvroCodec.decodeByDigest(mixed, set, "events")
        .groupBy(col("payload_rec.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("payload_rec.value") * 100).cast("long"))
            .as("sum_value_c"),
          max(col("payload_rec.event_id")).as("max_id"))
    },
      oracle = "SELECT event_type, count(*) AS n," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(event_id) AS max_id FROM events GROUP BY event_type"),

    // ---- S2 generic form: schema-WALKING payload codec over a second
    // registered source with a nested schema — every simple type the
    // reference factory supports (BOOLEAN, BYTES/BLOB, DOUBLE, FLOAT, INT,
    // LONG/TIMESTAMP-as-millis, STRING/CLOB with planted nulls through the
    // nullable union) plus ARRAY-of-RECORD, encoded → decoded → re-flattened
    // and verified field-by-field against the base tables ----
    QueryDef("q_decode_generic", (s, dir) => {
      val vs = graft.model.VersionedSchemaSet.orderWithItemsV1
      val items = tbl(s, dir, "lineitem")
        // same predicate as the orders side, stated where the scan can use
        // it — the collect_list agg then sees 1/5th of the fact rows
        .where(col("l_orderkey") % 5 === 0)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_returnflag")))).as("items"))
      val rec = tbl(s, dir, "orders")
        .where(col("o_orderkey") % 5 === 0)
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .select(struct(
          col("o_orderkey"),
          (col("o_totalprice") > 150000.0).as("o_urgent"),
          (col("o_orderkey") % 97).cast("int").as("o_bucket"),
          (col("o_totalprice") / 1000.0).cast("float").as("o_rate"),
          col("o_totalprice"),
          concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
            .cast("binary").as("o_blob"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")).as("o_clob"),
          // parquet dates are TIMESTAMP_NTZ; session TZ is pinned UTC, so
          // the cast matches DuckDB's epoch_ms over the naive timestamp
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("items")).as("rec"))
      val enc = graft.functions.GenericAvroCodec.encode(vs.schemaJson)
      val dec = graft.functions.GenericAvroCodec.decode(vs.schemaJson)
      rec.select(dec(enc(col("rec"))).as("r"))
        .select(col("r.o_orderkey").as("o_orderkey"),
          col("r.o_urgent").as("o_urgent"),
          col("r.o_bucket").as("o_bucket"),
          // float widens exactly to double; floor(×1e4) is deterministic on
          // both engines where round-half could straddle representations
          floor(col("r.o_rate").cast("double") * 10000).cast("long")
            .as("o_rate_e4"),
          round(col("r.o_totalprice") * 100).cast("long").as("price_c"),
          col("r.o_blob").cast("string").as("o_blob_text"),
          col("r.o_clob").as("o_clob"),
          col("r.o_date_ms").as("o_date_ms"),
          explode(col("r.items")).as("item"))
        .select(col("o_orderkey"), col("o_urgent"), col("o_bucket"),
          col("o_rate_e4"), col("price_c"), col("o_blob_text"), col("o_clob"),
          col("o_date_ms"), col("item.l_linenumber").as("l_linenumber"),
          col("item.l_quantity").as("l_quantity"),
          col("item.l_returnflag").as("l_returnflag"))
    },
      oracle = "SELECT o.o_orderkey, (o.o_totalprice > 150000.0) AS o_urgent," +
        " CAST(o.o_orderkey % 97 AS INTEGER) AS o_bucket," +
        " CAST(floor(CAST(CAST(o.o_totalprice / 1000.0 AS REAL) AS DOUBLE) * 10000) AS BIGINT) AS o_rate_e4," +
        " CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c," +
        " o.o_orderstatus || '|' || o.o_orderpriority AS o_blob_text," +
        " CASE WHEN o.o_orderkey % 7 = 0 THEN NULL ELSE o.o_orderpriority END AS o_clob," +
        " epoch_ms(o.o_orderdate) AS o_date_ms," +
        " l.l_linenumber, l.l_quantity, l.l_returnflag" +
        " FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey" +
        " WHERE o.o_orderkey % 5 = 0"),

    // ---- P14: V2→V1 envelope down-conversion (drop metadata shape, ms
    // timestamps — DbusEventV1.java:166-183 projection) ----
    QueryDef("q_to_v1", (s, dir) => Relay.toV1(envCore(s, dir)),
      oracle = s"$ENV SELECT scn, seq, ts_us // 1000 AS ts_ms, source_id," +
        " partition_id, opcode, key_long, value FROM envelope"),

    // ---- P13/§1.2: reference-layout DbusEventV2 envelope codec — encode
    // every event into the exact 45B-header binary format (magic, CRCs,
    // key, Avro payload part), decode it back, aggregate the recovered
    // fields. Hash-oracled: the wire format must be information-lossless.
    QueryDef("q_dbusv2_roundtrip", (s, dir) => {
      val wire = dbusV2Wire(s, dir)
      val dec = graft.functions.DbusV2.decodeUdf(col("wire"))
      val pdec = graft.functions.AvroCodec.decodeEventPayload(
        graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson)
      wire.select(dec.as("e"))
        .select(col("e.sequence").as("scn"), col("e.source_id"),
          col("e.partition_id"), col("e.opcode"), col("e.key_long"),
          expr("e.ts_ns div 1000").as("ts_us"),
          pdec(col("e.payload")).as("p"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"),
          min(col("p.event_id")).as("min_seq"),
          max(col("p.event_id")).as("max_seq"),
          sum(round(col("p.value") * 100).cast("long")).as("sum_value_c"),
          max(col("ts_us")).as("max_ts_us"))
    },
      oracle = envelopeTotalsSql),

    // ---- event-corruption detection (DbusEventCorrupter contract): flip
    // header-CRC / payload bytes on a deterministic subset, classify every
    // event by the validator's verdict — counts are exactly predictable.
    QueryDef("q_dbusv2_corruption", (s, dir) => {
      val corrupt = udf { (bytes: Array[Byte], seq: Long) =>
        val b = bytes.clone()
        if (seq % 17 == 0) graft.functions.DbusV2.toggleHeaderCrc(b)
        if (seq % 13 == 0) graft.functions.DbusV2.togglePayloadByte(b)
        b
      }
      val wire = dbusV2Wire(s, dir)
      wire.select(graft.functions.DbusV2.errorUdf(
          corrupt(col("wire"), col("seq"))).as("e"))
        .select(coalesce(col("e"), lit("ok")).as("err"))
        .groupBy(col("err")).agg(count(lit(1)).as("n"))
    },
      oracle = s"$ENV SELECT CASE WHEN seq % 17 = 0 THEN 'header_crc'" +
        " WHEN seq % 13 = 0 THEN 'body_crc' ELSE 'ok' END AS err," +
        " count(*) AS n FROM envelope GROUP BY 1"),

    // ---- §1.2 full key model: LONG | STRING | SCHEMA keys through the
    // wire segment log and the graft-relay DataSource (DbusEventKey.java:
    // 30-35). key_long carries the reference's numeric coercion for
    // string/schema keys (parse-as-long else Java String.hashCode,
    // KeyModFilter.java:55-70) — the oracle recomputes the hashCode
    // arithmetically, so the coercion itself is hash-verified. ----
    QueryDef("q_dbusv2_mixed_roundtrip", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
      log.groupBy(col("source_id"),
          when(col("key_string").isNotNull, "STRING")
            .when(col("key_schema").isNotNull, "SCHEMA")
            .otherwise("LONG").as("key_kind"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("key_long")).as("sum_keys"),
          min(col("key_string")).as("min_key_string"),
          max(col("key_string")).as("max_key_string"),
          coalesce(sum(length(col("key_schema"))), lit(0L)).as("sum_schema_len"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
          max(col("seq")).as("max_seq"))
    },
      oracle = s"$MIXED SELECT source_id," +
        " CASE WHEN key_string IS NOT NULL THEN 'STRING'" +
        " WHEN key_schema_str IS NOT NULL THEN 'SCHEMA' ELSE 'LONG' END AS key_kind," +
        " count(*) AS n_events, CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(key_string) AS min_key_string, max(key_string) AS max_key_string," +
        " CAST(coalesce(sum(length(key_schema_str)), 0) AS BIGINT) AS sum_schema_len," +
        " min(scn) AS min_scn, max(scn) AS max_scn," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(seq) AS max_seq FROM envelope GROUP BY 1, 2"),

    // ---- metadata DbusEventPart surfaced as an envelope column
    // (DbusEventPart.java:41; DbusEventAvroDecoder.getMetadata): user
    // metadata rides behind the engine's seq prefix and decodes back. ----
    QueryDef("q_dbusv2_metadata", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv2MixedLogDir(s, dir))
        .load()
      log.where(col("meta").isNotNull)
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_meta"),
          countDistinct(col("meta").cast("string")).as("n_distinct_meta"),
          min(col("meta").cast("string")).as("min_meta"),
          max(col("meta").cast("string")).as("max_meta"),
          sum(col("seq")).as("sum_seq"))
    },
      oracle = s"$ENV SELECT source_id, count(*) AS n_meta," +
        " count(DISTINCT 'm' || CAST(seq % 97 AS VARCHAR)) AS n_distinct_meta," +
        " min('m' || CAST(seq % 97 AS VARCHAR)) AS min_meta," +
        " max('m' || CAST(seq % 97 AS VARCHAR)) AS max_meta," +
        " CAST(sum(seq) AS BIGINT) AS sum_seq" +
        " FROM envelope WHERE seq % 5 = 0 GROUP BY source_id"),

    // ---- §1.2 legacy wire: DbusEventV1 exact binary layout
    // (DbusEventV1.java:166-183) through the segment log and the
    // graft-relay DataSource — per-event seq recovered from the payload
    // (V1 has no metadata part), string-key coercion hash-oracled. ----
    QueryDef("q_dbusv1_roundtrip", (s, dir) => {
      val log = s.read.format("graft-relay")
        .option("path", graft.sources.WireFixtures.dbusv1LogDir(s, dir))
        .load()
      log.groupBy(col("source_id"),
          when(col("key_string").isNotNull, "STRING")
            .otherwise("LONG").as("key_kind"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("key_long")).as("sum_keys"),
          min(col("key_string")).as("min_key_string"),
          max(col("key_string")).as("max_key_string"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c"),
          max(col("seq")).as("max_seq"))
    },
      oracle = s"$V1ENV SELECT source_id," +
        " CASE WHEN key_string IS NOT NULL THEN 'STRING' ELSE 'LONG' END AS key_kind," +
        " count(*) AS n_events, CAST(sum(key_long) AS BIGINT) AS sum_keys," +
        " min(key_string) AS min_key_string, max(key_string) AS max_key_string," +
        " min(scn) AS min_scn, max(scn) AS max_scn," +
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c," +
        " max(seq) AS max_seq FROM envelope GROUP BY 1, 2"),

    // ---- version negotiation: the `/stream` max-event-version=1 serve
    // path (ReadEventsRequestProcessor.java:125-128) — V2 wire events
    // down-converted to exact V1 wire bytes
    // (DbusEventBuffer.convertToDifferentVersion:2411-2416), decoded
    // back as V1, payload resolved; must reproduce the V2 roundtrip. ----
    QueryDef("q_serve_v1_downconvert", (s, dir) => {
      val wire = dbusV2Wire(s, dir)
      val dec = graft.functions.DbusV1.decodeUdf(
        graft.functions.DbusV1.downConvertUdf(col("wire")))
      val pdec = graft.functions.AvroCodec.decodeEventPayload(
        graft.model.VersionedSchemaSet.eventPayloadV1.schemaJson)
      wire.select(dec.as("e"))
        .select(col("e.sequence").as("scn"), col("e.source_id"),
          col("e.opcode"), col("e.key_long"),
          expr("e.ts_ns div 1000").as("ts_us"),
          pdec(col("e.payload")).as("p"))
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("opcode") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
          min(col("scn")).as("min_scn"), max(col("scn")).as("max_scn"),
          sum(col("key_long")).as("sum_keys"),
          min(col("p.event_id")).as("min_seq"),
          max(col("p.event_id")).as("max_seq"),
          sum(round(col("p.value") * 100).cast("long")).as("sum_value_c"),
          max(col("ts_us")).as("max_ts_us"))
    },
      oracle = envelopeTotalsSql)
  )
}
