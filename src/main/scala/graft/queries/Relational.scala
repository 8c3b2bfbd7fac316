package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Relational surface: the TPC-H shapes (aggregation, joins, bucketed
  * joins, top-k) and the generic analytic operators (sessionization, as-of
  * join, rollup, approximate and salted distinct, windowed stats). */
object RelationalQueries extends QueryFamily {

  /** Q5-shape oracle — shared by the plain and bucketed variants. */
  private lazy val oracleSqlQ5: String =
    ("SELECT n_name," +
      " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4" +
      " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      " JOIN supplier ON l_suppkey = s_suppkey" +
      " JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey" +
      " JOIN nation ON s_nationkey = n_nationkey" +
      " JOIN region ON n_regionkey = r_regionkey" +
      " WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'" +
      " AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY n_name")

  /** Q3-shape oracle — shared by the plain and bucketed variants (identical
    * semantics; the bucketed query differs only in physical layout). */
  private lazy val oracleSqlQ3: String =
    ("SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate," +
      " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4" +
      " FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      " JOIN customer ON o_custkey = c_custkey" +
      " WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'" +
      " AND l_shipdate > TIMESTAMP '1998-01-01'" +
      " GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')")

  val defs: Seq[QueryDef] = Seq(
    // ---- engine query surface: aggregation (TPC-H Q1 shape). Money is
    // summed in exact integer cents (prices/discounts are 2-decimal), so
    // results are bit-identical across engines regardless of summation
    // order — the right discipline for distributed sums generally. ----
    QueryDef("q1_agg", (s, dir) => {
      val priceC = round(col("l_extendedprice") * 100).cast("long")
      val discBp = round(col("l_discount") * 100).cast("long")
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(priceC).as("sum_base_price_c"),
          sum(priceC * (lit(100L) - discBp)).as("sum_disc_price_c4"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sum(discBp).cast("double") / (count(lit(1)) * 100).cast("double"))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      oracle = "SELECT l_returnflag, l_linestatus," +
        " CAST(sum(l_quantity) AS BIGINT) AS sum_qty," +
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c," +
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_c4," +
        " sum(l_quantity) / count(*) AS avg_qty," +
        " CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / CAST(count(*) * 100 AS DOUBLE) AS avg_disc," +
        " count(*) AS count_order FROM lineitem" +
        " WHERE l_shipdate <= TIMESTAMP '2001-09-01' GROUP BY l_returnflag, l_linestatus"),

    // ---- engine query surface: selective 3-way join (TPC-H Q3 shape) ----
    QueryDef("q3_join", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      val revC4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(revC4).as("revenue_c4"))
    },
      oracle = oracleSqlQ3),

    // ---- same Q3 semantics on bucketed tables: lineitem⋈orders hash-
    // clustered on orderkey at write time → the fact-fact join runs with
    // no exchange on either side (the co-located layout for the hottest
    // join edge at 100 TB); dims still broadcast ----
    QueryDef("q3_join_bucketed", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val o = graft.sources.Store.bucketedTable(s, dir, "orders", "o_orderkey", 8)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = graft.sources.Store.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      val revC4 = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      // merge-hinted so the co-located path is what actually runs (at this
      // SF AQE would otherwise pick broadcast and never exercise it):
      // SortMergeJoin over matching bucket specs = no exchange, no sort
      l.hint("merge").join(o.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(revC4).as("revenue_c4"))
    },
      oracle = oracleSqlQ3),

    // ---- engine query surface: snowflake join (TPC-H Q5 shape). The
    // fact tables read from the orderkey-bucketed layout BY DEFAULT (the
    // co-located layout a 100 TB deployment maintains for its hottest
    // join edge): when the optimizer picks SMJ for l⋈o, matching bucket
    // specs make it exchange-free; at tiny SF, AQE is free to broadcast
    // the filtered orders side instead — also shuffle-free. The
    // merge-hinted twin below pins the SMJ path so both plans stay
    // exercised. ----
    QueryDef("q5_join", (s, dir) => {
      val r = s.read.parquet(s"$dir/region.parquet").where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val su = s.read.parquet(s"$dir/supplier.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = graft.sources.Store.bucketedTable(s, dir, "orders", "o_orderkey", 8)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = graft.sources.Store.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"))
    },
      oracle = oracleSqlQ5),

    // ---- Q5 on the bucketed layout: the fact-fact edge (l⋈o on
    // orderkey) runs exchange-free over co-located buckets; dims still
    // broadcast — the same discipline as q3_join_bucketed on the
    // snowflake shape ----
    QueryDef("q5_join_bucketed", (s, dir) => {
      val r = s.read.parquet(s"$dir/region.parquet").where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val su = s.read.parquet(s"$dir/supplier.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = graft.sources.Store.bucketedTable(s, dir, "orders", "o_orderkey", 8)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = graft.sources.Store.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
      l.hint("merge").join(o.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"))
    },
      oracle = oracleSqlQ5),

    // ---- engine query surface: per-group top-k window ----
    QueryDef("q_topk_orders", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"), col("o_totalprice"))
    },
      oracle = "SELECT o_custkey, o_orderkey, rk, o_totalprice FROM (SELECT o_custkey," +
        " o_orderkey, o_totalprice, CAST(row_number() OVER (PARTITION BY o_custkey" +
        " ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk FROM orders)" +
        " WHERE rk <= 3"),

    // ---- engine query surface: TPC-H Q18 shape (large-volume orders) —
    // agg-then-semi-join: the qualifying key set comes out of a grouped
    // HAVING and re-joins the facts. AQE broadcasts the (small) qualifying
    // set into the fact join; the heavy groupBy gets map-side combine ----
    QueryDef("q18_large_orders", (s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val qualifying = l.groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 250L)
      tbl(s, dir, "orders")
        .join(qualifying, col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("totalprice_c"),
          col("sum_qty"))
    },
      oracle = "WITH q AS (SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty" +
        " FROM lineitem GROUP BY 1 HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250)" +
        " SELECT c_custkey, c_name, o_orderkey," +
        " strftime(o_orderdate, '%Y-%m-%d') AS orderdate," +
        " CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_c, sum_qty" +
        " FROM orders JOIN q ON o_orderkey = l_orderkey" +
        " JOIN customer ON o_custkey = c_custkey"),

    // ---- stateful analytics: gap sessionization ----
    QueryDef("q_sessionize", (s, dir) =>
      Sessions.sessionSummary(
        envCore(s, dir).select("key_long", "ts_us"),
        keyCol = "key_long", tsCol = "ts_us", gap = 4L * 3600L * 1000000L),
      oracle = s"$ENV SELECT key_long, session_seq, min(ts_us) AS session_start," +
        " max(ts_us) AS session_end, count(*) AS n_events FROM" +
        " (SELECT key_long, ts_us, CAST(sum(new_session) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM" +
        " (SELECT key_long, ts_us, CASE WHEN ts_us - lag(ts_us, 1) OVER" +
        " (PARTITION BY key_long ORDER BY ts_us) > 14400000000 THEN 1 ELSE 0 END AS new_session" +
        " FROM envelope)) GROUP BY key_long, session_seq"),

    // ---- as-of join: latest purchase at-or-before each event ----
    QueryDef("q_asof_join", (s, dir) => {
      val env = envCore(s, dir)
      AsOfJoin.asofBackward(
        probe = env.select("seq", "key_long"),
        build = env.where(col("source_id") === 3)
          .select(col("key_long"), col("seq").as("pseq")),
        keyCol = "key_long", probeTs = "seq", buildTs = "pseq",
        asofCols = Seq("pseq"))
        .select(col("seq"), col("key_long"), col("asof_pseq"))
    },
      oracle = s"$ENV SELECT a.seq, a.key_long, b.pseq AS asof_pseq FROM" +
        " (SELECT seq, key_long FROM envelope) a ASOF LEFT JOIN" +
        " (SELECT key_long, seq AS pseq FROM envelope WHERE source_id = 3) b" +
        " ON a.key_long = b.key_long AND a.seq >= b.pseq"),

    // ---- grouping sets: rollup aggregation ----
    QueryDef("q_rollup", (s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c")),
      oracle = "SELECT l_returnflag, l_linestatus, count(*) AS n," +
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c" +
        " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),

    // ---- sketch aggregates: HLL distinct (approximate; rows-only) ----
    // HLL++ estimates aren't SQL-reproducible across engines, but the
    // error CONTRACT is: emit the exact count plus a bound check (3× the
    // default 5% rsd), so the driver hash-verifies the approximation is
    // within its advertised envelope instead of a rows-only count
    QueryDef("q_hll_distinct", (s, dir) =>
      envCore(s, dir).groupBy(col("source_id"))
        .agg(approx_count_distinct(col("key_long")).as("approx"),
          countDistinct(col("key_long")).as("exact_keys"))
        .select(col("source_id"), col("exact_keys"),
          (abs(col("approx") - col("exact_keys")) <=
            greatest(lit(1L), (col("exact_keys") * 0.15).cast("long")))
            .as("within_bound")),
      oracle = s"$ENV SELECT source_id, count(DISTINCT key_long) AS exact_keys," +
        " TRUE AS within_bound FROM envelope GROUP BY source_id"),

    // ---- skew discipline: per-source exact distinct keys via value-space
    // salting (hot group's state splits across slices; equals countDistinct)
    QueryDef("q_salted_distinct", (s, dir) =>
      Skew.saltedDistinctCount(envCore(s, dir), "source_id", "key_long", 8)
        .select(col("source_id"), col("distinct_count")),
      oracle = s"$ENV SELECT source_id, count(DISTINCT key_long) AS distinct_count" +
        " FROM envelope GROUP BY source_id"),

    // ---- streaming analytics: event-time tumbling-window stats (the
    // watermark op; batch form checked here, stream form in StreamingSpec)
    QueryDef("q_windowed_stats", (s, dir) =>
      graft.streaming.RelayStream.windowedStats(envCore(s, dir), "1 minute")
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("source_id"), col("n_events"), col("n_deletes"),
          col("min_scn"), col("max_scn")),
      oracle = s"$ENV SELECT (ts_us // 60000000) * 60000000 AS win_start_us," +
        " source_id, count(*) AS n_events," +
        " CAST(sum(CASE WHEN opcode = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes," +
        " min(scn) AS min_scn, max(scn) AS max_scn" +
        " FROM envelope GROUP BY 1, 2")
  )
}
