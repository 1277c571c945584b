package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.DataFusionProto
import Q._

/** Round-9 additions: the datafusion-proto BINARY wire extended past the
  * single-input core — JoinNode(7), WindowNode(13), CrossJoinNode(15),
  * UnionNode(19), SubqueryAliasNode(21), DistinctNode(23) per
  * datafusion/proto-models/proto/datafusion.proto:37-57. Each entry emits
  * a plan to LogicalPlanNode bytes, consumes it back, EXECUTES the
  * consumed form, and checks the rows against the DuckDB oracle — a wrong
  * field number, join-key orientation, or frame bound breaks the hash.
  */
object Round9Queries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // TPC-H q3-shaped multi-join over the wire: two JoinNodes (equi keys
    // split from the condition), filters, aggregate, sort, limit. Ordered
    // by the unique group key so the limit is deterministic on both sides.
    "dfproto_join_roundtrip" -> { (s, dir) =>
      val cut = java.sql.Timestamp.valueOf("1998-03-15 00:00:00")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === lit("BUILDING"))
        .select(col("c_custkey"))
      val ords = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit(cut))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit(cut))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val plan = li
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("l_orderkey"))
        .limit(100)
      val bytes = DataFusionProto.emit(plan)
      val back = DataFusionProto.consume(s, bytes, name =>
        if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
        else None)
      back.select(col("l_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"), r2(col("revenue")).as("revenue"))
    },

    // Window + union + distinct + subquery-alias over the wire: top-2
    // orders per customer via row_number (udwf, ROWS frame) plus a running
    // average (udaf over an explicit frame), the selection unioned with
    // itself and re-deduplicated (UnionNode + DistinctNode), under a
    // SubqueryAliasNode. (custkey, rk) is unique → deterministic limit.
    "dfproto_window_roundtrip" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .filter(col("o_totalprice") > lit(150000.0))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val spec = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val win = base
        .withColumn("rk", row_number().over(spec))
        .withColumn("running", avg(col("o_totalprice")).over(
          spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sel = win.alias("w")
        .filter(col("rk") <= lit(2))
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("running"))
      val plan = sel.union(sel).distinct()
        .orderBy(col("o_custkey"), col("rk"))
        .limit(200)
      val bytes = DataFusionProto.emit(plan)
      val back = DataFusionProto.consume(s, bytes, name =>
        if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
        else None)
      back.select(col("o_custkey"), col("rk").cast("long").as("rk"),
        col("o_orderkey"), r2(col("running")).as("running"))
    },

    // Time64(ns) / Duration-ns layer (r9, SURVEY §1.2 addendum): TIME-of-
    // day ± duration WRAPS through the day window at full ns precision
    // (graft_time_ns/_format + floor-mod), MonthDayNano shifts apply
    // calendar months then fixed day/ns counts (graft_ns_shift), and
    // Duration(ns) renders in the arrow 4-component form
    // (graft_dur_render). The oracle reproduces every string with DuckDB
    // integer arithmetic — a wrap, carry, or trim bug breaks the hash.
    "fn_time_ns2" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          expr("""graft_time_ns_format(
            pmod((o_orderkey * 7919000037) % 86400000000000
               + (o_orderkey * 1000999) % 10000000000 + 7, 86400000000000))""")
            .as("t_plus"),
          expr("""graft_time_ns_format(
            pmod((o_orderkey * 7919000037) % 86400000000000
               - ((o_orderkey * 1000999) % 10000000000 + 7), 86400000000000))""")
            .as("t_minus"),
          expr("""graft_ns_shift(
            concat(date_format(o_orderdate, 'yyyy-MM-dd'), 'T00:00:00.',
              lpad(CAST((o_orderkey * 7919) % 1000000000 AS STRING), 9, '0')),
            1, 2, (o_orderkey * 1000999) % 10000000000 + 7, 1)""")
            .as("ts_shift"),
          expr("""graft_dur_render(
            (o_orderkey % 7 - 3) * 86400000000000
            + (o_orderkey * 7919) % 1000000000)""")
            .as("dur_txt"))
    },

    // arrow_typeof (r9): resolved-type introspection over real fixture
    // expressions — the names must match arrow's short Debug form exactly
    // (reference: functions/src/core/arrowtypeof.rs; the slt corpus is
    // the breadth evidence, this entry is the engine-surface proof)
    "fn_arrow_typeof" -> { (s, dir) =>
      val ctx = graft.DFContext(s)
      ctx.registerAll(dir)
      s.sql("""SELECT o_orderkey,
        | arrow_typeof(o_orderkey) AS t_key,
        | arrow_typeof(o_totalprice) AS t_price,
        | arrow_typeof(o_orderpriority) AS t_prio,
        | arrow_typeof(o_orderdate) AS t_date,
        | arrow_typeof(CAST(o_totalprice AS DECIMAL(12, 2))) AS t_dec,
        | arrow_typeof(o_orderkey > 5) AS t_bool,
        | arrow_typeof(array(o_orderkey)) AS t_arr,
        | arrow_typeof(named_struct('k', o_orderkey)) AS t_struct
        |FROM orders WHERE o_orderkey <= 100""".stripMargin)
    })

  val oracleSql: Map[String, String] = Map(
    "dfproto_join_roundtrip" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | o_orderpriority,
        | floor((sum(l_extendedprice * (1.0 - l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem, orders, customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_orderkey = o_orderkey
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY l_orderkey LIMIT 100""".stripMargin,
    "dfproto_window_roundtrip" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |    avg(o_totalprice) OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM orders WHERE o_totalprice > 150000.0)
        |SELECT DISTINCT o_custkey, rk, o_orderkey,
        |  floor((running + 1.37e-4) * 100 + 0.5) / 100 AS running
        |FROM w WHERE rk <= 2
        |ORDER BY o_custkey, rk LIMIT 200""".stripMargin,
    "fn_time_ns2" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    (o_orderkey * 7919000037) % 86400000000000 AS tod,
        |    (o_orderkey * 1000999) % 10000000000 + 7 AS dur,
        |    (o_orderkey * 7919) % 1000000000 AS frac,
        |    ((o_orderkey % 7 - 3) * 86400000000000
        |      + (o_orderkey * 7919) % 1000000000) AS dns,
        |    CAST(o_orderdate AS DATE) AS od
        |  FROM orders WHERE o_orderkey <= 500),
        |c AS (
        |  SELECT o_orderkey, dur, frac, dns,
        |    ((tod + dur) % 86400000000000 + 86400000000000) % 86400000000000 AS fw,
        |    ((tod - dur) % 86400000000000 + 86400000000000) % 86400000000000 AS bw,
        |    CAST(epoch(CAST(od + INTERVAL 1 MONTH AS TIMESTAMP)) AS BIGINT)
        |      * 1000000000 + frac + 2 * 86400000000000 + dur AS sh
        |  FROM b),
        |r AS (
        |  SELECT o_orderkey, fw, bw, sh, dns,
        |    fw % 1000000000 AS ff, bw % 1000000000 AS bf, sh % 1000000000 AS sf,
        |    abs(dns) AS adns
        |  FROM c)
        |SELECT o_orderkey,
        |  lpad(CAST(fw // 3600000000000 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(fw // 60000000000 % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(fw // 1000000000 % 60 AS VARCHAR), 2, '0') ||
        |  CASE WHEN ff = 0 THEN ''
        |       WHEN ff % 1000000 = 0 THEN '.' || lpad(CAST(ff // 1000000 AS VARCHAR), 3, '0')
        |       WHEN ff % 1000 = 0 THEN '.' || lpad(CAST(ff // 1000 AS VARCHAR), 6, '0')
        |       ELSE '.' || lpad(CAST(ff AS VARCHAR), 9, '0') END AS t_plus,
        |  lpad(CAST(bw // 3600000000000 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(bw // 60000000000 % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(bw // 1000000000 % 60 AS VARCHAR), 2, '0') ||
        |  CASE WHEN bf = 0 THEN ''
        |       WHEN bf % 1000000 = 0 THEN '.' || lpad(CAST(bf // 1000000 AS VARCHAR), 3, '0')
        |       WHEN bf % 1000 = 0 THEN '.' || lpad(CAST(bf // 1000 AS VARCHAR), 6, '0')
        |       ELSE '.' || lpad(CAST(bf AS VARCHAR), 9, '0') END AS t_minus,
        |  strftime(make_timestamp((sh - sf) // 1000), '%Y-%m-%dT%H:%M:%S') ||
        |  CASE WHEN sf = 0 THEN ''
        |       WHEN sf % 1000000 = 0 THEN '.' || lpad(CAST(sf // 1000000 AS VARCHAR), 3, '0')
        |       WHEN sf % 1000 = 0 THEN '.' || lpad(CAST(sf // 1000 AS VARCHAR), 6, '0')
        |       ELSE '.' || lpad(CAST(sf AS VARCHAR), 9, '0') END AS ts_shift,
        |  CASE WHEN dns < 0 THEN '-' ELSE '' END || CAST(adns // 86400000000000 AS VARCHAR) || ' days ' ||
        |  CASE WHEN dns < 0 THEN '-' ELSE '' END || CAST(adns // 3600000000000 % 24 AS VARCHAR) || ' hours ' ||
        |  CASE WHEN dns < 0 THEN '-' ELSE '' END || CAST(adns // 60000000000 % 60 AS VARCHAR) || ' mins ' ||
        |  CASE WHEN dns < 0 THEN '-' ELSE '' END || CAST(adns // 1000000000 % 60 AS VARCHAR) || '.' ||
        |  lpad(CAST(adns % 1000000000 AS VARCHAR), 9, '0') || ' secs' AS dur_txt
        |FROM r""".stripMargin,
    "fn_arrow_typeof" ->
      """SELECT o_orderkey,
        | 'Int64' AS t_key,
        | 'Float64' AS t_price,
        | 'Utf8' AS t_prio,
        | 'Timestamp(µs)' AS t_date,
        | 'Decimal128(12, 2)' AS t_dec,
        | 'Boolean' AS t_bool,
        | 'List(Int64)' AS t_arr,
        | 'Struct("k": Int64)' AS t_struct
        |FROM orders WHERE o_orderkey <= 100""".stripMargin)
}
