package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import Q._

/** Aggregate-function inventory (SURVEY.md §2.4).
  *
  * Mirrors the reference's functions-aggregate crate
  * (datafusion/functions-aggregate/src/ — count, sum, avg, min/max, median,
  * percentiles, stddev/variance, covariance/correlation, regr_*,
  * first/last/nth, array_agg, string_agg, bit_and/or/xor, bool_and/or,
  * any_value, grouping) plus GROUPING SETS / ROLLUP / CUBE
  * (resolve_grouping_function.rs) — all on Spark builtins, which plan
  * partial+final hash aggregation with map-side combine automatically.
  */
object AggQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // Statistical aggregates: stddev/variance/corr/covariance.
    "agg_stats" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          r2(stddev_samp(col("l_extendedprice"))).as("sd_price"),
          r2(stddev_pop(col("l_extendedprice"))).as("sdp_price"),
          r4(var_samp(col("l_quantity"))).as("var_qty"),
          r4(var_pop(col("l_quantity"))).as("varp_qty"),
          r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          r2(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covs_qp"),
          r2(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("covp_qp"))
    },

    // Linear-regression aggregates (reference: functions-aggregate/src/regr.rs).
    "agg_regr" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          r6(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
          r2(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("intercept"),
          r6(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          r4(regr_avgx(col("l_extendedprice"), col("l_quantity"))).as("avgx"),
          r4(regr_avgy(col("l_extendedprice"), col("l_quantity"))).as("avgy"))
    },

    // Exact median + interpolated percentiles (reference: median.rs,
    // percentile_cont — our quantiles are exact, not sketches).
    "agg_median_pct" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          r4(median(col("o_totalprice"))).as("med_price"),
          r4(percentile(col("o_totalprice"), lit(0.25))).as("p25"),
          r4(percentile(col("o_totalprice"), lit(0.9))).as("p90"))
    },

    // min/max over numerics, strings and timestamps; count distinct.
    "agg_minmax_countd" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          r2(min(col("o_totalprice"))).as("min_price"),
          r2(max(col("o_totalprice"))).as("max_price"),
          min(col("o_orderpriority")).as("min_prio"),
          max(col("o_orderpriority")).as("max_prio"),
          min(col("o_orderdate")).cast("date").as("min_date"),
          max(col("o_orderdate")).cast("date").as("max_date"),
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"))
    },

    // min_by/max_by (reference: first_last.rs / min_max).
    "agg_minby_maxby" -> { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
        .agg(
          max_by(col("c_custkey"), col("c_acctbal")).as("richest"),
          min_by(col("c_custkey"), col("c_acctbal")).as("poorest"),
          r2(max(col("c_acctbal"))).as("max_bal"))
    },

    // array_agg with deterministic ORDER BY, serialized to string
    // (reference: array_agg.rs; order-sensitive variant).
    "agg_arrayagg" -> { (s, dir) =>
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("s_suppkey")))).as("suppkeys"),
          count(lit(1)).as("n"))
    },

    // string_agg with ORDER BY (reference: string_agg.rs).
    "agg_stringagg" -> { (s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(concat_ws("|", sort_array(collect_list(col("n_name")))).as("names"))
    },

    // bit_and/or/xor + bool_and/or + any_value (deterministic: constant per group).
    "agg_bit_bool" -> { (s, dir) =>
      t(s, dir, "part")
        .groupBy("p_brand")
        .agg(
          bit_and(col("p_size").cast("long")).as("band"),
          bit_or(col("p_size").cast("long")).as("bor"),
          bit_xor(col("p_size").cast("long")).as("bxor"),
          bool_and(col("p_size") > 0).as("all_pos"),
          bool_or(col("p_size") > 45).as("any_big"),
          any_value(substring(col("p_brand"), 1, 5)).as("brand_prefix"))
    },

    // DISTINCT aggregates mixed with plain ones
    // (reference: optimizer/src/single_distinct_to_groupby.rs).
    "agg_distinct_mixed" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          sum_distinct(col("l_quantity")).cast("double").as("sum_d_qty"),
          count(lit(1)).as("n"))
        .withColumn("sum_d_qty", r2(col("sum_d_qty")))
    },

    // ROLLUP (reference: PhysicalGroupBy null-expansion, aggregates/mod.rs:411).
    "agg_rollup" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("qty"))
    },

    // CUBE.
    "agg_cube" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
    },

    // GROUPING SETS with grouping() marker
    // (reference: optimizer/src/analyzer/resolve_grouping_function.rs).
    "agg_groupingsets" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      """)
    },

    // HAVING over aggregates.
    "agg_having" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_extendedprice"))).as("total"))
        .filter(col("n") > 550)
    },

    // Histogram via width_bucket over a fixed range.
    "agg_histogram" -> { (s, dir) =>
      t(s, dir, "customer")
        .withColumn("bucket", width_bucket(col("c_acctbal"), lit(-1000.0), lit(10000.0), lit(11)))
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), r2(avg(col("c_acctbal"))).as("avg_bal"))
    },

    // Approximate distinct (HLL) — engine-specific sketch, so no SQL oracle;
    // driver records a rows-only check. Reference: approx_distinct.rs (HLL).
    // HLL sketch values are engine-specific, but the HLL++ error bound is
    // not: default rsd 0.05 → |approx-exact|/exact ≤ 0.15 (3σ) always holds.
    // Emitting the bound as a boolean makes the sketch hash-checkable
    // against an oracle that asserts `true` (reference publishes the same
    // bound: functions-aggregate/src/hyperloglog.rs).
    "agg_approx_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey")).as("approx"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx") - col("exact_orders")).cast("double") /
            col("exact_orders") <= 0.15).as("err_ok"))
    })

  val oracleSql: Map[String, String] = Map(
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | true AS err_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag,
        | floor((stddev_samp(l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS sd_price,
        | floor((stddev_pop(l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS sdp_price,
        | floor((var_samp(l_quantity) + 1.37e-6) * 10000 + 0.5) / 10000 AS var_qty,
        | floor((var_pop(l_quantity) + 1.37e-6) * 10000 + 0.5) / 10000 AS varp_qty,
        | floor((corr(l_quantity, l_extendedprice) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS corr_qp,
        | floor((covar_samp(l_quantity, l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS covs_qp,
        | floor((covar_pop(l_quantity, l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS covp_qp
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_regr" ->
      """SELECT l_linestatus,
        | floor((regr_slope(l_extendedprice, l_quantity) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS slope,
        | floor((regr_intercept(l_extendedprice, l_quantity) + 1.37e-4) * 100 + 0.5) / 100 AS intercept,
        | floor((regr_r2(l_extendedprice, l_quantity) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS r2,
        | CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        | floor((regr_avgx(l_extendedprice, l_quantity) + 1.37e-6) * 10000 + 0.5) / 10000 AS avgx,
        | floor((regr_avgy(l_extendedprice, l_quantity) + 1.37e-6) * 10000 + 0.5) / 10000 AS avgy
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "agg_median_pct" ->
      """SELECT o_orderpriority,
        | floor((median(o_totalprice) + 1.37e-6) * 10000 + 0.5) / 10000 AS med_price,
        | floor((quantile_cont(o_totalprice, 0.25) + 1.37e-6) * 10000 + 0.5) / 10000 AS p25,
        | floor((quantile_cont(o_totalprice, 0.9) + 1.37e-6) * 10000 + 0.5) / 10000 AS p90
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "agg_minmax_countd" ->
      """SELECT o_orderstatus,
        | floor((min(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS min_price,
        | floor((max(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS max_price,
        | min(o_orderpriority) AS min_prio,
        | max(o_orderpriority) AS max_prio,
        | CAST(min(o_orderdate) AS DATE) AS min_date,
        | CAST(max(o_orderdate) AS DATE) AS max_date,
        | count(DISTINCT o_custkey) AS n_cust,
        | count(DISTINCT o_orderpriority) AS n_prio
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "agg_minby_maxby" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | max_by(c_custkey, c_acctbal) AS richest,
        | min_by(c_custkey, c_acctbal) AS poorest,
        | floor((max(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS max_bal
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "agg_arrayagg" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        | array_to_string(list_sort(list(s_suppkey)), ',') AS suppkeys,
        | count(*) AS n
        |FROM supplier GROUP BY s_nationkey""".stripMargin,

    "agg_stringagg" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        | string_agg(n_name, '|' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "agg_bit_bool" ->
      """SELECT p_brand,
        | CAST(bit_and(CAST(p_size AS BIGINT)) AS BIGINT) AS band,
        | CAST(bit_or(CAST(p_size AS BIGINT)) AS BIGINT) AS bor,
        | CAST(bit_xor(CAST(p_size AS BIGINT)) AS BIGINT) AS bxor,
        | bool_and(p_size > 0) AS all_pos,
        | bool_or(p_size > 45) AS any_big,
        | substr(p_brand, 1, 5) AS brand_prefix
        |FROM part GROUP BY p_brand""".stripMargin,

    "agg_distinct_mixed" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_suppkey) AS n_supp,
        | floor((CAST(sum(DISTINCT l_quantity) AS DOUBLE) + 1.37e-4) * 100 + 0.5) / 100 AS sum_d_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | floor((sum(l_quantity) + 1.37e-4) * 100 + 0.5) / 100 AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "agg_groupingsets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        | CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(CASE WHEN c_acctbal < -1000.0 THEN 0
        |       WHEN c_acctbal >= 10000.0 THEN 12
        |       ELSE floor((c_acctbal - (-1000.0)) / (10000.0 - (-1000.0)) * 11) + 1 END AS BIGINT) AS bucket,
        | count(*) AS n,
        | floor((avg(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin,

    "agg_having" ->
      """SELECT l_suppkey, count(*) AS n, floor((sum(l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM lineitem GROUP BY l_suppkey HAVING count(*) > 550""".stripMargin)
}
