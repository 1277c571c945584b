package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import Q._

/** Second scalar-function batch: maps, JSON, intervals/try-casts, mark-join
  * (EXISTS inside a disjunction), approximate percentiles.
  *
  * Reference: functions-nested/src/map*.rs (map fns), spark-compat crate
  * json_tuple (spark/src/function/json/json_tuple.rs), TryCast
  * (expr/src/expr.rs:367-370 Cast/TryCast), LeftMark join type
  * (common/src/join_type.rs:34-74 — mark joins decorrelate EXISTS in
  * disjunctions), approx_percentile_cont (t-digest,
  * functions-aggregate/src/approx_percentile_cont.rs).
  */
object FunctionQueries2 extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // Map construction + access (reference: functions-nested/src/map*.rs).
    "fn_map" -> { (s, dir) =>
      t(s, dir, "region")
        .withColumn("m", map(
          lit("key"), col("r_regionkey").cast("string"),
          lit("name"), col("r_name")))
        .select(
          col("r_regionkey").cast("long").as("r_regionkey"),
          element_at(col("m"), "name").as("name_v"),
          map_keys(col("m")).getItem(0).as("first_key"),
          size(map_keys(col("m"))).cast("long").as("n_keys"),
          concat_ws(",", map_values(col("m"))).as("vals"),
          map_contains_key(col("m"), "key").as("has_key"))
    },

    // JSON parsing: from_json with schema + get_json_object + json_tuple.
    "fn_json" -> { (s, dir) =>
      val schema = StructType(Seq(StructField("k", LongType)))
      t(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(
          col("event_id"),
          from_json(col("props"), schema).getField("k").as("k_parsed"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          json_tuple(col("props"), "k").as("k_tuple_s"))
        .select(col("event_id"), col("k_parsed"), col("k_path"),
          col("k_tuple_s").cast("long").as("k_tuple"))
    },

    // Interval arithmetic + try_cast/try_divide (ANSI-safe variants).
    "fn_interval" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(
          col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).cast("date").as("plus3d"),
          (col("o_orderdate") - expr("INTERVAL 2 MONTHS")).cast("date").as("minus2mo"),
          (col("o_orderdate") + expr("INTERVAL '1 12:30:00' DAY TO SECOND")).cast("date").as("plus36h"),
          try_element_at(split(col("o_orderpriority"), "-"), lit(2)).as("prio_word"),
          expr("try_cast(o_orderpriority AS INT)").as("bad_cast"),
          expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").cast("long").as("prio_num"),
          try_divide(col("o_totalprice"), col("o_orderkey") % 3).as("risky_div"))
        .withColumn("risky_div", r2(col("risky_div")))
    },

    // EXISTS inside a disjunction — planned as an existence (mark) join.
    "join_exists_disjunction" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_acctbal > 9990
           OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_totalprice > 450000)
      """)
    },

    // Approximate percentile (GK/t-digest-style sketch) — the sketch value
    // is engine-specific, but its error bound is not: accuracy 1000 bounds
    // the RANK error to n/1000, which for this distribution keeps the value
    // within 5% of the exact quantile. Emit the bound as a boolean and let
    // the oracle assert `true` — hash-checkable (reference publishes the
    // same bound: functions-aggregate/src/approx_percentile_cont.rs).
    "agg_approx_percentile" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_p50"),
          percentile(col("l_extendedprice"), lit(0.5)).as("exact"))
        .select(col("l_returnflag"), r2(col("exact")).as("exact_p50"),
          (abs(col("approx_p50") - col("exact")) / col("exact") <= 0.05).as("err_ok"))
    })

  val oracleSql: Map[String, String] = Map(
    "agg_approx_percentile" ->
      """SELECT l_returnflag,
        | floor((quantile_cont(l_extendedprice, 0.5) + 1.37e-4) * 100 + 0.5) / 100 AS exact_p50,
        | true AS err_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "fn_map" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
        | map(['key','name'], [CAST(r_regionkey AS VARCHAR), r_name])['name'][1] AS name_v,
        | 'key' AS first_key,
        | CAST(2 AS BIGINT) AS n_keys,
        | CAST(r_regionkey AS VARCHAR) || ',' || r_name AS vals,
        | true AS has_key
        |FROM region""".stripMargin,

    "fn_json" ->
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_parsed,
        | CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_path,
        | CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_tuple
        |FROM events WHERE event_id < 500""".stripMargin,

    "fn_interval" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus3d,
        | CAST(o_orderdate - INTERVAL 2 MONTH AS DATE) AS minus2mo,
        | CAST(o_orderdate + INTERVAL 36 HOUR + INTERVAL 30 MINUTE AS DATE) AS plus36h,
        | string_split(o_orderpriority, '-')[2] AS prio_word,
        | TRY_CAST(o_orderpriority AS INT) AS bad_cast,
        | CAST(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS BIGINT) AS prio_num,
        | floor((o_totalprice / nullif(o_orderkey % 3, 0) + 1.37e-4) * 100 + 0.5) / 100 AS risky_div
        |FROM orders WHERE o_orderkey <= 300""".stripMargin,

    "join_exists_disjunction" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_acctbal > 9990
        |   OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_totalprice > 450000)""".stripMargin)
}
