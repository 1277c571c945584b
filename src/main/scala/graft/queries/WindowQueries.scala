package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Window-function inventory (SURVEY.md §2.5) + sorts/limits (§2.6).
  *
  * Mirrors the reference's functions-window crate and window operators
  * (datafusion/physical-plan/src/windows/window_agg_exec.rs:59,
  * bounded_window_agg_exec.rs:81; functions-window/src/{row_number,rank,
  * cume_dist,ntile,lead_lag,nth_value}.rs). Spark's WindowExec covers
  * unbounded and bounded (ROWS/RANGE) frames; per-group top-k benefits from
  * the WindowGroupLimit rule (≈ reference's sorts/partitioned_topk.rs:175).
  */
object WindowQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // Ranking family over a deterministic total order.
    "win_ranking" -> { (s, dir) =>
      val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal").desc, col("s_suppkey"))
      t(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          col("s_nationkey").cast("long").as("s_nationkey"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).as("rk").cast("long").as("rk"),
          dense_rank().over(w).cast("long").as("drk"),
          r6(percent_rank().over(w)).as("prk"),
          r6(cume_dist().over(w)).as("cd"),
          ntile(4).over(w).cast("long").as("quartile"))
    },

    // lag/lead with defaults (reference: functions-window/src/lead_lag.rs).
    "win_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .select(
          col("o_orderkey"), col("o_custkey"),
          r2(lag(col("o_totalprice"), 1).over(w)).as("prev_price"),
          r2(lead(col("o_totalprice"), 1, -1.0).over(w)).as("next_price"),
          lag(col("o_orderdate"), 2).over(w).cast("date").as("prev2_date"))
    },

    // Running aggregates: ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW.
    "win_running" -> { (s, dir) =>
      // (l_orderkey, l_linenumber) is NOT unique in the fixture — the order
      // must include every column the running aggregates read, or row order
      // among duplicates (and thus running sums) is engine-dependent.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 5)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          r2(sum(col("l_quantity")).over(w)).as("run_qty"),
          r2(avg(col("l_extendedprice")).over(w)).as("run_avg"),
          count(lit(1)).over(w).as("run_n"))
    },

    // Sliding ROWS frame: moving average over the 5 previous rows.
    "win_sliding" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-5, -1)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          r4(avg(col("o_totalprice")).over(w)).as("ma5"),
          count(lit(1)).over(w).as("nwin"))
    },

    // RANGE frame over a numeric ordering (value-based peers).
    "win_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"))
        .rangeBetween(-1000L, 0L)
      t(s, dir, "customer")
        .filter(col("c_nationkey") < 5)
        .select(
          col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
          count(lit(1)).over(w).as("n_within_1000"),
          r2(sum(col("c_acctbal")).over(w)).as("bal_within_1000"))
    },

    // first/last/nth value with explicit frames + IGNORE NULLS
    // (reference: functions-window/src/nth_value.rs).
    "win_first_last_nth" -> { (s, dir) =>
      val wFull = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val withNulls = t(s, dir, "supplier")
        .withColumn("bal_or_null", when(col("s_acctbal") < 0, lit(null)).otherwise(col("s_acctbal")))
      withNulls.select(
        col("s_suppkey"), col("s_nationkey").cast("long").as("s_nationkey"),
        first_value(col("s_suppkey")).over(wFull).as("top_supp"),
        last_value(col("s_suppkey")).over(wFull).as("bottom_supp"),
        nth_value(col("s_suppkey"), 2).over(wFull).as("second_supp"),
        r2(first(col("bal_or_null"), ignoreNulls = true).over(
          Window.partitionBy(col("s_nationkey"))
            .orderBy(col("s_acctbal"), col("s_suppkey"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))).as("min_pos_bal"))
    },

    // Per-group top-k via row_number filter — planner turns this into
    // WindowGroupLimit (reference: sorts/partitioned_topk.rs:175).
    "win_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      // r13: an under-partitioned scan (the single-row-group fixture file)
      // runs the partial WindowGroupLimit's sort of the WHOLE table on one
      // core (measured: 1 real task in a 21-task stage carrying ~all of the
      // 0.7 s wall). Spread by the window's own partition key first: hash
      // partitioning on l_suppkey satisfies the Window's required
      // distribution, so the plan still has exactly ONE exchange — the
      // partial limit work just lands on every core. At real scale the
      // source arrives as many splits and this branch never fires, keeping
      // the partial WindowGroupLimit's shuffle reduction.
      val l0 = t(s, dir, "lineitem")
      val par = s.sparkContext.defaultParallelism
      val l = if (l0.rdd.getNumPartitions < par)
        l0.repartition(par, col("l_suppkey")) else l0
      l
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn").cast("long").as("rn"),
          col("l_orderkey"), r2(col("l_extendedprice")).as("price"))
    },

    // Aggregate window over whole partition (no ORDER BY → unbounded frame).
    "win_partition_share" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 150)
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          r6((col("o_totalprice") / sum(col("o_totalprice")).over(w))).as("share"),
          r2(max(col("o_totalprice")).over(w)).as("prio_max"))
    },

    // Global top-k: ORDER BY ... LIMIT k (TakeOrderedAndProject; reference
    // topk/mod.rs) with deterministic tiebreak.
    "sort_topk" -> { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), r2(col("o_totalprice")).as("o_totalprice"))
        .limit(25)
    },

    // LIMIT + OFFSET (reference: limit.rs GlobalLimitExec skip+fetch).
    "limit_offset" -> { (s, dir) =>
      t(s, dir, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .select(col("c_custkey"), r2(col("c_acctbal")).as("c_acctbal"))
        .offset(10).limit(15)
    },

    // Multi-column sort with explicit NULLS FIRST/LAST over derived nulls.
    "sort_nulls" -> { (s, dir) =>
      t(s, dir, "supplier")
        .withColumn("bal_band",
          when(col("s_acctbal") < 0, lit(null).cast("long"))
            .otherwise(floor(col("s_acctbal") / 1000).cast("long")))
        .select(col("s_suppkey"), col("bal_band"))
        .orderBy(col("bal_band").asc_nulls_first, col("s_suppkey").desc)
        .limit(30)
    })

  val oracleSql: Map[String, String] = Map(
    "win_ranking" ->
      """SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | CAST(rank() OVER w AS BIGINT) AS rk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drk,
        | floor((percent_rank() OVER w + 1.37e-8) * 1000000 + 0.5) / 1000000 AS prk,
        | floor((cume_dist() OVER w + 1.37e-8) * 1000000 + 0.5) / 1000000 AS cd,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)""".stripMargin,

    "win_lag_lead" ->
      """SELECT o_orderkey, o_custkey,
        | floor((lag(o_totalprice, 1) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS prev_price,
        | floor((lead(o_totalprice, 1, -1.0) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS next_price,
        | CAST(lag(o_orderdate, 2) OVER w AS DATE) AS prev2_date
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "win_running" ->
      """SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | floor((sum(l_quantity) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS run_qty,
        | floor((avg(l_extendedprice) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS run_avg,
        | count(*) OVER w AS run_n
        |FROM lineitem WHERE l_suppkey <= 5
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "win_sliding" ->
      """SELECT o_orderkey, o_orderpriority,
        | floor((avg(o_totalprice) OVER w + 1.37e-6) * 10000 + 0.5) / 10000 AS ma5,
        | count(*) OVER w AS nwin
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)""".stripMargin,

    "win_range_frame" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | count(*) OVER w AS n_within_1000,
        | floor((sum(c_acctbal) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS bal_within_1000
        |FROM customer WHERE c_nationkey < 5
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal
        |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "win_first_last_nth" ->
      """SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        | first_value(s_suppkey) OVER wfull AS top_supp,
        | last_value(s_suppkey) OVER wfull AS bottom_supp,
        | nth_value(s_suppkey, 2) OVER wfull AS second_supp,
        | floor((first_value(CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END IGNORE NULLS)
        |   OVER wasc + 1.37e-4) * 100 + 0.5) / 100 AS min_pos_bal
        |FROM supplier
        |WINDOW wfull AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        | wasc AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "win_topk_per_group" ->
      """SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, l_orderkey,
        | floor((l_extendedprice + 1.37e-4) * 100 + 0.5) / 100 AS price
        |FROM (SELECT l_suppkey, l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin,

    "win_partition_share" ->
      """SELECT o_orderkey, o_orderpriority,
        | floor((o_totalprice / sum(o_totalprice) OVER w + 1.37e-8) * 1000000 + 0.5) / 1000000 AS share,
        | floor((max(o_totalprice) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS prio_max
        |FROM orders WHERE o_custkey < 150
        |WINDOW w AS (PARTITION BY o_orderpriority)""".stripMargin,

    "sort_topk" ->
      """SELECT o_orderkey, floor((o_totalprice + 1.37e-4) * 100 + 0.5) / 100 AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "limit_offset" ->
      """SELECT c_custkey, floor((c_acctbal + 1.37e-4) * 100 + 0.5) / 100 AS c_acctbal
        |FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 15 OFFSET 10""".stripMargin,

    "sort_nulls" ->
      """SELECT s_suppkey,
        | CASE WHEN s_acctbal < 0 THEN NULL
        |      ELSE CAST(floor(s_acctbal / 1000) AS BIGINT) END AS bal_band
        |FROM supplier
        |ORDER BY bal_band ASC NULLS FIRST, s_suppkey DESC LIMIT 30""".stripMargin)
}
