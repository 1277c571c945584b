package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RecursiveCte
import Q._

/** Relational completeness: all join types, set operations, subqueries,
  * CTEs (incl. recursive), DISTINCT ON, VALUES, generate_series.
  *
  * Covers SURVEY.md §2.3 (joins — reference
  * datafusion/physical-plan/src/joins/), §2.7 (set ops — union.rs),
  * §2.2 predicates/subqueries (expr/src/expr.rs:385-391), recursive CTE
  * (recursive_query.rs:66), Values (logical_plan/plan.rs:270) and
  * generate_series (functions-table/src/generate_series.rs).
  */
object RelationalQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // INNER join, raw-row projection output.
    "join_inner" -> { (s, dir) =>
      t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("r_name"))
    },

    // LEFT OUTER join with unmatched rows (customers with/without orders > threshold).
    "join_left" -> { (s, dir) =>
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_big"),
          r2(sum(coalesce(col("o_totalprice"), lit(0.0)))).as("big_total"))
    },

    // RIGHT OUTER join.
    "join_right" -> { (s, dir) =>
      val richSup = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
      richSup.join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(count(col("s_suppkey")).as("n_rich_suppliers"))
    },

    // FULL OUTER join with unmatched rows on both sides.
    "join_full" -> { (s, dir) =>
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 8000)
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_sup"))
      val cust = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
      sup.join(cust, col("nk_s") === col("nk_c"), "full")
        .select(
          coalesce(col("nk_s"), col("nk_c")).cast("long").as("nationkey"),
          coalesce(col("n_sup"), lit(0L)).as("n_sup"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
    },

    // LEFT SEMI join (EXISTS).
    "join_semi" -> { (s, dir) =>
      val o96 = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01"))
      t(s, dir, "customer")
        .join(o96, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },

    // LEFT ANTI join (NOT EXISTS) — against a filtered subset so the result
    // is non-empty at every scale factor.
    "join_anti" -> { (s, dir) =>
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    },

    // Null-aware anti join: NOT IN over a subquery that can produce NULL.
    // Reference: sqllogictest/test_files/null_aware_anti_join.slt.
    "join_anti_nullaware" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey FROM customer
        WHERE c_nationkey NOT IN
          (SELECT CASE WHEN s_acctbal < 500 THEN NULL ELSE s_nationkey END
           FROM supplier WHERE s_acctbal < 2000)
      """)
    },

    // CROSS join (cartesian product).
    "join_cross" -> { (s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
    },

    // Theta join: arbitrary inequality condition (BroadcastNestedLoopJoin).
    // Reference: physical-plan/src/joins/nested_loop_join.rs:193.
    "join_theta" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      c.join(sup,
          col("c_acctbal") > col("s_acctbal") - 10 &&
          col("c_acctbal") <= col("s_acctbal"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_close"), r2(sum(col("c_acctbal"))).as("bal_sum"))
    },

    // Range join: single inequality predicate.
    // Reference: joins/piecewise_merge_join/exec.rs:254.
    "join_range" -> { (s, dir) =>
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      val c = t(s, dir, "customer")
      sup.join(c, col("c_acctbal") > col("s_acctbal"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_above"))
    },

    // Same range join through the custom physical operator
    // (graft.plans.RangeJoinExec — logical node + strategy + exec;
    // reference: joins/piecewise_merge_join/exec.rs:254).
    "join_range_custom" -> { (s, dir) =>
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      val c = t(s, dir, "customer")
      graft.plans.RangeJoin.join(c, "c_acctbal", ">", sup, "s_acctbal")
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_above"))
    },

    // Same semantics through the PARTITIONED range join (quantile-bucketed
    // equi-join — the path when neither side broadcasts; RangeJoinSpec has
    // the full operator-vs-BNLJ differential).
    "join_range_partitioned" -> { (s, dir) =>
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      val c = t(s, dir, "customer")
      graft.plans.RangeJoin.joinPartitioned(c, "c_acctbal", ">", sup, "s_acctbal",
          numBuckets = 8)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_above"))
    },

    // UNION ALL (bag union).
    "set_union_all" -> { (s, dir) =>
      val a = t(s, dir, "part").filter(col("p_size") <= 5).select("p_brand")
      val b = t(s, dir, "part").filter(col("p_size") >= 4).select("p_brand")
      a.unionAll(b).groupBy("p_brand").agg(count(lit(1)).as("n"))
    },

    // UNION DISTINCT.
    "set_union_distinct" -> { (s, dir) =>
      val a = t(s, dir, "part").filter(col("p_size") <= 5)
        .select("p_brand", "p_type")
      val b = t(s, dir, "part").filter(col("p_size") >= 4)
        .select("p_brand", "p_type")
      a.union(b).distinct()
    },

    // p_size is in the projection, so both INTERSECT (only size=10 rows) and
    // EXCEPT (all size<10 combos) are provably non-empty.
    "set_intersect" -> { (s, dir) =>
      val a = t(s, dir, "part").filter(col("p_size") <= 10).select("p_brand", "p_size")
      val b = t(s, dir, "part").filter(col("p_size") >= 10).select("p_brand", "p_size")
      a.intersect(b).select(col("p_brand"), col("p_size").cast("long").as("p_size"))
    },

    "set_except" -> { (s, dir) =>
      val a = t(s, dir, "part").filter(col("p_size") <= 10).select("p_brand", "p_size")
      val b = t(s, dir, "part").filter(col("p_size") >= 10).select("p_brand", "p_size")
      a.except(b).select(col("p_brand"), col("p_size").cast("long").as("p_size"))
    },

    // INTERSECT ALL / EXCEPT ALL (bag semantics).
    "set_intersect_all" -> { (s, dir) =>
      val a = t(s, dir, "orders").filter(col("o_totalprice") < 50000).select("o_orderpriority")
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F").select("o_orderpriority")
      a.intersectAll(b).groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    },

    "set_except_all" -> { (s, dir) =>
      val a = t(s, dir, "orders").select("o_orderpriority")
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F").select("o_orderpriority")
      a.exceptAll(b).groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    },

    // Uncorrelated scalar subquery. Reference: physical-plan/src/scalar_subquery.rs:80.
    "subq_scalar" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT p_brand, count(*) AS n_above_avg
        FROM part
        WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        GROUP BY p_brand
      """)
    },

    // Correlated scalar subquery (decorrelated by Catalyst).
    // Reference: optimizer/src/decorrelate.rs.
    "subq_correlated" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_custkey, floor((o_totalprice + 1.37e-4) * 100 + 0.5) / 100 AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 2.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                    WHERE o2.o_custkey = o.o_custkey)
      """)
    },

    // IN subquery.
    "subq_in" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_regionkey IN (0, 2))
      """)
    },

    // ANY/ALL quantified comparison, rewritten to min/max scalar subqueries
    // (Spark SQL has no ANY/ALL; reference: expr/src/expr.rs:385-391).
    "subq_all_rewrite" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, floor((c_acctbal + 1.37e-4) * 100 + 0.5) / 100 AS c_acctbal FROM customer
        WHERE c_acctbal > (SELECT max(s_acctbal) FROM supplier)
      """)
    },

    // Plain CTE.
    "cte_basic" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        WITH nation_sales AS (
          SELECT c_nationkey AS nk, sum(o_totalprice) AS total
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY c_nationkey
        )
        SELECT n_name, floor(total * 100 + 0.5) / 100 AS total
        FROM nation JOIN nation_sales ON n_nationkey = nk
        ORDER BY total DESC, n_name
      """)
    },

    // Recursive CTE via driver-side fixpoint loop (graft.operators.RecursiveCte).
    "cte_recursive" -> { (s, dir) =>
      val base = s.range(1, 2).select(col("id").as("n"))
      val series = RecursiveCte.iterate(
        base, f => f.filter(col("n") < 100).select((col("n") + 1).as("n")))
      series.agg(
        sum("n").cast("long").as("series_sum"),
        count(lit(1)).as("series_count"))
    },

    // Literal VALUES relation. Reference: logical_plan/plan.rs:270.
    "values_inline" -> { (s, dir) =>
      s.sql("""
        SELECT CAST(col1 AS BIGINT) AS k, col2 AS v
        FROM VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma'), (4, NULL) AS t(col1, col2)
      """)
    },

    // generate_series / range table function.
    // Reference: functions-table/src/generate_series.rs:763.
    "generate_series" -> { (s, dir) =>
      s.range(1, 1001)
        .agg(sum("id").cast("long").as("series_sum"),
          count(lit(1)).as("series_count"),
          max("id").cast("long").as("series_max"))
    },

    // Date-series generation: sequence + explode (calendar dimension).
    "generate_dates" -> { (s, dir) =>
      s.range(1)
        .select(explode(expr(
          "sequence(DATE'1995-01-01', DATE'1995-03-01', INTERVAL 1 DAY)")).as("d"))
        .agg(count(lit(1)).as("n_days"),
          min(col("d")).as("first_d"), max(col("d")).as("last_d"),
          sum(dayofmonth(col("d")).cast("long")).as("dom_sum"))
    },

    // Map entries exploded to rows (map → relation).
    "explode_map" -> { (s, dir) =>
      t(s, dir, "region")
        .withColumn("m", map(lit("rk"), col("r_regionkey").cast("string"),
          lit("name"), col("r_name")))
        .select(col("r_regionkey").cast("long").as("r_regionkey"),
          explode(col("m")).as(Seq("k", "v")))
    },

    // DISTINCT ON (first row per key by explicit order).
    // Reference: dataframe distinct_on (dataframe/mod.rs:963).
    "distinct_on" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_custkey"), r2(col("c_acctbal")).as("c_acctbal"))
    })

  val oracleSql: Map[String, String] = Map(
    "join_inner" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big,
        | floor((sum(coalesce(o_totalprice, 0)) + 1.37e-4) * 100 + 0.5) / 100 AS big_total
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        | ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "join_right" ->
      """SELECT n_name, count(s_suppkey) AS n_rich_suppliers
        |FROM (SELECT * FROM supplier WHERE s_acctbal > 5000) s
        | RIGHT JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "join_full" ->
      """SELECT CAST(coalesce(nk_s, nk_c) AS BIGINT) AS nationkey,
        | coalesce(n_sup, 0) AS n_sup, coalesce(n_cust, 0) AS n_cust
        |FROM (SELECT s_nationkey AS nk_s, count(*) AS n_sup FROM supplier
        |      WHERE s_acctbal > 8000 GROUP BY s_nationkey) s
        | FULL JOIN (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer
        |            WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
        | ON nk_s = nk_c""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_totalprice > 300000)""".stripMargin,

    "join_anti_nullaware" ->
      """SELECT c_custkey FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT CASE WHEN s_acctbal < 500 THEN NULL ELSE s_nationkey END
        |   FROM supplier WHERE s_acctbal < 2000)""".stripMargin,

    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",

    "join_theta" ->
      """SELECT s_suppkey, count(*) AS n_close, floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal_sum
        |FROM customer JOIN supplier
        | ON c_acctbal > s_acctbal - 10 AND c_acctbal <= s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "join_range" ->
      """SELECT s_suppkey, count(*) AS n_above
        |FROM (SELECT * FROM supplier WHERE s_acctbal > 9000) s
        | JOIN customer ON c_acctbal > s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "join_range_custom" ->
      """SELECT s_suppkey, count(*) AS n_above
        |FROM (SELECT * FROM supplier WHERE s_acctbal > 9000) s
        | JOIN customer ON c_acctbal > s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "join_range_partitioned" ->
      """SELECT s_suppkey, count(*) AS n_above
        |FROM (SELECT * FROM supplier WHERE s_acctbal > 9000) s
        | JOIN customer ON c_acctbal > s_acctbal
        |GROUP BY s_suppkey""".stripMargin,

    "set_union_all" ->
      """SELECT p_brand, count(*) AS n FROM (
        | SELECT p_brand FROM part WHERE p_size <= 5
        | UNION ALL
        | SELECT p_brand FROM part WHERE p_size >= 4)
        |GROUP BY p_brand""".stripMargin,

    "set_union_distinct" ->
      """SELECT p_brand, p_type FROM part WHERE p_size <= 5
        |UNION
        |SELECT p_brand, p_type FROM part WHERE p_size >= 4""".stripMargin,

    "set_intersect" ->
      """SELECT p_brand, CAST(p_size AS BIGINT) AS p_size FROM part WHERE p_size <= 10
        |INTERSECT
        |SELECT p_brand, CAST(p_size AS BIGINT) AS p_size FROM part WHERE p_size >= 10""".stripMargin,

    "set_except" ->
      """SELECT p_brand, CAST(p_size AS BIGINT) AS p_size FROM part WHERE p_size <= 10
        |EXCEPT
        |SELECT p_brand, CAST(p_size AS BIGINT) AS p_size FROM part WHERE p_size >= 10""".stripMargin,

    "set_intersect_all" ->
      """SELECT o_orderpriority, count(*) AS n FROM (
        | SELECT o_orderpriority FROM orders WHERE o_totalprice < 50000
        | INTERSECT ALL
        | SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_orderpriority""".stripMargin,

    "set_except_all" ->
      """SELECT o_orderpriority, count(*) AS n FROM (
        | SELECT o_orderpriority FROM orders
        | EXCEPT ALL
        | SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_orderpriority""".stripMargin,

    "subq_scalar" ->
      """SELECT p_brand, count(*) AS n_above_avg FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |GROUP BY p_brand""".stripMargin,

    "subq_correlated" ->
      """SELECT o_orderkey, o_custkey, floor((o_totalprice + 1.37e-4) * 100 + 0.5) / 100 AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 2.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
        |                            WHERE o2.o_custkey = o.o_custkey)""".stripMargin,

    "subq_in" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_regionkey IN (0, 2))""".stripMargin,

    "subq_all_rewrite" ->
      """SELECT c_custkey, floor((c_acctbal + 1.37e-4) * 100 + 0.5) / 100 AS c_acctbal FROM customer
        |WHERE c_acctbal > ALL (SELECT s_acctbal FROM supplier)""".stripMargin,

    "cte_basic" ->
      """WITH nation_sales AS (
        |  SELECT c_nationkey AS nk, sum(o_totalprice) AS total
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_nationkey)
        |SELECT n_name, floor((total + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM nation JOIN nation_sales ON n_nationkey = nk
        |ORDER BY total DESC, n_name""".stripMargin,

    "cte_recursive" ->
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 100)
        |SELECT CAST(sum(n) AS BIGINT) AS series_sum,
        |       count(*) AS series_count FROM t""".stripMargin,

    "values_inline" ->
      """SELECT CAST(k AS BIGINT) AS k, v
        |FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma'), (4, NULL)) t(k, v)""".stripMargin,

    "generate_series" ->
      """SELECT CAST(sum(g) AS BIGINT) AS series_sum, count(*) AS series_count,
        |       CAST(max(g) AS BIGINT) AS series_max
        |FROM generate_series(1, 1000) t(g)""".stripMargin,

    "generate_dates" ->
      """SELECT count(*) AS n_days, min(d) AS first_d, max(d) AS last_d,
        | CAST(sum(day(d)) AS BIGINT) AS dom_sum
        |FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01',
        |        DATE '1995-03-01', INTERVAL 1 DAY)) AS DATE) AS d)""".stripMargin,

    "explode_map" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, k, v FROM (
        | SELECT r_regionkey, 'rk' AS k, CAST(r_regionkey AS VARCHAR) AS v FROM region
        | UNION ALL
        | SELECT r_regionkey, 'name' AS k, r_name AS v FROM region)""".stripMargin,

    "distinct_on" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey,
        |       floor((c_acctbal + 1.37e-4) * 100 + 0.5) / 100 AS c_acctbal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer)
        |WHERE rn = 1""".stripMargin)
}
