package graft.queries

import Q._

/** TPC-DS workload shapes adapted to the fixture star schema — the plan
  * classes TPC-H doesn't exercise: correlated-average filters, channel
  * unions, multi-level ROLLUPs, windowed revenue shares, bucketed scalar
  * subqueries, INTERSECT item-matching, EXISTS/NOT-EXISTS counting,
  * year-over-year self-joins (reference plans the real 99 in
  * core/tests/tpcds_planning.rs — TpcdsPlanningSpec covers that; these
  * entries add EXECUTED, DuckDB-oracled equivalents at fixture scale).
  *
  * Every query is one SQL text that parses and evaluates identically in
  * Spark and DuckDB (EXTRACT/ROLLUP/INTERSECT/EXISTS are common dialect),
  * so the oracle IS the query — divergence in any operator shows up as a
  * hash mismatch. FP-summed outputs use the shared epsilon-rounding
  * convention (Q.rnd); integer-valued sums stay exact.
  *
  * Scale notes per shape are inline; the common pattern — dimension
  * broadcast, fact never exchanged until the final keyed agg — holds for
  * all of them, and AQE handles the runtime reshape at cluster scale.
  */
object TpcdsQueries extends QuerySet {

  private def r2sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS $as"
  private def r4sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-6) * 10000 + 0.5) AS DOUBLE) / 10000 AS $as"

  /** name -> SQL shared verbatim by Spark and the DuckDB oracle. */
  val sql: Map[String, String] = Map(

    // q1: per-customer returns vs 1.2× the nation average (correlated CTE)
    "tpcds_q1_returns_above_avg" ->
      s"""WITH ctr AS (
        |  SELECT o_custkey AS ctr_cust, c_nationkey AS ctr_nation,
        |         SUM(l_extendedprice * (1 - l_discount)) AS ctr_total
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey, c_nationkey)
        |SELECT c_custkey, c_name
        |FROM ctr JOIN customer ON ctr_cust = c_custkey
        |WHERE ctr_total > (SELECT AVG(ctr_total) * 1.2 FROM ctr x
        |                   WHERE x.ctr_nation = ctr.ctr_nation)
        |ORDER BY c_custkey LIMIT 100""".stripMargin,

    // q3: brand revenue by order year for a size band
    "tpcds_q3_brand_year" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS d_year, p_brand,
        |  ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "sum_agg")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE p_size BETWEEN 10 AND 20
        |GROUP BY EXTRACT(YEAR FROM o_orderdate), p_brand
        |ORDER BY d_year, p_brand LIMIT 100""".stripMargin,

    // q11/q4: year-over-year growth per customer via self-joined CTE
    "tpcds_q11_yoy_growth" ->
      s"""WITH yt AS (
        |  SELECT o_custkey AS cust, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         SUM(o_totalprice) AS total
        |  FROM orders GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate))
        |SELECT t2.cust, ${r4sql("t2.total / t1.total", "growth")}
        |FROM yt t1 JOIN yt t2 ON t1.cust = t2.cust AND t2.yr = t1.yr + 1
        |WHERE t1.yr = 1996 AND t1.total > 0 AND t2.total / t1.total > 1.5
        |ORDER BY t2.cust LIMIT 100""".stripMargin,

    // q5: channel union + ROLLUP report (linestatus as the channel axis)
    "tpcds_q5_channel_rollup" ->
      s"""WITH sales AS (
        |  SELECT 'open channel' AS channel, n_name,
        |         l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_linestatus = 'O'
        |  UNION ALL
        |  SELECT 'closed channel' AS channel, n_name,
        |         l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_linestatus = 'F')
        |SELECT channel, n_name, ${r2sql("SUM(rev)", "total_rev")},
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM sales
        |GROUP BY ROLLUP(channel, n_name)
        |ORDER BY channel NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    // q6: customers in nations where the part they buy prices >= 1.2× the
    // average of its type (correlated scalar over a dimension)
    "tpcds_q6_above_type_avg" ->
      s"""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE p_retailprice >= 1.008 * (SELECT AVG(p_retailprice) FROM part x
        |                              WHERE x.p_type = part.p_type)
        |GROUP BY n_name
        |HAVING COUNT(*) >= 1
        |ORDER BY cnt, n_name LIMIT 100""".stripMargin,

    // q7: demographic-sliced averages by brand
    "tpcds_q7_sliced_avgs" ->
      s"""SELECT p_brand, ${r4sql("AVG(l_quantity)", "agg1")},
        |  ${r4sql("AVG(l_extendedprice)", "agg2")},
        |  ${r4sql("AVG(l_discount)", "agg3")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
        |GROUP BY p_brand ORDER BY p_brand LIMIT 100""".stripMargin,

    // q8: revenue for suppliers in nations that ALSO have high-balance
    // customers (INTERSECT-gated dimension)
    "tpcds_q8_intersect_nations" ->
      s"""SELECT s_name, ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey IN (
        |  SELECT n_nationkey FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  WHERE c_acctbal > 5000
        |  INTERSECT
        |  SELECT n_nationkey FROM nation JOIN supplier ON s_nationkey = n_nationkey)
        |GROUP BY s_name ORDER BY s_name LIMIT 50""".stripMargin,

    // q9: five bucketed scalar subqueries off a single row
    "tpcds_q9_buckets" ->
      s"""SELECT
        |  CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) > 4000
        |       THEN (SELECT ${r4sql("AVG(l_extendedprice)", "x")} FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
        |       ELSE (SELECT ${r4sql("AVG(l_discount)", "x")} FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) END AS bucket1,
        |  CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) > 4000
        |       THEN (SELECT ${r4sql("AVG(l_extendedprice)", "x")} FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
        |       ELSE (SELECT ${r4sql("AVG(l_discount)", "x")} FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) END AS bucket2,
        |  CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) > 4000
        |       THEN (SELECT ${r4sql("AVG(l_extendedprice)", "x")} FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
        |       ELSE (SELECT ${r4sql("AVG(l_discount)", "x")} FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) END AS bucket3
        |FROM (SELECT 1 AS one) probe""".stripMargin,

    // q10: segment counts for customers active in a window via EXISTS on
    // two "channels"
    "tpcds_q10_exists_channels" ->
      s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderdate >= DATE '1997-01-01')
        |  AND (EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |               AND o_orderstatus = 'O')
        |    OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |               AND o_orderstatus = 'F'))
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // q12/q20: revenue share of each type within its brand (window over agg)
    "tpcds_q12_revenue_share" ->
      s"""WITH t AS (
        |  SELECT p_brand, p_type, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 15
        |  GROUP BY p_brand, p_type)
        |SELECT p_brand, p_type, ${r2sql("rev", "itemrev")},
        |  ${r4sql("rev * 100.0 / SUM(rev) OVER (PARTITION BY p_brand)", "revshare")}
        |FROM t ORDER BY p_brand, p_type LIMIT 100""".stripMargin,

    // q13: averages under OR-of-AND demographic slices
    "tpcds_q13_multi_or" ->
      s"""SELECT ${r4sql("AVG(l_quantity)", "avg_qty")},
        |  ${r2sql("SUM(l_extendedprice)", "sum_price")},
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |WHERE (c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 1 AND 20
        |       AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |   OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 21 AND 35
        |       AND o_orderpriority IN ('3-MEDIUM'))
        |   OR (c_mktsegment = 'HOUSEHOLD' AND l_quantity BETWEEN 36 AND 50)""".stripMargin,

    // q14: totals restricted to parts sold under BOTH line statuses
    // (INTERSECT item matching)
    "tpcds_q14_cross_channel_items" ->
      s"""WITH cross_items AS (
        |  SELECT l_partkey AS pk FROM lineitem WHERE l_linestatus = 'O'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F')
        |SELECT p_brand, ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "sales")},
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_partkey IN (SELECT pk FROM cross_items)
        |GROUP BY p_brand ORDER BY p_brand LIMIT 100""".stripMargin,

    // q15: per-nation revenue from big-ticket or segment-selected customers
    "tpcds_q15_zip_bigorders" ->
      s"""SELECT n_name, ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_totalprice > 150000 OR c_mktsegment IN ('FURNITURE', 'BUILDING')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // q16: distinct-order counting gated by EXISTS (another line, different
    // supplier) and NOT EXISTS (a returned line)
    "tpcds_q16_ship_count" ->
      s"""SELECT CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
        |  ${r2sql("SUM(l1.l_extendedprice)", "total_price")}
        |FROM lineitem l1 JOIN orders ON l1.l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_returnflag = 'R')""".stripMargin,

    // q17: quantity dispersion per brand across the two statuses
    "tpcds_q17_qty_stats" ->
      s"""SELECT p_brand, CAST(COUNT(l_quantity) AS BIGINT) AS cnt,
        |  ${r4sql("AVG(l_quantity)", "mean_qty")},
        |  ${r4sql("STDDEV_SAMP(l_quantity) / AVG(l_quantity)", "cov")}
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_linestatus = 'F'
        |GROUP BY p_brand
        |HAVING COUNT(l_quantity) > 50 AND STDDEV_SAMP(l_quantity) / AVG(l_quantity) > 0.5
        |ORDER BY p_brand LIMIT 100""".stripMargin,

    // q18: averages over a two-level ROLLUP of customer dimensions
    "tpcds_q18_rollup_avgs" ->
      s"""SELECT n_name, c_mktsegment,
        |  ${r4sql("AVG(l_quantity)", "agg1")},
        |  ${r4sql("AVG(l_extendedprice)", "agg2")},
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderpriority = '5-LOW'
        |GROUP BY ROLLUP(n_name, c_mktsegment)
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    // q19: brand revenue where the customer and supplier nations differ
    "tpcds_q19_cross_nation" ->
      s"""SELECT p_brand, ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN supplier ON l_suppkey = s_suppkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE c_nationkey <> s_nationkey AND p_size >= 40
        |GROUP BY p_brand ORDER BY p_brand LIMIT 100""".stripMargin,

    // q21: per-part quantity before/after an inventory date, ratio-banded
    "tpcds_q21_before_after" ->
      s"""WITH ba AS (
        |  SELECT p_brand,
        |    SUM(CASE WHEN l_shipdate < DATE '1997-06-01' THEN l_quantity ELSE 0 END) AS qty_before,
        |    SUM(CASE WHEN l_shipdate >= DATE '1997-06-01' THEN l_quantity ELSE 0 END) AS qty_after
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand)
        |SELECT p_brand, CAST(qty_before AS BIGINT) AS qty_before,
        |       CAST(qty_after AS BIGINT) AS qty_after
        |FROM ba
        |WHERE qty_before > 0 AND qty_after > 0
        |  AND qty_after / qty_before BETWEEN 0.5 AND 2.0
        |ORDER BY p_brand LIMIT 100""".stripMargin,

    // q22: average quantity over a three-level part-hierarchy ROLLUP
    "tpcds_q22_hierarchy_rollup" ->
      s"""SELECT p_brand, p_type, p_size,
        |  ${r4sql("AVG(l_quantity)", "qoh")}
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 8
        |GROUP BY ROLLUP(p_brand, p_type, p_size)
        |ORDER BY qoh, p_brand NULLS FIRST, p_type NULLS FIRST, p_size NULLS FIRST
        |LIMIT 100""".stripMargin,

    // q23: revenue of frequently-sold parts bought by the best customers
    "tpcds_q23_frequent_best" ->
      s"""WITH frequent_parts AS (
        |  SELECT l_partkey AS pk FROM lineitem
        |  GROUP BY l_partkey HAVING COUNT(*) > 35),
        |best_customers AS (
        |  SELECT o_custkey AS ck FROM orders
        |  GROUP BY o_custkey
        |  HAVING SUM(o_totalprice) > (SELECT 0.9 * MAX(t) FROM
        |    (SELECT SUM(o_totalprice) AS t FROM orders GROUP BY o_custkey) m))
        |SELECT ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT pk FROM frequent_parts)
        |  AND o_custkey IN (SELECT ck FROM best_customers)""".stripMargin,

    // q25: sold vs returned quantity joined through the order chain
    "tpcds_q25_sold_vs_returned" ->
      s"""SELECT p_brand,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS BIGINT) AS returned_qty,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN l_quantity ELSE 0 END) AS BIGINT) AS kept_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |HAVING SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) > 0
        |ORDER BY p_brand LIMIT 100""".stripMargin,

    // q27: averages over a geography ROLLUP (region → nation)
    "tpcds_q27_geo_rollup" ->
      s"""SELECT r_name, n_name,
        |  ${r4sql("AVG(l_quantity)", "agg1")},
        |  ${r4sql("AVG(l_extendedprice * (1 - l_discount))", "agg2")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |     JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    // q28: six independent band statistics crossed into one row
    "tpcds_q28_band_stats" ->
      s"""SELECT b1.cnt AS cnt1, b1.avg_price AS avg1,
        |       b2.cnt AS cnt2, b2.avg_price AS avg2,
        |       b3.cnt AS cnt3, b3.avg_price AS avg3
        |FROM
        | (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, ${r4sql("AVG(l_extendedprice)", "avg_price")}
        |  FROM lineitem WHERE l_quantity BETWEEN 1 AND 15) b1,
        | (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, ${r4sql("AVG(l_extendedprice)", "avg_price")}
        |  FROM lineitem WHERE l_quantity BETWEEN 16 AND 35) b2,
        | (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, ${r4sql("AVG(l_extendedprice)", "avg_price")}
        |  FROM lineitem WHERE l_quantity BETWEEN 36 AND 50) b3""".stripMargin,

    // q30: customer return ratio vs 1.2× the nation average, reported by
    // segment (the q1 shape one level up)
    "tpcds_q30_return_ratio" ->
      s"""WITH cr AS (
        |  SELECT o_custkey AS cust, c_mktsegment AS seg, c_nationkey AS nk,
        |         SUM(CASE WHEN l_returnflag = 'R'
        |                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS ret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |  GROUP BY o_custkey, c_mktsegment, c_nationkey)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM cr
        |WHERE ret > (SELECT AVG(ret) * 1.2 FROM cr x WHERE x.nk = cr.nk)
        |GROUP BY seg ORDER BY seg""".stripMargin)

  val queries: Map[String, QueryFn] = sql.map { case (name, text) =>
    name -> ((s: org.apache.spark.sql.SparkSession, dir: String) => {
      graft.Tables.registerAll(s, dir); s.sql(text)
    })
  }

  val oracleSql: Map[String, String] = sql
}
