package graft.queries

import Q._

/** TPC-DS tranche 3 (reference: the remaining .sql shapes under
  * core/tests/tpc-ds/ not yet represented by tranches 1-2) — the plan
  * classes this adds, each keyed to its query number:
  *
  *   - q2: consecutive-period ratio via self-join on a shifted key
  *   - q4/q74: per-customer cross-channel growth comparison (4-way
  *     self-join of one aggregated CTE)
  *   - q33/q56/q60: re-aggregation over a UNION ALL of per-channel
  *     aggregates
  *   - q36/q67: rank-within-parent over a ROLLUP using GROUPING() in the
  *     window partition
  *   - q39: coefficient-of-variation (stddev/mean) filter joined across
  *     consecutive months
  *   - q41: correlated scalar COUNT subquery over attribute combos
  *   - q43: pivot on a computed day-of-week bucket
  *   - q44: best/worst ranking joined on rank position (ASC and DESC
  *     ROW_NUMBER over the same aggregate)
  *   - q49: per-channel DENSE_RANK on a return ratio, rank-filtered union
  *   - q54: histogram over a derived revenue segment
  *   - q58: 3-way channel equi-join with each-within-10%-of-mean filter
  *   - q65: below-fraction-of-group-average join (agg-of-agg threshold)
  *   - q69: EXISTS and NOT EXISTS on the same correlation key
  *   - q76: tagged UNION ALL slices re-grouped by the tag
  *   - q88: 8-bucket grid as a cross join of single-row scalar aggregates
  *   - q90: ratio of two scalar-subquery counts
  *   - q95: EXISTS over a correlated self-joined fact + NOT EXISTS returns
  *
  * All 99 originals plan through Catalyst in TpcdsPlanningSpec; these are
  * EXECUTED, DuckDB-oracled equivalents over the fixture star. Same
  * shared-SQL convention as tranches 1-2: one text, both engines, any
  * divergence = hash mismatch. Portability rules: counts CAST to BIGINT
  * (DuckDB SUM(int) is HUGEINT), double aggregates rounded identically on
  * both sides, EXTRACT results CAST to BIGINT in output, rank ORDER BYs
  * carry a unique tiebreaker so window results are total-ordered.
  *
  * Scale: every query aggregates the fact once on a single keyed shuffle
  * (dimensions broadcast), then joins/windows the already-small series;
  * q95's correlated self-join is an equi-join on the fact's own key, so
  * it stays shuffle-local under any hash partitioning on l_orderkey.
  */
object TpcdsQueries3 extends QuerySet {

  private def r2sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS $as"
  private def r4sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-6) * 10000 + 0.5) AS DOUBLE) / 10000 AS $as"
  /** Inline (un-aliased) 4-digit rounding, for use inside ORDER BY. */
  private def r4e(e: String) =
    s"CAST(FLOOR(($e + 1.37e-6) * 10000 + 0.5) AS DOUBLE) / 10000"

  /** name -> SQL shared verbatim by Spark and the DuckDB oracle. */
  val sql: Map[String, String] = Map(

    // q2: period-over-period ratio by joining an aggregated series to
    // itself on a shifted key (yr+1)
    "tpcds_q2_yoy_priority" ->
      s"""WITH pr AS (
        |  SELECT o_orderpriority AS pri,
        |         EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         SUM(o_totalprice) AS tot
        |  FROM orders
        |  GROUP BY o_orderpriority, EXTRACT(YEAR FROM o_orderdate))
        |SELECT a.pri AS pri, CAST(a.yr AS BIGINT) AS yr,
        |       ${r4sql("b.tot / a.tot", "yoy")}
        |FROM pr a JOIN pr b ON a.pri = b.pri AND b.yr = a.yr + 1
        |WHERE a.tot > 0
        |ORDER BY pri, yr""".stripMargin,

    // q4/q74: customers whose F-channel revenue grew faster than their
    // O-channel revenue between two years (4-way self-join of one CTE)
    "tpcds_q4_customer_growth" ->
      s"""WITH cy AS (
        |  SELECT o_custkey AS ck, l_linestatus AS ch,
        |         EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey, l_linestatus, EXTRACT(YEAR FROM o_orderdate))
        |SELECT c_custkey, c_name
        |FROM customer
        |  JOIN cy f1 ON f1.ck = c_custkey AND f1.ch = 'F' AND f1.yr = 1996
        |  JOIN cy f2 ON f2.ck = c_custkey AND f2.ch = 'F' AND f2.yr = 1997
        |  JOIN cy o1 ON o1.ck = c_custkey AND o1.ch = 'O' AND o1.yr = 1996
        |  JOIN cy o2 ON o2.ck = c_custkey AND o2.ch = 'O' AND o2.yr = 1997
        |WHERE f1.rev > 0 AND o1.rev > 0
        |  AND f2.rev / f1.rev > o2.rev / o1.rev
        |ORDER BY c_custkey LIMIT 100""".stripMargin,

    // q33/q56/q60: per-channel aggregates UNION ALL'd, then re-aggregated
    // by brand
    "tpcds_q33_union_item_rev" ->
      s"""WITH per AS (
        |  SELECT l_partkey AS pk, SUM(l_extendedprice) AS rev
        |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_partkey
        |  UNION ALL
        |  SELECT l_partkey, SUM(l_extendedprice)
        |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey
        |  UNION ALL
        |  SELECT l_partkey, SUM(l_extendedprice)
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey)
        |SELECT p_brand, ${r2sql("SUM(rev)", "total_rev")}
        |FROM per JOIN part ON pk = p_partkey
        |GROUP BY p_brand
        |ORDER BY total_rev DESC, p_brand LIMIT 25""".stripMargin,

    // q36/q67: rank within parent over a ROLLUP — GROUPING() drives both
    // the hierarchy level and the window partition
    "tpcds_q36_margin_rank_rollup" ->
      s"""WITH base AS (
        |  SELECT r_name, n_name,
        |         GROUPING(r_name) + GROUPING(n_name) AS lvl,
        |         SUM(l_extendedprice * (1 - l_discount)) / SUM(l_extendedprice) AS margin
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY ROLLUP(r_name, n_name))
        |SELECT COALESCE(r_name, 'ALL') AS region,
        |       COALESCE(n_name, 'ALL') AS nation,
        |       CAST(lvl AS BIGINT) AS lvl,
        |       ${r4sql("margin", "margin")},
        |       CAST(RANK() OVER (
        |         PARTITION BY lvl, CASE WHEN lvl = 0 THEN r_name ELSE 'x' END
        |         ORDER BY ${r4e("margin")} DESC, COALESCE(n_name, 'ALL'))
        |         AS BIGINT) AS rank_within_parent
        |FROM base
        |ORDER BY lvl DESC, region, nation""".stripMargin,

    // q39: coefficient of variation per (supplier, month), kept only when
    // consecutive months are both high-variance
    "tpcds_q39_cov" ->
      s"""WITH m AS (
        |  SELECT l_suppkey AS sk, EXTRACT(MONTH FROM l_shipdate) AS mon,
        |         STDDEV_SAMP(l_quantity) AS sd, AVG(l_quantity) AS mu,
        |         COUNT(*) AS n
        |  FROM lineitem WHERE EXTRACT(YEAR FROM l_shipdate) = 1996
        |  GROUP BY l_suppkey, EXTRACT(MONTH FROM l_shipdate))
        |SELECT a.sk AS suppkey, CAST(a.mon AS BIGINT) AS mon,
        |       ${r4sql("a.sd / a.mu", "cov1")}, ${r4sql("b.sd / b.mu", "cov2")}
        |FROM m a JOIN m b ON a.sk = b.sk AND b.mon = a.mon + 1
        |WHERE a.n >= 3 AND b.n >= 3 AND a.mu > 0 AND b.mu > 0
        |  AND a.sd / a.mu > 0.5 AND b.sd / b.mu > 0.5
        |ORDER BY suppkey, mon LIMIT 100""".stripMargin,

    // q41: correlated scalar COUNT over attribute combinations
    "tpcds_q41_attr_combo" ->
      s"""SELECT DISTINCT p_name FROM part p1
        |WHERE p_size BETWEEN 1 AND 10
        |  AND (SELECT COUNT(*) FROM part p2
        |       WHERE p2.p_brand = p1.p_brand
        |         AND ((p2.p_type LIKE 'SMALL%' AND p2.p_size BETWEEN 1 AND 5)
        |           OR (p2.p_type LIKE 'LARGE%' AND p2.p_size BETWEEN 5 AND 10))) > 0
        |ORDER BY p_name LIMIT 100""".stripMargin,

    // q43: pivot on a computed day bucket (portable pseudo-DOW)
    "tpcds_q43_dow_pivot" ->
      s"""SELECT n_name,
        |  ${(0 to 6).map(d => r2sql(s"SUM(CASE WHEN dow = $d THEN rev ELSE 0 END)", s"d${d}_sales")).mkString(",\n        |  ")}
        |FROM (
        |  SELECT n_name, MOD(EXTRACT(DAY FROM o_orderdate), 7) AS dow,
        |         o_totalprice AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey) t
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // q44: best and worst performers joined on rank position
    "tpcds_q44_best_worst" ->
      s"""WITH perf AS (
        |  SELECT l_partkey AS pk, AVG(l_quantity) AS avg_q
        |  FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 5),
        |best AS (SELECT pk, ROW_NUMBER() OVER (ORDER BY avg_q DESC, pk) AS rk
        |         FROM perf),
        |worst AS (SELECT pk, ROW_NUMBER() OVER (ORDER BY avg_q ASC, pk) AS rk
        |          FROM perf)
        |SELECT CAST(b.rk AS BIGINT) AS rk, pb.p_name AS best_name,
        |       pw.p_name AS worst_name
        |FROM best b JOIN worst w ON b.rk = w.rk
        |     JOIN part pb ON b.pk = pb.p_partkey
        |     JOIN part pw ON w.pk = pw.p_partkey
        |WHERE b.rk <= 10 ORDER BY rk""".stripMargin,

    // q49: per-channel return-ratio DENSE_RANK, rank-filtered
    "tpcds_q49_ratio_rank" ->
      s"""WITH ch AS (
        |  SELECT o_orderpriority AS pri, l_partkey AS pk,
        |         SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS ret,
        |         SUM(l_quantity) AS qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_orderpriority, l_partkey
        |  HAVING SUM(l_quantity) >= 50)
        |SELECT pri, pk, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT pri, pk,
        |         DENSE_RANK() OVER (PARTITION BY pri
        |                            ORDER BY ret / qty DESC, pk) AS rk
        |  FROM ch) t
        |WHERE rk <= 5 ORDER BY pri, rk, pk""".stripMargin,

    // q54: histogram over a derived revenue segment
    "tpcds_q54_segment_histogram" ->
      s"""WITH rev AS (
        |  SELECT o_custkey AS ck, SUM(o_totalprice) AS r
        |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        |  GROUP BY o_custkey)
        |SELECT CAST(FLOOR(r / 50000) AS BIGINT) AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS num_customers
        |FROM rev GROUP BY 1 ORDER BY segment""".stripMargin,

    // q58: items whose three channel revenues are each within 10% of the
    // cross-channel mean
    "tpcds_q58_equal_channels" ->
      s"""WITH c AS (
        |  SELECT l_partkey AS pk, l_returnflag AS ch,
        |         SUM(l_extendedprice) AS rev
        |  FROM lineitem GROUP BY l_partkey, l_returnflag)
        |SELECT a.pk AS pk, ${r2sql("a.rev", "a_rev")}, ${r2sql("n.rev", "n_rev")},
        |       ${r2sql("r.rev", "r_rev")}
        |FROM c a JOIN c n ON a.pk = n.pk JOIN c r ON a.pk = r.pk
        |WHERE a.ch = 'A' AND n.ch = 'N' AND r.ch = 'R'
        |  AND a.rev BETWEEN 0.9 * (a.rev + n.rev + r.rev) / 3
        |              AND 1.1 * (a.rev + n.rev + r.rev) / 3
        |  AND n.rev BETWEEN 0.9 * (a.rev + n.rev + r.rev) / 3
        |              AND 1.1 * (a.rev + n.rev + r.rev) / 3
        |  AND r.rev BETWEEN 0.9 * (a.rev + n.rev + r.rev) / 3
        |              AND 1.1 * (a.rev + n.rev + r.rev) / 3
        |ORDER BY pk LIMIT 100""".stripMargin,

    // q65: (supplier-nation, part) revenues below a fraction of that
    // nation's average part revenue — aggregate-of-aggregate threshold
    "tpcds_q65_below_avg" ->
      s"""WITH sn AS (
        |  SELECT s_nationkey AS nk, l_partkey AS pk,
        |         SUM(l_extendedprice) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_nationkey, l_partkey),
        |av AS (SELECT nk, AVG(rev) AS avg_rev FROM sn GROUP BY nk)
        |SELECT n_name, sn.pk AS pk, ${r2sql("sn.rev", "rev")}
        |FROM sn JOIN av ON sn.nk = av.nk
        |     JOIN nation ON sn.nk = n_nationkey
        |WHERE sn.rev < 0.1 * av.avg_rev
        |ORDER BY n_name, pk LIMIT 100""".stripMargin,

    // q69: EXISTS and NOT EXISTS over the same correlation key
    "tpcds_q69_exists_notexists" ->
      s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '5-LOW')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // q76: tagged UNION ALL slices re-grouped by the tag
    "tpcds_q76_tagged_union" ->
      s"""SELECT ch, CAST(yr AS BIGINT) AS yr, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       ${r2sql("SUM(price)", "total")}
        |FROM (
        |  SELECT 'store' AS ch, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         o_totalprice AS price
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'web', EXTRACT(YEAR FROM o_orderdate), o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'catalog', EXTRACT(YEAR FROM o_orderdate), o_totalprice
        |  FROM orders WHERE o_orderstatus = 'P') t
        |GROUP BY ch, yr ORDER BY ch, yr""".stripMargin,

    // q88: 8-bucket count grid via a cross join of single-row scalar
    // aggregates (quarter x linestatus)
    "tpcds_q88_bucket_grid" ->
      s"""SELECT ${(1 to 8).map(i => s"q$i.c AS b$i").mkString(", ")} FROM
        |${(1 to 8).map { i =>
            val quarter = (i - 1) / 2 + 1
            val months = Seq(quarter * 3 - 2, quarter * 3 - 1, quarter * 3).mkString(",")
            val status = if (i % 2 == 1) "F" else "O"
            s"  (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem" +
              s" WHERE EXTRACT(MONTH FROM l_shipdate) IN ($months)" +
              s" AND l_linestatus = '$status') q$i"
          }.mkString(",\n|")}""".stripMargin,

    // q90: ratio of two scalar-subquery counts
    "tpcds_q90_half_ratio" ->
      s"""SELECT ${r4sql("CAST(h1.cnt AS DOUBLE) / h2.cnt", "half_ratio")}
        |FROM (SELECT COUNT(*) AS cnt FROM orders
        |      WHERE EXTRACT(MONTH FROM o_orderdate) <= 6) h1,
        |     (SELECT COUNT(*) AS cnt FROM orders
        |      WHERE EXTRACT(MONTH FROM o_orderdate) > 6) h2""".stripMargin,

    // q95: orders with lines from >=2 suppliers (EXISTS over a correlated
    // self-joined fact) and no returned lines (NOT EXISTS)
    "tpcds_q95_twohop_exists" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l1 JOIN lineitem l2
        |      ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
        |    WHERE l1.l_orderkey = o.o_orderkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = o.o_orderkey AND l3.l_returnflag = 'R')""".stripMargin)

  val queries: Map[String, QueryFn] = sql.map { case (name, text) =>
    name -> ((s: org.apache.spark.sql.SparkSession, dir: String) => {
      graft.Tables.registerAll(s, dir); s.sql(text)
    })
  }

  val oracleSql: Map[String, String] = sql
}
