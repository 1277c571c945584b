package graft.queries

import Q._

/** TPC-DS tranche 2 (q31-q99 shapes) — the plan classes tranche 1 left
  * out: year-over-year share comparison across channels, order-size
  * banding, 3-way INTERSECT of entity sets, deviation-from-average window
  * series, cumulative-max channel comparison via FULL OUTER JOIN of two
  * windowed series, week/month-over-month self-join ratios, RANK over
  * GROUPING SETS aggregates, returns-adjusted netting, and two-period
  * FULL OUTER pair counting (reference: the .sql files under
  * core/tests/tpc-ds/; all 99
  * plan through Catalyst in TpcdsPlanningSpec — these add EXECUTED,
  * DuckDB-oracled equivalents over the fixture star).
  *
  * Same shared-SQL convention as tranche 1: one text, two engines, any
  * divergence = hash mismatch. Common-dialect window functions only
  * (SUM/AVG/RANK/DENSE_RANK/LAG OVER); month arithmetic is done as
  * yr*12+month integers (EXTRACT WEEK and date subtraction differ across
  * engines and are avoided by design).
  *
  * Scale: each query is dimension-broadcast + one keyed shuffle of the
  * fact, then window/self-join work on the already-aggregated (small)
  * series — the TPC-DS pattern where the fact is touched once.
  */
object TpcdsQueries2 extends QuerySet {

  private def r2sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS $as"
  private def r4sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-6) * 10000 + 0.5) AS DOUBLE) / 10000 AS $as"

  /** name -> SQL shared verbatim by Spark and the DuckDB oracle. */
  val sql: Map[String, String] = Map(

    // q31: nation revenue growth between consecutive years, compared across
    // two channels — nations where the open channel grew faster
    "tpcds_q31_channel_growth" ->
      s"""WITH ch AS (
        |  SELECT n_name, l_linestatus AS ch,
        |         EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, l_linestatus, EXTRACT(YEAR FROM o_orderdate))
        |SELECT o1.n_name,
        |  ${r4sql("o2.rev / o1.rev", "open_growth")},
        |  ${r4sql("f2.rev / f1.rev", "closed_growth")}
        |FROM ch o1 JOIN ch o2 ON o1.n_name = o2.n_name
        |     JOIN ch f1 ON o1.n_name = f1.n_name
        |     JOIN ch f2 ON o1.n_name = f2.n_name
        |WHERE o1.ch = 'O' AND o2.ch = 'O' AND f1.ch = 'F' AND f2.ch = 'F'
        |  AND o1.yr = 1996 AND o2.yr = 1997 AND f1.yr = 1996 AND f2.yr = 1997
        |  AND o1.rev > 0 AND f1.rev > 0
        |  AND o2.rev / o1.rev > f2.rev / f1.rev
        |ORDER BY o1.n_name""".stripMargin,

    // q34/q73: orders whose line count falls in a band, then the customers
    // holding several such orders
    "tpcds_q34_order_banding" ->
      s"""WITH banded AS (
        |  SELECT l_orderkey, COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING COUNT(*) BETWEEN 5 AND 7)
        |SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_band_orders
        |FROM banded JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |HAVING COUNT(*) >= 3
        |ORDER BY n_band_orders DESC, c_custkey LIMIT 100""".stripMargin,

    // q38/q87: customers present in ALL THREE priority channels (3-way
    // INTERSECT), counted
    "tpcds_q38_intersect3" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '3-MEDIUM') t""".stripMargin,

    // q47/q57: monthly brand series vs its yearly average — months deviating
    // >15%, with the neighboring months via LAG/LEAD
    "tpcds_q47_deviation_window" ->
      s"""WITH m AS (
        |  SELECT p_brand, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         EXTRACT(MONTH FROM o_orderdate) AS mon,
        |         SUM(l_quantity) AS qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, EXTRACT(YEAR FROM o_orderdate),
        |           EXTRACT(MONTH FROM o_orderdate)),
        |w AS (
        |  SELECT p_brand, yr, mon, qty,
        |         AVG(qty) OVER (PARTITION BY p_brand, yr) AS yr_avg,
        |         LAG(qty) OVER (PARTITION BY p_brand
        |                        ORDER BY yr, mon) AS prev_qty
        |  FROM m)
        |SELECT p_brand, yr, mon, CAST(qty AS BIGINT) AS qty,
        |  ${r4sql("yr_avg", "yr_avg")},
        |  CAST(prev_qty AS BIGINT) AS prev_qty
        |FROM w
        |WHERE yr = 1997 AND yr_avg > 0 AND ABS(qty - yr_avg) / yr_avg > 0.3
        |ORDER BY p_brand, yr, mon LIMIT 100""".stripMargin,

    // q51: cumulative revenue of the two channels compared month by month —
    // FULL OUTER JOIN of two windowed series, months where the open
    // channel's running total pulls ahead
    "tpcds_q51_cumulative_compare" ->
      s"""WITH mo AS (
        |  SELECT l_linestatus AS ch,
        |         EXTRACT(YEAR FROM l_shipdate) * 12 +
        |         EXTRACT(MONTH FROM l_shipdate) AS mk,
        |         SUM(l_extendedprice) AS rev
        |  FROM lineitem GROUP BY l_linestatus,
        |    EXTRACT(YEAR FROM l_shipdate) * 12 + EXTRACT(MONTH FROM l_shipdate)),
        |o AS (SELECT mk, SUM(rev) OVER (ORDER BY mk
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM mo WHERE ch = 'O'),
        |f AS (SELECT mk, SUM(rev) OVER (ORDER BY mk
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM mo WHERE ch = 'F')
        |SELECT COALESCE(o.mk, f.mk) AS mk,
        |  ${r2sql("o.cum", "open_cum")}, ${r2sql("f.cum", "closed_cum")}
        |FROM o FULL OUTER JOIN f ON o.mk = f.mk
        |WHERE COALESCE(o.cum, 0) > COALESCE(f.cum, 0)
        |ORDER BY mk LIMIT 100""".stripMargin,

    // q59: month-over-month revenue ratio per nation via self-join on the
    // month key
    "tpcds_q59_mom_ratio" ->
      s"""WITH nm AS (
        |  SELECT n_name,
        |         EXTRACT(YEAR FROM o_orderdate) * 12 +
        |         EXTRACT(MONTH FROM o_orderdate) AS mk,
        |         SUM(o_totalprice) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate) * 12 +
        |           EXTRACT(MONTH FROM o_orderdate))
        |SELECT a.n_name, a.mk AS mk, ${r4sql("b.rev / a.rev", "mom_ratio")}
        |FROM nm a JOIN nm b ON a.n_name = b.n_name AND b.mk = a.mk + 1
        |WHERE a.rev > 0 AND b.rev / a.rev > 1.4
        |ORDER BY a.n_name, a.mk LIMIT 100""".stripMargin,

    // q63/q89: monthly segment sales vs the segment's monthly average that
    // year — CASE-gated ratio filter over a windowed aggregate
    "tpcds_q63_monthly_deviation" ->
      s"""WITH m AS (
        |  SELECT c_mktsegment AS seg, EXTRACT(MONTH FROM o_orderdate) AS mon,
        |         SUM(o_totalprice) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        |  GROUP BY c_mktsegment, EXTRACT(MONTH FROM o_orderdate)),
        |w AS (
        |  SELECT seg, mon, rev, AVG(rev) OVER (PARTITION BY seg) AS seg_avg
        |  FROM m)
        |SELECT seg, mon, ${r2sql("rev", "rev")}, ${r2sql("seg_avg", "avg_rev")}
        |FROM w
        |WHERE CASE WHEN seg_avg > 0
        |           THEN ABS(rev - seg_avg) / seg_avg ELSE NULL END > 0.1
        |ORDER BY seg, mon LIMIT 100""".stripMargin,

    // q66: time-band pivot — quantity CASE-sliced into bands per nation
    // (the q66 warehouse time-slot pivot shape)
    "tpcds_q66_band_pivot" ->
      s"""SELECT n_name,
        |  ${r2sql("SUM(CASE WHEN l_quantity <= 12 THEN l_extendedprice ELSE 0 END)", "band1")},
        |  ${r2sql("SUM(CASE WHEN l_quantity > 12 AND l_quantity <= 25 THEN l_extendedprice ELSE 0 END)", "band2")},
        |  ${r2sql("SUM(CASE WHEN l_quantity > 25 AND l_quantity <= 37 THEN l_extendedprice ELSE 0 END)", "band3")},
        |  ${r2sql("SUM(CASE WHEN l_quantity > 37 THEN l_extendedprice ELSE 0 END)", "band4")}
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |     JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // q70: RANK over GROUPING SETS aggregates — nation ranking within
    // region on a rolled-up revenue report
    "tpcds_q70_rank_rollup" ->
      s"""WITH agg AS (
        |  SELECT r_name, n_name, SUM(s_acctbal) AS bal
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ()))
        |SELECT r_name, n_name, ${r2sql("bal", "bal")},
        |  CAST(CASE WHEN n_name IS NOT NULL THEN
        |    RANK() OVER (PARTITION BY r_name ORDER BY bal DESC)
        |  ELSE NULL END AS BIGINT) AS rank_in_region
        |FROM agg
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    // q75: year-over-year order-count delta per priority, channels unioned
    "tpcds_q75_yoy_delta" ->
      s"""WITH yc AS (
        |  SELECT o_orderpriority AS pri, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         COUNT(*) AS cnt
        |  FROM orders WHERE o_orderstatus = 'O'
        |  GROUP BY o_orderpriority, EXTRACT(YEAR FROM o_orderdate)
        |  UNION ALL
        |  SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate), COUNT(*)
        |  FROM orders WHERE o_orderstatus = 'F'
        |  GROUP BY o_orderpriority, EXTRACT(YEAR FROM o_orderdate)),
        |tot AS (SELECT pri, yr, SUM(cnt) AS cnt FROM yc GROUP BY pri, yr)
        |SELECT a.pri, CAST(a.cnt AS BIGINT) AS prev_cnt,
        |  CAST(b.cnt AS BIGINT) AS curr_cnt,
        |  CAST(b.cnt - a.cnt AS BIGINT) AS delta
        |FROM tot a JOIN tot b ON a.pri = b.pri AND b.yr = a.yr + 1
        |WHERE a.yr = 1996
        |ORDER BY delta, a.pri LIMIT 100""".stripMargin,

    // q93: returns-adjusted net quantity and revenue per customer — a
    // returned line (returnflag R) cancels its quantity
    "tpcds_q93_returns_net" ->
      s"""SELECT c_custkey,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE l_quantity END) AS BIGINT) AS net_qty,
        |  ${r2sql("SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE l_extendedprice END)", "net_paid")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey
        |HAVING SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE l_quantity END) > 0
        |ORDER BY net_paid DESC, c_custkey LIMIT 100""".stripMargin,

    // q97: two-period customer-part pair overlap via FULL OUTER JOIN —
    // pairs seen only early, only late, or in both
    "tpcds_q97_period_overlap" ->
      s"""WITH early AS (
        |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate < DATE '1997-01-01'),
        |late AS (
        |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= DATE '1997-01-01')
        |SELECT
        |  CAST(SUM(CASE WHEN l.ck IS NOT NULL AND r.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS early_only,
        |  CAST(SUM(CASE WHEN l.ck IS NULL AND r.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS late_only,
        |  CAST(SUM(CASE WHEN l.ck IS NOT NULL AND r.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_periods
        |FROM early l FULL OUTER JOIN late r ON l.ck = r.ck AND l.pk = r.pk""".stripMargin,

    // q99: order-to-ship month-lag bands counted per priority (month
    // arithmetic as yr*12+mon integers — portable across engines)
    "tpcds_q99_lag_bands" ->
      s"""SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN lag_months <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS m0_1,
        |  CAST(SUM(CASE WHEN lag_months > 1 AND lag_months <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m2_3,
        |  CAST(SUM(CASE WHEN lag_months > 3 THEN 1 ELSE 0 END) AS BIGINT) AS m4_plus
        |FROM (
        |  SELECT o_orderpriority,
        |    (EXTRACT(YEAR FROM l_shipdate) * 12 + EXTRACT(MONTH FROM l_shipdate)) -
        |    (EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate))
        |      AS lag_months
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  val queries: Map[String, QueryFn] = sql.map { case (name, text) =>
    name -> ((s: org.apache.spark.sql.SparkSession, dir: String) => {
      graft.Tables.registerAll(s, dir); s.sql(text)
    })
  }

  val oracleSql: Map[String, String] = sql
}
