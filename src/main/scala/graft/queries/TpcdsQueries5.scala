package graft.queries

import Q._

/** TPC-DS tranche 5 — the 36 query numbers tranches 1-4 had folded into
  * combined plan-class entries (reference: core/tests/tpc-ds/q20.sql etc.).
  * With this tranche every one of the 99 reference queries has its OWN
  * named, oracle-checked adaptation over the fixture star, so the
  * "all 99 TPC-DS queries" claim is literal: 99/99 plan (TpcdsPlanningSpec),
  * 99/99 execute with a DuckDB oracle (tranches 1-5).
  *
  * Where a number shares a plan class with an earlier tranche (the spec
  * itself repeats classes across channels: q3≈q42≈q52≈q55, q34≈q73,
  * q47≈q57, q32≈q92, q46≈q68≈q79, …) the adaptation here varies the
  * channel/dimension/filter the same way the spec does — different slice,
  * same shape — so each entry still exercises a distinct query text.
  *
  * Shared-SQL convention (one text, both engines, divergence = hash
  * mismatch) and the tranche-2 portability rules: EXTRACT-based date
  * parts, yr*372+mon*31+day pseudo-day arithmetic instead of engine-
  * specific date subtraction, ORDER BY exact keys (never bare doubles),
  * epsilon-shifted thresholds (…*1.37, +0.137) so no data-clustered value
  * sits on a comparison boundary, CAST(…AS BIGINT) on integral sums.
  *
  * Scale: every query is dimension-broadcast + at most one keyed shuffle
  * of the fact; self-joins and windows run over already-aggregated series.
  */
object TpcdsQueries5 extends QuerySet {

  private def r2sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS $as"
  private def r4sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-6) * 10000 + 0.5) AS DOUBLE) / 10000 AS $as"

  /** Portable day-grain ordinal (monotone in the date; identical integer
    * arithmetic in Spark and DuckDB — engines disagree on date-date
    * subtraction types, not on EXTRACT). */
  private def pday(col: String) =
    s"(EXTRACT(YEAR FROM $col) * 372 + (EXTRACT(MONTH FROM $col) - 1) * 31 + EXTRACT(DAY FROM $col))"

  /** name -> SQL shared verbatim by Spark and the DuckDB oracle. */
  val sql: Map[String, String] = Map(

    // q20: revenue share of each brand within its type over a 30-day
    // window (q12/q98 class, catalog channel → urgent-priority slice)
    "tpcds_q20_class_share" ->
      s"""WITH s AS (
        |  SELECT p_type, p_brand,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= DATE '1996-03-01'
        |    AND o_orderdate <  DATE '1996-04-01'
        |    AND o_orderpriority = '1-URGENT'
        |  GROUP BY p_type, p_brand)
        |SELECT p_type, p_brand, ${r2sql("rev", "itemrev")},
        |  ${r4sql("rev * 100 / SUM(rev) OVER (PARTITION BY p_type)", "revratio")}
        |FROM s ORDER BY p_type, p_brand LIMIT 100""".stripMargin,

    // q26: average quantity/price/discount sliced by a demographic band
    // (q7 class, catalog channel → different segment + priority slice)
    "tpcds_q26_demo_avgs" ->
      s"""SELECT p_brand, ${r4sql("AVG(l_quantity)", "agg1")},
        |  ${r2sql("AVG(l_extendedprice)", "agg2")},
        |  ${r4sql("AVG(l_discount)", "agg3")},
        |  ${r2sql("AVG(o_totalprice)", "agg4")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE c_mktsegment = 'FURNITURE'
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND EXTRACT(YEAR FROM o_orderdate) = 1996
        |GROUP BY p_brand ORDER BY p_brand LIMIT 100""".stripMargin,

    // q29: quantity sold, then returned, then sold again across three
    // overlapping periods, joined per part (q17/q25 class)
    "tpcds_q29_sold_returned_resold" ->
      s"""WITH sold AS (
        |  SELECT l_partkey AS pk, SUM(l_quantity) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1995 AND l_returnflag <> 'R'
        |  GROUP BY l_partkey),
        |ret AS (
        |  SELECT l_partkey AS pk, SUM(l_quantity) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
        |    AND l_returnflag = 'R'
        |  GROUP BY l_partkey),
        |resold AS (
        |  SELECT l_partkey AS pk, SUM(l_quantity) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) BETWEEN 1996 AND 1997
        |    AND l_returnflag <> 'R'
        |  GROUP BY l_partkey)
        |SELECT p_brand, CAST(SUM(sold.q) AS BIGINT) AS sold_qty,
        |       CAST(SUM(ret.q) AS BIGINT) AS ret_qty,
        |       CAST(SUM(resold.q) AS BIGINT) AS resold_qty
        |FROM sold JOIN ret ON sold.pk = ret.pk
        |     JOIN resold ON sold.pk = resold.pk
        |     JOIN part ON p_partkey = sold.pk
        |GROUP BY p_brand ORDER BY p_brand LIMIT 100""".stripMargin,

    // q37: parts in a price band with recent multi-supplier activity
    // (catalog channel; q82 is the store sibling below)
    "tpcds_q37_price_band_activity" ->
      s"""SELECT p_partkey, p_name, ${r2sql("p_retailprice", "price")}
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |     JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_retailprice BETWEEN 905 AND 910
        |  AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate <  DATE '1996-03-01'
        |GROUP BY p_partkey, p_name, p_retailprice
        |HAVING COUNT(DISTINCT l_suppkey) >= 2
        |ORDER BY p_partkey LIMIT 100""".stripMargin,

    // q40: before/after-pivot sales with returns netted out, by supplier
    // nation (warehouse analog) and brand
    "tpcds_q40_pivot_netting" ->
      s"""SELECT n_name, p_brand,
        |  ${r2sql("SUM(CASE WHEN o_orderdate < DATE '1996-07-01' THEN CASE WHEN l_returnflag = 'R' THEN -l_extendedprice ELSE l_extendedprice END ELSE 0 END)", "sales_before")},
        |  ${r2sql("SUM(CASE WHEN o_orderdate >= DATE '1996-07-01' THEN CASE WHEN l_returnflag = 'R' THEN -l_extendedprice ELSE l_extendedprice END ELSE 0 END)", "sales_after")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN supplier ON l_suppkey = s_suppkey
        |     JOIN nation ON s_nationkey = n_nationkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate <  DATE '1997-01-01'
        |  AND p_size BETWEEN 10 AND 20
        |GROUP BY n_name, p_brand
        |ORDER BY n_name, p_brand LIMIT 100""".stripMargin,

    // q42: one-month category revenue ranking (q3 class; ranked by the
    // exact integral quantity, revenue as payload)
    "tpcds_q42_month_category" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS yr, p_type,
        |  CAST(SUM(l_quantity) AS BIGINT) AS qty,
        |  ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE c_mktsegment = 'MACHINERY'
        |  AND EXTRACT(MONTH FROM o_orderdate) = 11
        |  AND EXTRACT(YEAR FROM o_orderdate) = 1996
        |GROUP BY EXTRACT(YEAR FROM o_orderdate), p_type
        |ORDER BY qty DESC, p_type LIMIT 10""".stripMargin,

    // q48: one total over OR'd demographic/temporal band predicates
    // (q13 class with disjunctive slices)
    "tpcds_q48_ored_bands" ->
      s"""SELECT CAST(SUM(l_quantity) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |WHERE (c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 0 AND 3000
        |       AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |   OR (c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 3000 AND 6000
        |       AND o_orderstatus = 'F')
        |   OR (c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 6000
        |       AND EXTRACT(YEAR FROM o_orderdate) = 1996)""".stripMargin,

    // q50: order-to-ship latency buckets per supplier nation (store
    // channel; day-grain bands over the portable pseudo-day ordinal)
    "tpcds_q50_latency_bands" ->
      s"""SELECT n_name,
        |  CAST(SUM(CASE WHEN lagd <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN lagd > 30 AND lagd <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN lagd > 60 AND lagd <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN lagd > 90 AND lagd <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
        |  CAST(SUM(CASE WHEN lagd > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
        |FROM (
        |  SELECT s_nationkey AS snk,
        |         ${pday("l_shipdate")} - ${pday("o_orderdate")} AS lagd
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE l_returnflag = 'R') t
        |JOIN nation ON snk = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // q52: one-month brand revenue ranking, all segments (q3 class,
    // different slice than q42: brand grain, December 1995)
    "tpcds_q52_month_brand" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS yr, p_brand,
        |  CAST(SUM(l_quantity) AS BIGINT) AS qty,
        |  ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE EXTRACT(MONTH FROM o_orderdate) = 12
        |  AND EXTRACT(YEAR FROM o_orderdate) = 1995
        |GROUP BY EXTRACT(YEAR FROM o_orderdate), p_brand
        |ORDER BY qty DESC, p_brand LIMIT 100""".stripMargin,

    // q53: quarterly brand revenue vs the brand's own average — quarters
    // deviating >20% (q63/q89 class; quarter via FLOOR month arithmetic)
    "tpcds_q53_quarterly_deviation" ->
      s"""WITH s AS (
        |  SELECT p_brand, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |    CAST(FLOOR((EXTRACT(MONTH FROM o_orderdate) + 2) / 3) AS INT) AS qtr,
        |    SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'STANDARD'
        |  GROUP BY p_brand, EXTRACT(YEAR FROM o_orderdate),
        |           CAST(FLOOR((EXTRACT(MONTH FROM o_orderdate) + 2) / 3) AS INT)),
        |w AS (
        |  SELECT p_brand, yr, qtr, rev,
        |         AVG(rev) OVER (PARTITION BY p_brand) AS brand_avg
        |  FROM s)
        |SELECT p_brand, yr, qtr, ${r2sql("rev", "rev")},
        |       ${r2sql("brand_avg", "brand_avg")}
        |FROM w
        |WHERE brand_avg > 0 AND ABS(rev - brand_avg) / brand_avg > 0.2
        |ORDER BY p_brand, yr, qtr LIMIT 100""".stripMargin,

    // q55: single-month brand revenue for a size band (manager analog;
    // q3 class, third slice)
    "tpcds_q55_brand_month" ->
      s"""SELECT p_brand, CAST(SUM(l_quantity) AS BIGINT) AS qty,
        |  ${r2sql("SUM(l_extendedprice * (1 - l_discount))", "rev")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN part ON l_partkey = p_partkey
        |WHERE EXTRACT(MONTH FROM o_orderdate) = 3
        |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
        |  AND p_size BETWEEN 1 AND 15
        |GROUP BY p_brand ORDER BY qty DESC, p_brand LIMIT 100""".stripMargin,

    // q56: the same size band's revenue summed across three priority
    // channels via UNION ALL (q33/q60 class)
    "tpcds_q56_union3_size" ->
      s"""WITH ch1 AS (
        |  SELECT p_size, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderpriority = '1-URGENT' AND p_size <= 10
        |  GROUP BY p_size),
        |ch2 AS (
        |  SELECT p_size, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderpriority = '2-HIGH' AND p_size <= 10
        |  GROUP BY p_size),
        |ch3 AS (
        |  SELECT p_size, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderpriority = '3-MEDIUM' AND p_size <= 10
        |  GROUP BY p_size)
        |SELECT p_size, ${r2sql("SUM(rev)", "total_rev")}
        |FROM (SELECT * FROM ch1 UNION ALL SELECT * FROM ch2
        |      UNION ALL SELECT * FROM ch3) t
        |GROUP BY p_size ORDER BY p_size""".stripMargin,

    // q57: monthly supplier-nation revenue vs its yearly average with
    // neighboring months (q47 class, catalog channel → nation grain)
    "tpcds_q57_nation_deviation" ->
      s"""WITH m AS (
        |  SELECT n_name, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         EXTRACT(MONTH FROM o_orderdate) AS mon,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate),
        |           EXTRACT(MONTH FROM o_orderdate)),
        |w AS (
        |  SELECT n_name, yr, mon, rev,
        |         AVG(rev) OVER (PARTITION BY n_name, yr) AS yr_avg,
        |         LAG(rev)  OVER (PARTITION BY n_name ORDER BY yr, mon) AS prev_rev,
        |         LEAD(rev) OVER (PARTITION BY n_name ORDER BY yr, mon) AS next_rev
        |  FROM m)
        |SELECT n_name, yr, mon, ${r2sql("rev", "rev")},
        |       ${r2sql("yr_avg", "yr_avg")},
        |       ${r2sql("COALESCE(prev_rev, 0)", "prev_rev")},
        |       ${r2sql("COALESCE(next_rev, 0)", "next_rev")}
        |FROM w
        |WHERE yr = 1996 AND yr_avg > 0 AND ABS(rev - yr_avg) / yr_avg > 0.1
        |ORDER BY n_name, yr, mon LIMIT 100""".stripMargin,

    // q60: three-channel UNION ALL re-aggregated by type (q56 sibling at
    // the type grain over the low-priority channels)
    "tpcds_q60_union3_type" ->
      s"""WITH ch1 AS (
        |  SELECT p_type, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderpriority = '3-MEDIUM' GROUP BY p_type),
        |ch2 AS (
        |  SELECT p_type, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderpriority = '4-NOT SPECIFIED' GROUP BY p_type),
        |ch3 AS (
        |  SELECT p_type, SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderpriority = '5-LOW' GROUP BY p_type)
        |SELECT p_type, ${r2sql("SUM(rev)", "total_rev")}
        |FROM (SELECT * FROM ch1 UNION ALL SELECT * FROM ch2
        |      UNION ALL SELECT * FROM ch3) t
        |GROUP BY p_type ORDER BY p_type""".stripMargin,

    // q61: promo-type revenue as a share of total for one region-year —
    // two independent aggregates combined by CROSS JOIN
    "tpcds_q61_promo_ratio" ->
      s"""WITH promo AS (
        |  SELECT SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO' AND EXTRACT(YEAR FROM o_orderdate) = 1996),
        |total AS (
        |  SELECT SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996)
        |SELECT ${r2sql("promo.rev", "promo_rev")},
        |       ${r2sql("total.rev", "total_rev")},
        |       ${r4sql("promo.rev * 100 / total.rev", "promo_pct")}
        |FROM promo CROSS JOIN total""".stripMargin,

    // q62: latency bands by priority channel (q50 sibling at the
    // ship-mode analog grain, all return flags)
    "tpcds_q62_latency_by_channel" ->
      s"""SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN lagd <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN lagd > 30 AND lagd <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN lagd > 60 AND lagd <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN lagd > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90plus
        |FROM (
        |  SELECT o_orderpriority,
        |         ${pday("l_shipdate")} - ${pday("o_orderdate")} AS lagd
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q64: customer-part pairs bought in consecutive years at sharply
    // higher spend — self-join of two per-pair aggregates
    "tpcds_q64_repeat_pairs" ->
      s"""WITH early AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk,
        |         SUM(l_extendedprice) AS amt, SUM(l_quantity) AS qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        |  GROUP BY o_custkey, l_partkey),
        |late AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk,
        |         SUM(l_extendedprice) AS amt, SUM(l_quantity) AS qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        |  GROUP BY o_custkey, l_partkey)
        |SELECT e.ck, e.pk, ${r2sql("e.amt", "early_amt")},
        |       ${r2sql("l.amt", "late_amt")},
        |       CAST(e.qty AS BIGINT) AS early_qty,
        |       CAST(l.qty AS BIGINT) AS late_qty
        |FROM early e JOIN late l ON e.ck = l.ck AND e.pk = l.pk
        |WHERE l.amt > e.amt * 1.37
        |ORDER BY e.ck, e.pk LIMIT 100""".stripMargin,

    // q67: two-level ROLLUP with per-parent top-3 by the exact integral
    // quantity (rank partition = brand incl. the grand-total row)
    "tpcds_q67_rollup_rank" ->
      s"""WITH agg AS (
        |  SELECT p_brand, p_type, CAST(SUM(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY ROLLUP (p_brand, p_type)),
        |w AS (
        |  SELECT COALESCE(p_brand, 'ALL') AS brand,
        |         COALESCE(p_type, 'ALL') AS ptype, qty,
        |         RANK() OVER (PARTITION BY COALESCE(p_brand, 'ALL')
        |                      ORDER BY qty DESC, COALESCE(p_type, 'ALL')) AS rk
        |  FROM agg)
        |SELECT brand, ptype, qty, rk FROM w
        |WHERE rk <= 3 ORDER BY brand, rk LIMIT 100""".stripMargin,

    // q68: per-order extended/discount totals for customers whose nation
    // differs from the order's (min) supplier nation, above a spend floor
    // (q46 class, second slice)
    "tpcds_q68_mismatch_spend" ->
      s"""WITH po AS (
        |  SELECT l_orderkey AS ok, SUM(l_extendedprice) AS amt,
        |         SUM(l_extendedprice * l_discount) AS disc,
        |         MIN(s_nationkey) AS snk
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY l_orderkey)
        |SELECT c_name, c_custkey, ok, ${r2sql("amt", "amt")},
        |       ${r2sql("disc", "disc")}
        |FROM po JOIN orders ON ok = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey <> snk AND amt > 100000.137
        |ORDER BY c_name, ok LIMIT 100""".stripMargin,

    // q72: demand exceeding derived on-hand inventory per brand-month
    // (inventory derived exactly like q11's partsupp — portable UNION ALL
    // generator, modular availqty)
    "tpcds_q72_inventory_shortage" ->
      s"""WITH ps AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey * 7 + i * 13) % (SELECT COUNT(*) FROM supplier) + 1 AS ps_suppkey,
        |    (p_partkey * 31 + i * 17) % 9999 + 1 AS ps_availqty
        |  FROM part CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1
        |                        UNION ALL SELECT 2 UNION ALL SELECT 3) gen)
        |SELECT p_brand, EXTRACT(MONTH FROM o_orderdate) AS mon,
        |       CAST(COUNT(*) AS BIGINT) AS short_events
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |     JOIN part ON p_partkey = l_partkey
        |WHERE ps_availqty % 100 < l_quantity
        |  AND EXTRACT(YEAR FROM o_orderdate) = 1996
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY p_brand, EXTRACT(MONTH FROM o_orderdate)
        |ORDER BY p_brand, mon LIMIT 100""".stripMargin,

    // q73: customers holding several small orders (q34 sibling: narrower
    // 2-4 line band, lower repeat threshold)
    "tpcds_q73_small_order_band" ->
      s"""WITH banded AS (
        |  SELECT l_orderkey, COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING COUNT(*) BETWEEN 2 AND 4)
        |SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_band_orders
        |FROM banded JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |HAVING COUNT(*) >= 5
        |ORDER BY n_band_orders DESC, c_custkey LIMIT 100""".stripMargin,

    // q74: year-over-year growth on the customer's PEAK order (MAX is
    // bit-exact across engines, unlike a drifting SUM ratio; q11/q4 class)
    "tpcds_q74_peak_growth" ->
      s"""WITH yt AS (
        |  SELECT o_custkey AS cust, EXTRACT(YEAR FROM o_orderdate) AS yr,
        |         MAX(o_totalprice) AS peak
        |  FROM orders
        |  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
        |  GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate))
        |SELECT c_custkey, c_name, ${r4sql("y2.peak / y1.peak", "growth")}
        |FROM yt y1 JOIN yt y2 ON y1.cust = y2.cust
        |     JOIN customer ON c_custkey = y1.cust
        |WHERE y1.yr = 1996 AND y2.yr = 1997
        |  AND y1.peak > 0 AND y2.peak > y1.peak * 1.37
        |ORDER BY c_custkey LIMIT 100""".stripMargin,

    // q79: per-order quantity/revenue for low-priority orders above a
    // quantity floor (q46 class, third slice — exact integral threshold)
    "tpcds_q79_bulk_low_priority" ->
      s"""WITH po AS (
        |  SELECT l_orderkey AS ok, SUM(l_quantity) AS qty,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT c_name, c_custkey, ok, CAST(qty AS BIGINT) AS qty,
        |       ${r2sql("rev", "rev")}
        |FROM po JOIN orders ON ok = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderpriority = '5-LOW' AND qty > 150
        |ORDER BY c_name, ok LIMIT 100""".stripMargin,

    // q80: per-channel sales / returns / net with a grand-total ROLLUP row
    // (q77 sibling with returns netted inside each channel)
    "tpcds_q80_channel_netting" ->
      s"""WITH ch AS (
        |  SELECT o_orderpriority AS channel,
        |    SUM(CASE WHEN l_returnflag <> 'R'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS sales,
        |    SUM(CASE WHEN l_returnflag = 'R'
        |        THEN l_extendedprice ELSE 0 END) AS returns_amt,
        |    SUM(CASE WHEN l_returnflag <> 'R'
        |        THEN l_extendedprice * (1 - l_discount) * (1 - l_tax)
        |        ELSE 0 END) AS net
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        |  GROUP BY o_orderpriority)
        |SELECT COALESCE(channel, 'ALL') AS ch_label,
        |       ${r2sql("SUM(sales)", "sales")},
        |       ${r2sql("SUM(returns_amt)", "returns_amt")},
        |       ${r2sql("SUM(net)", "net")}
        |FROM ch GROUP BY ROLLUP (channel)
        |ORDER BY ch_label""".stripMargin,

    // q81: customers whose returned amount exceeds 1.2x their nation's
    // average (q1 sibling on the catalog analog — correlated threshold)
    "tpcds_q81_returns_above_nation_avg" ->
      s"""WITH r AS (
        |  SELECT c_custkey AS ck, c_nationkey AS nk,
        |         SUM(l_extendedprice) AS ret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT n_name, x.ck, ${r2sql("x.ret", "ret")}
        |FROM r x JOIN nation ON x.nk = n_nationkey
        |WHERE x.ret > (SELECT AVG(rr.ret) * 1.2 FROM r rr WHERE rr.nk = x.nk)
        |ORDER BY n_name, x.ck LIMIT 100""".stripMargin,

    // q82: parts in a different price band with healthy-supplier recent
    // activity (q37 sibling, store channel: lineitem shipdate window)
    "tpcds_q82_store_band_activity" ->
      s"""SELECT p_partkey, p_name, ${r2sql("p_retailprice", "price")}
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |     JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_retailprice BETWEEN 910 AND 915
        |  AND s_acctbal > 0
        |  AND l_shipdate >= DATE '1996-06-01'
        |  AND l_shipdate <  DATE '1996-09-01'
        |GROUP BY p_partkey, p_name, p_retailprice
        |HAVING COUNT(*) >= 3
        |ORDER BY p_partkey LIMIT 100""".stripMargin,

    // q83: returned quantity per part across three channels restricted to
    // a date set chosen by subquery, joined on the part (3-way CTE join)
    "tpcds_q83_returned_3ch" ->
      s"""WITH dates AS (
        |  SELECT DISTINCT o_orderdate AS d FROM orders
        |  WHERE o_orderpriority = '5-LOW'
        |    AND EXTRACT(MONTH FROM o_orderdate) IN (1, 2, 3)),
        |s1 AS (
        |  SELECT l_partkey AS pk, SUM(l_quantity) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' AND o_orderpriority = '1-URGENT'
        |    AND o_orderdate IN (SELECT d FROM dates)
        |  GROUP BY l_partkey),
        |s2 AS (
        |  SELECT l_partkey AS pk, SUM(l_quantity) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' AND o_orderpriority = '2-HIGH'
        |    AND o_orderdate IN (SELECT d FROM dates)
        |  GROUP BY l_partkey),
        |s3 AS (
        |  SELECT l_partkey AS pk, SUM(l_quantity) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' AND o_orderpriority = '3-MEDIUM'
        |    AND o_orderdate IN (SELECT d FROM dates)
        |  GROUP BY l_partkey)
        |SELECT s1.pk, CAST(s1.q AS BIGINT) AS q1,
        |       CAST(s2.q AS BIGINT) AS q2, CAST(s3.q AS BIGINT) AS q3
        |FROM s1 JOIN s2 ON s1.pk = s2.pk JOIN s3 ON s1.pk = s3.pk
        |ORDER BY s1.pk LIMIT 100""".stripMargin,

    // q85: return statistics per priority over OR'd demographic bands
    // (web-returns reason buckets analog)
    "tpcds_q85_return_buckets" ->
      s"""SELECT o_orderpriority, ${r4sql("AVG(l_quantity)", "avg_qty")},
        |  ${r2sql("AVG(l_extendedprice)", "avg_amt")},
        |  ${r2sql("SUM(l_extendedprice)", "total_amt")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R' AND (
        |    (c_mktsegment = 'BUILDING'  AND c_acctbal BETWEEN 0 AND 5000)
        | OR (c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 5000 AND 10000)
        | OR (c_mktsegment = 'HOUSEHOLD'))
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q86: ROLLUP margin hierarchy ranked within the parent grouping level
    // (q36/q70 sibling over the part hierarchy; exact-qty ranking)
    "tpcds_q86_hierarchy_rank" ->
      s"""WITH agg AS (
        |  SELECT p_type, p_brand, CAST(SUM(l_quantity) AS BIGINT) AS qty,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev,
        |         GROUPING(p_type) + GROUPING(p_brand) AS lvl
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY ROLLUP (p_type, p_brand))
        |SELECT COALESCE(p_type, 'ALL') AS ptype,
        |       COALESCE(p_brand, 'ALL') AS brand, lvl, qty,
        |       ${r2sql("rev", "rev")},
        |       RANK() OVER (PARTITION BY lvl, COALESCE(p_type, 'ALL')
        |                    ORDER BY qty DESC, COALESCE(p_brand, 'ALL')) AS rk
        |FROM agg
        |ORDER BY lvl DESC, ptype, rk LIMIT 100""".stripMargin,

    // q87: customers in the urgent channel and in NEITHER of the other
    // two — EXCEPT chain (the q38 INTERSECT mirror)
    "tpcds_q87_except_chain" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '3-MEDIUM') t""".stripMargin,

    // q89: monthly brand-within-type deviation from the pair's average
    // (q53 sibling at month grain, one year)
    "tpcds_q89_monthly_deviation" ->
      s"""WITH s AS (
        |  SELECT p_type, p_brand, EXTRACT(MONTH FROM o_orderdate) AS mon,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN part ON l_partkey = p_partkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        |    AND p_type IN ('ECONOMY', 'PROMO', 'STANDARD')
        |  GROUP BY p_type, p_brand, EXTRACT(MONTH FROM o_orderdate)),
        |w AS (
        |  SELECT p_type, p_brand, mon, rev,
        |         AVG(rev) OVER (PARTITION BY p_type, p_brand) AS pair_avg
        |  FROM s)
        |SELECT p_type, p_brand, mon, ${r2sql("rev", "rev")},
        |       ${r2sql("pair_avg", "pair_avg")}
        |FROM w
        |WHERE pair_avg > 0 AND ABS(rev - pair_avg) / pair_avg > 0.15
        |ORDER BY p_type, p_brand, mon LIMIT 100""".stripMargin,

    // q91: returned-amount losses by supplier nation and month for
    // in-debt customers (call-center loss analog)
    "tpcds_q91_cc_losses" ->
      s"""SELECT n_name, EXTRACT(MONTH FROM o_orderdate) AS mon,
        |  ${r2sql("SUM(l_extendedprice)", "loss")}
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN supplier ON l_suppkey = s_suppkey
        |     JOIN nation ON s_nationkey = n_nationkey
        |WHERE l_returnflag = 'R' AND c_acctbal < 0
        |  AND EXTRACT(YEAR FROM o_orderdate) = 1996
        |GROUP BY n_name, EXTRACT(MONTH FROM o_orderdate)
        |ORDER BY n_name, mon""".stripMargin,

    // q92: excess discount vs the part's own shipping-window average
    // (q32 sibling restricted to small parts — correlated threshold)
    "tpcds_q92_excess_discount_small" ->
      s"""SELECT ${r2sql("SUM(l1.l_extendedprice * l1.l_discount)", "excess_discount")}
        |FROM lineitem l1 JOIN part ON l1.l_partkey = p_partkey
        |WHERE p_size <= 15
        |  AND l1.l_discount > (
        |    SELECT 1.3 * AVG(l2.l_discount) FROM lineitem l2
        |    WHERE l2.l_partkey = l1.l_partkey
        |      AND l2.l_shipdate >= DATE '1996-01-01')""".stripMargin,

    // q94: multi-supplier orders with no returned line — EXISTS a second
    // line from a different supplier, NOT EXISTS a returned line
    // (q16 sibling on the web analog)
    "tpcds_q94_multi_supplier_clean" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS order_cnt,
        |       ${r2sql("SUM(o_totalprice)", "total_price")}
        |FROM orders o
        |WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        |  AND o_orderpriority = '2-HIGH'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l1 JOIN lineitem l2
        |      ON l1.l_orderkey = l2.l_orderkey
        |     AND l1.l_suppkey <> l2.l_suppkey
        |    WHERE l1.l_orderkey = o.o_orderkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem lr
        |    WHERE lr.l_orderkey = o.o_orderkey AND lr.l_returnflag = 'R')""".stripMargin,

    // q96: a single count over stacked selective predicates (hour-bucket
    // count analog at month grain)
    "tpcds_q96_selective_count" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_quantity BETWEEN 26 AND 30
        |  AND o_orderpriority = '4-NOT SPECIFIED'
        |  AND EXTRACT(MONTH FROM l_shipdate) = 7""".stripMargin,

    // q98: full (un-limited) share-of-parent report: each type's revenue
    // share within its size group over a quarter (q20 sibling, ordered
    // exhaustively — the reference's no-LIMIT member of the class)
    "tpcds_q98_share_report" ->
      s"""WITH s AS (
        |  SELECT p_size, p_type,
        |         SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= DATE '1996-01-01'
        |    AND o_orderdate <  DATE '1996-04-01'
        |    AND p_size <= 25
        |  GROUP BY p_size, p_type)
        |SELECT p_size, p_type, ${r2sql("rev", "itemrev")},
        |  ${r4sql("rev * 100 / SUM(rev) OVER (PARTITION BY p_size)", "revratio")}
        |FROM s ORDER BY p_size, p_type""".stripMargin)

  val queries: Map[String, QueryFn] = sql.map { case (name, text) =>
    name -> ((s: org.apache.spark.sql.SparkSession, dir: String) => {
      graft.Tables.registerAll(s, dir); s.sql(text)
    })
  }

  val oracleSql: Map[String, String] = sql
}
