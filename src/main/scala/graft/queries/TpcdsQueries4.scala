package graft.queries

import Q._

/** TPC-DS tranche 4 (reference: core/tests/tpc-ds/) — last set of
  * distinct plan classes, keyed to their query numbers:
  *
  *   - q24: HAVING against an uncorrelated scalar aggregate over the
  *     same CTE (the CTE is consumed twice: body + subquery)
  *   - q32/q92: correlated per-group average threshold applied to the
  *     fact itself (excess-discount pattern)
  *   - q35: conjunction of EXISTS with an OR of two more EXISTS, plus a
  *     multi-statistic output block
  *   - q45: disjunction of a literal IN-list and an IN-subquery
  *     (ExistenceJoin territory on the Spark side)
  *   - q46/q68/q79: per-order rollup joined back through the order to a
  *     dimension inequality (the "bought in a different city" bundle)
  *   - q71: union slices re-aggregated by an hour bucket on the event
  *     stream's timestamp
  *   - q77: FULL OUTER join of two per-channel aggregates re-aggregated
  *     under GROUPING SETS with a grand-total row
  *   - q78: composite-key anti join via LEFT JOIN ... IS NULL (returns
  *     never shuffled wide — both sides pre-aggregated)
  *   - q84: pure dimension-chain lookup (no aggregate), label
  *     concatenation in the projection
  *
  * Same shared-SQL convention as tranches 1-3 (one text, both engines).
  */
object TpcdsQueries4 extends QuerySet {

  private def r2sql(e: String, as: String) =
    s"CAST(FLOOR(($e + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS $as"

  /** name -> SQL shared verbatim by Spark and the DuckDB oracle. */
  val sql: Map[String, String] = Map(

    "tpcds_q24_having_scalar" ->
      s"""WITH pay AS (
        |  SELECT o_custkey AS ck, SUM(l_extendedprice * (1 - l_discount)) AS paid
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |SELECT ck, ${r2sql("paid", "paid")}
        |FROM pay
        |WHERE paid > (SELECT 1.5 * AVG(paid) FROM pay)
        |ORDER BY ck""".stripMargin,

    "tpcds_q32_excess_discount" ->
      s"""SELECT ${r2sql("SUM(l_extendedprice * l_discount)", "excess_discount")}
        |FROM lineitem l1
        |WHERE l_discount > (SELECT 1.3 * AVG(l2.l_discount) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,

    "tpcds_q35_or_exists_stats" ->
      s"""SELECT c_mktsegment, n_name, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       ${r2sql("AVG(c_acctbal)", "avg_bal")}, ${r2sql("MAX(c_acctbal)", "max_bal")},
        |       ${r2sql("SUM(c_acctbal)", "sum_bal")}
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND EXTRACT(YEAR FROM o_orderdate) = 1996)
        |  AND (EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |               AND o_orderpriority = '1-URGENT')
        |    OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |               AND o_orderpriority = '2-HIGH'))
        |GROUP BY c_mktsegment, n_name
        |ORDER BY c_mktsegment, n_name""".stripMargin,

    "tpcds_q45_in_or_insubq" ->
      s"""SELECT n_name, ${r2sql("SUM(o_totalprice)", "rev")}
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name IN ('FRANCE','GERMANY','EGYPT')
        |   OR o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9900)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "tpcds_q46_bundle_mismatch" ->
      s"""WITH per_order AS (
        |  SELECT l_orderkey AS ok, SUM(l_quantity) AS qty, SUM(l_extendedprice) AS amt,
        |         MIN(s_nationkey) AS any_snk
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY l_orderkey)
        |SELECT c_name, po.ok AS orderkey, ${r2sql("po.qty", "qty")}, ${r2sql("po.amt", "amt")}
        |FROM per_order po JOIN orders ON po.ok = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey <> po.any_snk
        |ORDER BY c_name, orderkey LIMIT 100""".stripMargin,

    "tpcds_q71_hourly_events" ->
      s"""SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
        |       CAST(COUNT(*) AS BIGINT) AS cnt, ${r2sql("SUM(value)", "total")}
        |FROM (
        |  SELECT event_type, ts, value FROM events WHERE user_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, ts, value FROM events WHERE user_id % 2 = 1) t
        |GROUP BY event_type, EXTRACT(HOUR FROM ts)
        |ORDER BY event_type, hr""".stripMargin,

    "tpcds_q77_channel_totals" ->
      s"""WITH s AS (
        |  SELECT o_orderpriority AS pri, SUM(o_totalprice) AS sales
        |  FROM orders GROUP BY o_orderpriority),
        |r AS (
        |  SELECT o_orderpriority AS pri, SUM(l_extendedprice) AS returns
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY o_orderpriority)
        |SELECT COALESCE(COALESCE(s.pri, r.pri), 'ALL') AS pri,
        |       ${r2sql("SUM(s.sales)", "sales")}, ${r2sql("SUM(r.returns)", "returns")}
        |FROM s FULL OUTER JOIN r ON s.pri = r.pri
        |GROUP BY GROUPING SETS ((COALESCE(s.pri, r.pri)), ())
        |ORDER BY pri""".stripMargin,

    "tpcds_q78_kept_ratio" ->
      s"""WITH sold AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk, SUM(l_quantity) AS qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag <> 'R' GROUP BY o_custkey, l_partkey),
        |ret AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY o_custkey, l_partkey)
        |SELECT s.ck AS ck, s.pk AS pk, ${r2sql("s.qty", "qty")}
        |FROM sold s LEFT JOIN ret r ON s.ck = r.ck AND s.pk = r.pk
        |WHERE r.ck IS NULL
        |ORDER BY qty DESC, ck, pk LIMIT 100""".stripMargin,

    "tpcds_q84_dim_chain" ->
      s"""SELECT c_custkey, c_name || ' [' || n_name || '/' || r_name || ']' AS customer_label
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |     JOIN region ON n_regionkey = r_regionkey
        |WHERE c_acctbal BETWEEN 9000 AND 9500 AND r_name = 'ASIA'
        |ORDER BY c_custkey LIMIT 100""".stripMargin)

  val queries: Map[String, QueryFn] = sql.map { case (name, text) =>
    name -> ((s: org.apache.spark.sql.SparkSession, dir: String) => {
      graft.Tables.registerAll(s, dir); s.sql(text)
    })
  }

  val oracleSql: Map[String, String] = sql
}
