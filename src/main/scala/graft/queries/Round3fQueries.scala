package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-3 batch 6: frequency-weighted exact percentile, count_if,
  * locale-grouped number formatting.
  */
object Round3fQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // Exact weighted percentile: Spark's percentile(col, p, freq) over an
    // integer frequency column (reference approx_percentile_cont_weighted —
    // here the EXACT form; both interpolate at rank (N-1)·p, R-7). The
    // oracle expands the multiset by the weight and runs quantile_cont.
    "agg_percentile_weighted" -> { (s, dir) =>
      val freq = (col("l_orderkey") % 4 + 1).cast("int")
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 5000)
        .groupBy("l_returnflag")
        .agg(
          r6(percentile(col("l_quantity"), lit(0.5), freq)).as("p50w"),
          r6(percentile(col("l_quantity"), lit(0.9), freq)).as("p90w"),
          sum(freq.cast("long")).as("total_w"))
        .orderBy("l_returnflag")
    },

    // count_if — predicate-counting aggregate (Spark builtin; ANSI FILTER
    // clause is the oracle spelling).
    "agg_count_if" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 150000).as("n_big"),
          count_if(col("o_orderstatus") === "F").as("n_f"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // format_number with integer inputs — digit grouping only, so no
    // rounding-mode divergence can leak in (DuckDB's fmt '{:,}' groups the
    // same way).
    "fn_format_number" -> { (s, dir) =>
      val k = col("o_orderkey")
      t(s, dir, "orders").filter(k <= 1000)
        .select(k,
          format_number(k * 1000000 + 123, 0).as("fmt_big"),
          format_number(k, 0).as("fmt_small"))
    })

  val oracleSql: Map[String, String] = Map(

    "agg_percentile_weighted" ->
      """WITH w AS (SELECT l_returnflag, l_quantity, l_orderkey % 4 + 1 AS f
        |           FROM lineitem WHERE l_orderkey <= 5000),
        |e AS (SELECT l_returnflag, l_quantity, unnest(range(f)) FROM w)
        |SELECT l_returnflag,
        |  floor((quantile_cont(l_quantity, 0.5) + 1.37e-8) * 1000000 + 0.5)
        |    / 1000000 AS p50w,
        |  floor((quantile_cont(l_quantity, 0.9) + 1.37e-8) * 1000000 + 0.5)
        |    / 1000000 AS p90w,
        |  count(*) AS total_w
        |FROM e GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_count_if" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "fn_format_number" ->
      """SELECT o_orderkey,
        |  format('{:,}', o_orderkey * 1000000 + 123) AS fmt_big,
        |  format('{:,}', o_orderkey) AS fmt_small
        |FROM orders WHERE o_orderkey <= 1000""".stripMargin
  )
}
