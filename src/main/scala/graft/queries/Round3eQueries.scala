package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-3 batch 5: binary higher-order lambdas (zip_with, map_zip_with),
  * ANSI-overflow try_* arithmetic, grouping_id.
  */
object Round3eQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // zip_with / map_zip_with — the two-input lambda forms (reference
    // functions-nested zip; Expr::Lambda). DuckDB has no zip_with: the
    // oracle rebuilds it by indexed list_transform over range(), which is
    // the definitional expansion (zip to the SHORTER input here — both
    // inputs same length, sidestepping the null-padding divergence).
    "fn_higher_order2" -> { (s, dir) =>
      val k = col("l_orderkey")
      val a = array(col("l_quantity"), col("l_discount"), col("l_tax"))
      val b = array(col("l_extendedprice") / 100.0, col("l_quantity") * 2, lit(1.0))
      val m1 = map(lit("q"), col("l_quantity"), lit("d"), col("l_discount"))
      val m2 = map(lit("q"), lit(10.0), lit("d"), lit(0.5))
      def ser(mc: org.apache.spark.sql.Column) =
        array_join(array_sort(transform(map_entries(mc),
          e => concat(e.getField("key"), lit("="),
            r4(e.getField("value")).cast("string")))), ",")
      t(s, dir, "lineitem").filter(k <= 300)
        .select(k, col("l_linenumber"),
          array_join(transform(zip_with(a, b, (x, y) => r4(x + y)),
            v => v.cast("string")), ",").as("zsum"),
          array_join(transform(zip_with(a, b, (x, y) => r4(x * y)),
            v => v.cast("string")), ",").as("zprod"),
          ser(map_zip_with(m1, m2, (_, v1, v2) => v1 * v2)).as("mzw"))
    },

    // try_* arithmetic: overflow → NULL instead of error/wraparound (Spark
    // ANSI-adjacent semantics; reference spark-compat math). The oracle
    // detects overflow in HUGEINT before casting back.
    "fn_try" -> { (s, dir) =>
      val k = col("o_orderkey")
      val big = lit(Long.MaxValue) - (k % 3)        // near-max BIGINT
      val addend = (k % 2) * 5                       // overflows when odd
      t(s, dir, "orders").filter(k <= 1000)
        .select(k,
          try_add(big, addend).as("ta"),
          try_multiply(big, (k % 2) + 1).as("tm"),
          try_subtract(lit(Long.MinValue) + (k % 3), addend).as("ts"),
          try_divide(k.cast("double"), (k % 5).cast("double")).as("td"))
    },

    // grouping_id(): the bitmask distinguishing aggregation levels in a
    // ROLLUP (reference grouping-set planning; DuckDB GROUPING() composes
    // the same bits).
    "agg_grouping_id" -> { (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("gid"))
    })

  val oracleSql: Map[String, String] = Map(

    "fn_higher_order2" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |  [l_quantity, l_discount, l_tax] AS a,
        |  [l_extendedprice / 100.0, l_quantity * 2, 1.0] AS bb,
        |  l_quantity AS q, l_discount AS d
        | FROM lineitem WHERE l_orderkey <= 300)
        |SELECT l_orderkey, l_linenumber,
        |  array_to_string(list_transform(range(1, 4),
        |    i -> CAST(floor((a[i] + bb[i] + 1.37e-6) * 10000 + 0.5) / 10000
        |         AS VARCHAR)), ',') AS zsum,
        |  array_to_string(list_transform(range(1, 4),
        |    i -> CAST(floor((a[i] * bb[i] + 1.37e-6) * 10000 + 0.5) / 10000
        |         AS VARCHAR)), ',') AS zprod,
        |  list_aggregate(list_sort([
        |    'q=' || CAST(floor((q * 10.0 + 1.37e-6) * 10000 + 0.5) / 10000 AS VARCHAR),
        |    'd=' || CAST(floor((d * 0.5 + 1.37e-6) * 10000 + 0.5) / 10000 AS VARCHAR)
        |  ]), 'string_agg', ',') AS mzw
        |FROM b""".stripMargin,

    "fn_try" ->
      """WITH b AS (SELECT o_orderkey,
        |  9223372036854775807 - (o_orderkey % 3) AS big,
        |  (o_orderkey % 2) * 5 AS addend,
        |  (o_orderkey % 2) + 1 AS mul
        | FROM orders WHERE o_orderkey <= 1000)
        |SELECT o_orderkey,
        |  CAST(CASE WHEN CAST(big AS HUGEINT) + addend > 9223372036854775807
        |       THEN NULL ELSE big + addend END AS BIGINT) AS ta,
        |  CAST(CASE WHEN CAST(big AS HUGEINT) * mul > 9223372036854775807
        |       THEN NULL ELSE big * mul END AS BIGINT) AS tm,
        |  CAST(CASE WHEN CAST(-9223372036854775807 - 1 AS HUGEINT)
        |                 + (o_orderkey % 3) - addend < -9223372036854775808
        |       THEN NULL
        |       ELSE (-9223372036854775807 - 1) + (o_orderkey % 3) - addend
        |       END AS BIGINT) AS ts,
        |  CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |       ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 5) END AS td
        |FROM b""".stripMargin,

    "agg_grouping_id" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
        |       AS BIGINT) AS gid
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin
  )
}
