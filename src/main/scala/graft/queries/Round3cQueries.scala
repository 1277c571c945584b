package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-3 batch 3: SQL-dialect surface — correlated LATERAL join with
  * per-row top-k, UNPIVOT, GROUP BY ALL, str_to_map, and the bitmap
  * distinct-count aggregate family.
  *
  * These run through spark.sql (not the DataFrame API) on purpose: the
  * reference is SQL-first, so the SQL front-door forms are part of the
  * user-facing surface being re-expressed.
  */
object Round3cQueries extends QuerySet {

  private def view(s: org.apache.spark.sql.SparkSession, dir: String,
      name: String, as: String): Unit =
    t(s, dir, name).createOrReplaceTempView(as)

  val queries: Map[String, QueryFn] = Map(

    // Correlated LATERAL subquery with per-row ORDER BY + LIMIT — each
    // customer picks up their top-2 orders by price. Catalyst decorrelates
    // this into a ranked window join (the reference plans lateral via
    // delim-join; sqllogictest/test_files/joins.slt lateral cases).
    "join_lateral" -> { (s, dir) =>
      view(s, dir, "customer", "g3c_customer")
      view(s, dir, "orders", "g3c_orders")
      s.sql("""
        SELECT c.c_custkey, l.okey, l.tp
        FROM g3c_customer c,
        LATERAL (SELECT o_orderkey AS okey, o_totalprice AS tp
                 FROM g3c_orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        WHERE c.c_custkey <= 200
      """)
    },

    // UNPIVOT: wide → long (reference has no dedicated operator — it's the
    // inverse of the pivot the sqllogictest pivot cases exercise; Spark 4
    // has first-class UNPIVOT syntax). Oracle rebuilds it as UNION ALL, the
    // dialect-neutral equivalent.
    "unpivot_prices" -> { (s, dir) =>
      view(s, dir, "orders", "g3c_orders")
      s.sql("""
        SELECT o_orderkey, cat, val FROM
        (SELECT o_orderkey, o_totalprice AS total,
                CAST(o_custkey AS DOUBLE) AS cust
         FROM g3c_orders WHERE o_orderkey <= 500)
        UNPIVOT (val FOR cat IN (total, cust))
      """)
    },

    // GROUP BY ALL (group on every non-aggregate select item) — dialect
    // convenience both Spark 4 and DuckDB support natively.
    "agg_group_by_all" -> { (s, dir) =>
      view(s, dir, "orders", "g3c_orders")
      s.sql("""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n,
               floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS tp
        FROM g3c_orders GROUP BY ALL
      """)
    },

    // str_to_map: delimited-pair text → map (Spark builtin; DuckDB rebuilds
    // the same k=v serialization straight from string_split). Map output is
    // serialized to sorted "k=v" CSV — map column hashing is order-unstable.
    "fn_str_to_map" -> { (s, dir) =>
      val k = col("o_orderkey")
      val raw = concat(lit("a:"), k % 5, lit(",b:"), k % 7, lit(",c:"), k % 3)
      val m = str_to_map(raw, lit(","), lit(":"))
      t(s, dir, "orders").filter(k <= 500)
        .select(k,
          array_join(array_sort(transform(map_entries(m),
            e => concat(e.getField("key"), lit("="), e.getField("value")))), ",").as("sm"))
    },

    // Bitmap distinct-count family (reference spark-compat bitmap category):
    // bitmap_bit_position → bitmap_construct_agg → bitmap_count, plus
    // bitmap_or_agg merging per-(priority,status) bitmaps. The oracle is the
    // algebraic identity: both pipelines ≡ count(DISTINCT key) — DuckDB has
    // no bitmap type, and the identity is exactly what the functions promise.
    "fn_bitmap" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_custkey").between(1, 3000))
      val direct = o.groupBy("o_orderpriority")
        .agg(bitmap_count(bitmap_construct_agg(
          bitmap_bit_position(col("o_custkey")))).as("nd"))
      val merged = o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(bitmap_construct_agg(bitmap_bit_position(col("o_custkey"))).as("bm"))
        .groupBy("o_orderpriority")
        .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("nd_or"))
      direct.join(merged, "o_orderpriority")
    })

  val oracleSql: Map[String, String] = Map(

    "join_lateral" ->
      """SELECT c.c_custkey, l.okey, l.tp
        |FROM customer c,
        |LATERAL (SELECT o_orderkey AS okey, o_totalprice AS tp
        |         FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |WHERE c.c_custkey <= 200""".stripMargin,

    "unpivot_prices" ->
      """SELECT o_orderkey, 'total' AS cat, o_totalprice AS val
        |FROM orders WHERE o_orderkey <= 500
        |UNION ALL
        |SELECT o_orderkey, 'cust', CAST(o_custkey AS DOUBLE)
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,

    "agg_group_by_all" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |       floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS tp
        |FROM orders GROUP BY ALL""".stripMargin,

    "fn_str_to_map" ->
      """SELECT o_orderkey,
        |  list_aggregate(list_sort(list_transform(
        |    string_split('a:' || (o_orderkey % 5) || ',b:' || (o_orderkey % 7)
        |      || ',c:' || (o_orderkey % 3), ','),
        |    p -> string_split(p, ':')[1] || '=' || string_split(p, ':')[2])),
        |    'string_agg', ',') AS sm
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,

    "fn_bitmap" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_or
        |FROM orders WHERE o_custkey BETWEEN 1 AND 3000
        |GROUP BY o_orderpriority""".stripMargin
  )
}
