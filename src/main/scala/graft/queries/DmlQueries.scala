package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.SessionTables
import Q._

/** DML emulation over session tables (SURVEY.md §2.1 DML row) + sources
  * and sinks: CSV/JSON read/write roundtrips and COPY TO-style partitioned
  * parquet output (reference: datasource/src/write/, ParquetSink —
  * datasource-parquet/src/sink.rs:79; CSV/JSON file formats in
  * datasource-csv / datasource-json).
  *
  * The DML oracles are the equivalent pure-relational SELECTs — the same
  * algebra our SessionTables transforms implement, which is exactly the
  * semantics being checked.
  */
object DmlQueries extends QuerySet {

  private def scratch(name: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_scratch/$name"
    d
  }

  val queries: Map[String, QueryFn] = Map(
    // INSERT INTO ... VALUES: union of table + literal rows.
    "dml_insert" -> { (s, dir) =>
      val nation = t(s, dir, "nation")
      val newRows = s.sql(
        "SELECT CAST(col1 AS INT) AS n_nationkey, col2 AS n_name, CAST(col3 AS INT) AS n_regionkey " +
          "FROM VALUES (100, 'ATLANTIS', 0), (101, 'ELDORADO', 2) AS t(col1, col2, col3)")
      SessionTables.insertInto(nation, newRows)
        .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("n"), max(col("n_name")).as("max_name"))
    },

    // DELETE WHERE: complement filter.
    "dml_delete" -> { (s, dir) =>
      SessionTables.delete(t(s, dir, "supplier"), col("s_acctbal") < 0)
        .agg(count(lit(1)).as("n_remaining"), r2(sum(col("s_acctbal"))).as("bal_sum"))
    },

    // UPDATE SET ... WHERE: conditional projection.
    "dml_update" -> { (s, dir) =>
      SessionTables.update(t(s, dir, "customer"),
        col("c_mktsegment") === "BUILDING",
        Map("c_acctbal" -> (col("c_acctbal") * 1.1)))
        .groupBy("c_mktsegment")
        .agg(r2(sum(col("c_acctbal"))).as("bal_sum"), count(lit(1)).as("n"))
    },

    // MERGE INTO: matched rows updated, unmatched source rows inserted.
    "dml_merge" -> { (s, dir) =>
      val target = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      val source = t(s, dir, "supplier")
        .select((col("s_suppkey") + 50).as("s_suppkey"),
          concat(lit("NEW_"), col("s_name")).as("s_name"),
          col("s_nationkey"), lit(1000.0).as("s_acctbal"))
      SessionTables.merge(target, source, "s_suppkey",
        Map("s_acctbal" -> (col("t_s_acctbal") + col("s_s_acctbal"))))
        .agg(count(lit(1)).as("n"), r2(sum(col("s_acctbal"))).as("bal_sum"),
          sum(when(col("s_name").startsWith("NEW_"), 1L).otherwise(0L)).as("n_inserted"))
    },

    // CSV write + read roundtrip (schema-preserving via explicit schema).
    "source_csv_roundtrip" -> { (s, dir) =>
      val orders = t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
      val path = scratch("orders_csv")
      orders.write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema(orders.schema).option("header", "true").csv(path)
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"),
          min(col("o_orderdate")).cast("date").as("min_d"),
          max(col("o_orderdate")).cast("date").as("max_d"))
    },

    // NDJSON write + read roundtrip.
    "source_json_roundtrip" -> { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 500)
      val path = scratch("customer_json")
      cust.write.mode("overwrite").json(path)
      s.read.schema(cust.schema).json(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r2(sum(col("c_acctbal"))).as("bal"))
    },

    // COPY TO ... PARTITIONED BY: hive-partitioned parquet sink, read back
    // with partition discovery + pruning.
    "sink_partitioned_parquet" -> { (s, dir) =>
      val part = t(s, dir, "part")
      val path = scratch("part_by_brand")
      part.write.mode("overwrite").partitionBy("p_brand").parquet(path)
      s.read.parquet(path)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), r2(avg(col("p_retailprice"))).as("avg_price"))
    })

  val oracleSql: Map[String, String] = Map(
    "dml_insert" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
        | max(n_name) AS max_name
        |FROM (SELECT n_nationkey, n_name, n_regionkey FROM nation
        |      UNION ALL VALUES (100, 'ATLANTIS', 0), (101, 'ELDORADO', 2))
        |GROUP BY 1""".stripMargin,

    "dml_delete" ->
      """SELECT count(*) AS n_remaining,
        | floor((sum(s_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal_sum
        |FROM supplier WHERE NOT (s_acctbal < 0)""".stripMargin,

    "dml_update" ->
      """SELECT c_mktsegment,
        | floor((sum(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * 1.1
        |    ELSE c_acctbal END) + 1.37e-4) * 100 + 0.5) / 100 AS bal_sum,
        | count(*) AS n
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "dml_merge" ->
      """WITH source AS (
        |  SELECT s_suppkey + 50 AS k, 'NEW_' || s_name AS nm, s_nationkey AS nk,
        |         1000.0 AS bal FROM supplier),
        |merged AS (
        |  SELECT coalesce(t.s_suppkey, s.k) AS s_suppkey,
        |    CASE WHEN t.s_suppkey IS NOT NULL THEN t.s_name ELSE s.nm END AS s_name,
        |    CASE WHEN t.s_suppkey IS NOT NULL AND s.k IS NOT NULL
        |         THEN t.s_acctbal + s.bal
        |         WHEN t.s_suppkey IS NOT NULL THEN t.s_acctbal
        |         ELSE s.bal END AS s_acctbal
        |  FROM supplier t FULL JOIN source s ON t.s_suppkey = s.k)
        |SELECT count(*) AS n,
        | floor((sum(s_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal_sum,
        | CAST(sum(CASE WHEN starts_with(s_name, 'NEW_') THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM merged""".stripMargin,

    "source_csv_roundtrip" ->
      """SELECT count(*) AS n,
        | floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS total,
        | CAST(min(o_orderdate) AS DATE) AS min_d,
        | CAST(max(o_orderdate) AS DATE) AS max_d
        |FROM orders WHERE o_orderkey <= 1000""".stripMargin,

    "source_json_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        | floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal
        |FROM customer WHERE c_custkey <= 500 GROUP BY c_mktsegment""".stripMargin,

    "sink_partitioned_parquet" ->
      """SELECT p_brand, count(*) AS n,
        | floor((avg(p_retailprice) + 1.37e-4) * 100 + 0.5) / 100 AS avg_price
        |FROM part WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |GROUP BY p_brand""".stripMargin)
}
