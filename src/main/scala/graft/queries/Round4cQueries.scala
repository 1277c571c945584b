package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.SessionTables
import Q._

/** Round-4 batch 3: the remaining slt-file surface found by diffing the
  * reference's sqllogictest inventory against the query registry —
  * UNION BY NAME (union_by_name.slt), file-metadata columns
  * (file_row_index.slt), parquet footer inspection
  * (parquet_metadata_functions.slt), TRUNCATE (truncate.slt), SQL-defined
  * functions incl. a table-valued one (create_function.slt), catalog
  * statistics via ANALYZE (listing_table_statistics.slt,
  * statistics_registry.slt), and a dynamic-partition-pruning join over a
  * hive-partitioned fact (dynamic_filter_pushdown_config.slt's runtime
  * pruning, in Spark's DPP form).
  */
object Round4cQueries extends QuerySet {

  /** Committed fixture: 3 parquet files (5000/3000/1200 rows), f0 split
    * into 2 row groups — written once by DuckDB so file names and row-group
    * layout are frozen for the metadata oracles. */
  val metaDemoDir = "/root/repo/src/test/resources/fixtures/meta_demo"

  private def scratch(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_scratch/$name"

  /** Drop a managed table and purge its warehouse location — a previous
    * SESSION may have left the directory behind (the fresh in-memory
    * catalog doesn't know the table, so DROP alone can't reclaim it). */
  private def dropPurge(s: org.apache.spark.sql.SparkSession, db: String, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $db.$table")
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh, s"$db.db", table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  val queries: Map[String, QueryFn] = Map(

    // UNION ALL BY NAME (reference: union_by_name.slt): branches align by
    // column NAME, not position; columns absent from a branch become NULL.
    "set_union_by_name" -> { (s, dir) =>
      val n = t(s, dir, "nation")
      val left = n.select(col("n_nationkey"), col("n_name"))
      val right = n.select(col("n_name"), (col("n_nationkey") + 100).as("n_nationkey"),
        col("n_regionkey"))
      left.unionByName(right, allowMissingColumns = true)
    },

    // File-metadata columns (reference: file_row_index.slt): which file a
    // row came from and its ordinal within that file, via Spark's hidden
    // `_metadata` struct on file sources.
    "meta_file_columns" -> { (s, _) =>
      s.read.parquet(metaDemoDir)
        .select(expr("_metadata.file_name").as("file_name"),
          expr("_metadata.row_index").as("row_index"),
          col("id"))
    },

    // Parquet footer inspection (reference:
    // parquet_metadata_functions.slt): per-row-group row counts, column
    // counts and compressed bytes, read distributed (executor-side footers).
    "meta_parquet_metadata" -> { (s, _) =>
      graft.sources.ParquetMetadata.forPath(s, metaDemoDir)
    },

    // TRUNCATE TABLE (reference: truncate.slt): all rows removed, schema
    // kept — subsequent INSERTs repopulate.
    "dml_truncate" -> { (s, dir) =>
      val truncated = SessionTables.truncate(t(s, dir, "region"))
      val reinserted = SessionTables.insertInto(truncated,
        s.sql("SELECT CAST(col1 AS INT) AS r_regionkey, col2 AS r_name " +
          "FROM VALUES (100, 'ATLANTIS'), (101, 'ELDORADO') AS t(col1, col2)"))
      reinserted.agg(count(lit(1)).as("n"),
        min(col("r_regionkey")).as("min_key"), max(col("r_name")).as("max_name"))
    },

    // SQL-defined functions (reference: create_function.slt): a scalar SQL
    // UDF and a table-valued SQL UDF (parameterized relation), both created
    // through the SQL front-door and used in one query. The TVF's parameter
    // feeds a WHERE predicate (Spark requires LIMIT-like expressions to be
    // foldable, so parameterized row-limits are expressed as predicates).
    "fn_sql_udf" -> { (s, dir) =>
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) " +
        "RETURNS DOUBLE RETURN p * (1.0 - d)")
      s.sql(s"""CREATE OR REPLACE TEMPORARY FUNCTION pricey_parts(thresh DOUBLE)
                RETURNS TABLE(p_partkey BIGINT, price DOUBLE)
                RETURN SELECT CAST(p_partkey AS BIGINT), p_retailprice
                       FROM parquet.`$dir/part.parquet`
                       WHERE p_retailprice > thresh""")
      s.sql("SELECT p_partkey, price, disc_price(price, 0.25) AS discounted " +
        "FROM pricey_parts(915.0)")
    },

    // ANALYZE-driven catalog statistics (reference:
    // listing_table_statistics.slt, statistics_registry.slt): CTAS a table,
    // ANALYZE it, and emit what the catalog now believes — exact row count
    // and exact column min/max — checked against ground truth recomputed by
    // the oracle. This is the stats plumbing a cost-based planner feeds on.
    "catalog_analyze" -> { (s, dir) =>
      import s.implicits._
      s.sql("CREATE DATABASE IF NOT EXISTS analytics")
      dropPurge(s, "analytics", "urgent_orders")
      s.sql(s"""CREATE TABLE analytics.urgent_orders USING PARQUET AS
                SELECT * FROM parquet.`$dir/orders.parquet`
                WHERE o_orderpriority = '1-URGENT'""")
      s.sql("ANALYZE TABLE analytics.urgent_orders COMPUTE STATISTICS FOR COLUMNS o_totalprice")
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("urgent_orders", Some("analytics")))
      val st = meta.stats.get
      val cs = st.colStats("o_totalprice")
      // stats metadata is a handful of catalog values — driver-side by nature
      Seq((st.rowCount.get.toLong,
        cs.min.get.toString.toDouble, cs.max.get.toString.toDouble))
        .toDF("row_count", "min_price", "max_price")
    },

    // Dynamic partition pruning: customers hive-partitioned by nation, the
    // dim side (nation⋈region filtered to one region) prunes fact
    // partitions AT RUNTIME via the broadcast's keys — Spark's DPP, the
    // analog of the reference's dynamic filter pushdown
    // (dynamic_filter_pushdown_config.slt). Plan asserted in Round4cSpec;
    // at 100 TB this is the difference between scanning 5 and 25 nations'
    // partitions.
    "scan_dpp" -> { (s, dir) =>
      val path = scratch("cust_by_nation")
      t(s, dir, "customer").write.mode("overwrite")
        .partitionBy("c_nationkey").parquet(path)
      val fact = s.read.parquet(path)
      val dim = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
      fact.join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"), r2(sum(col("c_acctbal"))).as("bal"))
    })

  val oracleSql: Map[String, String] = Map(
    "set_union_by_name" ->
      """SELECT n_nationkey, n_name FROM nation
        |UNION ALL BY NAME
        |SELECT n_name, n_nationkey + 100 AS n_nationkey, n_regionkey FROM nation""".stripMargin,

    "meta_file_columns" ->
      s"""SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
         | file_row_number AS row_index, id
         |FROM read_parquet('$metaDemoDir/*.parquet',
         |                  filename=true, file_row_number=true)""".stripMargin,

    "meta_parquet_metadata" ->
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file_name,
         | CAST(row_group_id AS BIGINT) AS row_group_id,
         | CAST(row_group_num_rows AS BIGINT) AS row_group_num_rows,
         | CAST(count(*) AS BIGINT) AS n_columns,
         | CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes
         |FROM parquet_metadata('$metaDemoDir/*.parquet')
         |GROUP BY 1, 2, 3""".stripMargin,

    "dml_truncate" ->
      """SELECT count(*) AS n, min(r_regionkey) AS min_key, max(r_name) AS max_name
        |FROM (SELECT r_regionkey, r_name FROM region WHERE false
        |      UNION ALL VALUES (100, 'ATLANTIS'), (101, 'ELDORADO'))""".stripMargin,

    "fn_sql_udf" ->
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_retailprice AS price,
        | p_retailprice * (1.0 - 0.25) AS discounted
        |FROM part WHERE p_retailprice > 915.0""".stripMargin,

    "catalog_analyze" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_count,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "scan_dpp" ->
      """SELECT n_name, count(*) AS n_cust,
        | floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)
}
