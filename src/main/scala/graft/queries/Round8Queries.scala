package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.DataFusionProto
import Q._

/** Round-8 additions: the datafusion-proto BINARY plan wire
  * (graft.plans.DataFusionProto) exercised end-to-end — a Q1-shaped plan
  * (scan → filter → aggregate → sort) is emitted to LogicalPlanNode
  * protobuf bytes, consumed back on the same session, and EXECUTED from
  * the consumed form; the DuckDB oracle checks the final rows. A wrong
  * field number, varint, or length prefix anywhere breaks the hash.
  */
object Round8Queries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    "dfproto_binary_roundtrip" -> { (s, dir) =>
      val cutoff = java.sql.Timestamp.valueOf("1998-09-02 00:00:00")
      val plan = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(cutoff))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1L)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
      val bytes = DataFusionProto.emit(plan)
      val back = DataFusionProto.consume(s, bytes, name =>
        if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
        else if (name == "partsupp") Some(Tables.partsupp(s, dir))
        else None)
      // oracle-parity rounding happens OUTSIDE the wire roundtrip — the
      // bytes carry the raw aggregation
      back.select(col("l_returnflag"), col("l_linestatus"),
        r2(col("sum_qty")).as("sum_qty"),
        r2(col("sum_disc_price")).as("sum_disc_price"),
        r4(col("avg_disc")).as("avg_disc"),
        col("count_order"))
    })

  val oracleSql: Map[String, String] = Map(
    "dfproto_binary_roundtrip" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_quantity) + 1.37e-4) * 100 + 0.5) / 100 AS sum_qty,
        | floor((sum(l_extendedprice * (1.0 - l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS sum_disc_price,
        | floor((avg(l_discount) + 1.37e-6) * 10000 + 0.5) / 10000 AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
}
