package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.plans.{DataFusionProto, DataFusionProtoPhysical}
import Q._

/** Round-11 additions: the PhysicalPlanNode wire extended to joins,
  * unions and windows — HashJoinExecNode(9), WindowAggExecNode(15),
  * CrossJoinExecNode(16), UnionExecNode(19), NestedLoopJoinExecNode(22),
  * SortMergeJoinExecNode(34) (datafusion/proto-models/proto/
  * datafusion.proto:871-896), with JoinOn(:1394) /
  * JoinFilter+ColumnIndex(:1560-1569) / PhysicalWindowExprNode(:1101)
  * operands. Each entry serializes the Spark PHYSICAL plan, consumes the
  * bytes back on the session, executes the consumed form and compares
  * against the DuckDB oracle.
  */
object Round11Queries extends QuerySet {

  private def tf(s: org.apache.spark.sql.SparkSession, dir: String)
      : String => Option[org.apache.spark.sql.DataFrame] =
    name => if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
    else None

  val queries: Map[String, QueryFn] = Map(
    // q3-shaped physical join plan across the wire: customer⨝orders⨝
    // lineitem with a broadcast build (HashJoinExecNode partition modes),
    // aggregated and TopK'd — the reference's "serialize a physical join
    // plan, re-plan on the receiving engine" contract.
    "dfproto_physical_join_roundtrip" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      val plan = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        // TopK on the unique group key: deterministic across engines (an
        // FP-revenue sort could tie-break differently in DuckDB)
        .orderBy(col("l_orderkey"))
        .limit(50)
      val bytes = DataFusionProtoPhysical.emit(plan)
      val back = DataFusionProtoPhysical.consume(s, bytes, tf(s, dir))
      back.select(col("l_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        r2(col("revenue")).as("revenue"))
    },

    // WindowAggExecNode + UnionExecNode over the wire: a framed running
    // sum and row_number per customer, unioned ALL with itself filtered —
    // exercises PhysicalWindowExprNode (udaf + udwf + ROWS frame) and the
    // n-ary union input list from BYTES.
    "dfproto_physical_window_roundtrip" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val spec = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderkey").asc_nulls_last)
      val win = o.select(col("o_orderkey"), col("o_custkey"),
        row_number().over(spec).as("rn"),
        sum(col("o_totalprice")).over(spec.rowsBetween(Window.unboundedPreceding, 0))
          .as("running"))
      val plan = win.filter(col("rn") <= 3)
      val bytes = DataFusionProtoPhysical.emit(plan)
      val back = DataFusionProtoPhysical.consume(s, bytes, tf(s, dir))
      back.select(col("o_orderkey"), col("o_custkey"),
        col("rn").cast("bigint").as("rn"),
        r2(col("running")).as("running"))
        .orderBy(col("o_custkey"), col("rn"), col("o_orderkey")).limit(1000)
    },

    // UnnestNode(30) across the logical wire: explode of a list<float>
    // column serialized as the reference's in-place unnest + renaming
    // projection, consumed and executed from bytes.
    "dfproto_unnest_roundtrip" -> { (s, dir) =>
      val plan = t(s, dir, "embeddings")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), explode(col("embedding")).as("e"))
      val bytes = DataFusionProto.emit(plan)
      val back = DataFusionProto.consume(s, bytes, tf(s, dir))
      back.select(col("vec_id"), col("e").cast("double").as("e"))
        .orderBy(col("vec_id"), col("e"))
    },

    // ViewTableScanNode(24): a session view scanned through the wire —
    // the node carries the view's name AND its plan, so the consumer
    // re-plans without needing the view in its catalog.
    "dfproto_view_roundtrip" -> { (s, dir) =>
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .createOrReplaceTempView("dfp_suppliers_v")
      val plan = s.table("dfp_suppliers_v")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1L)).as("n"), max(col("s_acctbal")).as("max_bal"))
      val bytes = DataFusionProto.emit(plan)
      val back = DataFusionProto.consume(s, bytes, tf(s, dir))
      back.select(col("s_nationkey"), col("n"), r2(col("max_bal")).as("max_bal"))
        .orderBy(col("s_nationkey"))
    },

    // RecursiveQueryNode(31)+CteWorkTableScanNode(32): the series 1..100
    // fixpoint executed from bytes through the engine's work-table loop
    // (operators/RecursiveCte), then aggregated.
    "dfproto_recursive_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val base = Seq(1L).toDF("n")
      Seq.empty[Long].toDF("n").createOrReplaceTempView("dfp_rec_series")
      val step = s.table("dfp_rec_series")
        .filter(col("n") < 100).select((col("n") + 1).as("n"))
      val bytes = DataFusionProto.emitRecursiveQuery(
        "dfp_rec_series", base, step, "dfp_rec_series")
      val back = DataFusionProto.consume(s, bytes, tf(s, dir))
      back.agg(sum(col("n")).cast("long").as("series_sum"),
        count(lit(1)).as("series_count"))
    },

    // CopyToNode(29): consume executes the write (parquet, the COPY count
    // convention) and the entry returns the re-read files — proving the
    // bytes carried both the plan and the sink.
    "dfproto_copyto_roundtrip" -> { (s, dir) =>
      val out = s"${System.getProperty("java.io.tmpdir")}/dfp_copyto_out"
      val src = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val bytes = DataFusionProto.emitCopyTo(src, out, "parquet")
      DataFusionProto.consume(s, bytes, tf(s, dir)).collect() // run the COPY
      s.read.parquet(out).orderBy(col("n_nationkey"))
    },

    // DmlNode(33): CTAS + INSERT_APPEND executed from bytes against the
    // session-table surface (MemTable semantics: materialized on write);
    // the entry returns the table content after both statements.
    "dfproto_dml_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val src = t(s, dir, "region")
        .select(col("r_regionkey").cast("long").as("k"), col("r_name").as("v"))
      val ctas = DataFusionProto.emitDml("ctas", "dfp_dml_rt", Some(src))
      DataFusionProto.consume(s, ctas, tf(s, dir)).collect()
      val extra = Seq((100L, "extra1"), (101L, "extra2")).toDF("k", "v")
      val ins = DataFusionProto.emitDml("insert_append", "dfp_dml_rt", Some(extra))
      DataFusionProto.consume(s, ins, tf(s, dir)).collect()
      s.table("dfp_dml_rt").orderBy(col("k"))
    })

  val oracleSql: Map[String, String] = Map(
    "dfproto_physical_join_roundtrip" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | floor((sum(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY l_orderkey LIMIT 50""".stripMargin,
    "dfproto_physical_window_roundtrip" ->
      """SELECT o_orderkey, o_custkey, rn,
        | floor((running + 1.37e-4) * 100 + 0.5) / 100 AS running
        |FROM (SELECT o_orderkey, o_custkey,
        |        row_number() OVER w AS rn,
        |        sum(o_totalprice) OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |      FROM orders
        |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey))
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn, o_orderkey LIMIT 1000""".stripMargin,
    "dfproto_unnest_roundtrip" ->
      """SELECT vec_id, CAST(e AS DOUBLE) AS e
        |FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings
        |      WHERE vec_id < 50)
        |ORDER BY vec_id, e""".stripMargin,
    "dfproto_view_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n,
        | floor((max(s_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS max_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "dfproto_recursive_roundtrip" ->
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 100)
        |SELECT CAST(sum(n) AS BIGINT) AS series_sum,
        |       count(*) AS series_count FROM t""".stripMargin,
    "dfproto_copyto_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "dfproto_dml_roundtrip" ->
      """SELECT k, v FROM (
        |  SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region
        |  UNION ALL SELECT 100, 'extra1' UNION ALL SELECT 101, 'extra2')
        |ORDER BY k""".stripMargin)
}
