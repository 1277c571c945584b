package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.{DataFusionProto, DataFusionProtoPhysical}
import Q._

/** Round-10 additions: the datafusion-proto wire widened again —
  * ValuesNode(16), RepartitionNode(9) and DistinctOnNode(28) on the
  * logical side (datafusion/proto-models/proto/datafusion.proto:146,230,283)
  * plus a first PhysicalPlanNode subset (datafusion.proto:862:
  * ParquetScan/Filter/Projection/Aggregate/Sort/GlobalLimit with
  * PhysicalColumn (name,index) operands). Each entry serializes, consumes
  * the BYTES back, executes the consumed form and compares against the
  * DuckDB oracle.
  */
object Round10Queries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // ValuesNode + RepartitionNode over the wire: an inline VALUES list
    // hash-repartitioned and joined against region. The VALUES rows travel
    // as flattened ScalarValues (n_cols=2); the repartition carries
    // HashRepartition{hash_expr, partition_count}.
    "dfproto_values_roundtrip" -> { (s, dir) =>
      val vals = s.sql(
        "VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'), (3, 'delta'), (4, 'omega')")
        .toDF("vkey", "vname")
      val plan = vals.repartition(4, col("vkey"))
      val bytes = DataFusionProto.emit(plan)
      val back = DataFusionProto.consume(s, bytes, name =>
        if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
        else None)
      // the renaming ProjectionNode restores vkey/vname over the
      // reference-named column1..columnN values output
      val r = t(s, dir, "region")
      back.join(r, col("vkey") === col("r_regionkey"))
        .select(col("r_regionkey"), col("vname"), col("r_name"))
        .orderBy(col("r_regionkey"))
    },

    // PhysicalPlanNode roundtrip: scan → filter → partial/final aggregate
    // → sort → limit serialized from the PHYSICAL plan (modes PARTIAL=0 /
    // FINAL=1 on the wire; consume collapses the pair) and re-executed
    // from the bytes.
    "dfproto_physical_roundtrip" -> { (s, dir) =>
      val plan = t(s, dir, "orders")
        .filter(col("o_totalprice") > lit(100000.0))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1L)).as("n"),
          sum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
        .limit(10)
      val bytes = DataFusionProtoPhysical.emit(plan)
      val back = DataFusionProtoPhysical.consume(s, bytes, name =>
        if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
        else None)
      back.select(col("o_orderpriority"), col("n"),
        r2(col("total")).as("total"))
    },

    // union_extract/union_tag over the struct-carrier Union convention
    // (reference: functions/src/core/union_extract.rs, union_tag.rs): a
    // price Union<big: double, small: double> built per order, extracted
    // back per variant. The oracle mirrors the carrier semantics directly.
    "fn_union" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey,
          |  union_tag(u) AS tag,
          |  union_extract(u, 'big') AS big_price,
          |  union_extract(u, 'small') AS small_price
          |FROM (SELECT o_orderkey, named_struct(
          |    'tag', CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END,
          |    'v_big', CASE WHEN o_totalprice > 150000 THEN o_totalprice END,
          |    'v_small', CASE WHEN o_totalprice <= 150000 THEN o_totalprice END) AS u
          |  FROM orders)
          |ORDER BY o_orderkey LIMIT 500""".stripMargin)
    })

  val oracleSql: Map[String, String] = Map(
    "dfproto_values_roundtrip" ->
      """SELECT r_regionkey, vname, r_name
        |FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'), (3, 'delta'),
        |             (4, 'omega')) AS v(vkey, vname)
        |JOIN region ON vkey = r_regionkey
        |ORDER BY r_regionkey""".stripMargin,
    "dfproto_physical_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        | floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM orders WHERE o_totalprice > 100000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority LIMIT 10""".stripMargin,
    "fn_union" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS tag,
        |  CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big_price,
        |  CASE WHEN o_totalprice <= 150000 THEN o_totalprice END AS small_price
        |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin)
}
