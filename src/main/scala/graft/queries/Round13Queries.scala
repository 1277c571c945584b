package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.{DataFusionProto, DataFusionProtoPhysical}
import Q._

/** Round-13 additions: the physical UnnestExecNode(30) consume
  * generalized past single-column depth-1 — multi-column zip unnest
  * (per-row longest length, shorter lists NULL-padded), ListUnnest.depth
  * > 1 (level-by-level from the deepest), and struct_type_columns
  * horizontal expansion (datafusion.proto:979-990;
  * physical-plan/src/unnest.rs:600-735). Both entries execute
  * hand-authored reference-shaped bytes; the oracle replays the same
  * zip semantics in DuckDB (whose multi-unnest zips identically).
  */
object Round13Queries extends QuerySet {

  private def tf(s: org.apache.spark.sql.SparkSession, dir: String)
      : String => Option[org.apache.spark.sql.DataFrame] =
    name => if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
    else None

  val queries: Map[String, QueryFn] = Map(
    // Two list columns of differing per-row lengths (one sometimes empty)
    // zip-unnested together + one struct column expanded in place, all in
    // ONE UnnestExecNode with null_handling DROP(1).
    "dfproto_physical_unnest_multi" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("dfp13_unnest").toString
      t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("id"),
        sequence(lit(1L), lit(1L) + col("n_nationkey").cast("long") % 3).as("a"),
        when(col("n_nationkey") % 4 === 0, array().cast("array<long>"))
          .otherwise(sequence(lit(101L),
            lit(100L) + col("n_nationkey").cast("long") % 4)).as("b"),
        struct(col("n_regionkey").cast("long").as("x"),
          col("n_name").as("y")).as("st"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src")
      val src = s.read.parquet(s"$tmp/src")
      val w = new DataFusionProto.W
      w.msg(30) { un =>
        un.raw(1, DataFusionProtoPhysical.emit(src))
        un.msg(3) { lu => lu.int64(1, 1L); lu.int64(2, 1L) } // a, depth 1
        un.msg(3) { lu => lu.int64(1, 2L); lu.int64(2, 1L) } // b, depth 1
        un.int64(4, 3L) // struct_type_columns: st
        un.msg(5)(_.int64(3, 1L)) // NullHandling DROP
      }
      DataFusionProtoPhysical.consume(s, w.bytes, tf(s, dir))
        .select(col("id"), col("a").as("ea"), col("b").as("eb"),
          col("x").as("sx"), col("y").as("sy"))
        .orderBy(col("id"), col("ea"), col("eb"))
    },

    // One column at depth 2 (outer then inner unnest) zipped at level 1
    // with a plain depth-1 column — the reference's descending-level
    // algorithm in a single node.
    "dfproto_physical_unnest_deep" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("dfp13_deep").toString
      t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("id"),
        array(
          sequence(lit(1L), lit(1L) + col("n_nationkey").cast("long") % 3),
          sequence(lit(10L),
            lit(10L) + (col("n_nationkey").cast("long") + 1L) % 2)).as("c"),
        sequence(lit(1000L),
          lit(1000L) + col("n_nationkey").cast("long") % 2).as("d"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src")
      val src = s.read.parquet(s"$tmp/src")
      val w = new DataFusionProto.W
      w.msg(30) { un =>
        un.raw(1, DataFusionProtoPhysical.emit(src))
        un.msg(3) { lu => lu.int64(1, 1L); lu.int64(2, 2L) } // c, depth 2
        un.msg(3) { lu => lu.int64(1, 2L); lu.int64(2, 1L) } // d, depth 1
        un.msg(5)(_.int64(3, 1L)) // NullHandling DROP
      }
      DataFusionProtoPhysical.consume(s, w.bytes, tf(s, dir))
        .select(col("id"), col("c").as("ec"), col("d").as("ed"))
        .orderBy(col("id"), col("ec"), col("ed"))
    })

  val oracleSql: Map[String, String] = Map(
    "dfproto_physical_unnest_multi" ->
      """WITH t AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |         generate_series(1, 1 + n_nationkey % 3) AS a,
        |         CASE WHEN n_nationkey % 4 = 0 THEN CAST([] AS BIGINT[])
        |              ELSE generate_series(101, 100 + n_nationkey % 4) END AS b,
        |         {'x': CAST(n_regionkey AS BIGINT), 'y': n_name} AS st
        |  FROM nation)
        |SELECT id, unnest(a) AS ea, unnest(b) AS eb,
        |       st.x AS sx, st.y AS sy
        |FROM t ORDER BY id, ea, eb""".stripMargin,
    "dfproto_physical_unnest_deep" ->
      """WITH t AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |         [generate_series(1, 1 + n_nationkey % 3),
        |          generate_series(10, 10 + (n_nationkey + 1) % 2)] AS c,
        |         generate_series(1000, 1000 + n_nationkey % 2) AS d
        |  FROM nation),
        |u1 AS (SELECT id, unnest(c) AS c1, d FROM t)
        |SELECT id, unnest(c1) AS ec, unnest(d) AS ed
        |FROM u1 ORDER BY id, ec, ed""".stripMargin)
}
