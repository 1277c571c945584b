package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.{DataFusionProto, DataFusionProtoPhysical}
import Q._

/** Round-12 additions: the PhysicalPlanNode wire completed —
  * UnnestExecNode(30), MemoryScanExecNode(35), the sink nodes
  * JsonSink(24)/CsvSink(28)/ParquetSink(29), SortPreservingMerge(21),
  * SymmetricHashJoin(25), PlaceholderRow(27), ScalarSubquery(39),
  * ArrowScan(38) and the pass-through wrappers (11/26/32/37)
  * (datafusion/proto-models/proto/datafusion.proto:862-902). Entries
  * that Spark can emit roundtrip emit→consume; reference-only shapes
  * (SPM, SHJ, PlaceholderRow, ScalarSubquery) are consumed from
  * hand-authored reference-shaped bytes and executed.
  */
object Round12Queries extends QuerySet {

  private def tf(s: org.apache.spark.sql.SparkSession, dir: String)
      : String => Option[org.apache.spark.sql.DataFrame] =
    name => if (Tables.names.contains(name)) Some(Tables.load(s, dir, name))
    else None

  val queries: Map[String, QueryFn] = Map(
    // Physical in-place unnest across the wire: Spark's GenerateExec
    // (explode) emits UnnestExecNode(30) + renaming projection; consumed
    // and executed from bytes.
    "dfproto_physical_unnest_roundtrip" -> { (s, dir) =>
      val plan = t(s, dir, "embeddings")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), explode(col("embedding")).as("e"))
      val bytes = DataFusionProtoPhysical.emit(plan)
      val back = DataFusionProtoPhysical.consume(s, bytes, tf(s, dir))
      back.select(col("vec_id"), col("e").cast("double").as("e"))
        .orderBy(col("vec_id"), col("e"))
    },

    // A non-empty local relation rides MemoryScanExecNode(35) as Arrow
    // IPC STREAM partition blobs (parse_record_batches on the reference
    // side), decoded back through the Arrow DSv2 source.
    "dfproto_physical_memscan_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val src = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25),
        (3L, "gamma", 0.0), (4L, "delta", 42.0)).toDF("k", "v", "x")
      val bytes = DataFusionProtoPhysical.emit(src)
      val back = DataFusionProtoPhysical.consume(s, bytes, tf(s, dir))
      back.orderBy(col("k"))
    },

    // ParquetSinkExecNode(29): the write executes from bytes (count
    // convention), then the files are re-read as the checked result.
    "dfproto_physical_sink_roundtrip" -> { (s, dir) =>
      val out = java.nio.file.Files.createTempDirectory("dfp_sink_q").toString
      val src = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val bytes = DataFusionProtoPhysical.emitFileSink(
        src, s"$out/nation_sink", "parquet")
      DataFusionProtoPhysical.consume(s, bytes, tf(s, dir)).collect()
      s.read.parquet(s"$out/nation_sink").orderBy(col("n_nationkey"))
    },

    // SortPreservingMergeExecNode(21) from reference-shaped bytes:
    // merge-of-sorted-runs re-plans as a global sort with fetch.
    "dfproto_physical_spm_roundtrip" -> { (s, dir) =>
      val supplier = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      val w = new DataFusionProto.W
      w.msg(21) { m =>
        m.raw(1, DataFusionProtoPhysical.emit(supplier))
        m.msg(2)(_.msg(10) { sn =>
          sn.msg(1)(_.msg(1) { c => c.str(1, "s_suppkey"); c.int64(2, 0L) })
          sn.bool(2, false) // desc
          sn.bool(3, false)
        })
        m.int64(3, 10L)
      }
      DataFusionProtoPhysical.consume(s, w.bytes, tf(s, dir))
        .select(col("s_suppkey"), col("s_name"),
          r2(col("s_acctbal")).as("s_acctbal"))
    },

    // SymmetricHashJoinExecNode(25): the stream-stream hash join's
    // bounded-input semantics — consumed as the plain inner join.
    "dfproto_physical_shj_roundtrip" -> { (s, dir) =>
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      val w = new DataFusionProto.W
      w.msg(25) { j =>
        j.raw(1, DataFusionProtoPhysical.emit(nation))
        j.raw(2, DataFusionProtoPhysical.emit(region))
        j.msg(3) { on =>
          on.msg(1)(_.msg(1) { c => c.str(1, "n_regionkey")
            c.int64(2, nation.columns.indexOf("n_regionkey").toLong) })
          on.msg(2)(_.msg(1) { c => c.str(1, "r_regionkey"); c.int64(2, 0L) })
        }
        j.int64(4, 0L) // inner
      }
      DataFusionProtoPhysical.consume(s, w.bytes, tf(s, dir))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    },

    // ScalarSubqueryExecNode(39): the subquery plan is evaluated to its
    // scalar and bound into PhysicalScalarSubqueryExprNode(22) references
    // inside the input plan.
    "dfproto_physical_scalar_subquery" -> { (s, dir) =>
      val supplier = t(s, dir, "supplier")
      val sq = supplier.agg(avg(col("s_acctbal")).as("a"))
      val balIdx = supplier.columns.indexOf("s_acctbal").toLong
      val w = new DataFusionProto.W
      w.msg(39) { n =>
        n.msg(1)(_.msg(12) { f =>
          f.raw(1, DataFusionProtoPhysical.emit(supplier))
          f.msg(2)(_.msg(3) { be =>
            be.msg(1)(_.msg(1) { c => c.str(1, "s_acctbal"); c.int64(2, balIdx) })
            be.msg(2)(_.msg(22) { ss =>
              ss.msg(1)(_.msg(13)(_ => ())) // Float64
              ss.bool(2, true); ss.int64(3, 0L)
            })
            be.str(3, "Gt")
          })
        })
        n.raw(2, DataFusionProtoPhysical.emit(sq))
      }
      DataFusionProtoPhysical.consume(s, w.bytes, tf(s, dir))
        .select(col("s_suppkey"), r2(col("s_acctbal")).as("s_acctbal"))
        .orderBy(col("s_suppkey"))
    },

    // PlaceholderRowExecNode(27): the SELECT-without-FROM seed — one
    // all-NULL row of the declared schema.
    "dfproto_physical_placeholder" -> { (s, dir) =>
      val w = new DataFusionProto.W
      w.msg(27) { p =>
        p.msg(1)(sc => sc.msg(1) { f =>
          f.str(1, "c"); f.msg(2)(_.msg(14)(_ => ())); f.bool(3, true)
        })
      }
      DataFusionProtoPhysical.consume(s, w.bytes, tf(s, dir))
    },

    // Logical DDL tail: CREATE EXTERNAL TABLE from bytes registers the
    // parquet location in the session catalog; the entry scans it back.
    "dfproto_ddl_external_table" -> { (s, dir) =>
      val schema = t(s, dir, "nation").schema
      val bytes = DataFusionProto.emitCreateExternalTable(
        "dfp12_ext_nation", s"$dir/nation.parquet", "parquet", schema)
      DataFusionProto.consume(s, bytes, tf(s, dir)).collect()
      s.table("dfp12_ext_nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // CreateViewNode(22) executed from bytes, queried, dropped from
    // bytes (DropViewNode(27)) — the result is the view's content.
    "dfproto_ddl_view_lifecycle" -> { (s, dir) =>
      val src = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      DataFusionProto.consume(s,
        DataFusionProto.emitCreateView("dfp12_v", src), tf(s, dir))
      val out = s.table("dfp12_v").orderBy(col("r_regionkey")).collect()
      DataFusionProto.consume(s,
        DataFusionProto.emitDropView("dfp12_v"), tf(s, dir))
      s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
        src.schema).orderBy(col("r_regionkey"))
    },

    // PrepareNode(26) from bytes + the EXECUTE surface.
    "dfproto_ddl_prepare_execute" -> { (s, dir) =>
      val src = t(s, dir, "nation")
        .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
      DataFusionProto.consume(s,
        DataFusionProto.emitPrepare("dfp12_stmt", src), tf(s, dir))
      DataFusionProto.executePrepared("dfp12_stmt")
        .orderBy(col("n_regionkey"))
    },

    // ArrowScanExecNode(38): a scan of Arrow IPC files through the DSv2
    // source roundtrips (files + schema + projection in FileScanExecConf).
    "dfproto_physical_arrow_roundtrip" -> { (s, dir) =>
      val out = java.nio.file.Files.createTempDirectory("dfp_arrow_q").toString
      val src = t(s, dir, "region")
        .select(col("r_regionkey").cast("long").as("k"), col("r_name").as("v"))
      graft.sources.ArrowIpcWriter.write(src, s"$out/data.arrow")
      val scanned = s.read
        .format(classOf[graft.sources.ArrowIpcTableProvider].getName)
        .load(out).select(col("k"), col("v"))
      val bytes = DataFusionProtoPhysical.emit(scanned)
      DataFusionProtoPhysical.consume(s, bytes, tf(s, dir))
        .orderBy(col("k"))
    })

  val oracleSql: Map[String, String] = Map(
    "dfproto_physical_unnest_roundtrip" ->
      """SELECT vec_id, CAST(e AS DOUBLE) AS e
        |FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings
        |      WHERE vec_id < 50)
        |ORDER BY vec_id, e""".stripMargin,
    "dfproto_physical_memscan_roundtrip" ->
      """SELECT CAST(k AS BIGINT) AS k, v, CAST(x AS DOUBLE) AS x
        |FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', -2.25),
        |             (3, 'gamma', 0.0), (4, 'delta', 42.0)) t(k, v, x)
        |ORDER BY k""".stripMargin,
    "dfproto_physical_sink_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "dfproto_physical_spm_roundtrip" ->
      """SELECT s_suppkey, s_name,
        | floor((s_acctbal + 1.37e-4) * 100 + 0.5) / 100 AS s_acctbal
        |FROM supplier ORDER BY s_suppkey DESC LIMIT 10""".stripMargin,
    "dfproto_physical_shj_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "dfproto_physical_scalar_subquery" ->
      """SELECT s_suppkey,
        | floor((s_acctbal + 1.37e-4) * 100 + 0.5) / 100 AS s_acctbal
        |FROM supplier
        |WHERE s_acctbal > (SELECT avg(s_acctbal) FROM supplier)
        |ORDER BY s_suppkey""".stripMargin,
    "dfproto_physical_placeholder" ->
      "SELECT CAST(NULL AS VARCHAR) AS c",
    "dfproto_ddl_external_table" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "dfproto_ddl_view_lifecycle" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "dfproto_ddl_prepare_execute" ->
      """SELECT n_regionkey, count(*) AS n FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "dfproto_physical_arrow_roundtrip" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region
        |ORDER BY k""".stripMargin)
}
