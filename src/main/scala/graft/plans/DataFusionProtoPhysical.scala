package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BinaryOperator, Cast => CCast, Expression => CExpr, In, IsNotNull, IsNull, KnownFloatingPointNormalized, Literal => CLiteral, NamedExpression, Not, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, NormalizeNaNAndZero}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GlobalLimitExec, LocalLimitExec, ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** datafusion-proto PHYSICAL plan exchange: the reference's
  * `PhysicalPlanNode` wire (datafusion.proto:862-902), emitted from a
  * Spark PHYSICAL plan (`queryExecution.sparkPlan` — post-strategy,
  * pre-exchange) and consumed by re-planning on the receiving session.
  *
  * Covered subset — mirroring what the logical wire started with:
  * ParquetScanExecNode(1) / ProjectionExecNode(4) / GlobalLimitExecNode(6)
  * / LocalLimitExecNode(7) / AggregateExecNode(8) / SortExecNode(10) /
  * FilterExecNode(12), with PhysicalExprNode variants column(1) literal(2)
  * binary(3) aggregate(4) is_null(5) is_not_null(6) not(7) cast(9)
  * sort(10) in_list(12) (datafusion.proto:998-1030). Round 11 adds the
  * join/union/window set: HashJoinExecNode(9) with PartitionMode +
  * JoinFilter, WindowAggExecNode(15) with PhysicalWindowExprNode(:1101),
  * CrossJoinExecNode(16), UnionExecNode(19), NestedLoopJoinExecNode(22),
  * SortMergeJoinExecNode(34) (datafusion.proto:871-896,1309-1394,
  * 1432-1445,1507-1512,1560-1569,1658-1666), plus EmptyExecNode(3),
  * CoalescePartitionsExecNode(13), RepartitionExecNode(14) with
  * Partitioning round_robin/hash, and GenerateSeriesNode(33) int64 args
  * (:1403,1525,1581-1597,1621-1655).
  *
  * Columns ride the reference's (name, index) convention
  * (PhysicalColumn, datafusion.proto:1385) — the index is the position in
  * the child's output, which the consumer resolves positionally, so the
  * bytes are self-contained. Spark's partial/final aggregate PAIR is
  * emitted as the reference's PARTIAL and FINAL AggregateExecNodes
  * (AggregateMode, datafusion.proto:1420-1427); consume collapses the
  * pair back into one logical aggregation (the re-plan contract: the
  * receiving engine picks its own partials).
  */
object DataFusionProtoPhysical {
  import DataFusionProto.{W, PBytes, PVarint, aggregated, arrowField, arrowSchema, arrowType,
    binaryOp, consumeType, emitFrame, emitSort, fields, joinTypeCode, joinTypeName, schemaOf,
    sortOf, strOf, sub, subs, udaf, vint, windowFunction, windowSpec}
  import PlanVocabulary.stripAlias

  /** repeated uint32 in BOTH wire encodings: proto3 packs repeated
    * scalars by default (prost emits ONE length-delimited blob of
    * varints), but unpacked one-varint-per-entry is equally legal wire
    * — a conformant decoder accepts either. */
  private def repeatedUint32(b: Array[Byte], field: Int): Seq[Int] =
    fields(b).flatMap {
      case (`field`, PVarint(v)) => Seq(v.toInt)
      case (`field`, PBytes(packed)) =>
        val out = scala.collection.mutable.ArrayBuffer[Int]()
        var i = 0
        while (i < packed.length) {
          var shift = 0; var v = 0L; var more = true
          while (more) {
            val x = packed(i) & 0xff; i += 1
            v |= (x & 0x7fL) << shift; shift += 7; more = (x & 0x80) != 0
          }
          out += v.toInt
        }
        out.toSeq
      case _ => Seq.empty
    }

  /** The reference's UnnestExec contract re-planned on Spark
    * (`physical-plan/src/unnest.rs:600-735,907-935`): all list columns
    * active at a level are unnested TOGETHER, each row expanding to the
    * longest adjusted length among them with shorter lists padded NULL;
    * levels run from the deepest `ListUnnest.depth` down to 1 (a column
    * with depth d joins at level d and keeps unnesting one level per
    * round); struct columns then expand horizontally into their
    * subfields in place (`flatten_struct_cols` :566). The adjusted
    * length encodes NullHandling (`find_longest_length`): PRESERVE(0)
    * counts a NULL list as 1 (one NULL row) and an empty list as 0;
    * DROP(1) counts NULL as 0; PRESERVE_AND_EXPAND_EMPTY(2) counts both
    * NULL and empty as 1. Rows whose longest length is 0 vanish.
    * Per-position element access is `get(list, pos)` — NULL past the end
    * — so the pad-with-NULL zip falls out of one `sequence`+`explode`
    * per level, all codegen-friendly and partition-local (no shuffle).
    */
  private[plans] def unnestReplan(input: DataFrame,
      listSpecs: Seq[(Int, Int)], structIdx: Set[Int], nh: Long): DataFrame = {
    require(listSpecs.map(_._1).distinct.size == listSpecs.size,
      "dfproto unnest consume: one column unnested at multiple depths unsupported")
    def adjLen(c: Column): Column = nh match {
      case 1L => when(c.isNull, lit(0)).otherwise(size(c))
      case 2L => when(c.isNull || size(c) === 0, lit(1)).otherwise(size(c))
      case _ => when(c.isNull, lit(1)).otherwise(size(c))
    }
    val maxDepth = (1 +: listSpecs.map(_._2)).max
    var cur = input
    for (level <- maxDepth to 1 by -1) {
      val active = listSpecs.filter(_._2 >= level)
        .map(t => cur.columns(t._1)).toSet
      if (active.nonEmpty) {
        val rowLen = active.toSeq.sorted.map(n => adjLen(col(n)))
          .reduceLeft((a, b) => greatest(a, b))
        val pos = "__dfp_unnest_pos"
        val stepped = cur.where(rowLen > 0)
          .withColumn(pos, explode(sequence(lit(0), rowLen - 1)))
        cur = stepped.select(cur.columns.map { cn =>
          if (active.contains(cn)) get(col(cn), col(pos)).as(cn) else col(cn)
        }.toIndexedSeq: _*)
      }
    }
    if (structIdx.isEmpty) cur
    else cur.select(cur.columns.zipWithIndex.flatMap { case (cn, i) =>
      if (structIdx.contains(i))
        cur.schema(i).dataType.asInstanceOf[StructType].fields.toSeq
          .map(f => col(cn).getField(f.name).as(f.name))
      else Seq(col(cn))
    }.toIndexedSeq: _*)
  }

  // ------------------------------------------------------------------ emit

  /** DataFrame → PhysicalPlanNode bytes (from the pre-exchange physical
    * plan, so the wire carries the operator tree, not Spark's shuffles). */
  def emit(df: DataFrame): Array[Byte] = {
    val w = new W
    emitPlan(df.queryExecution.sparkPlan, w)
    w.bytes
  }

  private def emitPlan(plan: SparkPlan, w: W): Unit = plan match {
    // the small-input profile's subtree, as planned (before its exchanges)
    case s: SmallInputExec => emitPlan(s.planned, w)
    case scan: FileSourceScanExec =>
      def conf(c: W): Unit = { // FileScanExecConf (:1235)
        scan.relation.location.inputFiles.foreach { f =>
          c.msg(1)(fg => fg.msg(1)(_.str(1, f))) // FileGroup/PartitionedFile
        }
        // full relation schema
        c.msg(2)(arrowSchema(DataTypeUtils.toAttributes(scan.relation.schema), _))
        // projection = indices of the scan output in the relation schema
        scan.output.foreach { a =>
          val idx = scan.relation.schema.fieldIndex(a.name)
          c.int64(4, idx.toLong)
        }
        c.str(8, "file://")
      }
      scan.relation.fileFormat match {
        case _: org.apache.spark.sql.execution.datasources.csv.CSVFileFormat =>
          w.msg(2) { p => // CsvScanExecNode (:1269)
            p.msg(1)(conf(_))
            val opts = scan.relation.options
            p.bool(2, opts.getOrElse("header", "false").toBoolean)
            p.str(3, opts.getOrElse("sep", opts.getOrElse("delimiter", ",")))
            p.str(4, opts.getOrElse("quote", "\""))
          }
        case _: org.apache.spark.sql.execution.datasources.json.JsonFileFormat =>
          w.msg(31)(p => p.msg(1)(conf(_))) // JsonScanExecNode (:1284)
        case f if f.getClass.getName.contains("avro") =>
          w.msg(17)(p => p.msg(1)(conf(_))) // AvroScanExecNode (:1288)
        case _ =>
          w.msg(1) { p => // ParquetScanExecNode (:1258)
            p.msg(1)(conf(_))
          }
      }
    case f: FilterExec =>
      w.msg(12) { fn => // FilterExecNode (:1204)
        fn.msg(1)(emitPlan(f.child, _))
        fn.msg(2)(emitExpr(f.condition, f.child.output, _))
      }
    case p: ProjectExec =>
      w.msg(4) { pn => // ProjectionExecNode (:1413)
        pn.msg(1)(emitPlan(p.child, _))
        p.projectList.foreach { e =>
          pn.msg(2)(emitExpr(stripAlias(e), p.child.output, _))
          pn.str(3, e.name)
        }
      }
    case agg: HashAggregateExec => emitAgg(agg.groupingExpressions,
      agg.aggregateExpressions, agg.resultExpressions, agg.child, w)
    case agg: ObjectHashAggregateExec => emitAgg(agg.groupingExpressions,
      agg.aggregateExpressions, agg.resultExpressions, agg.child, w)
    case agg: SortAggregateExec => emitAgg(agg.groupingExpressions,
      agg.aggregateExpressions, agg.resultExpressions, agg.child, w)
    case s: SortExec =>
      w.msg(10) { sn => // SortExecNode (:1490)
        sn.msg(1)(emitPlan(s.child, _))
        s.sortOrder.foreach(so => sn.msg(2)(emitSortAsExpr(so, s.child.output, _)))
        sn.int64(3, -1L)
      }
    case l: GlobalLimitExec =>
      w.msg(6) { ln => // GlobalLimitExecNode (:1477)
        ln.msg(1)(emitPlan(l.child, _))
        ln.int64(2, 0L)
        ln.int64(3, l.limit.toLong)
      }
    case l: LocalLimitExec =>
      w.msg(7) { ln => // LocalLimitExecNode (:1485)
        ln.msg(1)(emitPlan(l.child, _))
        ln.int64(2, l.limit.toLong)
      }
    case topk: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
      // Spark's fused TopK = the reference's SortExec with a fetch
      // (SortExecNode.fetch, datafusion.proto:1493), plus a projection
      // when the select list narrows
      def sortNode(w2: W): Unit = w2.msg(10) { sn =>
        sn.msg(1)(emitPlan(topk.child, _))
        topk.sortOrder.foreach(so =>
          sn.msg(2)(emitSortAsExpr(so, topk.child.output, _)))
        sn.int64(3, topk.limit.toLong)
      }
      if (topk.projectList.map(_.exprId) == topk.child.output.map(_.exprId))
        sortNode(w)
      else w.msg(4) { pn =>
        pn.msg(1)(sortNode(_))
        topk.projectList.foreach { e =>
          pn.msg(2)(emitExpr(stripAlias(e), topk.child.output, _))
          pn.str(3, e.name)
        }
      }
    case j: BroadcastHashJoinExec =>
      // HashJoinExecNode (datafusion.proto:1315). Spark's broadcast side is
      // buildSide: BuildLeft maps to the reference's COLLECT_LEFT; a
      // broadcast-RIGHT build has no CollectRight on the wire, so it rides
      // AUTO (the reference's "engine decides at runtime" mode) without
      // swapping children — swapping would reorder the output columns.
      emitHashJoin(j.left, j.right, j.leftKeys, j.rightKeys, j.joinType,
        j.condition, mode = if (j.buildSide == BuildLeft) 0L else 2L,
        nullAware = j.isNullAwareAntiJoin, w)
    case j: ShuffledHashJoinExec =>
      emitHashJoin(j.left, j.right, j.leftKeys, j.rightKeys, j.joinType,
        j.condition, mode = 1L /* PARTITIONED */, nullAware = false, w)
    case j: SortMergeJoinExec =>
      w.msg(34) { jn => // SortMergeJoinExecNode (datafusion.proto:1658)
        jn.msg(1)(emitPlan(j.left, _))
        jn.msg(2)(emitPlan(j.right, _))
        j.leftKeys.zip(j.rightKeys).foreach { case (lk, rk) =>
          jn.msg(3) { on => // JoinOn (:1394)
            on.msg(1)(emitExpr(lk, j.left.output, _))
            on.msg(2)(emitExpr(rk, j.right.output, _))
          }
        }
        jn.int64(4, joinTypeCode(j.joinType))
        j.condition.foreach(c =>
          jn.msg(5)(emitJoinFilter(c, j.left.output, j.right.output, _)))
        // sort_options (:1663): Spark's SMJ orders keys ascending
        // nulls-first — one SortExprNode{asc,nulls_first} per key
        j.leftKeys.foreach(_ => jn.msg(6)(so => { so.bool(2, true); so.bool(3, true) }))
        jn.int64(7, 0L) // NullEquality::NullEqualsNothing
      }
    case j: BroadcastNestedLoopJoinExec =>
      j.condition match {
        case None if j.joinType == Inner || j.joinType == Cross =>
          w.msg(16) { cn => // CrossJoinExecNode (:1380)
            cn.msg(1)(emitPlan(j.left, _)); cn.msg(2)(emitPlan(j.right, _))
          }
        case cond =>
          w.msg(22) { nn => // NestedLoopJoinExecNode (:1507)
            nn.msg(1)(emitPlan(j.left, _))
            nn.msg(2)(emitPlan(j.right, _))
            nn.int64(3, joinTypeCode(j.joinType))
            cond.foreach(c =>
              nn.msg(4)(emitJoinFilter(c, j.left.output, j.right.output, _)))
          }
      }
    case j: CartesianProductExec =>
      j.condition match {
        case None =>
          w.msg(16) { cn =>
            cn.msg(1)(emitPlan(j.left, _)); cn.msg(2)(emitPlan(j.right, _))
          }
        case Some(c) =>
          w.msg(22) { nn => // theta join = NestedLoopJoin inner + filter
            nn.msg(1)(emitPlan(j.left, _))
            nn.msg(2)(emitPlan(j.right, _))
            nn.int64(3, 0L)
            nn.msg(4)(emitJoinFilter(c, j.left.output, j.right.output, _))
          }
      }
    case u: UnionExec =>
      w.msg(19) { un => // UnionExecNode (:1358): ALL semantics
        u.children.foreach(c => un.msg(1)(emitPlan(c, _)))
      }
    case we: WindowExec =>
      w.msg(15) { wn => // WindowAggExecNode (datafusion.proto:1432)
        wn.msg(1)(emitPlan(we.child, _))
        we.windowExpression.foreach {
          case Alias(x: WindowExpression, name) =>
            wn.msg(2)(emitWindowExpr(name, x, we.child.output, _))
          case other => throw new IllegalArgumentException(
            s"dfproto physical emit: unsupported window expression ${other.nodeName}")
        }
        we.partitionSpec.foreach(p => wn.msg(5)(emitExpr(p, we.child.output, _)))
        wn.msg(9)(_ => ()) // input_order_mode: sorted (EmptyMessage)
      }
    case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      // a cached relation is session-local state — serialize the plan that
      // was cached (the original scan chain), projecting down to the
      // scan's pruned output when the cache kept more columns
      val src = im.relation.cachedPlan
      if (im.output.map(_.exprId) == src.output.map(_.exprId)) emitPlan(src, w)
      else w.msg(4) { pn =>
        pn.msg(1)(emitPlan(src, _))
        im.output.foreach { a =>
          pn.msg(2)(emitExpr(a, src.output, _))
          pn.str(3, a.name)
        }
      }
    case r: org.apache.spark.sql.execution.RangeExec =>
      w.msg(33) { gs => // GenerateSeriesNode (datafusion.proto:1646)
        gs.msg(1)(arrowSchema(r.output, _))
        gs.int64(2, 8192L) // the reference's default batch_size
        gs.msg(4) { a => // GenerateSeriesArgsInt64 (:1621)
          a.int64(1, r.start)
          a.int64(2, r.end)
          a.int64(3, r.step)
          a.bool(4, false) // Spark range is end-EXCLUSIVE
          a.int64(5, 1L) // GS_RANGE (:1614) — the exclusive-end spelling
        }
      }
    case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
      w.msg(14) { rn => // RepartitionExecNode (:1581): partitioning=5
        rn.msg(1)(emitPlan(ex.child, _))
        ex.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            rn.msg(5)(_.msg(2) { hp => // Partitioning.hash → PhysicalHashRepartition
              h.expressions.foreach(e => hp.msg(1)(emitExpr(e, ex.child.output, _)))
              hp.int64(2, h.numPartitions.toLong)
            })
          case p => // round-robin and the rest
            rn.msg(5)(_.int64(1, p.numPartitions.toLong))
        }
      }
    case c: org.apache.spark.sql.execution.CoalesceExec if c.numPartitions == 1 =>
      w.msg(13)(m => m.msg(1)(emitPlan(c.child, _))) // CoalescePartitionsExecNode
    case l: org.apache.spark.sql.execution.LocalTableScanExec if l.rows.isEmpty =>
      w.msg(3)(_.msg(1)(arrowSchema(l.output, _))) // EmptyExecNode (:1403): schema only
    case l: org.apache.spark.sql.execution.LocalTableScanExec =>
      // a non-empty local relation IS the reference's memory source:
      // MemoryScanExecNode (:1296) carries the rows as Arrow IPC STREAM
      // blobs, one per partition (parse_record_batches on their side).
      // Local relations are driver-resident by definition, so encoding
      // them driver-side adds no new materialization.
      w.msg(35) { ms =>
        val schema = StructType(l.output.map(a =>
          StructField(a.name, a.dataType, a.nullable)))
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(schema)
        val rows = l.rows.map(r =>
          toScala(r).asInstanceOf[org.apache.spark.sql.Row])
        ms.raw(1, graft.sources.ArrowIpcWriter.streamBytes(schema, rows))
        ms.msg(2)(arrowSchema(l.output, _))
      }
    case g: org.apache.spark.sql.execution.GenerateExec =>
      // explode(list) = the reference's in-place UnnestExecNode (:979):
      // the unnested element keeps the LIST column's name and slot; a
      // ProjectionExecNode on top restores Spark's Generate output
      // (requiredChildOutput ++ generator output name)
      val arr = g.generator match {
        case org.apache.spark.sql.catalyst.expressions.Explode(
          a: AttributeReference) => a
        case other => throw new IllegalArgumentException(
          s"dfproto physical emit: unsupported generator ${other.nodeName}")
      }
      require(g.generatorOutput.size == 1,
        "dfproto physical emit: map/posexplode generators unsupported")
      val el = g.generatorOutput.head
      val arrIdx = g.child.output.indexWhere(_.exprId == arr.exprId)
      require(arrIdx >= 0, s"dfproto physical emit: unbound list ${arr.name}")
      def unnestNode(w2: W): Unit = w2.msg(30) { un =>
        un.msg(1)(emitPlan(g.child, _))
        un.msg(2) { sc => // post-unnest schema: list slot → element type
          g.child.output.foreach { a =>
            val slot = a.exprId == arr.exprId
            sc.msg(1)(arrowField(a.name, if (slot) el.dataType else a.dataType,
              slot || a.nullable, _))
          }
        }
        un.msg(3) { lu => // ListUnnest (:987)
          lu.int64(1, arrIdx.toLong); lu.int64(2, 1L)
        }
        // UnnestOptions.null_handling(3): explode → DROP(1),
        // explode_outer → PRESERVE_AND_EXPAND_EMPTY(2)
        un.msg(5)(_.int64(3, if (g.outer) 2L else 1L))
      }
      w.msg(4) { pn => // rename/select back to Spark's Generate output
        pn.msg(1)(unnestNode(_))
        (g.requiredChildOutput :+ el).foreach { a =>
          val (nm, idx) =
            if (a.exprId == el.exprId) (arr.name, arrIdx)
            else (a.name, g.child.output.indexWhere(_.exprId == a.exprId))
          require(idx >= 0, s"dfproto physical emit: unbound column ${a.name}")
          pn.msg(2)(_.msg(1) { c => c.str(1, nm); c.int64(2, idx.toLong) })
          pn.str(3, a.name)
        }
      }
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[graft.sources.ArrowIpcScan] =>
      val scan = b.scan.asInstanceOf[graft.sources.ArrowIpcScan]
      w.msg(38) { an => // ArrowScanExecNode (:1292)
        an.msg(1) { c => // FileScanExecConf
          graft.sources.ArrowIpcSource.files(scan.path).foreach { case (f, _) =>
            c.msg(1)(fg => fg.msg(1)(_.str(1, f.toString)))
          }
          val full = graft.sources.ArrowIpcSource.readSchema(scan.path)
          c.msg(2)(arrowSchema(DataTypeUtils.toAttributes(full), _))
          scan.required.fieldNames.foreach { n =>
            c.int64(4, full.fieldIndex(n).toLong)
          }
          c.str(8, "file://")
        }
      }
    case other =>
      // transparent wrappers (InputAdapter etc.) expose a single child
      if (other.children.size == 1) emitPlan(other.children.head, w)
      else throw new IllegalArgumentException(
        s"dfproto physical emit: unsupported node ${other.nodeName}")
  }

  /** Json(24)/Csv(28)/ParquetSinkExecNode(29) — DataFrameWriter has no
    * physical-plan form to pattern-match, so the explicit constructor IS
    * the emitting shape (same contract as the logical emitCopyTo).
    * FileSinkConfig (:921): object_store_url=1, table_paths=3,
    * output_schema=4, table_partition_cols=5, insert_op=10. */
  def emitFileSink(df: DataFrame, url: String, format: String,
      partitionBy: Seq[String] = Nil, overwrite: Boolean = true)
      : Array[Byte] = {
    val variant = format match {
      case "json" => 24
      case "csv" => 28
      case "parquet" => 29
      case other => throw new IllegalArgumentException(
        s"dfproto physical emit: unsupported sink format $other")
    }
    val w = new W
    w.msg(variant) { sn =>
      sn.msg(1)(emitPlan(df.queryExecution.sparkPlan, _))
      sn.msg(2) { sink => // JsonSink/CsvSink/ParquetSink{config=1}
        sink.msg(1) { c =>
          c.str(1, "file://")
          c.str(3, url)
          c.msg(4)(arrowSchema(DataTypeUtils.toAttributes(df.schema), _))
          partitionBy.foreach { p =>
            c.msg(5) { pc => // PartitionColumn{name=1, arrow_type=2}
              pc.str(1, p)
              pc.msg(2)(arrowType(df.schema(p).dataType, _))
            }
          }
          if (overwrite) c.int64(10, 1L) // InsertOp.Overwrite
        }
        if (format == "csv") // CsvWriterOptions.has_header(3)
          sink.msg(2)(_.bool(3, true))
      }
      sn.msg(3)(arrowSchema(DataTypeUtils.toAttributes(df.schema), _)) // sink_schema
    }
    w.bytes
  }

  /** Output names for the non-key aggregates: the FINAL/SINGLE stage's
    * resultExpressions carry the user-facing aliases. */
  private def aggOutputNames(groups: Seq[NamedExpression],
      aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression]): Seq[String] = {
    val keyIds = groups.map(_.exprId).toSet
    val nonKey = results.filterNot(r => keyIds.contains(r.exprId))
    if (nonKey.size == aggs.size) nonKey.map(_.name)
    else aggs.map(_.aggregateFunction.toString)
  }

  private def emitAgg(groups: Seq[NamedExpression],
      aggs: Seq[AggregateExpression], results: Seq[NamedExpression],
      child: SparkPlan, w: W): Unit = {
    // Spark's partial/final pair: the FINAL's child is the PARTIAL
    // aggregate — the wire mirrors the two AggregateExecNodes with their
    // modes (PARTIAL=0/FINAL=1); a single-stage agg is SINGLE=3
    val mode = aggs.headOption.map(_.mode) match {
      case Some(org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => 0L
      case Some(org.apache.spark.sql.catalyst.expressions.aggregate.Final) => 1L
      case _ => 3L
    }
    w.msg(8) { an => // AggregateExecNode (:1459)
      groups.foreach(g => an.msg(1)(emitExpr(stripAlias(g), child.output, _)))
      aggs.foreach { ae =>
        // the FINAL stage's inputs are partial buffers — serialize the
        // ORIGINAL aggregate over the partial's own input columns instead
        val anchor = child match {
          case inner: HashAggregateExec if mode == 1L => inner.child.output
          case inner: ObjectHashAggregateExec if mode == 1L => inner.child.output
          case inner: SortAggregateExec if mode == 1L => inner.child.output
          case _ => child.output
        }
        an.msg(2)(emitAggExpr(ae, anchor, _))
      }
      an.int64(3, mode)
      an.msg(4)(emitPlan(child, _))
      groups.foreach(g => an.str(5, g.name))
      aggOutputNames(groups, aggs, results).foreach(n => an.str(6, n))
      an.msg(7)(arrowSchema(child.output, _)) // input_schema (:1466)
    }
  }

  /** PhysicalExprNode (datafusion.proto:998). */
  private def emitExpr(e: CExpr, anchor: Seq[Attribute], w: W): Unit = e match {
    // Spark wraps float/double join keys in NaN/−0.0 normalizers —
    // semantics-transparent on the wire (Arrow hashes normalize too)
    case KnownFloatingPointNormalized(c) => emitExpr(c, anchor, w)
    case NormalizeNaNAndZero(c) => emitExpr(c, anchor, w)
    case a: AttributeReference =>
      val idx = anchor.indexWhere(_.exprId == a.exprId) match {
        case -1 => anchor.indexWhere(_.name == a.name)
        case i => i
      }
      require(idx >= 0, s"dfproto physical emit: unbound column ${a.name}")
      w.msg(1) { c => // PhysicalColumn (:1385): name=1, index=2
        c.str(1, a.name); c.int64(2, idx.toLong)
      }
    case l: CLiteral => w.msg(2)(DataFusionProto.scalarValue(l, _))
    case b: BinaryOperator =>
      w.msg(3) { be => // PhysicalBinaryExprNode (:1134): l=1 r=2 op=3
        be.msg(1)(emitExpr(b.left, anchor, _))
        be.msg(2)(emitExpr(b.right, anchor, _))
        be.str(3, DataFusionProto.opName(b))
      }
    case s: org.apache.spark.sql.catalyst.expressions.Size =>
      // Spark's InferFiltersFromGenerate inserts size(list) > 0 below
      // explode — the reference spells list length `cardinality`
      // (PhysicalScalarUdfNode, :1064)
      w.msg(16) { u =>
        u.str(1, "cardinality")
        u.msg(2)(emitExpr(s.child, anchor, _))
        u.msg(4)(arrowType(LongType, _))
        u.bool(5, true)
        u.str(6, "cardinality")
      }
    case IsNull(c) => w.msg(5)(m => m.msg(1)(emitExpr(c, anchor, _)))
    case IsNotNull(c) => w.msg(6)(m => m.msg(1)(emitExpr(c, anchor, _)))
    case Not(c) => w.msg(7)(m => m.msg(1)(emitExpr(c, anchor, _)))
    case CCast(c, t, _, _) =>
      w.msg(9) { cn => // PhysicalCastNode (:1184)
        cn.msg(1)(emitExpr(c, anchor, _)); cn.msg(2)(arrowType(t, _))
      }
    case In(v, list) if list.forall(_.isInstanceOf[CLiteral]) =>
      w.msg(12) { il => // PhysicalInListNode (:1167)
        il.msg(1)(emitExpr(v, anchor, _))
        list.foreach(x => il.msg(2)(emitExpr(x, anchor, _)))
        il.bool(3, false)
      }
    case other => throw new IllegalArgumentException(
      s"dfproto physical emit: unsupported expression ${other.nodeName}")
  }

  private def emitAggExpr(ae: AggregateExpression, anchor: Seq[Attribute],
      w: W): Unit = {
    val (name, args, distinct) = udaf(ae)
    w.msg(4) { an => // PhysicalAggregateExprNode (:1089): udaf=4 expr=2 distinct=3
      an.str(4, name)
      args.foreach(a => an.msg(2)(emitExpr(a, anchor, _)))
      if (distinct) an.bool(3, true)
    }
  }

  /** A sort key as PhysicalExprNode{sort=10{expr,asc,nulls_first}}. */
  private def emitSortAsExpr(so: SortOrder, anchor: Seq[Attribute], w: W): Unit =
    w.msg(10)(emitSort(so, _)(emitExpr(_, anchor, _)))

  private def emitHashJoin(left: SparkPlan, right: SparkPlan,
      leftKeys: Seq[CExpr], rightKeys: Seq[CExpr], jt: JoinType,
      condition: Option[CExpr], mode: Long, nullAware: Boolean, w: W): Unit =
    w.msg(9) { jn => // HashJoinExecNode (datafusion.proto:1315)
      jn.msg(1)(emitPlan(left, _))
      jn.msg(2)(emitPlan(right, _))
      leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
        jn.msg(3) { on => // JoinOn (:1394)
          on.msg(1)(emitExpr(lk, left.output, _))
          on.msg(2)(emitExpr(rk, right.output, _))
        }
      }
      jn.int64(4, joinTypeCode(jt))
      jn.int64(6, mode) // PartitionMode (:1309)
      jn.int64(7, 0L) // NullEquality::NullEqualsNothing
      condition.foreach(c =>
        jn.msg(8)(emitJoinFilter(c, left.output, right.output, _)))
      if (nullAware) jn.bool(10, true)
    }

  /** JoinFilter (datafusion.proto:1560): the residual condition over an
    * INTERMEDIATE schema of exactly the columns it references, each mapped
    * back to its side by ColumnIndex{index, side} — the reference's own
    * join-filter representation. */
  private def emitJoinFilter(cond: CExpr, left: Seq[Attribute],
      right: Seq[Attribute], w: W): Unit = {
    val refs = cond.collect { case a: AttributeReference => a }
      .foldLeft(Vector.empty[AttributeReference])((acc, a) =>
        if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)
    w.msg(1)(emitExpr(cond, refs, _))
    refs.foreach { a =>
      w.msg(2) { ci => // ColumnIndex (:1566): index=1, side=2 (LEFT=0/RIGHT=1)
        val li = left.indexWhere(_.exprId == a.exprId)
        if (li >= 0) { ci.int64(1, li.toLong); ci.int64(2, 0L) }
        else {
          val ri = right.indexWhere(_.exprId == a.exprId)
          require(ri >= 0, s"dfproto physical emit: filter column ${a.name} " +
            "bound to neither join side")
          ci.int64(1, ri.toLong); ci.int64(2, 1L)
        }
      }
    }
    w.msg(3)(arrowSchema(refs, _))
  }

  /** PhysicalWindowExprNode (datafusion.proto:1101): udaf name=3 /
    * udwf name=10, args=4, partition_by=5, order_by=6 (bare sort nodes),
    * window_frame=7, name=8. */
  private def emitWindowExpr(name: String, e: WindowExpression,
      anchor: Seq[Attribute], w: W): Unit = {
    val WindowExpression(fn, WindowSpecDefinition(parts, orders, frame)) = e
    fn match {
      case ae: AggregateExpression =>
        val (n, args, _) = udaf(ae)
        w.str(3, n)
        args.foreach(a => w.msg(4)(emitExpr(a, anchor, _)))
      case other => w.str(10, PlanVocabulary.rankingName(other).getOrElse(
        throw new IllegalArgumentException(
          s"dfproto physical emit: unsupported window function ${other.nodeName}")))
    }
    parts.foreach(p => w.msg(5)(emitExpr(p, anchor, _)))
    orders.foreach(so => w.msg(6)(emitSort(so, _)(emitExpr(_, anchor, _))))
    emitFrame(frame, 7, w)
    w.str(8, name)
  }

  // --------------------------------------------------------------- consume

  /** PhysicalPlanNode bytes → executable DataFrame. Scans resolve by
    * their file paths (falling back to `tableFor` on the path basename),
    * and the reference's PARTIAL/FINAL aggregate pair collapses into one
    * logical aggregation — the re-plan contract. */
  def consume(spark: SparkSession, bytes: Array[Byte],
      tableFor: String => Option[DataFrame]): DataFrame = {
    val fs = fields(bytes)
    require(fs.size == 1, s"dfproto physical: expected one variant, got ${fs.size}")
    val (field, PBytes(node)) = (fs.head._1, fs.head._2): @unchecked
    field match {
      case 1 | 2 | 31 | 17 => // Parquet/Csv/Json/Avro ScanExecNode
        val conf = sub(node, 1).getOrElse(throw new IllegalArgumentException(
          "dfproto physical: scan without base_conf"))
        val files = subs(conf, 1).flatMap(fg => subs(fg, 1))
          .flatMap(pf => sub(pf, 1)).map(strOf)
        require(files.nonEmpty, "dfproto physical: scan without files")
        // table name = the shared parent directory/file basename sans ext
        val base = {
          val p = files.head
          val parent = p.substring(0, p.lastIndexOf('/'))
          // an extension starts with a LETTER ("orders.parquet", "t.csv");
          // "sf0.001" is a data directory, not an extension
          def hasExt(x: String) = x.matches(".*\\.[A-Za-z]\\w*$")
          val leaf = if (hasExt(p) && !hasExt(parent))
            p.substring(p.lastIndexOf('/') + 1) else parent.substring(parent.lastIndexOf('/') + 1)
          if (leaf.contains('.')) leaf.substring(0, leaf.lastIndexOf('.')) else leaf
        }
        val df = tableFor(base.toLowerCase).getOrElse {
          // read the EXACT files the wire names — a parent-directory read
          // would sweep in sibling files of other formats
          field match {
            case 2 =>
              var r = spark.read
                .option("header", vint(node, 2).contains(1L).toString)
                .option("inferSchema", "true")
              sub(node, 3).map(strOf).filter(_.nonEmpty)
                .foreach(d => r = r.option("sep", d))
              sub(node, 4).map(strOf).filter(_.nonEmpty)
                .foreach(q => r = r.option("quote", q))
              r.csv(files: _*)
            case 31 => spark.read.json(files: _*)
            case 17 => spark.read.format("avro").load(files: _*)
            case _ => spark.read.parquet(files: _*)
          }
        }
        // apply the projection indices against the declared schema order
        val schemaNames = sub(conf, 2).toSeq.flatMap(s => subs(s, 1))
          .flatMap(f => sub(f, 1)).map(strOf)
        val proj = repeatedUint32(conf, 4)
        if (proj.nonEmpty && schemaNames.nonEmpty)
          df.select(proj.map(i => col(schemaNames(i))): _*)
        else df
      case 12 => // FilterExecNode
        val input = consume(spark, sub(node, 1).get, tableFor)
        input.filter(consumeExpr(sub(node, 2).get, input))
      case 4 => // ProjectionExecNode
        val input = consume(spark, sub(node, 1).get, tableFor)
        val exprs = subs(node, 2).map(e => consumeExpr(e, input))
        val names = fields(node).collect { case (3, PBytes(v)) => strOf(v) }
        val named = if (names.size == exprs.size)
          exprs.zip(names).map { case (c, n) => c.as(n) } else exprs
        input.select(named: _*)
      case 8 => // AggregateExecNode
        val mode = vint(node, 3).getOrElse(3L)
        // FINAL over PARTIAL collapses: descend to the partial's input
        val inner = sub(node, 4).get
        val innerFields = fields(inner)
        val (srcBytes, aggSource) = innerFields.headOption match {
          case Some((8, PBytes(pnode))) if mode == 1L || mode == 2L =>
            (sub(pnode, 4).get, pnode)
          case _ => (sub(node, 4).get, node)
        }
        val input = consume(spark, srcBytes, tableFor)
        val keys = subs(aggSource, 1).map(e => consumeExpr(e, input))
        val aggs0 = subs(aggSource, 2).map(e => consumeAggExpr(e, input))
        // aggr_expr_name (field 6) of the OUTER (final/single) node names
        // the non-key outputs
        val names = fields(node).collect { case (6, PBytes(v)) => strOf(v) }
        val aggs = if (names.size == aggs0.size)
          aggs0.zip(names).map { case (c, n) => c.as(n) } else aggs0
        aggregated(input, keys, aggs)
      case 10 => // SortExecNode
        val input = consume(spark, sub(node, 1).get, tableFor)
        val sorted = input.orderBy(sortExprs(node, input): _*)
        // fetch ≥ 0 = the reference's TopK sort
        vint(node, 3).map(_.toInt).filter(_ >= 0)
          .map(sorted.limit).getOrElse(sorted)
      case 6 => // GlobalLimitExecNode
        val input = consume(spark, sub(node, 1).get, tableFor)
        val skip = vint(node, 2).getOrElse(0L)
        val fetch = vint(node, 3).getOrElse(-1L)
        val after = if (skip > 0) input.offset(skip.toInt) else input
        if (fetch >= 0) after.limit(fetch.toInt) else after
      case 7 => // LocalLimitExecNode — re-planned as a plain limit
        val input = consume(spark, sub(node, 1).get, tableFor)
        input.limit(vint(node, 2).getOrElse(0L).toInt)
      case 9 => // HashJoinExecNode
        val left = consume(spark, sub(node, 1).get, tableFor)
        val right = consume(spark, sub(node, 2).get, tableFor)
        // re-plan contract: COLLECT_LEFT broadcasts the left side,
        // PARTITIONED pins the shuffle-hash strategy, AUTO lets the
        // planner decide
        val mode = vint(node, 6).getOrElse(2L)
        val leftAdj = mode match {
          case 0L => broadcast(left)
          case 1L => left.hint("shuffle_hash")
          case _ => left
        }
        consumeJoin(leftAdj, right, keysOf(node, 3, left, right),
          vint(node, 4).getOrElse(0L), sub(node, 8),
          nullEq = vint(node, 7).contains(1L),
          projection = repeatedUint32(node, 9))
      case 34 => // SortMergeJoinExecNode — filter rides field 5 here
        val left = consume(spark, sub(node, 1).get, tableFor)
        val right = consume(spark, sub(node, 2).get, tableFor)
        consumeJoin(left.hint("merge"), right, keysOf(node, 3, left, right),
          vint(node, 4).getOrElse(0L), sub(node, 5),
          nullEq = vint(node, 7).contains(1L), projection = Seq.empty)
      case 22 => // NestedLoopJoinExecNode: join_type=3, filter=4
        val left = consume(spark, sub(node, 1).get, tableFor)
        val right = consume(spark, sub(node, 2).get, tableFor)
        consumeJoin(left, right, Seq.empty, vint(node, 3).getOrElse(0L),
          sub(node, 4), nullEq = false,
          projection = repeatedUint32(node, 5))
      case 16 => // CrossJoinExecNode
        val left = consume(spark, sub(node, 1).get, tableFor)
        val right = consume(spark, sub(node, 2).get, tableFor)
        left.crossJoin(right)
      case 19 => // UnionExecNode — ALL semantics
        val parts = subs(node, 1).map(b => consume(spark, b, tableFor))
        parts.reduceLeft(_ union _)
      case 15 => // WindowAggExecNode: output = input columns ++ window cols
        val input = consume(spark, sub(node, 1).get, tableFor)
        val winCols = subs(node, 2).map(we => consumeWindowExpr(we, input))
        input.select(col("*") +: winCols: _*)
      case 33 => // GenerateSeriesNode (int64 args subset)
        val a = sub(node, 4).getOrElse(throw new IllegalArgumentException(
          "dfproto physical consume: GenerateSeriesNode without int64_args"))
        val start = vint(a, 1).getOrElse(0L)
        val end0 = vint(a, 2).getOrElse(0L)
        val step = vint(a, 3).getOrElse(1L)
        val inclusive = vint(a, 4).contains(1L)
        val name = sub(node, 1).toSeq.flatMap(s => subs(s, 1))
          .flatMap(f => sub(f, 1)).map(strOf).headOption.getOrElse("id")
        // Inclusive end at the Long domain edge: end0 ± 1 would overflow
        // and spark.range would see an empty interval — emit the
        // exclusive-range body plus the final element explicitly.
        val overflows = inclusive &&
          ((step >= 0 && end0 == Long.MaxValue) ||
           (step < 0 && end0 == Long.MinValue))
        if (overflows) {
          val body = spark.range(start, end0, step).toDF(name)
          val stepAbs = BigInt(step).abs.max(1)
          val hitsEnd = (BigInt(end0) - BigInt(start)) % stepAbs == 0
          if (hitsEnd)
            body.union(spark.range(1).select(lit(end0).as(name)))
          else body
        } else {
          val end = if (inclusive) end0 + (if (step >= 0) 1L else -1L) else end0
          spark.range(start, end, step).toDF(name)
        }
      case 14 => // RepartitionExecNode: partitioning=5
        val input = consume(spark, sub(node, 1).get, tableFor)
        sub(node, 5) match {
          case Some(p) =>
            (vint(p, 1), sub(p, 2)) match {
              case (Some(n), _) => input.repartition(n.toInt)
              case (None, Some(h)) =>
                val exprs = subs(h, 1).map(e => consumeExpr(e, input))
                input.repartition(vint(h, 2).getOrElse(32L).toInt, exprs: _*)
              case _ => input
            }
          case None => input
        }
      case 13 => // CoalescePartitionsExecNode → one partition
        consume(spark, sub(node, 1).get, tableFor).coalesce(1)
      case 3 => // EmptyExecNode: zero rows of the declared schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf(sub(node, 1)))
      case 11 => // CoalesceBatchesExecNode: batch sizing is engine-internal
        val input = consume(spark, sub(node, 1).get, tableFor)
        vint(node, 3).map(f => input.limit(f.toInt)).getOrElse(input)
      case 32 | 37 => // Cooperative / Buffer: scheduling wrappers, identity
        consume(spark, sub(node, 1).get, tableFor)
      case 26 => // InterleaveExecNode: partition-aligned union → plain union
        subs(node, 1).map(b => consume(spark, b, tableFor)).reduceLeft(_ union _)
      case 21 => // SortPreservingMergeExecNode: re-plan as a global sort —
        // the merge-of-sorted-runs is Spark's own SortExec/AQE choice
        val input = consume(spark, sub(node, 1).get, tableFor)
        val orders = sortExprs(node, input)
        val sorted = if (orders.isEmpty) input else input.orderBy(orders: _*)
        vint(node, 3).map(_.toInt).filter(_ >= 0)
          .map(sorted.limit).getOrElse(sorted)
      case 27 => // PlaceholderRowExecNode: one row per output partition
        // (absent partitions(2) = 0 decodes as the historical single
        // partition), all-NULL columns of the declared schema
        val n = vint(node, 2).map(_.toInt).filter(_ > 0).getOrElse(1)
        val base = spark.range(n.toLong).select()
        schemaOf(sub(node, 1)).foldLeft(base) { (df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType))
        }
      case 25 => // SymmetricHashJoinExecNode: the stream-stream hash join —
        // on bounded inputs its output equals the plain join (the
        // symmetric build is an execution strategy, not semantics)
        val left = consume(spark, sub(node, 1).get, tableFor)
        val right = consume(spark, sub(node, 2).get, tableFor)
        consumeJoin(left, right, keysOf(node, 3, left, right),
          vint(node, 4).getOrElse(0L), sub(node, 8),
          nullEq = vint(node, 7).contains(1L), projection = Seq.empty)
      case 30 => // UnnestExecNode: list columns zip-unnested in place
        // (level-by-level for depth>1), struct columns expanded
        // horizontally; output names from the node's declared schema(2)
        val input = consume(spark, sub(node, 1).get, tableFor)
        val lists = subs(node, 3).map { lu =>
          (vint(lu, 1).getOrElse(0L).toInt, vint(lu, 2).getOrElse(1L).toInt)
        }
        val structIdx = repeatedUint32(node, 4).toSet
        val nh = sub(node, 5).flatMap(o => vint(o, 3)).getOrElse(0L)
        val expanded = unnestReplan(input, lists, structIdx, nh)
        val outNames = sub(node, 2).toSeq.flatMap(s => subs(s, 1))
          .flatMap(f => sub(f, 1)).map(strOf)
        if (outNames.size == expanded.columns.length) expanded.toDF(outNames: _*)
        else expanded
      case 24 | 28 | 29 => // Json/Csv/ParquetSinkExecNode: execute the write,
        // return the reference's count result set (the CopyTo convention)
        val input = consume(spark, sub(node, 1).get, tableFor)
        val sink = sub(node, 2).getOrElse(throw new IllegalArgumentException(
          "dfproto physical consume: sink node without sink"))
        val conf = sub(sink, 1).getOrElse(throw new IllegalArgumentException(
          "dfproto physical consume: sink without FileSinkConfig"))
        val path = subs(conf, 3).map(strOf).headOption.getOrElse(
          throw new IllegalArgumentException(
            "dfproto physical consume: sink without table_paths"))
          .stripPrefix("file://")
        val parts = subs(conf, 5).flatMap(pc => sub(pc, 1)).map(strOf)
        val mode = if (vint(conf, 10).contains(1L)) "overwrite" else "append"
        val fmt = field match { case 24 => "json"; case 28 => "csv"; case _ => "parquet" }
        val n = input.count()
        var wr = input.write.mode(mode).format(fmt)
        if (fmt == "csv") {
          // CsvWriterOptions.has_header(3): proto3 absent = false — the
          // reference's decode reads the raw field, not the builder default
          val header = sub(sink, 2).flatMap(o => vint(o, 3)).contains(1L)
          wr = wr.option("header", header.toString)
        }
        if (parts.nonEmpty) wr = wr.partitionBy(parts: _*)
        wr.save(path)
        spark.sql(s"SELECT CAST($n AS BIGINT) AS count")
      case 35 => // MemoryScanExecNode: partitions are Arrow IPC STREAM blobs
        val schema0 = schemaOf(sub(node, 2))
        val blobs = subs(node, 1).filter(_.nonEmpty)
        val base =
          if (blobs.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema0)
          else {
            val dir = java.nio.file.Files.createTempDirectory("dfp_memscan")
            blobs.zipWithIndex.foreach { case (b, i) =>
              java.nio.file.Files.write(dir.resolve(f"part-$i%05d.arrows"), b)
            }
            spark.read.format(classOf[graft.sources.ArrowIpcTableProvider].getName)
              .load(dir.toString)
          }
        // projection: [] = all, [u32::MAX] = the empty-projection sentinel
        val proj = repeatedUint32(node, 3)
        val projected =
          if (proj.isEmpty) base
          else if (proj == Seq(-1)) base.select() // u32::MAX wraps to -1
          else base.select(proj.map(i => col(base.columns(i))): _*)
        vint(node, 6).map(f => projected.limit(f.toInt)).getOrElse(projected)
      case 38 => // ArrowScanExecNode: files through the Arrow IPC DSv2 source
        val conf = sub(node, 1).getOrElse(throw new IllegalArgumentException(
          "dfproto physical: arrow scan without base_conf"))
        val files = subs(conf, 1).flatMap(fg => subs(fg, 1))
          .flatMap(pf => sub(pf, 1)).map(strOf).map(_.stripPrefix("file://"))
        require(files.nonEmpty, "dfproto physical: arrow scan without files")
        val df = files.map(f =>
          spark.read.format(classOf[graft.sources.ArrowIpcTableProvider].getName)
            .load(f)).reduceLeft(_ union _)
        val schemaNames = sub(conf, 2).toSeq.flatMap(s => subs(s, 1))
          .flatMap(f => sub(f, 1)).map(strOf)
        val proj = repeatedUint32(conf, 4)
        if (proj.nonEmpty && schemaNames.nonEmpty)
          df.select(proj.map(i => col(schemaNames(i))): _*)
        else df
      case 20 => // ExplainExecNode: the stringified plans ARE the result set
        val rows = subs(node, 2).map { sp =>
          val kind = sub(sp, 1).map(pt => fields(pt).headOption
            .map(_._1.toString).getOrElse("0")).getOrElse("0")
          org.apache.spark.sql.Row("plan_type_" + kind,
            sub(sp, 2).map(strOf).getOrElse(""))
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("plan_type", StringType, false),
            StructField("plan", StringType, false))))
      case 23 => // AnalyzeExecNode: EXECUTE the input, report the plan —
        // metric values are engine-specific; the re-plan contract keeps
        // the schema (plan_type, plan) and the side effect of running it
        val input = consume(spark, sub(node, 3).get, tableFor)
        input.write.mode("overwrite").format("noop").save()
        val txt = input.queryExecution.executedPlan.toString
        spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row("Plan with Metrics", txt)), 1),
          StructType(Seq(StructField("plan_type", StringType, false),
            StructField("plan", StringType, false))))
      case 36 => // AsyncFuncExecNode: async UDF evaluation is an execution
        // strategy — re-plan as synchronous projection of the exprs
        val input = consume(spark, sub(node, 1).get, tableFor)
        val exprs = subs(node, 2).map(e => consumeExpr(e, input))
        val names = fields(node).collect { case (3, PBytes(v)) => strOf(v) }
        val named = exprs.zipWithIndex.map { case (c, i) =>
          if (i < names.size) c.as(names(i)) else c }
        input.select(col("*") +: named: _*)
      case 39 => // ScalarSubqueryExecNode: evaluate each subquery to its
        // scalar (one value to the driver — that IS the operator's
        // semantics), bind by index for PhysicalScalarSubqueryExprNode
        val subPlans = subs(node, 2).map(b => consume(spark, b, tableFor))
        val bound = subPlans.map { sq =>
          val rows = sq.limit(2).collect()
          require(rows.length <= 1 && rows.headOption.forall(_.size == 1),
            "dfproto physical consume: scalar subquery must yield ≤1 row × 1 col")
          rows.headOption.map(_.get(0)).map(v => lit(v)).getOrElse(lit(null))
        }.toIndexedSeq
        val prev = scalarSubqueryBindings.get
        scalarSubqueryBindings.set(bound)
        try consume(spark, sub(node, 1).get, tableFor)
        finally scalarSubqueryBindings.set(prev)
      case 18 => throw new IllegalArgumentException(
        "dfproto physical consume: PhysicalExtensionNode carries an opaque " +
          "engine-specific codec payload — not portable by construction")
      case other => throw new IllegalArgumentException(
        s"dfproto physical consume: unsupported variant $other")
    }
  }

  /** Scalar-subquery literals bound by ScalarSubqueryExecNode(39) for the
    * PhysicalScalarSubqueryExprNode(22) references inside its input. */
  private val scalarSubqueryBindings: ThreadLocal[IndexedSeq[Column]] =
    ThreadLocal.withInitial(() => IndexedSeq.empty[Column])

  /** JoinOn pairs (field `field`) resolved anchored to their own side so
    * self-joins with colliding names stay unambiguous. */
  private def keysOf(node: Array[Byte], field: Int, left: DataFrame,
      right: DataFrame): Seq[(Column, Column)] =
    subs(node, field).map { on =>
      (consumeSideExpr(sub(on, 1).get, left),
        consumeSideExpr(sub(on, 2).get, right))
    }

  private def consumeJoin(left: DataFrame, right: DataFrame,
      keys: Seq[(Column, Column)], jtCode: Long,
      filter: Option[Array[Byte]], nullEq: Boolean,
      projection: Seq[Int]): DataFrame = {
    val keyCond = keys.map { case (l, r) => if (nullEq) l <=> r else l === r }
      .reduceOption(_ && _)
    val filCond = filter.map(f => consumeJoinFilter(f, left, right))
    val cond = (keyCond, filCond) match {
      case (Some(k), Some(f)) => Some(k && f)
      case (k, f) => k.orElse(f)
    }
    // RIGHTSEMI/RIGHTANTI (6/7) have no Spark spelling — swap operands to
    // the LEFT forms; the output (= the right side's columns) matches
    val joined = (jtCode, cond) match {
      case (6L, Some(c)) => right.join(left, c, "left_semi")
      case (7L, Some(c)) => right.join(left, c, "left_anti")
      case (0L, None) => left.crossJoin(right)
      case (code, Some(c)) => left.join(right, c, joinTypeName(code))
      case (code, None) => throw new IllegalArgumentException(
        s"dfproto physical consume: join type $code without keys or filter")
    }
    if (projection.isEmpty) joined
    else {
      val cols = joined.columns
      joined.select(projection.map(i => col(cols(i))): _*)
    }
  }

  /** JoinFilter (datafusion.proto:1560) → Column: the expression's
    * PhysicalColumn indices address the filter's INTERMEDIATE schema;
    * ColumnIndex maps each slot back to (side, index-in-side). */
  private def consumeJoinFilter(b: Array[Byte], left: DataFrame,
      right: DataFrame): Column = {
    val slots: IndexedSeq[Column] = subs(b, 2).map { ci =>
      val idx = vint(ci, 1).getOrElse(0L).toInt
      vint(ci, 2).getOrElse(0L) match {
        case 0L => left.col(left.columns(idx))
        case 1L => right.col(right.columns(idx))
        case s => throw new IllegalArgumentException(
          s"dfproto physical consume: JoinSide $s")
      }
    }.toIndexedSeq
    consumeExprR(sub(b, 1).get,
      i => if (i >= 0 && i < slots.length) Some(slots(i)) else None,
      n => col(n))
  }

  /** PhysicalWindowExprNode (datafusion.proto:1101) → windowed Column. */
  private def consumeWindowExpr(b: Array[Byte], input: DataFrame): Column = {
    def ce(e: Array[Byte]) = consumeExpr(e, input)
    val fn = windowFunction(sub(b, 3).map(strOf), sub(b, 10).map(strOf), subs(b, 4).map(ce))
    // order_by entries are BARE PhysicalSortExprNodes (expr=1 asc=2 nf=3)
    val over = fn.over(windowSpec(subs(b, 5).map(ce),
      subs(b, 6).map(sn => sortOf(ce(sub(sn, 1).get), sn)), sub(b, 7)))
    sub(b, 8).map(strOf).map(over.as).getOrElse(over)
  }

  /** SortExecNode / SortPreservingMergeExecNode order keys: each a
    * PhysicalExprNode{sort=10}, or a bare PhysicalSortExprNode. */
  private def sortExprs(node: Array[Byte], input: DataFrame): Seq[Column] =
    subs(node, 2).map { se =>
      val sn = sub(se, 10).getOrElse(se)
      sortOf(consumeExpr(sub(sn, 1).get, input), sn)
    }

  private def consumeExpr(b: Array[Byte], input: DataFrame): Column =
    consumeExprR(b,
      i => if (i >= 0 && i < input.columns.length)
        Some(col(input.columns(i))) else None,
      n => col(n))

  /** Like consumeExpr but column references resolve ANCHORED to `side`
    * (side.col), so join keys stay unambiguous in self-joins. */
  private def consumeSideExpr(b: Array[Byte], side: DataFrame): Column =
    consumeExprR(b,
      i => if (i >= 0 && i < side.columns.length)
        Some(side.col(side.columns(i))) else None,
      n => side.col(n))

  /** PhysicalExprNode consume with a pluggable PhysicalColumn resolver:
    * byIndex for the (name,index) positional convention, byName fallback. */
  private def consumeExprR(b: Array[Byte], byIndex: Int => Option[Column],
      byName: String => Column): Column = {
    def rec(x: Array[Byte]): Column = consumeExprR(x, byIndex, byName)
    val fs = fields(b)
    require(fs.nonEmpty, "dfproto physical: empty expr")
    val (field, PBytes(node)) = (fs.head._1, fs.head._2): @unchecked
    field match {
      case 1 => // PhysicalColumn: resolve positionally, name as fallback
        vint(node, 2).map(_.toInt).flatMap(byIndex)
          .getOrElse(byName(sub(node, 1).map(strOf).getOrElse(
            throw new IllegalArgumentException("dfproto physical: column"))))
      case 2 => DataFusionProto.consumeLiteral(node)
      case 3 =>
        binaryOp(sub(node, 3).map(strOf).getOrElse(""),
          rec(sub(node, 1).get), rec(sub(node, 2).get))
      case 5 => rec(sub(node, 1).get).isNull
      case 6 => rec(sub(node, 1).get).isNotNull
      case 7 => !rec(sub(node, 1).get)
      case 9 => rec(sub(node, 1).get).cast(consumeType(sub(node, 2).get))
      case 12 =>
        val v = rec(sub(node, 1).get)
        val list = subs(node, 2).map(rec)
        val in = v.isin(list: _*)
        if (vint(node, 3).contains(1L)) !in else in
      case 16 => // PhysicalScalarUdfNode: name(1) + args(2)
        val args = subs(node, 2).map(rec)
        sub(node, 1).map(strOf).getOrElse("") match {
          case "cardinality" | "array_length" => size(args.head).cast("long")
          case "abs" => abs(args.head)
          case "coalesce" => coalesce(args: _*)
          case "lower" => lower(args.head)
          case "upper" => upper(args.head)
          case other => throw new IllegalArgumentException(
            s"dfproto physical consume: unsupported scalar udf $other")
        }
      case 22 => // PhysicalScalarSubqueryExprNode: literal bound by the
        // enclosing ScalarSubqueryExecNode(39), index at field 3
        val idx = vint(node, 3).getOrElse(0L).toInt
        val bound = scalarSubqueryBindings.get
        require(idx >= 0 && idx < bound.length,
          s"dfproto physical consume: unbound scalar subquery index $idx")
        sub(node, 1).map(t => bound(idx).cast(consumeType(t)))
          .getOrElse(bound(idx))
      case other => throw new IllegalArgumentException(
        s"dfproto physical consume: unsupported expr variant $other")
    }
  }

  private def consumeAggExpr(b: Array[Byte], input: DataFrame): Column = {
    val node = sub(b, 4).getOrElse(throw new IllegalArgumentException(
      "dfproto physical consume: expected aggregate_expr"))
    PlanVocabulary.aggregate(sub(node, 4).map(strOf).getOrElse(""),
      vint(node, 3).contains(1L), subs(node, 2).map(e => consumeExpr(e, input)))
  }
}
