package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And => CAnd, Ascending, Attribute, AttributeReference, BinaryOperator, Cast => CCast, CurrentRow, EqualNullSafe, EqualTo, Expression => CExpr, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal => CLiteral, Not, NullsFirst, RangeFrame, RowFrame, SortOrder, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnspecifiedFrame, WindowExpression, WindowFrame, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import PlanVocabulary.stripAlias

/** datafusion-proto BINARY plan exchange: the reference's own protobuf
  * wire format for logical plans (`datafusion-proto` crate), emitted and
  * consumed directly as length-delimited protobuf bytes — no generated
  * stubs, just the wire encoding (varint tags, length-delimited nested
  * messages) against the field numbers of the reference's checked-in
  * schema. Beside Substrait protobuf-JSON ([[SubstraitSerde]]) it is the
  * engine's second plan wire; [[DataFusionProtoPhysical]] carries physical
  * plans over the same encoding and imports this object's wire helpers, and
  * the Catalyst names all three codecs share live in [[PlanVocabulary]].
  *
  * Schema ground truth (field numbers cited per message below):
  *  - datafusion/proto-models/proto/datafusion.proto:31-67 LogicalPlanNode
  *  - datafusion/proto-common/proto/datafusion_common.proto:280 ScalarValue,
  *    :367 ArrowType, :27 Column, :106 Schema/Field
  *  - BinaryExprNode.op carries the operator's Rust Debug name ("Eq",
  *    "Plus", …): datafusion/proto/src/logical_plan/to_proto.rs:268.
  *
  * Covered subset — the relational core the roundtrip queries exercise,
  * mirroring what the reference's own logical-plan roundtrip tests pin:
  * ListingTableScan(parquet) / Projection / Selection / Aggregate / Join /
  * CrossJoin / Union / Distinct / Window / SubqueryAlias / Sort / Limit,
  * with column/alias/literal/binary/cast/is-null/in-list/aggregate/window
  * expressions (JoinNode=7, WindowNode=13, CrossJoinNode=15, UnionNode=19,
  * SubqueryAliasNode=21, DistinctNode=23 per datafusion.proto:37-57;
  * r10 adds RepartitionNode=9 round-robin/hash, ValuesNode=16 flattened
  * row-major, DistinctOnNode=28 — datafusion.proto:146,230,283 — and the
  * PhysicalPlanNode wire in DataFusionProtoPhysical). Consume re-plans on the receiving session (same contract
  * as the Substrait consumer): the scan resolves by TABLE NAME through
  * `tableFor`, so the bytes are portable across clusters whose catalogs
  * hold the same logical tables — paths in the message are advisory.
  */
object DataFusionProto {

  // ------------------------------------------------------------ wire codec

  /** Minimal proto3 writer: varints + length-delimited submessages. */
  final class W {
    private val buf = new java.io.ByteArrayOutputStream()
    def bytes: Array[Byte] = buf.toByteArray
    def varint(v: Long): this.type = {
      var x = v
      while ((x & ~0x7fL) != 0) { buf.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      buf.write(x.toInt); this
    }
    private def tag(field: Int, wire: Int): this.type = varint((field.toLong << 3) | wire)
    def int64(field: Int, v: Long): this.type = { tag(field, 0); varint(v) }
    def int32(field: Int, v: Int): this.type = int64(field, v.toLong)
    def bool(field: Int, v: Boolean): this.type = int64(field, if (v) 1L else 0L)
    def dbl(field: Int, v: Double): this.type = {
      tag(field, 1)
      val b = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(v)
      buf.write(b.array()); this
    }
    def flt(field: Int, v: Float): this.type = {
      tag(field, 5)
      val b = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putFloat(v)
      buf.write(b.array()); this
    }
    def str(field: Int, v: String): this.type =
      raw(field, v.getBytes("UTF-8"))
    def raw(field: Int, v: Array[Byte]): this.type = {
      tag(field, 2); varint(v.length.toLong); buf.write(v); this
    }
    def msg(field: Int)(f: W => Unit): this.type = {
      val w = new W; f(w); raw(field, w.bytes)
    }
  }

  /** Minimal proto3 reader: returns the fields of one message as
    * (fieldNumber, value) pairs in order; nested messages stay bytes. */
  sealed trait PV
  case class PVarint(v: Long) extends PV
  case class PBytes(v: Array[Byte]) extends PV
  case class PFixed64(v: Long) extends PV
  case class PFixed32(v: Int) extends PV

  def fields(b: Array[Byte]): Seq[(Int, PV)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, PV)]()
    var i = 0
    def varint(): Long = {
      var shift = 0; var v = 0L; var more = true
      while (more) {
        val x = b(i) & 0xff; i += 1
        v |= (x & 0x7fL) << shift; shift += 7; more = (x & 0x80) != 0
      }
      v
    }
    while (i < b.length) {
      val key = varint()
      val field = (key >>> 3).toInt
      (key & 7) match {
        case 0 => out += field -> PVarint(varint())
        case 1 =>
          val v = java.nio.ByteBuffer.wrap(b, i, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
          i += 8; out += field -> PFixed64(v)
        case 2 =>
          val len = varint().toInt
          out += field -> PBytes(java.util.Arrays.copyOfRange(b, i, i + len))
          i += len
        case 5 =>
          val v = java.nio.ByteBuffer.wrap(b, i, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          i += 4; out += field -> PFixed32(v)
        case w => throw new IllegalArgumentException(s"dfproto: wire type $w")
      }
    }
    out.toSeq
  }

  private[plans] def sub(b: Array[Byte], field: Int): Option[Array[Byte]] =
    fields(b).collectFirst { case (`field`, PBytes(v)) => v }
  private[plans] def subs(b: Array[Byte], field: Int): Seq[Array[Byte]] =
    fields(b).collect { case (`field`, PBytes(v)) => v }
  private[plans] def vint(b: Array[Byte], field: Int): Option[Long] =
    fields(b).collectFirst { case (`field`, PVarint(v)) => v }
  private[plans] def strOf(b: Array[Byte]): String = new String(b, "UTF-8")

  // ------------------------------------------------------------------ emit

  /** DataFrame analyzed plan → LogicalPlanNode bytes
    * (datafusion.proto:31). */
  def emit(df: DataFrame): Array[Byte] = {
    val w = new W; emitPlan(analyzedOf(df), w); w.bytes
  }

  private def analyzedOf(df: DataFrame): LogicalPlan =
    org.apache.spark.sql.catalyst.optimizer
      .InlineCTE(alwaysInline = true)(df.queryExecution.analyzed)

  /** Table names that stand in for a recursive CTE's work table while
    * emitRecursiveQuery serializes the recursive term: a SubqueryAlias
    * scan of one of these emits CteWorkTableScanNode(32) instead of its
    * underlying (empty placeholder) relation. */
  private val workTableMarkers: ThreadLocal[Set[String]] =
    ThreadLocal.withInitial(() => Set.empty[String])

  /** RecursiveQueryNode (datafusion.proto:1593): name=1, static_term=2,
    * recursive_term=3, is_distinct=4. The caller registers `workTable`
    * (usually = `name`) as a temp view with the CTE's schema — any shape
    * works, it only anchors the recursive term's self-reference — and
    * builds `recursiveTerm` against it; this emitter rewrites that scan
    * into the reference's CteWorkTableScanNode(32). */
  def emitRecursiveQuery(name: String, staticTerm: DataFrame,
      recursiveTerm: DataFrame, workTable: String,
      isDistinct: Boolean = false): Array[Byte] = {
    val w = new W
    w.msg(31) { r =>
      r.str(1, name)
      r.msg(2)(emitPlan(analyzedOf(staticTerm), _))
      val prevMarkers = workTableMarkers.get
      workTableMarkers.set(prevMarkers + workTable.toLowerCase)
      try r.msg(3)(emitPlan(analyzedOf(recursiveTerm), _))
      finally workTableMarkers.set(prevMarkers)
      if (isDistinct) r.bool(4, true)
    }
    w.bytes
  }

  /** CopyToNode (datafusion.proto:290): input=1, output_url=2,
    * file_type=3 (FileFormatProto{kind,encoded} bytes, :311), partition_by
    * =7. Spark's DataFrameWriter has no logical-plan form to pattern-match,
    * so the emitting shape is this explicit constructor — the reference's
    * `COPY (query) TO url` surface. */
  def emitCopyTo(df: DataFrame, outputUrl: String, format: String,
      partitionBy: Seq[String] = Nil): Array[Byte] = {
    val kind = format.toLowerCase match {
      case "csv" => 1L
      case "json" => 2L
      case "parquet" => 3L
      case "arrow" => 4L
      case "avro" => 5L
      case other => throw new IllegalArgumentException(
        s"dfproto emit: unsupported copy format $other")
    }
    val w = new W
    w.msg(29) { c =>
      c.msg(1)(emitPlan(analyzedOf(df), _))
      c.str(2, outputUrl)
      c.msg(3)(_.int64(1, kind)) // FileFormatProto.kind
      partitionBy.foreach(p => c.str(7, p))
    }
    w.bytes
  }

  /** DmlNode (datafusion.proto:316): dml_type=1, input=2, table_name=3.
    * Emitting subset: CTAS(2) / INSERT_APPEND(3) / INSERT_OVERWRITE(4) /
    * TRUNCATE(6) — the session-table surface the engine executes
    * (`operators/SessionTables`); UPDATE/DELETE/MERGE need the reference's
    * target-plan encoding and stay out of the emitting subset. */
  def emitDml(dmlType: String, tableName: String,
      input: Option[DataFrame]): Array[Byte] = {
    val code = dmlType.toLowerCase match {
      case "ctas" => 2L
      case "insert_append" => 3L
      case "insert_overwrite" => 4L
      case "truncate" => 6L
      case other => throw new IllegalArgumentException(
        s"dfproto emit: unsupported dml type $other")
    }
    val w = new W
    w.msg(33) { d =>
      d.int64(1, code)
      input.foreach(df => d.msg(2)(emitPlan(analyzedOf(df), _)))
      d.msg(3)(tr => tr.msg(1)(_.str(1, tableName)))
    }
    w.bytes
  }

  /** CreateExternalTableNode (datafusion.proto:173): name=9(TableReference),
    * location=2 (+locations=16), file_type=3, schema=4(DfSchema),
    * table_partition_cols=5, if_not_exists=6, options=8. Spark DDL commands
    * do not surface as DataFrame plans, so the explicit constructor is the
    * emitting shape (same contract as emitCopyTo/emitDml). */
  def emitCreateExternalTable(name: String, location: String,
      fileType: String, schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String] = Nil,
      options: Map[String, String] = Map.empty,
      ifNotExists: Boolean = false): Array[Byte] = {
    val w = new W
    w.msg(11) { n =>
      n.str(2, location)
      n.str(16, location)
      n.str(3, fileType.toUpperCase)
      n.msg(4) { ds => // DfSchema{columns=1(DfField{field=1})}
        schema.fields.foreach { f =>
          ds.msg(1)(_.msg(1)(arrowField(f.name, f.dataType, f.nullable, _)))
        }
      }
      partitionCols.foreach(n.str(5, _))
      if (ifNotExists) n.bool(6, true)
      options.foreach { case (k, v) =>
        n.msg(8) { kv => kv.str(1, k); kv.str(2, v) }
      }
      n.msg(9)(tr => tr.msg(1)(_.str(1, name)))
    }
    w.bytes
  }

  /** CreateViewNode (datafusion.proto:219): name=5, input=2, or_replace=3,
    * temporary=6 (field 1 reserved). */
  def emitCreateView(name: String, df: DataFrame, orReplace: Boolean = true,
      temporary: Boolean = true): Array[Byte] = {
    val w = new W
    w.msg(22) { n =>
      n.msg(2)(emitPlan(analyzedOf(df), _))
      if (orReplace) n.bool(3, true)
      n.msg(5)(tr => tr.msg(1)(_.str(1, name)))
      if (temporary) n.bool(6, true)
    }
    w.bytes
  }

  /** DropViewNode (datafusion.proto:213): name=1, if_exists=2. */
  def emitDropView(name: String, ifExists: Boolean = true): Array[Byte] = {
    val w = new W
    w.msg(27) { n =>
      n.msg(1)(tr => tr.msg(1)(_.str(1, name)))
      if (ifExists) n.bool(2, true)
    }
    w.bytes
  }

  /** PrepareNode (datafusion.proto:192): name=1, input=3. The emitting
    * subset carries fully-bound plans (placeholder binding happens before
    * emission on this side). */
  def emitPrepare(name: String, df: DataFrame): Array[Byte] = {
    val w = new W
    w.msg(26) { n =>
      n.str(1, name)
      n.msg(3)(emitPlan(analyzedOf(df), _))
    }
    w.bytes
  }

  /** ExplainNode (datafusion.proto:247) / AnalyzeNode (:235). */
  def emitExplain(df: DataFrame, verbose: Boolean = false): Array[Byte] = {
    val w = new W
    w.msg(12) { n =>
      n.msg(1)(emitPlan(analyzedOf(df), _))
      if (verbose) n.bool(2, true)
    }
    w.bytes
  }
  def emitAnalyze(df: DataFrame, verbose: Boolean = false): Array[Byte] = {
    val w = new W
    w.msg(14) { n =>
      n.msg(1)(emitPlan(analyzedOf(df), _))
      if (verbose) n.bool(2, true)
    }
    w.bytes
  }

  /** CreateCatalogSchemaNode (datafusion.proto:201) /
    * CreateCatalogNode (:207). */
  def emitCreateCatalogSchema(name: String, ifNotExists: Boolean = true)
      : Array[Byte] = {
    val w = new W
    w.msg(18) { n => n.str(1, name); if (ifNotExists) n.bool(2, true) }
    w.bytes
  }
  def emitCreateCatalog(name: String, ifNotExists: Boolean = true)
      : Array[Byte] = {
    val w = new W
    w.msg(20) { n => n.str(1, name); if (ifNotExists) n.bool(2, true) }
    w.bytes
  }

  private def emitPlan(plan: LogicalPlan, w: W): Unit = plan match {
    // an alias directly over a table scan that REPEATS the table name is
    // redundant on this wire (the scan already carries the table name);
    // renaming aliases and aliases over derived plans are real
    // SubqueryAliasNodes (datafusion.proto:452) so qualified column
    // references resolve on consume
    case SubqueryAlias(id, child)
        if workTableMarkers.get.contains(id.name.toLowerCase) =>
      // the recursive term's reference to the CTE's own name: the
      // reference's CteWorkTableScanNode (datafusion.proto:1600)
      w.msg(32) { c =>
        c.str(1, id.name)
        c.msg(2)(arrowSchema(plan.output, _))
      }
    case SubqueryAlias(id, child: LogicalRelation)
        if id.name.equalsIgnoreCase(tableNameOf(child)) =>
      emitPlan(child, w)
    // a temp/catalog view scan: SubqueryAlias(name, View(...)) — the
    // alias repeats the view name, so the ViewTableScanNode carries it
    case SubqueryAlias(id, v: View)
        if id.name.equalsIgnoreCase(v.desc.identifier.table) =>
      emitPlan(v, w)
    case SubqueryAlias(id, child) =>
      w.msg(21) { sa =>
        sa.msg(1)(emitPlan(child, _))
        sa.msg(3)(tr => tr.msg(1)(_.str(1, id.name))) // TableReference.bare
      }
    case h: ResolvedHint => emitPlan(h.child, w)
    case v: View =>
      // ViewTableScanNode (datafusion.proto:107): table_name=6, input=2,
      // definition=5 — the consumer re-plans the view's own plan, so the
      // bytes stay portable to catalogs that don't hold the view
      w.msg(24) { vn =>
        vn.msg(6)(tr => tr.msg(1)(_.str(1, v.desc.identifier.table)))
        vn.msg(2)(emitPlan(v.child, _))
        v.desc.viewText.foreach(t => vn.str(5, t))
      }
    case lr: LogicalRelation =>
      // ListingTableScanNode (datafusion.proto:86-105): table_name=14
      // (TableReference:851/BareTableReference:836), paths=2,
      // file_extension=3, schema=5, parquet=11(ParquetFormat, empty opts)
      val (name, path) = lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          (tableNameOf(lr),
            fs.location.rootPaths.headOption.map(_.toString).getOrElse(""))
        case _ => throw new IllegalArgumentException("dfproto: non-file relation")
      }
      w.msg(1) { scan =>
        scan.msg(14)(tr => tr.msg(1)(_.str(1, name)))
        scan.str(2, path)
        scan.str(3, ".parquet")
        scan.msg(5)(arrowSchema(lr.output, _))
        scan.msg(11)(_ => ()) // ParquetFormat{} — options omitted
      }
    // explode over a list column: the reference's UnnestNode (:382) unnests
    // IN PLACE (the element column keeps the list column's name and slot),
    // while Spark's Generate APPENDS the element column — so the wire form
    // is UnnestNode + a ProjectionNode restoring Spark's names, valid when
    // the projection doesn't also use the raw array
    case Project(exprs, Generate(
          org.apache.spark.sql.catalyst.expressions.Explode(arr: AttributeReference),
          _, outer, _, genOut, child))
        if genOut.size == 1 && !exprs.exists(_.references.exists(
          _.exprId == arr.exprId)) =>
      val el = genOut.head
      def emitUnnest(w2: W): Unit = w2.msg(30) { un =>
        un.msg(1)(emitPlan(child, _))
        un.msg(2)(c => c.str(1, arr.name)) // exec_columns: Column.name
        // list_type_columns: input_index + (output_column, depth=1)
        val idx = child.output.indexWhere(_.exprId == arr.exprId)
        if (idx >= 0) un.msg(3) { li =>
          li.int64(1, idx.toLong)
          li.msg(2) { rc =>
            rc.msg(1)(_.str(1, arr.name)); rc.int64(2, 1L)
          }
        }
        // options.null_handling: Spark explode drops null AND empty
        // lists (DROP=1); explode_outer expands both to one NULL row
        // (PRESERVE_AND_EXPAND_EMPTY=2)
        un.msg(7)(_.int64(3, if (outer) 2L else 1L))
      }
      w.msg(3) { p =>
        p.msg(1)(emitUnnest(_))
        exprs.foreach { ne =>
          // after unnest the element rides under the ARRAY column's name —
          // substitute and alias back to Spark's output name
          val t = ne.transform {
            case a: AttributeReference if a.exprId == el.exprId =>
              a.withName(arr.name)
          }
          val named = t match {
            case a: AttributeReference if a.name != ne.name =>
              Alias(a, ne.name)()
            case x: org.apache.spark.sql.catalyst.expressions.NamedExpression => x
            case x => Alias(x, ne.name)()
          }
          p.msg(2)(emitExpr(named, _))
        }
      }
    case Project(exprs, child) =>
      w.msg(3) { p => // ProjectionNode (datafusion.proto:126)
        p.msg(1)(emitPlan(child, _))
        exprs.foreach(e => p.msg(2)(emitExpr(e, _)))
      }
    case Filter(cond, child) =>
      w.msg(4) { s => // SelectionNode (:134)
        s.msg(1)(emitPlan(child, _))
        s.msg(2)(emitExpr(cond, _))
      }
    case Aggregate(groups, aggs, child, _) =>
      // aggr_expr carries only the non-key output expressions (the
      // reference's AggregateNode keys are not repeated there)
      val keyOut = aggs.filter(e => groups.exists(_.semanticEquals(stripAlias(e))))
      val nonKey = aggs.filterNot(e => groups.exists(_.semanticEquals(stripAlias(e))))
      def emitAggNode(w: W): Unit = w.msg(6) { a => // AggregateNode (:256)
        a.msg(1)(emitPlan(child, _))
        groups.foreach(g => a.msg(2)(emitExpr(g, _)))
        nonKey.foreach(e => a.msg(3)(emitExpr(e, _)))
      }
      // the wire's AggregateNode output is keys-then-aggregates; when the
      // plan's output order differs (SELECT sum(b), a ... GROUP BY a), wrap
      // in a ProjectionNode restoring the original column order — the
      // reference emits exactly this shape
      if (aggs.map(_.name) == (keyOut ++ nonKey).map(_.name)) emitAggNode(w)
      else w.msg(3) { p =>
        p.msg(1)(emitAggNode(_))
        aggs.foreach(e => p.msg(2)(c => c.msg(1)(_.str(1, e.name))))
      }
    case Join(left, right, Cross, None, _) =>
      w.msg(15) { j => // CrossJoinNode (datafusion.proto:435)
        j.msg(1)(emitPlan(left, _)); j.msg(2)(emitPlan(right, _))
      }
    case Join(left, right, jt, None, _) if jt == Inner =>
      w.msg(15) { j => j.msg(1)(emitPlan(left, _)); j.msg(2)(emitPlan(right, _)) }
    case Join(left, right, jt, Some(cond), _) =>
      // JoinNode (datafusion.proto:267): left=1 right=2 join_type=3
      // join_constraint=4 left_join_key=5 right_join_key=6 null_equality=7
      // filter=8. Split the condition into equi-keys (one side's refs from
      // each input) and a residual filter, the reference's own shape.
      val conjuncts = splitAnd(cond)
      val leftOut = left.outputSet
      val rightOut = right.outputSet
      val (eqKeys, residual) = conjuncts.foldLeft(
        (Vector.empty[(CExpr, CExpr, Boolean)], Vector.empty[CExpr])) {
        case ((ks, rs), e) => keyOf(e, leftOut, rightOut) match {
          case Some(k) => (ks :+ k, rs)
          case None => (ks, rs :+ e)
        }
      }
      // JoinNode supports empty key lists with only a filter (theta join);
      // the consume path's (None, Some(f)) case evaluates it. Keep the
      // requirement only for semi/anti shapes where a keyless wire form is
      // not produced by the reference.
      require(eqKeys.nonEmpty || jt == Inner || jt == LeftOuter ||
        jt == RightOuter || jt == FullOuter,
        s"dfproto emit: join without equi keys ($jt)")
      val nullEq = eqKeys.forall(_._3)
      // mixed <=> / = key lists don't fit the single null_equality flag —
      // demote the null-safe ones to the residual filter in that case
      val (keys, extraResidual) =
        if (nullEq || eqKeys.forall(!_._3)) (eqKeys, Vector.empty[CExpr])
        else (eqKeys.filter(!_._3),
          eqKeys.filter(_._3).map(k => EqualNullSafe(k._1, k._2): CExpr))
      val filterExpr = (residual ++ extraResidual).reduceOption(CAnd(_, _))
      w.msg(7) { j =>
        j.msg(1)(emitPlan(left, _))
        j.msg(2)(emitPlan(right, _))
        j.int64(3, joinTypeCode(jt))
        j.int64(4, 0L) // JoinConstraint::ON
        keys.foreach(k => j.msg(5)(emitExpr(k._1, _)))
        keys.foreach(k => j.msg(6)(emitExpr(k._2, _)))
        j.int64(7, if (nullEq) 1L else 0L) // NullEquality
        filterExpr.foreach(f => j.msg(8)(emitExpr(f, _)))
      }
    case Union(children, false, false) =>
      w.msg(19) { u => // UnionNode (datafusion.proto:431): ALL semantics
        children.foreach(c => u.msg(1)(emitPlan(c, _)))
      }
    case lrel: LocalRelation =>
      // ValuesNode (datafusion.proto:230): n_cols=1, values_list=2 — the
      // reference flattens the 2-D VALUES row-major. Its output columns
      // are column1..columnN by convention (the wire carries no names), so
      // differently-named outputs get a renaming ProjectionNode on top.
      def emitValues(w2: W): Unit = w2.msg(16) { v =>
        v.int64(1, lrel.output.size.toLong)
        lrel.data.foreach { row =>
          lrel.output.zipWithIndex.foreach { case (a, i) =>
            v.msg(2)(emitExpr(CLiteral(row.get(i, a.dataType), a.dataType), _))
          }
        }
      }
      val canonical = lrel.output.zipWithIndex.forall {
        case (a, i) => a.name == s"column${i + 1}"
      }
      if (canonical) emitValues(w)
      else w.msg(3) { p =>
        p.msg(1)(emitValues(_))
        lrel.output.zipWithIndex.foreach { case (a, i) =>
          p.msg(2) { e => // AliasNode: column{i+1} AS <original name>
            e.msg(2) { al =>
              al.msg(1)(_.msg(1)(_.str(1, s"column${i + 1}")))
              al.str(2, a.name)
            }
          }
        }
      }
    case Repartition(n, shuffle, child) =>
      require(shuffle, "dfproto emit: coalesce has no RepartitionNode form")
      w.msg(9) { r => // RepartitionNode (:146): round_robin=2
        r.msg(1)(emitPlan(child, _))
        r.int64(2, n.toLong)
      }
    case RepartitionByExpression(exprs, child, numParts, _) =>
      w.msg(9) { r => // RepartitionNode (:146): hash=3 (HashRepartition :164)
        r.msg(1)(emitPlan(child, _))
        r.msg(3) { h =>
          exprs.foreach(e => h.msg(1)(emitExpr(e, _)))
          h.int64(2, numParts.getOrElse(
            org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions).toLong)
        }
      }
    case Distinct(child) =>
      w.msg(23)(d => d.msg(1)(emitPlan(child, _))) // DistinctNode (:279)
    case dd: Deduplicate
        if dd.keys.map(_.exprId).toSet ==
          dd.child.output.map(_.exprId).toSet =>
      w.msg(23)(d => d.msg(1)(emitPlan(dd.child, _)))
    case Window(winExprs, _, _, child, _) =>
      w.msg(13) { wn => // WindowNode (datafusion.proto:262)
        wn.msg(1)(emitPlan(child, _))
        winExprs.foreach(e => wn.msg(2)(emitExpr(e, _)))
      }
    case Sort(order, true, child, _) =>
      w.msg(8) { s => // SortNode (:139)
        s.msg(1)(emitPlan(child, _))
        order.foreach(so => s.msg(2)(emitSort(so, _)(emitExpr)))
        s.int64(3, -1L)
      }
    case GlobalLimit(CLiteral(n: Int, IntegerType), LocalLimit(_, child)) =>
      w.msg(5) { l => // LimitNode (:440)
        l.msg(1)(emitPlan(child, _))
        l.int64(2, 0L); l.int64(3, n.toLong)
      }
    case other => throw new IllegalArgumentException(
      s"dfproto emit: unsupported plan node ${other.nodeName}")
  }

  private def tableNameOf(lr: LogicalRelation): String =
    PlanVocabulary.relationName(lr).getOrElse("t")

  private def splitAnd(e: CExpr): Seq[CExpr] = e match {
    case CAnd(l, r) => splitAnd(l) ++ splitAnd(r)
    case x => Seq(x)
  }

  /** An equi-join conjunct, oriented (leftKey, rightKey, nullSafe). */
  private def keyOf(e: CExpr,
      leftOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      rightOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Option[(CExpr, CExpr, Boolean)] = {
    def orient(a: CExpr, b: CExpr, ns: Boolean) =
      if (a.references.subsetOf(leftOut) && b.references.subsetOf(rightOut))
        Some((a, b, ns))
      else if (b.references.subsetOf(leftOut) && a.references.subsetOf(rightOut))
        Some((b, a, ns))
      else None
    e match {
      case EqualTo(a, b) => orient(a, b, ns = false)
      case EqualNullSafe(a, b) => orient(a, b, ns = true)
      case _ => None
    }
  }

  private[plans] def joinTypeCode(jt: JoinType): Long = jt match {
    // datafusion_common.proto:80 JoinType
    case Inner | Cross => 0L
    case LeftOuter => 1L
    case RightOuter => 2L
    case FullOuter => 3L
    case LeftSemi => 4L
    case LeftAnti => 5L
    case other => throw new IllegalArgumentException(
      s"dfproto emit: unsupported join type $other")
  }

  private[plans] def opName(b: BinaryOperator): String = b match {
    // BinaryExprNode.op = the operator's Debug name (to_proto.rs:268)
    case _: EqualTo => "Eq"
    case _: LessThan => "Lt"
    case _: LessThanOrEqual => "LtEq"
    case _: GreaterThan => "Gt"
    case _: GreaterThanOrEqual => "GtEq"
    case _: CAnd => "And"
    case _: org.apache.spark.sql.catalyst.expressions.Or => "Or"
    case _: org.apache.spark.sql.catalyst.expressions.Add => "Plus"
    case _: org.apache.spark.sql.catalyst.expressions.Subtract => "Minus"
    case _: org.apache.spark.sql.catalyst.expressions.Multiply => "Multiply"
    case _: org.apache.spark.sql.catalyst.expressions.Divide => "Divide"
    case _: org.apache.spark.sql.catalyst.expressions.Remainder => "Modulo"
    case _: org.apache.spark.sql.catalyst.expressions.BitwiseAnd => "BitwiseAnd"
    case _: org.apache.spark.sql.catalyst.expressions.BitwiseOr => "BitwiseOr"
    case _: org.apache.spark.sql.catalyst.expressions.BitwiseXor => "BitwiseXor"
    case other => throw new IllegalArgumentException(
      s"dfproto emit: unsupported operator ${other.nodeName}")
  }

  /** LogicalExprNode (datafusion.proto:459-524). */
  private def emitExpr(e: CExpr, w: W): Unit = e match {
    case a: AttributeReference =>
      // Column (common:26-29): name=1, relation=2 (ColumnRelation.relation=1)
      // — the reference always qualifies resolved columns; emit the nearest
      // qualifier so self-join residual filters disambiguate on consume
      w.msg(1) { c =>
        c.str(1, a.name)
        a.qualifier.lastOption.foreach(q => c.msg(2)(_.str(1, q)))
      }
    case Alias(child, name) =>
      w.msg(2) { al => // AliasNode (:615)
        al.msg(1)(emitExpr(child, _)); al.str(2, name)
      }
    case l: CLiteral => w.msg(3)(scalarValue(l, _))
    case b: BinaryOperator =>
      w.msg(4) { be => // BinaryExprNode (:622): operands=1, op=3
        be.msg(1)(emitExpr(b.left, _))
        be.msg(1)(emitExpr(b.right, _))
        be.str(3, opName(b))
      }
    case IsNull(c) => w.msg(6)(m => m.msg(1)(emitExpr(c, _)))
    case IsNotNull(c) => w.msg(7)(m => m.msg(1)(emitExpr(c, _)))
    case Not(c) => w.msg(8)(m => m.msg(1)(emitExpr(c, _)))
    case CCast(c, t, _, _) =>
      w.msg(11) { cn => // CastNode (:736)
        cn.msg(1)(emitExpr(c, _)); cn.msg(2)(arrowType(t, _))
      }
    case In(v, list) if list.forall(_.isInstanceOf[CLiteral]) =>
      w.msg(14) { il => // InListNode: expr=1, list=2, negated=3
        il.msg(1)(emitExpr(v, _))
        list.foreach(x => il.msg(2)(emitExpr(x, _)))
        il.bool(3, false)
      }
    case ae: AggregateExpression =>
      // AggregateUDFExprNode (:648) — the reference models every agg
      // (sum/count/min/max/avg) as a UDAF on the wire
      val (name, args, distinct) = udaf(ae)
      w.msg(19) { an =>
        an.str(1, name)
        args.foreach(a => an.msg(2)(emitExpr(a, _)))
        if (distinct) an.bool(5, true)
      }
    case WindowExpression(fn, WindowSpecDefinition(parts, orders, frame)) =>
      w.msg(18) { wn => // WindowExprNode (datafusion.proto:680)
        fn match {
          case ae: AggregateExpression =>
            val (name, args, _) = udaf(ae)
            wn.str(3, name) // udaf
            args.foreach(a => wn.msg(4)(emitExpr(a, _)))
          case other => wn.str(9, PlanVocabulary.rankingName(other).getOrElse( // udwf
            throw new IllegalArgumentException(
              s"dfproto emit: unsupported window function ${other.nodeName}")))
        }
        parts.foreach(p => wn.msg(5)(emitExpr(p, _)))
        orders.foreach(so => wn.msg(6)(emitSort(so, _)(emitExpr)))
        emitFrame(frame, 8, wn)
      }
    case other => throw new IllegalArgumentException(
      s"dfproto emit: unsupported expression ${other.nodeName}")
  }

  /** An aggregate call on both proto wires: the reference spells
    * `count(*)` as `count(1)` (an Int64 literal). */
  private[plans] def udaf(ae: AggregateExpression): (String, Seq[CExpr], Boolean) =
    PlanVocabulary.aggregate(ae) match {
      case ("count", cs, d) if cs.isEmpty || cs == Seq(CLiteral(1, IntegerType)) =>
        ("count", Seq(CLiteral(1L, LongType)), d)
      case a => a
    }

  /** SortExprNode (datafusion.proto:750) and PhysicalSortExprNode (:1156)
    * alike: expr=1, asc=2, nulls_first=3. */
  private[plans] def emitSort(so: SortOrder, w: W)(expr: (CExpr, W) => Unit): Unit = {
    w.msg(1)(expr(so.child, _))
    w.bool(2, so.direction == Ascending)
    w.bool(3, so.nullOrdering == NullsFirst)
  }

  /** The asc=2 / nulls_first=3 fields of a sort node, applied to `c`. */
  private[plans] def sortOf(c: Column, node: Array[Byte]): Column =
    (vint(node, 2).contains(1L), vint(node, 3).contains(1L)) match {
      case (true, true) => c.asc_nulls_first
      case (true, false) => c.asc_nulls_last
      case (false, true) => c.desc_nulls_first
      case (false, false) => c.desc_nulls_last
    }

  /** WindowFrame (datafusion.proto:762) at `field`: units=1 (ROWS=0,
    * RANGE=1), start_bound=2, end_bound=3; an unspecified frame is absent. */
  private[plans] def emitFrame(frame: WindowFrame, field: Int, w: W): Unit = frame match {
    case SpecifiedWindowFrame(ft, lower, upper) =>
      w.msg(field) { fr =>
        fr.int64(1, ft match { case RowFrame => 0L; case RangeFrame => 1L })
        fr.msg(2)(emitBound(lower, _))
        fr.msg(3)(emitBound(upper, _))
      }
    case UnspecifiedFrame => ()
  }

  /** WindowFrameBound (datafusion.proto:778): type=1, bound_value=2.
    * Unbounded = PRECEDING/FOLLOWING with no bound_value, matching the
    * reference's ScalarValue-null convention for unbounded frames. */
  private def emitBound(b: CExpr, w: W): Unit = b match {
    case CurrentRow => w.int64(1, 0L)
    case UnboundedPreceding => w.int64(1, 1L)
    case UnboundedFollowing => w.int64(1, 2L)
    case CLiteral(v: Int, _) => emitBoundOffset(v.toLong, w)
    case CLiteral(v: Long, _) => emitBoundOffset(v, w)
    case other => throw new IllegalArgumentException(
      s"dfproto emit: unsupported frame bound $other")
  }

  private def emitBoundOffset(v: Long, w: W): Unit =
    if (v == 0L) w.int64(1, 0L)
    else {
      w.int64(1, if (v < 0) 1L else 2L) // PRECEDING / FOLLOWING
      // the reference pins ROWS/RANGE offsets as ScalarValue::UInt64
      // (window_frame.rs WindowFrameBound; uint64_value = field 11)
      w.msg(2)(_.int64(11, math.abs(v)))
    }

  /** ScalarValue (datafusion_common.proto:280). */
  private[plans] def scalarValue(l: CLiteral, w: W): Unit = (l.value, l.dataType) match {
    case (null, t) => w.msg(33)(arrowType(t, _)) // typed null
    case (v: Boolean, _) => w.bool(1, v)
    case (v: org.apache.spark.unsafe.types.UTF8String, _) => w.str(2, v.toString)
    case (v: Int, DateType) => w.int32(14, v) // date_32_value
    case (v: Int, _) => w.int32(6, v)
    case (v: Long, TimestampType) =>
      // ScalarTimestampValue (common:229): time_microsecond_value=1,
      // timezone=5
      w.msg(26)(m => { m.int64(1, v); m.str(5, "UTC") })
    case (v: Long, TimestampNTZType) =>
      // tz=None on the wire is the reference's naive timestamp
      w.msg(26)(m => m.int64(1, v))
    case (v: Long, _) => w.int64(7, v)
    case (v: Float, _) => w.flt(12, v)
    case (v: Double, _) => w.dbl(13, v)
    case (v: Decimal, dt: DecimalType) =>
      w.msg(20) { d => // Decimal128 (common:354): value(be-bytes)=1, p=2, s=3
        // the reference decodes with i128::from_be_bytes, which requires
        // EXACTLY 16 bytes — sign-extend the big-endian two's complement
        val unscaled = v.toJavaBigDecimal.unscaledValue
        val be = unscaled.toByteArray
        val sign: Byte = if (unscaled.signum() < 0) -1 else 0
        d.raw(1, Array.fill(16 - be.length)(sign) ++ be)
        d.int64(2, dt.precision.toLong); d.int64(3, dt.scale.toLong)
      }
    case (v, t) => throw new IllegalArgumentException(
      s"dfproto emit: unsupported literal $v: $t")
  }

  /** ArrowType (datafusion_common.proto:367). */
  private[graft] def arrowType(t: DataType, w: W): Unit = t match {
    case BooleanType => w.msg(2)(_ => ())
    case ByteType => w.msg(4)(_ => ())
    case ShortType => w.msg(6)(_ => ())
    case IntegerType => w.msg(8)(_ => ())
    case LongType => w.msg(10)(_ => ())
    case FloatType => w.msg(12)(_ => ())
    case DoubleType => w.msg(13)(_ => ())
    case StringType => w.msg(14)(_ => ())
    case BinaryType => w.msg(15)(_ => ())
    case DateType => w.msg(17)(_ => ())
    case TimestampType => w.msg(20)(ts => { ts.int64(1, 2L); ts.str(2, "UTC") })
    case TimestampNTZType => w.msg(20)(_.int64(1, 2L))
    case dt: DecimalType =>
      w.msg(24)(d => { d.int64(3, dt.precision.toLong); d.int64(4, dt.scale.toLong) })
    case ArrayType(elem, containsNull) =>
      w.msg(25)(_.msg(1)(arrowField("item", elem, containsNull, _))) // List (common:163)
    case st: StructType =>
      w.msg(28)(arrowSchema(DataTypeUtils.toAttributes(st), _)) // Struct (common:177)
    case MapType(kt, vt, valueNulls) =>
      w.msg(33) { m => // Map (common:181): field_type = entries struct
        m.msg(1) { fd =>
          fd.str(1, "entries")
          fd.msg(2)(_.msg(28) { s =>
            s.msg(1)(arrowField("key", kt, nullable = false, _))
            s.msg(1)(arrowField("value", vt, valueNulls, _))
          })
          fd.bool(3, false)
        }
      }
    case other => throw new IllegalArgumentException(
      s"dfproto emit: unsupported type $other")
  }

  /** Field (datafusion_common.proto:111): name=1, arrow_type=2, nullable=3. */
  private[plans] def arrowField(name: String, t: DataType, nullable: Boolean, w: W): Unit = {
    w.str(1, name); w.msg(2)(arrowType(t, _)); w.bool(3, nullable)
  }

  /** Schema (datafusion_common.proto:106) / Struct: one Field per column. */
  private[plans] def arrowSchema(attrs: Seq[Attribute], w: W): Unit =
    attrs.foreach(a => w.msg(1)(arrowField(a.name, a.dataType, a.nullable, _)))

  private[plans] def fieldOf(f: Array[Byte]): StructField =
    StructField(sub(f, 1).map(strOf).getOrElse("c"), consumeType(sub(f, 2).get),
      vint(f, 3).contains(1L))

  private[plans] def schemaOf(s: Option[Array[Byte]]): StructType =
    StructType(s.toSeq.flatMap(subs(_, 1)).map(fieldOf))

  // --------------------------------------------------------------- consume

  /** LogicalPlanNode bytes → executable DataFrame; `tableFor` resolves a
    * scan's table name (the plan-exchange contract: re-plan locally). */
  def consume(spark: SparkSession, bytes: Array[Byte],
      tableFor: String => Option[DataFrame]): DataFrame =
    consumeScoped(spark, bytes, tableFor)._1

  /** Consume plus the relation scope in force at this node: every table /
    * subquery-alias name → the DataFrame it denotes, so qualified Column
    * references (Column.relation, common:28) resolve anchored to their own
    * side in self-joins instead of by bare (ambiguous) name. */
  private def consumeScoped(spark: SparkSession, bytes: Array[Byte],
      tableFor: String => Option[DataFrame])
      : (DataFrame, Map[String, DataFrame]) = {
    def rec(b: Array[Byte]) = consumeScoped(spark, b, tableFor)
    val fs = fields(bytes)
    require(fs.size == 1, s"dfproto: expected one plan variant, got ${fs.size}")
    val (field, PBytes(node)) = (fs.head._1, fs.head._2): @unchecked
    field match {
      case 1 => // ListingTableScanNode
        val name = tableRefName(sub(node, 14)).getOrElse(
          throw new IllegalArgumentException("dfproto: scan without table name"))
        // resolve by name first (the re-plan contract); a reference-emitted
        // node also carries its own paths(2) + FileFormatType — readable
        // directly when the receiver has no binding for the name
        val df = tableFor(name.toLowerCase).orElse {
          val paths = fields(node).collect { case (2, PBytes(v)) => strOf(v) }
            .map(_.stripPrefix("file://"))
          if (paths.isEmpty) None
          else {
            val rd =
              if (sub(node, 10).isDefined) {
                // CsvFormat{options=5}: has_header rides CsvOptions(1)
                val header = sub(node, 10).flatMap(f => sub(f, 5))
                  .flatMap(o => fields(o).collectFirst {
                    case (1, PBytes(h)) => h.nonEmpty && h(0) != 0 })
                  .getOrElse(false)
                spark.read.option("header", header.toString)
                  .option("inferSchema", "true").csv(paths: _*)
              }
              else if (sub(node, 12).isDefined)
                spark.read.format("avro").load(paths: _*)
              else if (sub(node, 15).isDefined) spark.read.json(paths: _*)
              else if (sub(node, 16).isDefined)
                spark.read.format(
                  classOf[graft.sources.ArrowIpcTableProvider].getName)
                  .load(paths: _*)
              else spark.read.parquet(paths: _*)
            Some(rd)
          }
        }.getOrElse(
          throw new IllegalArgumentException(s"dfproto: unknown table $name"))
        // alias with the table name so qualified Column references
        // ("name.col") resolve through the plan like the reference's
        // qualified schema
        val aliased = df.alias(name)
        (aliased, Map(name.toLowerCase -> aliased))
      case 3 => // ProjectionNode
        val (input, scope) = rec(sub(node, 1).get)
        (input.select(subs(node, 2).map(e => consumeExpr(e, scope)): _*), scope)
      case 4 => // SelectionNode
        val (input, scope) = rec(sub(node, 1).get)
        (input.filter(consumeExpr(sub(node, 2).get, scope)), scope)
      case 6 => // AggregateNode
        val (input, scope) = rec(sub(node, 1).get)
        (aggregated(input, subs(node, 2).map(e => consumeExpr(e, scope)),
          subs(node, 3).map(e => consumeExpr(e, scope))), scope)
      case 7 => // JoinNode
        val (left, lScope) = rec(sub(node, 1).get)
        val (right, rScope) = rec(sub(node, 2).get)
        val scope = lScope ++ rScope
        val nullEq = vint(node, 7).contains(1L)
        val keyCond = subs(node, 5).zip(subs(node, 6)).map { case (lk, rk) =>
          // anchor each key to its own side so self-joins resolve
          val (l, r) = (anchoredKey(left, lk), anchoredKey(right, rk))
          if (nullEq) l <=> r else l === r
        }.reduceOption(_ && _)
        val cond = (keyCond, sub(node, 8).map(f => consumeExpr(f, scope))) match {
          case (Some(k), Some(f)) => k && f
          case (Some(k), None) => k
          case (None, Some(f)) => f
          case (None, None) => throw new IllegalArgumentException(
            "dfproto consume: JoinNode without keys or filter")
        }
        (left.join(right, cond, joinTypeName(vint(node, 3).getOrElse(0L))), scope)
      case 15 => // CrossJoinNode
        val (left, lScope) = rec(sub(node, 1).get)
        val (right, rScope) = rec(sub(node, 2).get)
        (left.crossJoin(right), lScope ++ rScope)
      case 19 => // UnionNode — ALL semantics (the reference wraps Distinct)
        val parts = subs(node, 1).map(rec)
        (parts.map(_._1).reduceLeft(_ union _), parts.head._2)
      case 23 => // DistinctNode
        val (input, scope) = rec(sub(node, 1).get)
        (input.distinct(), scope)
      case 16 => // ValuesNode: n_cols=1, flattened values_list=2
        val nCols = vint(node, 1).getOrElse(
          throw new IllegalArgumentException("dfproto: ValuesNode without n_cols")
        ).toInt
        val flat = subs(node, 2).map(e => consumeExpr(e))
        require(nCols > 0 && flat.size % nCols == 0,
          s"dfproto: ValuesNode ${flat.size} values over $nCols cols")
        // the reference names VALUES output column1..columnN
        val rows = flat.grouped(nCols).toSeq.map { cols =>
          spark.range(1).select(cols.zipWithIndex.map { case (c, i) =>
            c.as(s"column${i + 1}") }: _*)
        }
        (rows.reduceLeft(_ union _), Map.empty[String, DataFrame])
      case 9 => // RepartitionNode: round_robin=2 | hash=3
        val (input, scope) = rec(sub(node, 1).get)
        val out = vint(node, 2) match {
          case Some(n) => input.repartition(n.toInt)
          case None =>
            val h = sub(node, 3).getOrElse(throw new IllegalArgumentException(
              "dfproto: RepartitionNode without a method"))
            val exprs = subs(h, 1).map(e => consumeExpr(e, scope))
            val n = vint(h, 2).getOrElse(200L).toInt
            input.repartition(n, exprs: _*)
        }
        (out, scope)
      case 28 => // DistinctOnNode: on=1 select=2 sort=3 input=4
        val (input, scope) = rec(sub(node, 4).get)
        val onExprs = subs(node, 1).map(e => consumeExpr(e, scope))
        val selectExprs = subs(node, 2).map(e => consumeExpr(e, scope))
        val sortExprs = subs(node, 3).map(se => sortOf(consumeExpr(sub(se, 1).get, scope), se))
        // first row per ON group in sort order — the reference's
        // DISTINCT ON semantics (row_number window, like DialectParser's
        // plan rewrite of the SQL form)
        val spec = org.apache.spark.sql.expressions.Window
          .partitionBy(onExprs: _*)
          .orderBy((if (sortExprs.nonEmpty) sortExprs else onExprs.map(_.asc)): _*)
        val out = input
          .withColumn("__dfp_rn", row_number().over(spec))
          .filter(col("__dfp_rn") === 1)
          .select(selectExprs: _*)
        (out, scope)
      case 21 => // SubqueryAliasNode: input=1, alias=3 (TableReference)
        val (input, scope) = rec(sub(node, 1).get)
        tableRefName(sub(node, 3)) match {
          case Some(n) =>
            val aliased = input.alias(n)
            (aliased, scope + (n.toLowerCase -> aliased))
          case None => (input, scope)
        }
      case 13 => // WindowNode: output = input columns ++ window columns
        val (input, scope) = rec(sub(node, 1).get)
        val winCols = subs(node, 2).map(e => consumeExpr(e, scope))
        (input.select(col("*") +: winCols: _*), scope)
      case 8 => // SortNode
        val (input, scope) = rec(sub(node, 1).get)
        (input.orderBy(subs(node, 2).map(se =>
          sortOf(consumeExpr(sub(se, 1).get, scope), se)): _*), scope)
      case 5 => // LimitNode
        val (input, scope) = rec(sub(node, 1).get)
        val skip = vint(node, 2).getOrElse(0L)
        val fetch = vint(node, 3).getOrElse(-1L)
        val after = if (skip > 0) input.offset(skip.toInt) else input
        (if (fetch >= 0) after.limit(fetch.toInt) else after, scope)
      case 24 => // ViewTableScanNode: re-plan the view's own input
        val (input, scope) = rec(sub(node, 2).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: ViewTableScanNode without input")))
        tableRefName(sub(node, 6)) match {
          case Some(n) =>
            val aliased = input.alias(n)
            (aliased, scope + (n.toLowerCase -> aliased))
          case None => (input, scope)
        }
      case 30 => // UnnestNode: unnest IN PLACE (element keeps the name).
        // list_type_columns(3) carries (input_index, recursion.depth)
        // when present; otherwise exec_columns(2) names are depth-1 list
        // unnests. struct_type_columns(4) expand horizontally. The zip/
        // depth/NullHandling semantics live in the shared replan
        // (DataFusionProtoPhysical.unnestReplan).
        val (input, scope) = rec(sub(node, 1).get)
        val nh = sub(node, 7).flatMap(o => vint(o, 3)).getOrElse(0L)
        val structIdx = fields(node).collect {
          case (4, PVarint(v)) => v.toInt }.toSet
        val itemSpecs = subs(node, 3).map { it =>
          (vint(it, 1).getOrElse(0L).toInt,
            sub(it, 2).flatMap(r => vint(r, 2)).getOrElse(1L).toInt)
        }
        val listSpecs =
          if (itemSpecs.nonEmpty) itemSpecs
          else subs(node, 2).flatMap(c => sub(c, 1)).map(strOf).map { n =>
            val i = input.columns.indexWhere(_.equalsIgnoreCase(n))
            require(i >= 0, s"dfproto consume: unnest column $n not found")
            i
          }.filterNot(structIdx.contains).map(i => (i, 1))
        val out = DataFusionProtoPhysical.unnestReplan(
          input, listSpecs, structIdx, nh)
        (out, scope)
      case 29 => // CopyToNode: execute the write, return the COPY count
        val (input, scope) = rec(sub(node, 1).get)
        val url = sub(node, 2).map(strOf).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CopyToNode without output_url"))
        val fmt = sub(node, 3).flatMap(ff => vint(ff, 1)).getOrElse(3L) match {
          case 1L => "csv"
          case 2L => "json"
          case 3L => "parquet"
          case k => throw new IllegalArgumentException(
            s"dfproto consume: unsupported copy FileFormatKind $k")
        }
        val parts = fields(node).collect { case (7, PBytes(v)) => strOf(v) }
        val n = input.count()
        var wr = input.write.mode("overwrite").format(fmt)
        if (parts.nonEmpty) wr = wr.partitionBy(parts: _*)
        wr.save(url)
        (spark.sql(s"SELECT CAST($n AS BIGINT) AS count"), scope)
      case 31 => // RecursiveQueryNode → the engine's work-table fixpoint
        val name = fields(node).collectFirst {
          case (1, PBytes(v)) => strOf(v) }.getOrElse("cte")
        val (base, scope) = rec(sub(node, 2).get)
        val recBytes = sub(node, 3).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: RecursiveQueryNode without recursive_term"))
        val distinct = vint(node, 4).contains(1L)
        def step(f: DataFrame): DataFrame = {
          val prev = workTables.get
          workTables.set(prev + (name.toLowerCase -> f))
          try consumeScoped(spark, recBytes, tableFor)._1
          finally workTables.set(prev)
        }
        val out =
          if (distinct) graft.operators.RecursiveCte.iterateDistinct(base, step)
          else graft.operators.RecursiveCte.iterate(base, step)
        (out, scope)
      case 32 => // CteWorkTableScanNode: the current iteration's frontier
        val nm = fields(node).collectFirst {
          case (1, PBytes(v)) => strOf(v) }.getOrElse("")
        val df = workTables.get.getOrElse(nm.toLowerCase,
          throw new IllegalArgumentException(
            s"dfproto consume: work table $nm outside a recursive query"))
        (df, Map.empty[String, DataFrame])
      case 33 => // DmlNode over session temp tables (MemTable emulation)
        val name = tableRefName(sub(node, 3)).getOrElse(throw new IllegalArgumentException(
          "dfproto consume: DmlNode without table_name"))
        val input = sub(node, 2).map(b => rec(b)._1)
        def register(df: DataFrame): DataFrame = {
          // materialize before re-registering: the view must not lazily
          // recompute (MemTable semantics), and self-referencing unions
          // (INSERT INTO t SELECT FROM t) must not recurse
          val pinned = df.localCheckpoint(true)
          pinned.createOrReplaceTempView(name)
          pinned
        }
        def countDf(n: Long) = spark.sql(s"SELECT CAST($n AS BIGINT) AS count")
        val out = vint(node, 1).getOrElse(-1L) match {
          case 2L => // CTAS
            val df = input.getOrElse(throw new IllegalArgumentException(
              "dfproto consume: CTAS without input"))
            countDf(register(df).count())
          case 3L => // INSERT_APPEND
            val df = input.getOrElse(throw new IllegalArgumentException(
              "dfproto consume: INSERT without input"))
            val n = df.count()
            register(spark.table(name).unionByName(df))
            countDf(n)
          case 4L => // INSERT_OVERWRITE
            val df = input.getOrElse(throw new IllegalArgumentException(
              "dfproto consume: INSERT without input"))
            countDf(register(df).count())
          case 6L => // TRUNCATE
            register(spark.table(name).limit(0))
            countDf(0L)
          case t => throw new IllegalArgumentException(
            s"dfproto consume: unsupported dml_type $t")
        }
        (out, Map.empty[String, DataFrame])
      case 11 => // CreateExternalTableNode: register the location as a
        // session table (Spark's session catalog IS the re-plan target)
        val name = tableRefName(sub(node, 9)).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CreateExternalTableNode without name"))
        val locs0 = fields(node).collect { case (16, PBytes(v)) => strOf(v) }
        val locs = if (locs0.nonEmpty) locs0
          else sub(node, 2).map(strOf).toSeq
        require(locs.nonEmpty,
          "dfproto consume: CreateExternalTableNode without location")
        val fileType = sub(node, 3).map(strOf).map(_.toLowerCase)
          .getOrElse("parquet")
        val opts = subs(node, 8).flatMap { kv =>
          for (k <- sub(kv, 1); v <- sub(kv, 2)) yield (strOf(k), strOf(v))
        }.toMap
        val ifNotExists = vint(node, 6).contains(1L)
        if (ifNotExists && spark.catalog.tableExists(name))
          (emptyResult(spark), Map.empty[String, DataFrame])
        else {
          var rd = spark.read.format(fileType match {
            case "arrow" => classOf[graft.sources.ArrowIpcTableProvider].getName
            case f => f
          })
          // the reference spells reader options `format.<key>`
          opts.get("format.has_header").orElse(opts.get("has_header"))
            .foreach(h => rd = rd.option("header", h))
          opts.get("format.delimiter").orElse(opts.get("delimiter"))
            .foreach(d => rd = rd.option("sep", d))
          val df = rd.load(locs.map(_.stripPrefix("file://")): _*)
          df.createOrReplaceTempView(name)
          (emptyResult(spark), Map(name.toLowerCase -> df))
        }
      case 12 => // ExplainNode: the re-planned plans ARE the result set —
        // (plan_type, plan) rows, the reference's EXPLAIN schema
        val (input, _) = rec(sub(node, 1).get)
        val rows = Seq(
          org.apache.spark.sql.Row("logical_plan",
            input.queryExecution.optimizedPlan.toString),
          org.apache.spark.sql.Row("physical_plan",
            input.queryExecution.executedPlan.toString))
        (spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("plan_type",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("plan",
              org.apache.spark.sql.types.StringType, false)))),
          Map.empty[String, DataFrame])
      case 14 => // AnalyzeNode: EXECUTE the input, report the plan text
        val (input, _) = rec(sub(node, 1).get)
        input.write.mode("overwrite").format("noop").save()
        (spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
            "Plan with Metrics",
            input.queryExecution.executedPlan.toString)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("plan_type",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("plan",
              org.apache.spark.sql.types.StringType, false)))),
          Map.empty[String, DataFrame])
      case 18 => // CreateCatalogSchemaNode → Spark database (namespace)
        val schemaName = sub(node, 1).map(strOf).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CreateCatalogSchemaNode without schema_name"))
        val ine = if (vint(node, 2).contains(1L)) "IF NOT EXISTS " else ""
        spark.sql(s"CREATE DATABASE $ine`$schemaName`")
        (emptyResult(spark), Map.empty[String, DataFrame])
      case 20 => // CreateCatalogNode: Spark catalogs are plugin-configured
        // at session build — re-plan as a namespace in the session catalog
        // (the single-catalog equivalent)
        val catName = sub(node, 1).map(strOf).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CreateCatalogNode without catalog_name"))
        val ine = if (vint(node, 2).contains(1L)) "IF NOT EXISTS " else ""
        spark.sql(s"CREATE NAMESPACE $ine`$catName`")
        (emptyResult(spark), Map.empty[String, DataFrame])
      case 22 => // CreateViewNode: name=5, input=2, or_replace=3, temp=6.
        // Registered as a session temp view either way — the session
        // catalog is this consumer's view store.
        val name = tableRefName(sub(node, 5)).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CreateViewNode without name"))
        val (input, _) = rec(sub(node, 2).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CreateViewNode without input")))
        if (vint(node, 3).contains(1L)) input.createOrReplaceTempView(name)
        else input.createTempView(name)
        (emptyResult(spark), Map(name.toLowerCase -> input))
      case 26 => // PrepareNode: bind the plan under its statement name;
        // executePrepared(name) is the EXECUTE surface
        val name = sub(node, 1).map(strOf).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: PrepareNode without name"))
        val (input, _) = rec(sub(node, 3).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: PrepareNode without input")))
        preparedStatements.put(name.toLowerCase, input)
        (emptyResult(spark), Map.empty[String, DataFrame])
      case 27 => // DropViewNode: name=1, if_exists=2
        val name = tableRefName(sub(node, 1)).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: DropViewNode without name"))
        val dropped = spark.catalog.dropTempView(name)
        if (!dropped && !vint(node, 2).contains(1L))
          throw new IllegalArgumentException(
            s"dfproto consume: view $name does not exist")
        (emptyResult(spark), Map.empty[String, DataFrame])
      case 10 => // EmptyRelationNode: the SELECT-without-FROM seed —
        // one zero-column row when produce_one_row, else zero rows
        val one = vint(node, 1).contains(1L)
        val base =
          if (one) spark.range(1).select()
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Nil))
        (base, Map.empty[String, DataFrame])
      case 25 => // CustomTableScanNode: custom_table_data(5) is an opaque
        // provider payload — portable consumption resolves the NAME
        // against the receiver's own catalog (the re-plan contract);
        // filters(4) apply on top, projection(2) narrows
        val name = tableRefName(sub(node, 6)).getOrElse(
          throw new IllegalArgumentException(
            "dfproto consume: CustomTableScanNode without table_name"))
        val df0 = tableFor(name.toLowerCase).getOrElse(
          throw new IllegalArgumentException(
            s"dfproto consume: unknown custom table $name " +
              "(custom_table_data is provider-opaque)"))
        val aliased = df0.alias(name)
        val filtered = subs(node, 4).map(f => consumeExpr(f,
            Map(name.toLowerCase -> aliased)))
          .foldLeft(aliased)((d, c) => d.filter(c))
        val projected = sub(node, 2) match {
          case Some(pc) =>
            val cols = subs(pc, 1).map(strOf)
            if (cols.nonEmpty) filtered.select(cols.map(filtered.col): _*)
            else filtered
          case None => filtered
        }
        (projected, Map(name.toLowerCase -> aliased))
      case 34 => // EmptyTableScanNode: a scan proven empty at plan time —
        // zero rows of the declared schema
        (spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf(sub(node, 2))),
          Map.empty[String, DataFrame])
      case other => throw new IllegalArgumentException(
        s"dfproto consume: unsupported plan variant $other")
    }
  }

  /** TableReference (datafusion.proto:843): bare=1{table=1},
    * partial=2{schema=1,table=2}, full=3{catalog=1,schema=2,table=3} —
    * the trailing table segment names the session object. */
  private def tableRefName(tr: Option[Array[Byte]]): Option[String] =
    tr.flatMap { b =>
      sub(b, 1).flatMap(x => sub(x, 1)).map(strOf)
        .orElse(sub(b, 2).flatMap(x => sub(x, 2)).map(strOf))
        .orElse(sub(b, 3).flatMap(x => sub(x, 3)).map(strOf))
    }

  private def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Nil))

  /** PREPARE bindings made by PrepareNode(26); EXECUTE resolves here. */
  private val preparedStatements =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def executePrepared(name: String): DataFrame =
    preparedStatements.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"no prepared statement $name"))

  /** Work-table bindings in force while a RecursiveQueryNode consumes its
    * recursive term (driver-side, single-threaded per consume). */
  private val workTables: ThreadLocal[Map[String, DataFrame]] =
    ThreadLocal.withInitial(() => Map.empty[String, DataFrame])

  private[plans] def joinTypeName(code: Long): String = code match {
    // datafusion_common.proto:80 JoinType
    case 0L => "inner"
    case 1L => "left"
    case 2L => "right"
    case 3L => "full"
    case 4L => "left_semi"
    case 5L => "left_anti"
    case other => throw new IllegalArgumentException(
      s"dfproto consume: unsupported join type $other")
  }

  /** A join key anchored to its own side's DataFrame when it is a bare
    * column reference, so self-joins with colliding names resolve. */
  private def anchoredKey(df: DataFrame, b: Array[Byte]): Column = {
    val fs = fields(b)
    fs.head match {
      case (1, PBytes(node)) =>
        sub(node, 1).map(n => df.col(strOf(n))).getOrElse(consumeExpr(b))
      case _ => consumeExpr(b)
    }
  }

  /** AggregateNode / AggregateExecNode re-planned: a node without
    * aggregates (SELECT DISTINCT, GROUP BY alone) is DISTINCT over its keys. */
  private[plans] def aggregated(input: DataFrame, keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    if (aggs.isEmpty) input.select(keys: _*).distinct()
    else if (keys.isEmpty) input.agg(aggs.head, aggs.tail: _*)
    else input.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** BinaryExprNode.op, the operator's Debug name, applied to its operands. */
  private[plans] def binaryOp(op: String, l: Column, r: Column): Column = op match {
    case "Eq" => l === r
    case "NotEq" => l =!= r
    case "Lt" => l < r
    case "LtEq" => l <= r
    case "Gt" => l > r
    case "GtEq" => l >= r
    case "And" => l && r
    case "Or" => l || r
    case "Plus" => l + r
    case "Minus" => l - r
    case "Multiply" => l * r
    case "Divide" => l / r
    case "Modulo" => l % r
    case "BitwiseAnd" => l.bitwiseAND(r)
    case "BitwiseOr" => l.bitwiseOR(r)
    case "BitwiseXor" => l.bitwiseXOR(r)
    case other => throw new IllegalArgumentException(s"dfproto consume: unsupported op $other")
  }

  /** A window function named as a udaf or a udwf (WindowExprNode and
    * PhysicalWindowExprNode alike). */
  private[plans] def windowFunction(udaf: Option[String], udwf: Option[String],
      args: Seq[Column]): Column = (udaf, udwf) match {
    case (Some(n), _) => PlanVocabulary.aggregate(n, distinct = false, args)
    case (None, Some(n)) => PlanVocabulary.ranking(n).getOrElse(
      throw new IllegalArgumentException(s"dfproto consume: unsupported window udwf $n"))
    case _ => throw new IllegalArgumentException(
      "dfproto consume: window expression without function")
  }

  /** PARTITION BY, ORDER BY and an optional WindowFrame (:762) as a spec. */
  private[plans] def windowSpec(parts: Seq[Column], orders: Seq[Column],
      frame: Option[Array[Byte]]): WindowSpec = {
    val byParts = org.apache.spark.sql.expressions.Window.partitionBy(parts: _*)
    val spec = if (orders.nonEmpty) byParts.orderBy(orders: _*) else byParts
    frame.fold(spec) { fr =>
      val lower = frameBound(sub(fr, 2), isLower = true)
      val upper = frameBound(sub(fr, 3), isLower = false)
      vint(fr, 1).getOrElse(0L) match {
        case 0L => spec.rowsBetween(lower, upper)
        case 1L => spec.rangeBetween(lower, upper)
        case u => throw new IllegalArgumentException(
          s"dfproto consume: unsupported frame units $u")
      }
    }
  }

  private def consumeExpr(b: Array[Byte],
      scope: Map[String, DataFrame] = Map.empty): Column = {
    def ce(x: Array[Byte]): Column = consumeExpr(x, scope)
    val fs = fields(b)
    require(fs.size == 1, "dfproto: expected one expr variant")
    val (field, PBytes(node)) = (fs.head._1, fs.head._2): @unchecked
    field match {
      case 1 =>
        val name = sub(node, 1).map(strOf).getOrElse(
          throw new IllegalArgumentException("dfproto: column without name"))
        // Column.relation (common:28) disambiguates: a qualifier whose alias
        // is in scope resolves string-qualified through the plan's
        // SubqueryAlias (the documented self-join pattern); bare otherwise
        sub(node, 2).flatMap(r => sub(r, 1)).map(strOf)
          .filter(r => scope.contains(r.toLowerCase)) match {
          case Some(rel) => col(s"$rel.$name")
          case None => col(name)
        }
      case 2 => ce(sub(node, 1).get)
        .as(sub(node, 2).map(strOf).getOrElse("c"))
      case 3 => consumeLiteral(node)
      case 4 =>
        val op = sub(node, 3).map(strOf).getOrElse("")
        subs(node, 1).map(ce).reduceLeft(binaryOp(op, _, _))
      case 6 => ce(sub(node, 1).get).isNull
      case 7 => ce(sub(node, 1).get).isNotNull
      case 8 => !ce(sub(node, 1).get)
      case 11 => ce(sub(node, 1).get)
        .cast(consumeType(sub(node, 2).get))
      case 14 =>
        val v = ce(sub(node, 1).get)
        val list = subs(node, 2).map(ce)
        val in = v.isin(list: _*)
        if (vint(node, 3).contains(1L)) !in else in
      case 19 => // AggregateUDFExprNode: fun_name=1, args=2, distinct=5
        PlanVocabulary.aggregate(sub(node, 1).map(strOf).getOrElse(""),
          vint(node, 5).contains(1L), subs(node, 2).map(ce))
      case 18 => // WindowExprNode (datafusion.proto:680): udaf=3, udwf=9
        val fn = windowFunction(sub(node, 3).map(strOf), sub(node, 9).map(strOf),
          subs(node, 4).map(ce))
        fn.over(windowSpec(subs(node, 5).map(ce),
          subs(node, 6).map(se => sortOf(ce(sub(se, 1).get), se)), sub(node, 8)))
      case other => throw new IllegalArgumentException(
        s"dfproto consume: unsupported expr variant $other")
    }
  }

  /** WindowFrameBound → Spark frame offset. PRECEDING/FOLLOWING with no
    * bound_value (the reference's ScalarValue-null) means unbounded. */
  private def frameBound(b: Option[Array[Byte]], isLower: Boolean): Long =
    b match {
      case None =>
        if (isLower) org.apache.spark.sql.expressions.Window.unboundedPreceding
        else org.apache.spark.sql.expressions.Window.unboundedFollowing
      case Some(bb) =>
        val tpe = vint(bb, 1).getOrElse(0L)
        // uint64_value=11 first: the reference serializes bound offsets as
        // ScalarValue::UInt64 (window_frame.rs); int fields kept as fallback
        val value = sub(bb, 2).flatMap(sv =>
          vint(sv, 11).orElse(vint(sv, 7)).orElse(vint(sv, 6))
            .orElse(vint(sv, 5)).orElse(vint(sv, 4)).orElse(vint(sv, 10)))
        (tpe, value) match {
          case (0L, _) => 0L // CURRENT_ROW
          case (1L, Some(v)) => -v // PRECEDING n
          case (1L, None) =>
            org.apache.spark.sql.expressions.Window.unboundedPreceding
          case (2L, Some(v)) => v // FOLLOWING n
          case (2L, None) =>
            org.apache.spark.sql.expressions.Window.unboundedFollowing
          case (t, _) => throw new IllegalArgumentException(
            s"dfproto consume: unsupported frame bound type $t")
        }
    }

  private[plans] def consumeLiteral(b: Array[Byte]): Column = {
    val (field, v) = fields(b).head
    (field, v) match {
      case (1, PVarint(x)) => lit(x == 1L)
      case (2, PBytes(s)) => lit(strOf(s))
      case (6, PVarint(x)) => lit(x.toInt)
      case (7, PVarint(x)) => lit(x)
      case (12, PFixed32(x)) => lit(java.lang.Float.intBitsToFloat(x))
      case (13, PFixed64(x)) => lit(java.lang.Double.longBitsToDouble(x))
      case (14, PVarint(x)) => lit(java.time.LocalDate.ofEpochDay(x))
      case (26, PBytes(ts)) =>
        // ScalarTimestampValue: µs=1, ns=2, s=3, ms=4, timezone=5
        // (common:229-235); absent timezone = naive → TimestampNTZ
        val micros = vint(ts, 1).orElse(vint(ts, 2).map(_ / 1000))
          .orElse(vint(ts, 3).map(_ * 1000000L))
          .orElse(vint(ts, 4).map(_ * 1000L)).getOrElse(0L)
        if (sub(ts, 5).isDefined)
          lit(java.sql.Timestamp.from(
            java.time.Instant.EPOCH.plusNanos(micros * 1000)))
        else
          lit(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            (Math.floorMod(micros, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
      case (20, PBytes(d)) =>
        val unscaled = new java.math.BigInteger(sub(d, 1).get)
        val scale = vint(d, 3).getOrElse(0L).toInt
        lit(new java.math.BigDecimal(unscaled, scale))
      case (33, PBytes(t)) => lit(null).cast(consumeType(t))
      case (f, x) => throw new IllegalArgumentException(
        s"dfproto consume: unsupported scalar field $f ($x)")
    }
  }

  private[graft] def consumeType(b: Array[Byte]): DataType = fields(b).head match {
    case (2, _) => BooleanType
    case (4, _) => ByteType
    case (6, _) => ShortType
    case (8, _) => IntegerType
    case (10, _) => LongType
    case (12, _) => FloatType
    case (13, _) => DoubleType
    case (14, _) => StringType
    case (15, _) => BinaryType
    case (17, _) => DateType
    case (20, PBytes(ts)) =>
      if (sub(ts, 2).isDefined) TimestampType else TimestampNTZType
    case (24, PBytes(d)) =>
      DecimalType(vint(d, 3).getOrElse(10L).toInt, vint(d, 4).getOrElse(0L).toInt)
    case (25, PBytes(l)) =>
      val f = sub(l, 1).getOrElse(
        throw new IllegalArgumentException("dfproto: List without field_type"))
      ArrayType(consumeType(sub(f, 2).get), vint(f, 3).contains(1L))
    case (28, PBytes(s)) => schemaOf(Some(s))
    case (33, PBytes(m)) =>
      sub(m, 1).flatMap(f => sub(f, 2)).map(consumeType) match {
        case Some(StructType(Array(k, v))) =>
          MapType(k.dataType, v.dataType, v.nullable)
        case other => throw new IllegalArgumentException(
          s"dfproto consume: Map entries must be a 2-field struct, got $other")
      }
    case (f, _) => throw new IllegalArgumentException(
      s"dfproto consume: unsupported arrow type field $f")
  }
}
