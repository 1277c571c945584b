package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `arrow_typeof(expr)` — the reference's type-introspection function
  * (reference: datafusion/functions/src/core/arrowtypeof.rs), rendering
  * the RESOLVED type in arrow's modern short Debug form ("Int64",
  * "Decimal128(10, 4)", "Timestamp(µs)", "List(Utf8)").
  *
  * Two literal-typing twists mirror the reference's SQL literal rules
  * (its bare integer literals are Int64 and fractional literals Float64,
  * where Spark parses Int32/Decimal): a DIRECT integer literal reports
  * Int64 and a direct fractional-decimal literal Float64. Anything
  * behind a cast or a column reports its actual resolved type, so
  * `1::int` is Int32 and a DECIMAL(10,4) column stays Decimal128(10, 4).
  *
  * Types carried under a graft convention report the CARRIER type
  * honestly (µs timestamps → Timestamp(µs), widened unsigned → the
  * signed carrier): the per-line pins in SltRunnerSpec name those
  * divergences explicitly.
  */
case class ArrowTypeOf(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = true

  private lazy val rendered: UTF8String = {
    val name = child match {
      // the reference types bare SQL literals as Int64 / Float64
      case Literal(_, IntegerType) => "Int64"
      case Literal(_, _: DecimalType) => "Float64"
      case Cast(Literal(_, IntegerType), LongType, _, _) => "Int64"
      case _ => ArrowTypeOf.arrowName(child.dataType)
    }
    UTF8String.fromString(name)
  }

  override def eval(input: InternalRow): Any = rendered

  override protected def withNewChildInternal(newChild: Expression): ArrowTypeOf =
    copy(child = newChild)
}

/** `arrow_field(expr)` — field introspection
  * (reference: datafusion/functions/src/core/arrow_field.rs): a struct of
  * (name, data_type, nullable, metadata). The name is the source column's
  * for attributes and the reference's "lit" for anything computed; the
  * data_type string follows arrow_typeof's conventions including the
  * reference's bare-literal Int64/Float64 typing (applied through literal
  * array/struct/map constructors, whose element literals the reference
  * types as Int64 before the constructor runs); metadata carries the
  * attribute's field metadata as a string map. */
case class ArrowField(child: Expression,
    hint: Option[(String, Boolean, Metadata)] = None,
    throughCasts: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrowField.structType
  override def nullable: Boolean = false
  override def foldable: Boolean = child.foldable

  private lazy val rendered: InternalRow = {
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    if (sys.env.contains("GRAFT_AF_DEBUG"))
      System.err.println(s"[arrow_field] child=${child.getClass.getSimpleName} $child hint=$hint")
    val (nm, nul, meta) = hint.getOrElse(("lit", child.nullable, Metadata.empty))
    val kvs = ArrowField.metaPairs(meta)
    InternalRow(
      UTF8String.fromString(nm),
      UTF8String.fromString(ArrowField.literalTypeName(child)),
      nul,
      ArrayBasedMapData(
        kvs.map(p => UTF8String.fromString(p._1)).toArray[Any],
        kvs.map(p => UTF8String.fromString(p._2)).toArray[Any]))
  }

  override def eval(input: InternalRow): Any = rendered

  /** The optimizer may later inline views / fold the child to a literal,
    * which loses the source FIELD identity the reference reports (its
    * planner reads the logical schema). Snapshot name/nullability/metadata
    * the moment resolution hands us the resolved attribute. */
  override protected def withNewChildInternal(newChild: Expression): ArrowField = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    // arrow_metadata mode (throughCasts): the reference's planner keeps
    // field identity through casts, aggregates (min_by/first/last/nth) and
    // window functions (lead/lag/first_value) — descend to the FIRST
    // column reference, which is the function's value argument in all of
    // those shapes
    def strip(e: Expression): Expression = e match {
      case c: Cast if throughCasts => strip(c.child)
      case x => x
    }
    val h = hint.orElse(strip(newChild) match {
      case a: AttributeReference => Some((a.name, a.nullable, a.metadata))
      case other if throughCasts =>
        other.collectFirst { case a: AttributeReference => a }
          .map(a => (a.name, a.nullable, a.metadata))
      case _ => None
    })
    copy(child = newChild, hint = h)
  }
}

object ArrowField {
  import org.apache.spark.sql.catalyst.expressions.{CreateArray, CreateMap, CreateNamedStruct}

  val structType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("data_type", StringType, nullable = false),
    StructField("nullable", BooleanType, nullable = false),
    StructField("metadata",
      MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** arrow type name with the reference's literal-typing rules applied
    * recursively through literal constructors. */
  def literalTypeName(e: Expression): String = e match {
    case Literal(_, IntegerType) => "Int64"
    case Literal(_, _: DecimalType) => "Float64"
    case Cast(Literal(_, IntegerType), LongType, _, _) => "Int64"
    case arr: CreateArray =>
      val elem = arr.children.headOption.map(literalTypeName)
        .getOrElse(ArrowTypeOf.arrowName(
          arr.dataType.asInstanceOf[ArrayType].elementType))
      s"List($elem)"
    case s: CreateNamedStruct =>
      s.names.zip(s.valExprs).map { case (n, v) =>
        s""""$n": ${literalTypeName(v)}"""
      }.mkString("Struct(", ", ", ")")
    case m: CreateMap if m.keys.nonEmpty =>
      s"""Map("entries": non-null Struct("key": non-null ${literalTypeName(m.keys.head)}, "value": ${literalTypeName(m.values.head)}), unsorted)"""
    case _ => ArrowTypeOf.arrowName(e.dataType)
  }

  /** Flat string→string pairs out of a field Metadata (the harness
    * fixtures carry only flat string metadata), key-sorted like the
    * reference's map builder. */
  def metaPairs(m: Metadata): Seq[(String, String)] =
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(m.json)
      .map(mm => mm.group(1) -> mm.group(2)).toSeq.sortBy(_._1)
}

object ArrowTypeOf {
  /** Spark type → arrow short Debug name. */
  def arrowName(t: DataType): String = t match {
    case NullType => "Null"
    case BooleanType => "Boolean"
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "Utf8"
    case BinaryType => "Binary"
    case DateType => "Date32"
    case TimestampNTZType => "Timestamp(µs)"
    case TimestampType =>
      // Spark's TimestampType is session-zoned; arrow tags the zone when
      // one is set (UTC = the untagged default in the slt corpus)
      val zone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      if (zone == "UTC" || zone == "Etc/UTC" || zone == "+00:00")
        "Timestamp(µs)"
      else s"""Timestamp(µs, "$zone")"""
    case dt: DecimalType => s"Decimal128(${dt.precision}, ${dt.scale})"
    case ArrayType(e, _) => s"List(${arrowName(e)})"
    case MapType(k, v, _) =>
      // arrow's Map Debug: entries struct with non-null key; the value is
      // nullable in the reference's map builders regardless of content
      s"""Map("entries": non-null Struct("key": non-null ${arrowName(k)}, "value": ${arrowName(v)}), unsorted)"""
    case st: StructType =>
      st.fields.map { f =>
        val n = if (f.nullable) "" else "non-null "
        s""""${f.name}": $n${arrowName(f.dataType)}"""
      }.mkString("Struct(", ", ", ")")
    case CalendarIntervalType => "Interval(MonthDayNano)"
    // Spark 4.1's TimeType (behind a flag; current_time returns it)
    case other if other.typeName.startsWith("time") => "Time64(µs)"
    case _: DayTimeIntervalType => "Duration(µs)"
    case _: YearMonthIntervalType => "Interval(YearMonth)"
    case other => other.simpleString
  }
}

/** The arrow introspection and Arrow Union SQL builders, injected by
  * GraftExtensions. */
object ArrowFunctions {
  import org.apache.spark.sql.GraftSqlBridge.analysisError
  import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
  import org.apache.spark.sql.catalyst.expressions.AttributeReference

  // Arrow Union type over the struct-carrier convention (reference:
  // functions/src/core/union_extract.rs, union_tag.rs; a dense Union is
  // struct<tag: string, v_<variant>: T…>): union_extract yields the
  // variant field (NULL when another variant is selected), union_tag the
  // tag. Error-class fidelity (reference union_extract.rs/union_tag.rs):
  // arity errors are PLANNING class (AnalysisException); a non-union
  // operand, a non-literal tag, or a missing variant are EXECUTION class —
  // planned as a deferred RaiseRuntime (an analysis-time throw would be
  // wrapped into the compile class), so error-directive conformance sees
  // the reference's own phase split.
  private def isUnionCarrier(e: Expression): Boolean =
    e.resolved && (e.dataType match {
      case st: StructType => st.fieldNames.contains("tag")
      case _ => false
    })
  private def arrowTypeName(e: Expression): String =
    if (e.resolved) ArrowTypeOf.arrowName(e.dataType) else "?"

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // arrow_typeof (reference: functions/src/core/arrowtypeof.rs) —
    // resolved-type introspection in arrow's short Debug form
    "arrow_typeof" -> { es =>
      if (es.size != 1) throw new IllegalArgumentException(
        s"arrow_typeof takes 1 argument, got ${es.size}")
      ArrowTypeOf(es.head)
    },
    // arrow_field (reference: functions/src/core/arrow_field.rs) — field
    // introspection struct (name, data_type, nullable, metadata)
    "arrow_field" -> { es =>
      if (es.size != 1) throw new IllegalArgumentException(
        s"arrow_field takes 1 argument, got ${es.size}")
      // the registry builder receives RESOLVED children — snapshot the
      // field identity here, before the optimizer/binding rewrites it
      val hint = es.head match {
        case a: AttributeReference => Some((a.name, a.nullable, a.metadata))
        case _ => None
      }
      ArrowField(es.head, hint)
    },
    "union_extract" -> { es =>
      if (es.isEmpty) analysisError("'union_extract' does not support zero arguments")
      if (es.size != 2) analysisError(
        s"The function 'union_extract' expected 2 arguments but received ${es.size}")
      if (es.head.resolved && !isUnionCarrier(es.head))
        RaiseRuntime("union_extract first argument must " +
          s"be a union, got ${arrowTypeName(es.head)} instead")
      else es(1) match {
        case Literal(s, StringType) if s != null =>
          val name = String.valueOf(s)
          es.head.dataType match {
            case st: StructType if es.head.resolved && !st.fieldNames.contains("v_" + name) =>
              RaiseRuntime(s"field $name not found on union")
            case _ => UnresolvedExtractValue(es.head, Literal("v_" + name))
          }
        case other => RaiseRuntime(
          "union_extract second argument must be a non-null string " +
            s"literal, got ${arrowTypeName(other)} instead")
      }
    },
    "union_tag" -> { es =>
      if (es.isEmpty) analysisError("'union_tag' does not support zero arguments")
      if (es.size != 1) analysisError(
        s"The function 'union_tag' expected 1 arguments but received ${es.size}")
      if (es.head.resolved && !isUnionCarrier(es.head))
        RaiseRuntime(s"union_tag only support unions, got ${arrowTypeName(es.head)}")
      else UnresolvedExtractValue(es.head, Literal("tag"))
    })
}
