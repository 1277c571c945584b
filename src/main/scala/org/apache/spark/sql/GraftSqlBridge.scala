package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: Column ↔ Expression.
  *
  * Spark 4 hides the classic Column(expr) constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is private[sql];
  * extension libraries conventionally expose it via a small shim in the
  * org.apache.spark.sql package. Nothing else from the private surface is
  * used.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Full ColumnNode → catalyst conversion. `expression` wraps any
    * non-trivial node (when/otherwise, functions.* builders) in a LAZY
    * ColumnNodeExpression that the analyzer treats as resolved while its
    * inside is not — fine inside Dataset ops, fatal when the result is
    * injected into a FunctionRegistry builder. This converts eagerly to a
    * plain (possibly Unresolved*) expression tree the analyzer then
    * resolves normally. */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A Scala closure as a (name, function-registry builder) pair: the
    * named ScalaUDF, arity check included, that `spark.udf.register(name,
    * f)` installs — as a builder, so GraftExtensions can inject it. */
  def udfBuilder(name: String, f: expressions.UserDefinedFunction)
      : (String, Seq[Expression] => Expression) = {
    val named = f.withName(name).asInstanceOf[expressions.SparkUserDefinedFunction]
    val arity = named.inputEncoders.size
    name -> { es =>
      if (es.size != arity) throw errors.QueryCompilationErrors.wrongNumArgsError(
        name, Seq(arity), es.size)
      classic.UserDefinedFunctionUtils.toScalaUDF(named, es)
    }
  }

  /** Raise a genuine AnalysisException (planning-phase error class) from
    * library code — the constructor is private[sql] in Spark 4. */
  def analysisError(msg: String): Nothing =
    throw new AnalysisException("INTERNAL_ERROR", Map("message" -> msg))

  /** DataFrame from a custom logical plan (classic Dataset.ofRows). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Natural ordering over a type's internal representation (int/long/
    * Decimal/UTF8String/…) — what SortExec itself uses for interpreted
    * comparisons. Needed by custom physical operators that order keys. */
  def interpretedOrdering(dt: types.DataType): Ordering[Any] =
    catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Whether a type has a total order usable for sorting/range comparison. */
  def isOrderable(dt: types.DataType): Boolean =
    catalyst.expressions.RowOrdering.isOrderable(dt)

  /** The Dataset's RDD of UNSAFE internal rows — no per-row Row boxing.
    * For driver-side scans that fold millions of narrow rows into a
    * broadcast structure (BitmapJoin builds), the public `.rdd` path
    * deserializes every row into a GenericRow; this skips that. Rows may
    * be REUSED per partition — callers must read primitives immediately
    * and never retain the row. */
  def internalRdd(df: Dataset[_]): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** Arrow ↔ Spark schema conversion (private[sql] ArrowUtils) — used by
    * the Arrow IPC DSv2 source. */
  def schemaFromArrow(schema: org.apache.arrow.vector.types.pojo.Schema): types.StructType =
    util.ArrowUtils.fromArrowSchema(schema)

  def schemaToArrow(schema: types.StructType, timeZoneId: String = "UTC"): org.apache.arrow.vector.types.pojo.Schema =
    util.ArrowUtils.toArrowSchema(schema, timeZoneId, errorOnDuplicatedFieldNames = true, largeVarTypes = false)

  /** `AbstractDataType` is private[sql]; expose the input-type contract a
    * numeric-array expression needs: "array<double> or array<float>,
    * coercing anything else to array<double>" (TypeCollection tries members
    * in order; an input matching any member passes through uncast). */
  def doubleOrFloatArrayTypes(arity: Int): Seq[types.AbstractDataType] =
    Seq.fill(arity)(types.TypeCollection(
      types.ArrayType(types.DoubleType), types.ArrayType(types.FloatType)))

  /** Wrap a raw window-function expression in a WindowExpression — the
    * programmatic path for custom window functions, since Column.over routes
    * through the ColumnNode layer which only recognizes built-ins. */
  def over(fn: Column, partitionBy: Seq[Column], orderBy: Seq[Column]): Column = {
    import catalyst.expressions._
    val ord = orderBy.map(c => expression(c) match {
      case so: SortOrder => so
      case e             => SortOrder(e, Ascending)
    })
    column(WindowExpression(expression(fn),
      WindowSpecDefinition(partitionBy.map(expression), ord, UnspecifiedFrame)))
  }
}
