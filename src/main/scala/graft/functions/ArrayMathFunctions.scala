package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Elementwise array math with SQL-aggregate null conventions, matching the
  * reference's functions-nested crate (array_sum / array_avg /
  * array_product / array_add / array_subtract / array_scale /
  * array_normalize, plus the list_* aliases; see
  * datafusion/sqllogictest/test_files/array_sum.slt etc. for the
  * conventions: inputs coerce to Float64, NULL elements are skipped by the
  * reductions, empty/all-null reduce to NULL, and a NULL element poisons
  * the whole row for normalize).
  *
  * Everything is composed from Spark's codegen'd higher-order expressions
  * (transform/filter/aggregate/zip_with) — no UDFs, stays in whole-stage
  * codegen, so the per-row cost is a fused loop exactly like a native
  * kernel would be.
  */
object ArrayMathFunctions {
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private def lam1(f: Expression => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq(s"x${counter.incrementAndGet()}"))
    LambdaFunction(f(x), Seq(x))
  }
  private def lam2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val a = UnresolvedNamedLambdaVariable(Seq(s"a${counter.incrementAndGet()}"))
    val b = UnresolvedNamedLambdaVariable(Seq(s"b${counter.incrementAndGet()}"))
    LambdaFunction(f(a, b), Seq(a, b))
  }
  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def dblArr(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
  private val nullD = Literal.create(null, DoubleType)
  private val nullArr = Literal.create(null, ArrayType(DoubleType))

  /** Reduce the non-null elements; NULL input / empty / all-null → NULL. */
  private def reduce(arr0: Expression, zero: Double,
      merge: (Expression, Expression) => Expression,
      finish: Expression => Expression): Expression = {
    val arr = dblArr(arr0)
    val nn = ArrayFilter(arr, lam1(IsNotNull))
    If(Or(IsNull(arr), EqualTo(Size(nn), Literal(0))), nullD,
      ArrayAggregate(nn, Literal(zero), lam2(merge), lam1(finish)))
  }

  def sumExpr(arr: Expression): Expression =
    reduce(arr, 0.0, Add(_, _), identity)

  def productExpr(arr: Expression): Expression =
    reduce(arr, 1.0, Multiply(_, _), identity)

  def avgExpr(arr0: Expression): Expression = {
    val arr = dblArr(arr0)
    val nn = ArrayFilter(arr, lam1(IsNotNull))
    If(Or(IsNull(arr), EqualTo(Size(nn), Literal(0))), nullD,
      Divide(ArrayAggregate(nn, Literal(0.0), lam2(Add(_, _)), lam1(identity)),
        dbl(Size(nn))))
  }

  /** Elementwise combine; a NULL element yields a NULL at that position,
    * a NULL array on either side yields a NULL row (zip_with semantics);
    * mismatched lengths are an EXECUTION error like the reference
    * (array_add.slt:81 — silent min/pad semantics would be a wrong
    * answer on ragged data). */
  private def zip(name: String, a0: Expression, b0: Expression,
      f: (Expression, Expression) => Expression): Expression = {
    val (a, b) = (dblArr(a0), dblArr(b0))
    If(And(And(IsNotNull(a), IsNotNull(b)),
        Not(EqualTo(Size(a), Size(b)))),
      Cast(RaiseRuntime(
        s"$name requires both list inputs to have the same length per row"),
        ArrayType(DoubleType)),
      ZipWith(a, b, lam2(f)))
  }

  def addExpr(a: Expression, b: Expression): Expression =
    zip("array_add", a, b, Add(_, _))
  def subtractExpr(a: Expression, b: Expression): Expression =
    zip("array_subtract", a, b, Subtract(_, _))

  /** Multiply every element by a scalar; NULL scalar → NULL row, NULL
    * element → NULL at that position. */
  def scaleExpr(arr: Expression, k: Expression): Expression = {
    val kd = dbl(k)
    If(IsNull(kd), nullArr,
      ArrayTransform(dblArr(arr), lam1(x => Multiply(x, kd))))
  }

  /** L2-normalize; any NULL element or a zero vector → NULL row. An EMPTY
    * array returns [] (the reference: nothing to normalize, no division —
    * array_normalize.slt:117). */
  def normalizeExpr(arr0: Expression): Expression = {
    val arr = dblArr(arr0)
    def norm = Sqrt(ArrayAggregate(arr, Literal(0.0),
      lam2((acc, x) => Add(acc, Multiply(x, x))), lam1(identity)))
    If(EqualTo(Size(arr), Literal(0)), arr,
      If(Or(ArrayExists(arr, lam1(IsNull)), LessThanOrEqual(norm, Literal(0.0))),
        nullArr,
        ArrayTransform(arr, lam1(x => Divide(x, norm)))))
  }

  /** SQL builders. Arity is enforced at PLAN time — the reference rejects
    * e.g. array_sum([1],[2]) during planning, not silently ignoring the
    * extra operand. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def one(names: Seq[String], arity: Int)(build: Seq[Expression] => Expression) =
      names.map(n => n -> { (es: Seq[Expression]) =>
        if (es.size != arity)
          org.apache.spark.sql.GraftSqlBridge.analysisError(
            s"Function '$n' expects $arity argument(s) but received ${es.size}")
        build(es)
      })
    one(Seq("array_sum", "list_sum"), 1)(es => sumExpr(es.head)) ++
    one(Seq("array_avg", "list_avg"), 1)(es => avgExpr(es.head)) ++
    one(Seq("array_product", "list_product"), 1)(es => productExpr(es.head)) ++
    one(Seq("array_add", "list_add"), 2)(es => addExpr(es.head, es(1))) ++
    one(Seq("array_subtract", "list_subtract"), 2)(es => subtractExpr(es.head, es(1))) ++
    one(Seq("array_scale", "list_scale"), 2) { es =>
      // a string scale factor has no numeric signature in the reference
      val isStr = try es(1).resolved &&
        es(1).dataType == org.apache.spark.sql.types.StringType
      catch { case _: Exception => false }
      if (isStr) org.apache.spark.sql.GraftSqlBridge.analysisError(
        "Function 'array_scale' expects a numeric scale factor")
      scaleExpr(es.head, es(1))
    } ++
    one(Seq("array_normalize", "list_normalize"), 1)(es => normalizeExpr(es.head)) ++
    // reference aliases over existing kernels
    one(Seq("array_has_any"), 2)(es => ArraysOverlap(es.head, es(1))) ++
    one(Seq("dot_product"), 2)(es => InnerProduct(es.head, es(1)))
  }
}
