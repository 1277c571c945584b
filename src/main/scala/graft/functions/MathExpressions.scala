package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Integer math the reference ships that Spark has no builtin for —
  * `gcd`/`lcm` (datafusion/functions/src/math/{gcd,lcm}.rs) — as native
  * codegen Catalyst expressions (same extension path as VectorExpressions;
  * SURVEY §2.10 ScalarUDFImpl → Expression).
  */
case class Gcd(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "gcd"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    Gcd.gcd(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.Gcd.gcd($a, $b);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Gcd {
  /** Overflow-exact like the reference (gcd.rs raises): |Long.MinValue|
    * is unrepresentable, so absExact throws instead of returning a
    * negative "gcd". */
  def gcd(a: Long, b: Long): Long = {
    var x = if (a == Long.MinValue && b != 0) math.abs(a % b) else Math.absExact(a)
    var y = if (b == Long.MinValue && a != 0) math.abs(b % a) else Math.absExact(b)
    while (y != 0L) { val t = y; y = x % y; x = t }
    x
  }
}

/** lcm(a,b) = |a / gcd(a,b) * b|; lcm(0, x) = 0 (reference lcm.rs). */
case class Lcm(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "lcm"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]; val y = b.asInstanceOf[Long]
    if (x == 0L || y == 0L) 0L
    // multiplyExact: the reference's lcm raises on overflow rather than
    // silently wrapping (functions/src/math/lcm.rs)
    else Math.absExact(Math.multiplyExact(x / Gcd.gcd(x, y), y))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if ($a == 0L || $b == 0L) { ${ev.value} = 0L; }
         |else {
         |  ${ev.value} = java.lang.Math.absExact(
         |    java.lang.Math.multiplyExact($a / graft.functions.Gcd.gcd($a, $b), $b));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level surface for the reference's math long tail. `nanvl` and
  * `iszero` (functions/src/math/{nanvl,iszero}.rs) are thin shims over
  * Spark semantics; gcd/lcm are the codegen expressions above. */
object GraftMath {

  def gcd(a: Column, b: Column): Column =
    GraftSqlBridge.column(Gcd(
      GraftSqlBridge.expression(a.cast("long")),
      GraftSqlBridge.expression(b.cast("long"))))

  def lcm(a: Column, b: Column): Column =
    GraftSqlBridge.column(Lcm(
      GraftSqlBridge.expression(a.cast("long")),
      GraftSqlBridge.expression(b.cast("long"))))

  /** nanvl(x, y): y when x is NaN else x — Spark ships this one. */
  def nanvl(x: Column, y: Column): Column =
    org.apache.spark.sql.functions.nanvl(x, y)

  /** iszero(x): true iff x is ±0 (NaN-safe: NaN = 0 is false). */
  def iszero(x: Column): Column = x === lit(0.0)

  /** SQL builders (gcd/lcm; nanvl is already a Spark builtin).
    * Narrower integer inputs are widened with an explicit Cast — the
    * expressions evaluate on Long, and SQL int literals would otherwise
    * arrive as Integer and fail the eval cast (found by running the
    * reference's math.slt through SltRunner). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def asLong(e: Expression): Expression = Cast(e, LongType)
    Seq("gcd" -> (es => Gcd(asLong(es.head), asLong(es(1)))),
      "lcm" -> (es => Lcm(asLong(es.head), asLong(es(1)))))
  }
}
