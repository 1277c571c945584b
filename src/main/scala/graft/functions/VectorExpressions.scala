package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector math over `array<float>` embedding columns as native Catalyst
  * expressions with whole-stage codegen — the Spark-first replacement for the
  * reference's vector kernels (datafusion/functions-nested/src/distance.rs —
  * `array_distance` L2; inner_product / cosine_distance in the same crate).
  *
  * A fused single-pass loop in generated Java is ~an order of magnitude
  * faster than composing `zip_with`+`aggregate` lambdas, and unlike a Scala
  * UDF it needs no serialization and keeps the operator inside the codegen
  * stage — this is the hot inner loop of brute-force KNN over 100 TB.
  *
  * Accumulation is sequential in index order (matches DuckDB's
  * list_inner_product / list_cosine_similarity / list_distance on DOUBLE[],
  * so oracle results agree bit-for-bit before rounding).
  */
abstract class VectorBinaryExpression extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** float/double arrays pass through untouched (the KNN hot path stays on
    * the float fast lane); any other numeric array — int literals, decimal
    * literals — coerces to array<double>, the reference's Float64
    * convention. Double is listed first so the coercion target is f64.
    * (Type left inferred: AbstractDataType is private[sql].) */
  override def inputTypes = GraftSqlBridge.doubleOrFloatArrayTypes(2)

  /** A NULL *element* nulls the whole row (reference convention), so the
    * result is nullable even over non-null array columns. */
  override def nullable: Boolean = true

  /** Whether an element-null scan is needed at all — embeddings parquet
    * declares containsNull and pays one predictable branch per element;
    * non-null arrays skip the scan entirely. */
  protected final def mayContainNullElements: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })

  /** Element width of one side: float embeddings and double centroids both
    * appear in practice (k-means emits rounded double arrays). Reads widen
    * to double either way, so mixed float/double pairs are fine. */
  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _)  => false
    case other => throw new IllegalArgumentException(
      s"vector function over ${other.catalogString}; need array<float> or array<double>")
  }

  /** Generated-Java read of element i as double. */
  protected final def getLeft(arr: String, i: String): String =
    if (isDouble(left)) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
  protected final def getRight(arr: String, i: String): String =
    if (isDouble(right)) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"

  /** Interpreted read of element i as double. */
  protected final def readLeft(a: ArrayData, i: Int): Double =
    if (isDouble(left)) a.getDouble(i) else a.getFloat(i).toDouble
  protected final def readRight(b: ArrayData, i: Int): Double =
    if (isDouble(right)) b.getDouble(i) else b.getFloat(i).toDouble

  /** Java source computing `double result` from float arrays a, b of len n.
    * Every local it declares must come from `fresh` — two vector expressions
    * in one codegen stage otherwise redeclare the same Java locals, janino
    * rejects the stage, and Spark silently falls back to interpreted eval.
    * May set `$isNull = true` for undefined results (zero-magnitude cosine). */
  protected def loopBody(a: String, b: String, n: String, result: String,
      isNull: String, fresh: String => String): String

  /** Interpreted result; null = SQL NULL (undefined). */
  protected def evalLoop(a: ArrayData, b: ArrayData): Any

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    if (bb.numElements() != n)
      throw new RuntimeException(s"Execution error: $prettyName requires " +
        s"both list inputs to have the same length per row " +
        s"(got $n and ${bb.numElements()})")
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || bb.isNullAt(i)) return null
      i += 1
    }
    evalLoop(aa, bb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val result = ctx.freshName("result")
      val i0 = ctx.freshName("i0")
      val nullScan =
        if (mayContainNullElements)
          s"""for (int $i0 = 0; $i0 < $n && !${ev.isNull}; $i0++) {
             |  if ($a.isNullAt($i0) || $b.isNullAt($i0)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) throw new RuntimeException(
         |  "Execution error: $prettyName requires both list inputs to " +
         |  "have the same length per row");
         |$nullScan
         |double $result = 0.0;
         |if (!${ev.isNull}) {
         |  ${loopBody(a, b, n, result, ev.isNull, ctx.freshName)}
         |}
         |${ev.value} = $result;
       """.stripMargin
    })
}

/** Dot product: sum(a_i * b_i). */
case class InnerProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "inner_product"

  override protected def loopBody(a: String, b: String, n: String, result: String,
      isNull: String, fresh: String => String): String = {
    val acc = fresh("acc"); val i = fresh("i")
    s"""
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc += ${getLeft(a, i)} * ${getRight(b, i)};
       |}
       |$result = $acc;
     """.stripMargin
  }

  override protected def evalLoop(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += readLeft(a, i) * readRight(b, i); i += 1 }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine distance: 1 - dot(a,b) / (||a|| * ||b||). */
case class CosineDistance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_distance"

  override protected def loopBody(a: String, b: String, n: String, result: String,
      isNull: String, fresh: String => String): String = {
    val dot = fresh("dot"); val na = fresh("na"); val nb = fresh("nb")
    val i = fresh("i"); val x = fresh("x"); val y = fresh("y")
    s"""
       |double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = ${getLeft(a, i)};
       |  double $y = ${getRight(b, i)};
       |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
       |}
       |if ($na == 0.0 || $nb == 0.0) {
       |  $isNull = true;  // zero-magnitude vector: cosine undefined
       |} else {
       |  $result = 1.0 - $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       |}
     """.stripMargin
  }

  override protected def evalLoop(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = readLeft(a, i); val y = readRight(b, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean (L2) distance: sqrt(sum((a_i - b_i)^2)) —
  * reference: functions-nested/src/distance.rs `array_distance`. */
case class L2Distance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"

  override protected def loopBody(a: String, b: String, n: String, result: String,
      isNull: String, fresh: String => String): String = {
    val acc = fresh("acc"); val i = fresh("i"); val d = fresh("d")
    s"""
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${getLeft(a, i)} - ${getRight(b, i)};
       |  $acc += $d * $d;
       |}
       |$result = java.lang.Math.sqrt($acc);
     """.stripMargin
  }

  override protected def evalLoop(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = readLeft(a, i) - readRight(b, i)
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level API + SQL builders. */
object VectorFunctions {
  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def e(col: Column): Expression = GraftSqlBridge.expression(col)

  def inner_product(a: Column, b: Column): Column = c(InnerProduct(e(a), e(b)))
  def cosine_distance(a: Column, b: Column): Column = c(CosineDistance(e(a), e(b)))
  def l2_distance(a: Column, b: Column): Column = c(L2Distance(e(a), e(b)))

  /** (name, builder) pairs, injected by GraftExtensions. */
  def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "inner_product" -> (es => InnerProduct(es.head, es(1))),
    "cosine_distance" -> (es => CosineDistance(es.head, es(1))),
    "l2_distance" -> (es => L2Distance(es.head, es(1))))
}
