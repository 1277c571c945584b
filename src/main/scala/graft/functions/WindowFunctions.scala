package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{
  AggregateWindowFunction, AttributeReference, Cast, Expression, If, Literal}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Custom window function — the Spark counterpart of the reference's
  * `WindowUDFImpl` surface (datafusion/expr/src/udwf.rs:315; SURVEY §2.10):
  * a declarative `AggregateWindowFunction` whose running state is evaluated
  * inside Spark's window operator, exactly like the built-in ranking
  * functions (no per-row Scala closure, fully Tungsten-compatible).
  *
  * `PositionWeightedAvg` computes, over the running ROWS frame,
  *   pwavg_n = (Σ_{i=1..n} i·x_i) / (Σ_{i=1..n} i)
  * — a weighted moving average whose weights grow linearly with recency
  * rank, the classic WMA shape. State: (n, Σ i·x_i).
  */
case class PositionWeightedAvg(child: Expression) extends AggregateWindowFunction {
  override def prettyName: String = "pwavg"
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val n = AttributeReference("pw_n", LongType, nullable = false)()
  private lazy val nSeen = AttributeReference("pw_seen", LongType, nullable = false)()
  private lazy val sumIx = AttributeReference("pw_sum_ix", DoubleType, nullable = false)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(n, nSeen, sumIx)

  override val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L), Literal(0.0))

  // updates see the pre-update buffer: the new row's position is n+1.
  // Null inputs keep their position but contribute nothing — SQL-sum
  // semantics, matching the sum(x*rn)/... oracle formulation.
  override val updateExpressions: Seq[Expression] = {
    val isNull = org.apache.spark.sql.catalyst.expressions.IsNull(child)
    Seq(
      n + Literal(1L),
      If(isNull, nSeen, nSeen + Literal(1L)),
      If(isNull, sumIx, sumIx + Cast(n + Literal(1L), DoubleType) * Cast(child, DoubleType)))
  }

  // Σ_{i=1..n} i = n(n+1)/2; all-null prefix → NULL, like SQL sum
  override val evaluateExpression: Expression = {
    val cnt = Cast(n, DoubleType)
    If(nSeen === Literal(0L), Literal(null, DoubleType),
      sumIx / (cnt * (cnt + Literal(1.0)) / Literal(2.0)))
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs.head)
}

object GraftWindowFunctions {

  /** Programmatic form: `pwavg(x, partitionBy, orderBy)` builds the full
    * window expression (Column.over cannot wrap non-builtin window
    * functions); the frame is the function's running ROWS frame. */
  def pwavg(x: Column, partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    GraftSqlBridge.over(
      GraftSqlBridge.column(PositionWeightedAvg(GraftSqlBridge.expression(x))),
      partitionBy, orderBy)

  val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq("pwavg" -> (es => PositionWeightedAvg(es.head)))
}
