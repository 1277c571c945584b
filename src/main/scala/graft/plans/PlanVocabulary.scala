package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, DenseRank, Expression, PercentRank, Rank, RowNumber}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The Catalyst vocabulary the plan codecs share: Substrait
  * ([[SubstraitSerde]]) and datafusion-proto, logical ([[DataFusionProto]])
  * and physical ([[DataFusionProtoPhysical]]), all name aggregates, ranking
  * window functions and file relations the same way, so each mapping lives
  * here once, in both directions. What a wire spells its own way (Substrait's
  * argument-less `count(*)` against proto's `count(1)`, `"equal"` against
  * `"Eq"`) stays at that wire's call site.
  */
object PlanVocabulary {

  def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case x => x
  }

  /** A Catalyst aggregate as (name, arguments, distinct); `count` keeps the
    * planned arguments. */
  def aggregate(ae: AggregateExpression): (String, Seq[Expression], Boolean) = {
    val (name, args) = ae.aggregateFunction match {
      case Sum(c, _) => ("sum", Seq(c))
      case Average(c, _) => ("avg", Seq(c))
      case Min(c) => ("min", Seq(c))
      case Max(c) => ("max", Seq(c))
      case Count(cs) => ("count", cs)
      case other => throw new IllegalArgumentException(
        s"plan exchange: unsupported aggregate ${other.prettyName}")
    }
    (name, args, ae.isDistinct)
  }

  /** (name, distinct, arguments) → aggregate Column, the inverse of
    * [[aggregate]]: `count(DISTINCT a, b)` keeps every argument, and
    * `avg(DISTINCT x)` is a native distinct Average, so its result type
    * (decimal precision and scale) is the source plan's. */
  def aggregate(name: String, distinct: Boolean, args: Seq[Column]): Column =
    (name, distinct) match {
      case ("sum", false) => sum(args.head)
      case ("sum", true) => sum_distinct(args.head)
      case ("count", false) if args.size == 1 => count(args.head)
      case ("count", false) => call_function("count", args: _*)
      case ("count", true) => count_distinct(args.head, args.tail: _*)
      // min/max over distinct inputs are plain min/max
      case ("min", _) => min(args.head)
      case ("max", _) => max(args.head)
      case ("avg", false) => avg(args.head)
      case ("avg", true) => GraftSqlBridge.column(AggregateExpression(
        Average(GraftSqlBridge.expression(args.head)), Complete, isDistinct = true))
      case (other, d) => throw new IllegalArgumentException(
        s"plan exchange: unsupported aggregate $other (distinct=$d)")
    }

  /** The argument-less ranking window functions every wire carries. */
  def rankingName(f: Expression): Option[String] = f match {
    case _: RowNumber => Some("row_number")
    case _: Rank => Some("rank")
    case _: DenseRank => Some("dense_rank")
    case _: PercentRank => Some("percent_rank")
    case _ => None
  }

  def ranking(name: String): Option[Column] = name match {
    case "row_number" => Some(row_number())
    case "rank" => Some(rank())
    case "dense_rank" => Some(dense_rank())
    case "percent_rank" => Some(percent_rank())
    case _ => None
  }

  /** The logical table a file relation scans: its catalog name when
    * registered, else its root path's base name without the file extension
    * (`Tables.load` reads `<dir>/<table>.parquet`). */
  def relationName(lr: LogicalRelation): Option[String] =
    lr.catalogTable.map(_.identifier.table).orElse(lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption.map { p =>
          val base = p.getName
          if (base.contains('.')) base.substring(0, base.lastIndexOf('.')) else base
        }
      case _ => None
    })
}
