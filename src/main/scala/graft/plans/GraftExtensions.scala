package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, ExpressionInfo, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Filter, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Custom logical optimization registered through SparkSessionExtensions —
  * the Spark-native counterpart of the reference's custom `OptimizerRule`
  * surface (datafusion/optimizer/src/optimizer.rs; SURVEY.md §2.10).
  *
  * The rule ports the reference's `unions_to_filter` optimization
  * (optimizer/src/unions_to_filter.rs): a *distinct* union whose branches
  * scan the same source with different predicates collapses into one scan
  * with an OR-ed predicate — one pass over the data instead of N.
  *
  * It must NOT fire on a bare UNION ALL: rows matching several branch
  * predicates are emitted once per branch there, but only once after the
  * rewrite. Like the reference rule we therefore only match the
  * distinct-wrapped union and keep the distinct wrapper in the result.
  * Because user rules run after Spark's own `ReplaceDistinctWithAggregate`,
  * the wrapper usually arrives as the distinct-shaped
  * `Aggregate(output, output, Union)`; `Distinct`/`Deduplicate` are matched
  * too for earlier phases. Non-deterministic predicates are skipped — OR-ing
  * two rand() filters evaluates them against different draws.
  */
object UnionsToFilter extends Rule[LogicalPlan] {

  /** All branches filter the same source with deterministic predicates →
    * one OR-filter over the first branch's source. Later branches carry
    * fresh exprIds (DeduplicateRelations), so each predicate is remapped
    * onto the first branch's attributes positionally before OR-ing. */
  private def collapse(u: Union): Option[LogicalPlan] = u match {
    case Union(children, false, false) if children.length >= 2 =>
      val parts = children.map {
        case Filter(c, child) => Some((c, child))
        case _                => None
      }
      if (parts.forall(_.isDefined)) {
        val fs = parts.map(_.get)
        val (_, base) = fs.head
        val sameSource = fs.tail.forall { case (_, ch) =>
          base.sameResult(ch) && ch.output.length == base.output.length
        }
        val deterministic = fs.forall(_._1.deterministic)
        if (sameSource && deterministic) {
          val remapped = fs.map { case (c, ch) =>
            val subst = AttributeMap(ch.output.zip(base.output))
            c.transform { case a: Attribute => subst.getOrElse(a, a) }
          }
          if (remapped.forall(_.references.subsetOf(base.outputSet)))
            Some(Filter(remapped.reduceLeft[Expression](Or(_, _)), base))
          else None
        } else None
      } else None
    case _ => None
  }

  /** ReplaceDistinctWithAggregate emits Aggregate(output, output, child);
    * later rules may reorder the grouping list, so compare as id-sets. */
  private def isDistinctShape(agg: Aggregate): Boolean =
    agg.groupingExpressions.nonEmpty &&
      agg.groupingExpressions.forall(_.isInstanceOf[Attribute]) &&
      agg.aggregateExpressions.forall(_.isInstanceOf[Attribute]) &&
      agg.groupingExpressions.map(_.asInstanceOf[Attribute].exprId).toSet ==
        agg.aggregateExpressions.map(_.asInstanceOf[Attribute].exprId).toSet

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case d @ Distinct(u: Union) =>
      collapse(u).map(Distinct(_)).getOrElse(d)
    case d @ Deduplicate(keys, u: Union) if keys.toSet == u.outputSet.toSeq.toSet =>
      collapse(u).map(Deduplicate(keys, _)).getOrElse(d)
    case agg: Aggregate if isDistinctShape(agg) =>
      agg.child match {
        case u: Union => collapse(u).map(c => agg.copy(child = c)).getOrElse(agg)
        case _        => agg
      }
  }
}

/** Entry point: SparkSession.builder().withExtensions(new GraftExtensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((_, parser) => new DialectParser(parser))
    e.injectOptimizerRule(_ => UnionsToFilter)
    e.injectPlannerStrategy(s =>
      SmallInputStrategy(s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
    GenerateSeriesTVF.register(e)
    GraftExtensions.functions.foreach { case (n, b) =>
      e.injectFunction((FunctionIdentifier(n), new ExpressionInfo("graft.functions", n), b))
    }
  }
}

object GraftExtensions {

  /** The engine's SQL function surface — the one registry, installed in
    * EVERY session built with the extension (no DFContext, no per-query
    * registration). Injected names replace a same-named Spark built-in in
    * the session: `make_time` and `to_time` (TimeFunctions) do, and
    * ExtensionsSpec pins that set. A session temp function (the slt dialect
    * layers, RegexpCompat.register) still shadows any of these names. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    import graft.functions._
    VectorFunctions.builders ++ TextFunctions.builders ++ TimeFunctions.builders ++
      ArrayMathFunctions.builders ++ CryptoFunctions.builders ++ GraftMath.builders ++
      GraftWindowFunctions.builders ++ NGramsExplode.builders ++ RegexpCompat.builders ++
      ArrowFunctions.builders ++ SketchFunctions.builders
  }
}
