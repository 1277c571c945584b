package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.quoteIfNeeded
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.DataType

/** Plan → SQL unparser: renders an ANALYZED logical plan back to Spark SQL
  * text that re-parses and re-executes to the same result.
  *
  * The reference ships this as a first-class surface
  * (datafusion/sql/src/unparser/mod.rs — `plan_to_sql`/`expr_to_sql`,
  * used by the federation/pushdown ecosystem to ship subplans to remote
  * SQL engines). This is the Spark-idiomatic equivalent: rather than
  * pattern-matching a Rust AST builder, each logical operator renders as
  * one SELECT layer over a named subquery, and expression text comes from
  * Catalyst's own `Expression.sql` after rewriting attribute references
  * to the child layer's emitted column names (exprId-exact, so self-joins
  * and shadowed names stay unambiguous where raw name text would not).
  *
  * Coverage: relation refs (views / catalog tables / parquet paths),
  * Project, Filter, Aggregate (plain GROUP BY), all Join types (semi/anti
  * via Spark's native LEFT SEMI/ANTI syntax), Sort / Limit / Offset
  * (fused so ORDER BY + LIMIT stay in one SELECT), Union / Intersect /
  * Except (ALL and DISTINCT), Distinct / Deduplicate, Window, WithCTE
  * (inlined), VALUES local relations, and scalar / IN / EXISTS subqueries
  * including correlated ones (outer references render as the enclosing
  * level's qualified column — subquery aliases are globally unique, so
  * the correlation name can't be shadowed). Unsupported shapes (Expand
  * from ROLLUP/CUBE, Generate, typed object operators) throw
  * UnsupportedOperationException naming the node — fail loudly rather
  * than emit wrong SQL.
  */
object SqlUnparser {

  /** A rendered subplan: full SELECT text plus the output column names,
    * positionally aligned with the plan's `output` attributes. */
  private case class Rendered(sql: String, names: Seq[String])

  /** Shared render state: alias counter, inlined CTE definitions, and the
    * enclosing levels' column references for correlated subqueries. */
  private case class Ctx(ctr: AtomicInteger, ctes: Map[Long, Rendered],
                         outer: Map[ExprId, String]) {
    def fresh(): String = s"gu${ctr.incrementAndGet()}"
  }

  /** Leaf expression that prints verbatim — carrier for already-rendered
    * column references and nested subquery text inside `Expression.sql`. */
  private case class RawSql(raw: String, dataType: DataType)
      extends LeafExpression with Unevaluable {
    override def nullable: Boolean = true
    override def sql: String = raw
    override def toString: String = raw
  }

  def unparse(df: DataFrame): String =
    render(df.queryExecution.analyzed,
      Ctx(new AtomicInteger(0), Map.empty, Map.empty)).sql

  /** Convenience: unparse then re-execute in the DataFrame's session. */
  def roundtrip(df: DataFrame): DataFrame =
    df.sparkSession.sql(unparse(df))

  /** exprId → rendered reference text for a plan's output. */
  private def refs(plan: LogicalPlan, r: Rendered,
                   qualifier: Option[String] = None): Map[ExprId, String] = {
    val q = qualifier.map(a => quoteIfNeeded(a) + ".").getOrElse("")
    plan.output.map(_.exprId).zip(r.names.map(n => q + quoteIfNeeded(n))).toMap
  }

  /** Render an expression against the child layer's column references. */
  private def exprSql(e: Expression, cols: Map[ExprId, String], ctx: Ctx): String = {
    def resolve(a: NamedExpression): String =
      cols.getOrElse(a.exprId, ctx.outer.getOrElse(a.exprId,
        throw new UnsupportedOperationException(
          s"unparser: unresolvable attribute ${a.name}#${a.exprId.id}")))
    // Context for nested subquery plans: this level's columns become outer
    // references (qualified — see the single-FROM renderers below).
    val subCtx = ctx.copy(outer = ctx.outer ++ cols)
    // RuntimeReplaceable wrappers (extract, try_*, ...) print their ORIGINAL
    // argument copies — which both dodges the attribute rewrite below and can
    // emit parser-invalid text (extract('MONTH' FROM x)). Normalize to the
    // executed replacement first, to a fixpoint (replacements can nest).
    var norm = e
    while (norm.exists(_.isInstanceOf[RuntimeReplaceable]))
      norm = norm.transformUp { case r: RuntimeReplaceable => r.replacement }
    // `With` common-expression wrappers (BETWEEN & friends factor a shared
    // subexpression) have no SQL rendering ("with(...)" text is not
    // parseable) — inline each ref with its definition; bottom-up so
    // nested Withs resolve innermost-first.
    while (norm.exists(_.isInstanceOf[With]))
      norm = norm.transformUp {
        case w: With =>
          val defs = w.defs.map(d => d.id -> d.child).toMap
          w.child.transformUp {
            case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id)
          }
      }
    // transformDown so InSubquery/Exists are seen before their child plan
    // wrappers (ListQuery would otherwise hit the catch-all first).
    def withRawLeaves(e0: Expression): Expression = e0.transformDown {
      case OuterReference(a) => RawSql(resolve(a), a.dataType)
      case a: AttributeReference => RawSql(resolve(a), a.dataType)
      // higher-order function bodies: `.sql` prints the unparseable
      // "lambdafunction(...)" wrapper — render the SQL lambda form, with
      // the body recursively rewritten (it may capture outer columns) and
      // lambda variables printing by name
      case lf: LambdaFunction =>
        val args = lf.arguments.map(a => quoteIfNeeded(a.name))
        val argTxt = if (args.size == 1) args.head
                     else args.mkString("(", ", ", ")")
        val body = withRawLeaves(lf.function).transformDown {
          case v: NamedLambdaVariable => RawSql(quoteIfNeeded(v.name), v.dataType)
        }
        RawSql(s"$argTxt -> ${body.sql}", lf.dataType)
      case v: NamedLambdaVariable => RawSql(quoteIfNeeded(v.name), v.dataType)
      case s: ScalarSubquery =>
        RawSql("(" + render(s.plan, subCtx).sql + ")", s.dataType)
      case e: Exists =>
        RawSql("EXISTS (" + render(e.plan, subCtx).sql + ")", e.dataType)
      case in: InSubquery =>
        val values = in.values.map(v => exprSql(v, cols, ctx))
        val vtxt = if (values.length == 1) values.head
                   else values.mkString("(", ", ", ")")
        RawSql(s"$vtxt IN (${render(in.query.plan, subCtx).sql})", in.dataType)
      case s: SubqueryExpression => unsupported(s"subquery ${s.getClass.getSimpleName}")
      // a Scala UDF closure has no SQL spelling — Expression.sql would
      // emit "UDF(...)", which cannot re-parse (q12's bitmap probe)
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
        unsupported(s"Scala UDF ${u.udfName.getOrElse("(anonymous)")}")
      // the dense-key probe's map rides as a base64 string literal — the
      // registered builder (TextFunctions) decodes it back to the exact
      // expression on re-parse (payload size is bounded by the same
      // broadcast-threshold gate that admits the probe)
      case p: graft.functions.DenseKeyProbe =>
        RawSql(graft.functions.DenseKeyProbe.wireArgs(p).map(withRawLeaves(_).sql)
          .mkString(s"${graft.functions.DenseKeyProbe.Name}(", ", ", ")"), p.dataType)
      // PIVOT analyzes into the internal PivotFirst aggregate, which has
      // no SQL spelling — fail loudly rather than emit "pivotfirst(...)"
      case p: org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst =>
        unsupported("PIVOT (internal PivotFirst aggregate)")
      // CreateNamedStruct.sql drops declared field names when it deems
      // them derivable (struct(a, b)), which loses UNPIVOT's key labels
      // on re-parse — always spell the named form
      case cns: CreateNamedStruct =>
        val parts = cns.children.grouped(2).map { case Seq(n, v) =>
          s"${withRawLeaves(n).sql}, ${withRawLeaves(v).sql}"
        }.mkString(", ")
        RawSql(s"named_struct($parts)", cns.dataType)
    }
    withRawLeaves(norm).sql
  }

  /** Assign unique output names for a SELECT list. */
  private def outNames(nes: Seq[NamedExpression]): Seq[String] = {
    val seen = scala.collection.mutable.Set[String]()
    nes.map { ne =>
      val base = ne.name
      val n = if (seen.contains(base)) s"${base}_${ne.exprId.id}" else base
      seen += n
      n
    }
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"unparser: unsupported $what")

  /** `SELECT <items> FROM (<child>) AS <alias> <suffix>` */
  private def selectOver(items: Seq[String], child: Rendered, alias: String,
                         suffix: String = "", distinct: Boolean = false): String = {
    val d = if (distinct) "DISTINCT " else ""
    s"SELECT $d${items.mkString(", ")} FROM (${child.sql}) AS ${quoteIfNeeded(alias)}" +
      (if (suffix.isEmpty) "" else " " + suffix)
  }

  // Peels Sort/Limit/Offset stacks so ORDER BY / LIMIT / OFFSET land in a
  // single SELECT (a sorted subquery under a LIMIT parent would have
  // unspecified order in re-parsed SQL).
  private def renderOrdered(plan: LogicalPlan, ctx: Ctx): Rendered = {
    var limit: Option[String] = None
    var offset: Option[String] = None
    var order: Seq[SortOrder] = Nil
    var cur = plan
    var done = false
    while (!done) cur match {
      case GlobalLimit(l, LocalLimit(_, child)) if limit.isEmpty && order.isEmpty =>
        limit = Some(l.sql); cur = child
      case Offset(o, child) if offset.isEmpty && order.isEmpty =>
        offset = Some(o.sql); cur = child
      case s: Sort if order.isEmpty =>
        // non-global (partition-local) sorts render as ORDER BY too: SQL
        // has no partition-local sort, and a total order is a sound
        // refinement (the library emits local sorts only over
        // single-partition children — the coalesce(1) forms of q4, q12,
        // q13 and q22 —
        // where local IS total)
        order = s.order; cur = s.child
      case _ => done = true
    }
    val c = render(cur, ctx)
    val al = ctx.fresh()
    val cols = refs(cur, c, Some(al))
    val suffix = Seq(
      if (order.nonEmpty)
        Some("ORDER BY " + order.map(o => exprSql(o, cols, ctx)).mkString(", "))
      else None,
      limit.map(l => s"LIMIT $l"),
      offset.map(o => s"OFFSET $o")).flatten.mkString(" ")
    Rendered(selectOver(c.names.map(quoteIfNeeded), c, al, suffix), c.names)
  }

  private def render(plan: LogicalPlan, ctx: Ctx): Rendered = plan match {

    // ---- relations -------------------------------------------------------
    case SubqueryAlias(ident, _: View) =>
      Rendered(s"SELECT * FROM ${ident.qualifier.map(quoteIfNeeded).mkString(".")}" +
        s"${if (ident.qualifier.nonEmpty) "." else ""}${quoteIfNeeded(ident.name)}",
        plan.output.map(_.name))
    case SubqueryAlias(_, child) =>
      render(child, ctx) // alias is cosmetic; exprIds carry identity

    case v: View =>
      Rendered(s"SELECT * FROM ${v.desc.identifier.quotedString}", v.output.map(_.name))

    case r: LogicalRelation =>
      r.catalogTable match {
        case Some(cat) =>
          Rendered(s"SELECT * FROM ${cat.identifier.quotedString}", r.output.map(_.name))
        case None =>
          r.relation match {
            // Spark's direct-path table syntax: SELECT * FROM parquet.`/p`.
            // Parquet only — self-describing, no reader options to lose
            // (csv/json header/schema options don't survive this syntax).
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                if fs.location.rootPaths.length == 1 &&
                  fs.fileFormat.isInstanceOf[
                    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
              Rendered(s"SELECT * FROM parquet.`${fs.location.rootPaths.head}`",
                r.output.map(_.name))
            case _ => unsupported("path-only relation (no catalog identifier)")
          }
      }
    case r: DataSourceV2Relation =>
      r.identifier match {
        case Some(id) => Rendered(s"SELECT * FROM ${id.toString}", r.output.map(_.name))
        case None     => unsupported("anonymous DSv2 relation")
      }

    case lr: LocalRelation =>
      if (lr.data.isEmpty) unsupported("empty LocalRelation")
      val rows = lr.data.map { row =>
        lr.output.zipWithIndex.map { case (a, i) =>
          val v = CatalystTypeConverters.convertToScala(row.get(i, a.dataType), a.dataType)
          Literal.create(v, a.dataType).sql
        }.mkString("(", ", ", ")")
      }.mkString(", ")
      val al = ctx.fresh()
      val colList = lr.output.map(a => quoteIfNeeded(a.name)).mkString(", ")
      Rendered(s"SELECT * FROM (VALUES $rows) AS ${quoteIfNeeded(al)}($colList)",
        lr.output.map(_.name))

    case _: OneRowRelation =>
      Rendered("SELECT 1 AS `__one`", Seq("__one"))

    // ---- CTEs (inlined: each ref re-renders the definition) --------------
    case WithCTE(body, defs) =>
      val defMap = defs.foldLeft(ctx.ctes) { (m, d) =>
        m + (d.id -> render(d.child, ctx.copy(ctes = m)))
      }
      render(body, ctx.copy(ctes = defMap))
    case ref: CTERelationRef =>
      val d = ctx.ctes.getOrElse(ref.cteId, unsupported(s"dangling CTE ref ${ref.cteId}"))
      Rendered(d.sql, d.names)

    // ---- single-child shapes (cols qualified by the FROM alias so that
    // correlated subquery bodies can reference them unambiguously) --------
    case Project(projectList, child) =>
      val c = render(child, ctx)
      val al = ctx.fresh()
      val cols = refs(child, c, Some(al))
      val names = outNames(projectList)
      val items = projectList.zip(names).map { case (ne, n) =>
        val core = ne match {
          case a: Alias => exprSql(a.child, cols, ctx)
          case o        => exprSql(o, cols, ctx)
        }
        s"$core AS ${quoteIfNeeded(n)}"
      }
      Rendered(selectOver(items, c, al), names)

    case Filter(condition, child) =>
      val c = render(child, ctx)
      val al = ctx.fresh()
      val cols = refs(child, c, Some(al))
      Rendered(selectOver(c.names.map(quoteIfNeeded), c, al,
        s"WHERE ${exprSql(condition, cols, ctx)}"), c.names)

    case Aggregate(groupingExpressions, aggregateExpressions, child, _) =>
      val c = render(child, ctx)
      val al = ctx.fresh()
      val cols = refs(child, c, Some(al))
      val names = outNames(aggregateExpressions)
      val items = aggregateExpressions.zip(names).map { case (ne, n) =>
        val core = ne match {
          case a: Alias => exprSql(a.child, cols, ctx)
          case o        => exprSql(o, cols, ctx)
        }
        s"$core AS ${quoteIfNeeded(n)}"
      }
      val groupBy =
        if (groupingExpressions.isEmpty) ""
        else "GROUP BY " + groupingExpressions
          .map(g => exprSql(g, cols, ctx)).mkString(", ")
      Rendered(selectOver(items, c, al, groupBy), names)

    case w: Window =>
      val c = render(w.child, ctx)
      val al = ctx.fresh()
      val cols = refs(w.child, c, Some(al))
      val winNames = outNames(w.windowExpressions)
      val items = c.names.map(quoteIfNeeded) ++
        w.windowExpressions.zip(winNames).map { case (ne, n) =>
          val core = ne match {
            case a: Alias => exprSql(a.child, cols, ctx)
            case o        => exprSql(o, cols, ctx)
          }
          s"$core AS ${quoteIfNeeded(n)}"
        }
      Rendered(selectOver(items, c, al), c.names ++ winNames)

    // Expand (the analyzed form of ROLLUP/CUBE/GROUPING SETS, where
    // grouping()/grouping_id() are already plain bit-ops on the emitted
    // spark_grouping_id column) is semantically "one output row per
    // projection per input row" — exactly UNION ALL of the projections.
    // Rendering it that way is universally correct with zero
    // reverse-engineering of grouping-set syntax; null slots carry
    // CAST(NULL AS T) from Literal.sql so branch types align.
    case Expand(projections, output, child) =>
      val c = render(child, ctx)
      val names = outNames(output.map(a => a: NamedExpression))
      val branches = projections.map { proj =>
        val al = ctx.fresh()
        val cols = refs(child, c, Some(al))
        val items = proj.zip(names).map { case (e, n) =>
          s"${exprSql(e, cols, ctx)} AS ${quoteIfNeeded(n)}"
        }
        selectOver(items, c, al)
      }
      Rendered(branches.map(b => s"($b)").mkString(" UNION ALL "), names)

    // Generate (explode/posexplode/inline/custom UDTFs) → LATERAL VIEW.
    case g: Generate =>
      val c = render(g.child, ctx)
      val al = ctx.fresh()
      val cols = refs(g.child, c, Some(al))
      val gv = ctx.fresh()
      val genNames = outNames(g.generatorOutput)
      val genCols = g.generatorOutput.map(_.exprId)
        .zip(genNames.map(n => quoteIfNeeded(gv) + "." + quoteIfNeeded(n))).toMap
      val allCols = cols ++ genCols
      val outN = outNames(g.output.map(a => a: NamedExpression))
      val items = g.output.zip(outN).map { case (a, n) =>
        s"${allCols(a.exprId)} AS ${quoteIfNeeded(n)}"
      }
      val lateral = s"LATERAL VIEW ${if (g.outer) "OUTER " else ""}" +
        s"${exprSql(g.generator, cols, ctx)} ${quoteIfNeeded(gv)} AS " +
        genNames.map(quoteIfNeeded).mkString(", ")
      Rendered(s"SELECT ${items.mkString(", ")} FROM (${c.sql}) AS " +
        s"${quoteIfNeeded(al)} $lateral", outN)

    case Distinct(child) =>
      val c = render(child, ctx)
      val al = ctx.fresh()
      Rendered(selectOver(c.names.map(quoteIfNeeded), c, al, distinct = true), c.names)

    case Deduplicate(keys, child) if keys.map(_.exprId).toSet ==
        child.output.map(_.exprId).toSet =>
      val c = render(child, ctx)
      val al = ctx.fresh()
      Rendered(selectOver(c.names.map(quoteIfNeeded), c, al, distinct = true), c.names)

    // ---- sort/limit/offset (fused) --------------------------------------
    case _: Sort | _: GlobalLimit | _: Offset => renderOrdered(plan, ctx)

    // ---- joins -----------------------------------------------------------
    case j: Join =>
      import org.apache.spark.sql.catalyst.plans._
      val l = render(j.left, ctx)
      val r = render(j.right, ctx)
      val (la, ra) = (ctx.fresh(), ctx.fresh())
      val cols = refs(j.left, l, Some(la)) ++ refs(j.right, r, Some(ra))
      val kw = j.joinType match {
        case Inner if j.condition.isEmpty => "CROSS JOIN"
        case Inner           => "JOIN"
        case Cross           => "CROSS JOIN"
        case LeftOuter       => "LEFT JOIN"
        case RightOuter      => "RIGHT JOIN"
        case FullOuter       => "FULL JOIN"
        case LeftSemi        => "LEFT SEMI JOIN"
        case LeftAnti        => "LEFT ANTI JOIN"
        case t               => unsupported(s"join type $t")
      }
      val on = j.condition
        .map(cnd => s" ON ${exprSql(cnd, cols, ctx)}").getOrElse("")
      // Output columns: plan.output (semi/anti drop the right side), with
      // qualified references and deduped emitted names.
      val names = outNames(j.output.map(a => a: NamedExpression))
      val items = j.output.zip(names).map { case (a, n) =>
        s"${cols(a.exprId)} AS ${quoteIfNeeded(n)}"
      }
      Rendered(
        s"SELECT ${items.mkString(", ")} FROM (${l.sql}) AS $la $kw (${r.sql}) AS $ra$on",
        names)

    // ---- set ops ---------------------------------------------------------
    case u: Union =>
      val kids = u.children.map(render(_, ctx))
      Rendered(kids.map(k => s"(${k.sql})").mkString(" UNION ALL "), kids.head.names)
    case Intersect(left, right, isAll) =>
      val (l, r) = (render(left, ctx), render(right, ctx))
      val all = if (isAll) " ALL" else ""
      Rendered(s"(${l.sql}) INTERSECT$all (${r.sql})", l.names)
    case Except(left, right, isAll) =>
      val (l, r) = (render(left, ctx), render(right, ctx))
      val all = if (isAll) " ALL" else ""
      Rendered(s"(${l.sql}) EXCEPT$all (${r.sql})", l.names)

    // ---- transparent wrappers -------------------------------------------
    case h: ResolvedHint       => render(h.child, ctx)
    case r: Repartition        => render(r.child, ctx)
    case r: RepartitionByExpression => render(r.child, ctx)
    case u: UnresolvedHint     => render(u.child, ctx)

    case other =>
      unsupported(s"node ${other.getClass.getSimpleName}")
  }
}
