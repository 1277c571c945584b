package graft.plans

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{Star, UnresolvedAlias, UnresolvedAttribute, UnresolvedHaving, UnresolvedOrdinal, UnresolvedStar, UnresolvedStarExceptOrReplace}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, EqualTo, Expression, Literal, NamedExpression, RowNumber, SortOrder, UnresolvedWindowExpression, UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Sort, UnresolvedHint, UnresolvedWith, WithWindowDefinition}
import org.apache.spark.sql.catalyst.trees.Origin
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The engine's SQL dialect, in one place: Spark's own parser, wrapped and
  * injected by [[GraftExtensions]], so `spark.sql` on every graft session —
  * and `DFContext.sql`, which is just `spark.sql` — reads the reference
  * dialect's forms that Spark 4.1's parser rejects or misreads (the
  * DataFusion paper's design: the dialect lives in the parser and SQL
  * planner, not in string surgery ahead of them).
  *
  * - Token splices over [[DialectParser.lex]]'s stream (literals and quoted
  *   identifiers skipped): the `~` regex / `~~` LIKE operator family and
  *   `* EXCLUDE` (Spark's `* EXCEPT`).
  * - Clauses as plan rewrites: a top-level `QUALIFY <pred>` or
  *   `DISTINCT ON (<keys>)` is cut out of the text, Spark parses the rest,
  *   and the parsed query is rewritten: the clause's expressions become
  *   hidden columns of the query's own select node (Project, or Aggregate
  *   for grouped queries), filtered on above it and projected away at the
  *   top. `ORDER BY <window>`, which Spark parses but rejects in analysis,
  *   is hoisted the same way.
  *
  * Every other entry point delegates unchanged, and a statement without a
  * dialect token passes the cheap [[DialectParser.DialectHint]] check
  * straight to Spark, unlexed.
  */
class DialectParser(delegate: ParserInterface) extends ParserInterface {
  import DialectParser._

  override def parsePlan(sqlText: String): LogicalPlan = parse(sqlText, delegate.parsePlan)

  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
    parse(sqlText, delegate.parsePlanWithParameters(_, ctx))

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)

  /** `base` is the delegate's entry for this statement (with or without
    * parameters); the clauses' expression lists go through it too, as
    * `SELECT <list>`, so parameter markers bind inside them as well. */
  private def parse(sql: String, base: String => LogicalPlan): LogicalPlan =
    if (!DialectHint.matcher(sql).find()) rewriteQuery(base(sql), None, Nil, sql)
    else {
      val c = cut(rewriteExclude(rewriteRegexOps(sql)))
      def exprs(text: String): Seq[Expression] = base(s"SELECT $text") match {
        case Project(items, _) => items.map {
          case UnresolvedAlias(e, _) => e
          case Alias(e, _) => e
          case e => e
        }
        case p => throw unsupported(sql, s"clause expressions parsed as ${p.nodeName}")
      }
      rewriteQuery(base(c.rest), c.qualify.map(exprs(_).head), c.distinctOn.toSeq.flatMap(exprs), sql)
    }
}

object DialectParser {

  /** Cheap pre-check: only a statement matching this is lexed. */
  private val DialectHint =
    """(?i)~|\bEXCLUDE\b|\bQUALIFY\b|\bDISTINCT\s+ON\b""".r.pattern

  private def unsupported(sql: String, what: String): ParseException =
    new ParseException(Option(sql), Origin(), "_LEGACY_ERROR_TEMP_0035",
      Map("message" -> s"QUALIFY / DISTINCT ON apply to one SELECT block of a query ($what)"))

  /** A statement with its top-level QUALIFY and DISTINCT ON clauses cut out,
    * and the clauses' expression text. */
  private final case class Cut(rest: String, qualify: Option[String], distinctOn: Option[String])

  /** Finds the clauses as paren-depth-0 tokens: `DISTINCT ON ( … )` and
    * `QUALIFY …` up to the next top-level ORDER BY, LIMIT, OFFSET, WINDOW
    * or set operator. CTE bodies and subqueries sit inside parens, so the
    * clauses found belong to the main query; one inside parens is rejected
    * here rather than left for Spark to misread. */
  private def cut(s: String): Cut = {
    val toks = lex(s)
    def word(i: Int, w: String) = i < toks.length && toks(i).kind == 'w' &&
      s.regionMatches(true, toks(i).start, w, 0, w.length) && toks(i).end - toks(i).start == w.length
    def punct(i: Int, c: Char) = i < toks.length && toks(i).kind == 'p' && s(toks(i).start) == c
    val depth = toks.indices.scanLeft(0) { (d, i) =>
      if (punct(i, '(')) d + 1 else if (punct(i, ')')) d - 1 else d
    }
    def top(i: Int) = depth(i) == 0
    def distinctOnAt(i: Int) = word(i, "DISTINCT") && word(i + 1, "ON") && punct(i + 2, '(')
    toks.indices.find(i => !top(i) && (word(i, "QUALIFY") || distinctOnAt(i))).foreach { i =>
      val clause = if (word(i, "QUALIFY")) "QUALIFY" else "DISTINCT ON"
      throw unsupported(s, s"$clause inside a subquery or CTE is unsupported")
    }
    val distinctOn = toks.indices.find(i => top(i) && distinctOnAt(i)).map { i =>
      val close = (i + 3 until toks.length).find(j => punct(j, ')') && depth(j + 1) == 0)
        .getOrElse(throw unsupported(s, "DISTINCT ON without a closing paren"))
      (toks(i).start, toks(close).end, s.substring(toks(i + 2).end, toks(close).start))
    }
    val qualify = toks.indices.find(i => top(i) && word(i, "QUALIFY")).map { i =>
      val end = (i + 1 until toks.length).find(j => top(j) && (
        (word(j, "ORDER") && word(j + 1, "BY")) ||
          Seq("LIMIT", "OFFSET", "WINDOW", "UNION", "INTERSECT", "EXCEPT", "MINUS").exists(word(j, _))))
        .map(toks(_).start).getOrElse(s.length)
      (toks(i).start, end, s.substring(toks(i).end, end))
    }
    val rest = (distinctOn.toSeq ++ qualify).sortBy(-_._1).foldLeft(s) { case (r, (from, to, _)) =>
      r.substring(0, from) + " " + r.substring(to)
    }
    Cut(rest, qualify.map(_._3), distinctOn.map(_._3))
  }

  /** One query cut at its ORDER BY: the nodes above the sort (CTE, LIMIT,
    * OFFSET), the sort, the nodes between it and the SELECT block (WINDOW
    * definitions, hints, DISTINCT), and the block — its Project or
    * Aggregate, under the HAVING filter if there is one. */
  private final case class Shape(outer: Seq[LogicalPlan], sort: Option[Sort],
      inner: Seq[LogicalPlan], block: LogicalPlan)

  private def shape(plan: LogicalPlan): Option[Shape] = {
    def inner(p: LogicalPlan, acc: Seq[LogicalPlan]): Option[(Seq[LogicalPlan], LogicalPlan)] = p match {
      case _: Project | _: Aggregate | UnresolvedHaving(_, _: Aggregate) => Some((acc, p))
      case _: WithWindowDefinition | _: UnresolvedHint | _: Distinct => inner(p.children.head, acc :+ p)
      case _ => None
    }
    def outer(p: LogicalPlan, acc: Seq[LogicalPlan]): Option[Shape] = p match {
      case _: UnresolvedWith | _: GlobalLimit | _: LocalLimit | _: Offset => outer(p.children.head, acc :+ p)
      case s: Sort => inner(s.child, Nil).map { case (in, b) => Shape(acc, Some(s), in, b) }
      case _ => inner(p, Nil).map { case (in, b) => Shape(acc, None, in, b) }
    }
    outer(plan, Nil)
  }

  private def wrap(nodes: Seq[LogicalPlan], child: LogicalPlan): LogicalPlan =
    nodes.foldRight(child)((n, c) => n.withNewChildren(Seq(c)))

  private def selectList(block: LogicalPlan): Seq[NamedExpression] = block match {
    case p: Project => p.projectList
    case a: Aggregate => a.aggregateExpressions
    case h: UnresolvedHaving => selectList(h.child)
  }

  private def withHidden(block: LogicalPlan, hidden: Seq[NamedExpression]): LogicalPlan = block match {
    case p: Project => p.copy(projectList = p.projectList ++ hidden)
    case a: Aggregate => a.copy(aggregateExpressions = a.aggregateExpressions ++ hidden)
    case h: UnresolvedHaving => h.copy(child = withHidden(h.child, hidden))
  }

  private def hasWindow(e: Expression): Boolean = e.exists {
    case _: WindowExpression | _: UnresolvedWindowExpression => true
    case _ => false
  }

  /** Rewrites one parsed query for its QUALIFY predicate, DISTINCT ON keys
    * and ORDER BY windows. Each becomes a hidden select item of the block,
    * where it sees FROM-scope columns, aggregates and windows; a reference
    * to a select alias is replaced by the aliased expression first (the
    * reference resolves these clauses against the projection's aliases,
    * and Spark rejects a lateral alias inside a window). Then:
    * `Filter(qualify)` over the block, below DISTINCT; `row_number() = 1`
    * over the DISTINCT ON keys in the ORDER BY's order; the sort on the
    * hidden columns; `* EXCEPT (hidden)` under LIMIT/OFFSET. ORDER BY keeps
    * Spark's own missing-reference resolution. A plan without any of these
    * is returned as it is. */
  private def rewriteQuery(plan: LogicalPlan, qualify: Option[Expression],
      distinctOn: Seq[Expression], sql: String): LogicalPlan = {
    val sh = shape(plan) match {
      case Some(s) => s
      case None if qualify.isEmpty && distinctOn.isEmpty => return plan
      case None => throw unsupported(sql, s"query parsed as ${plan.nodeName}")
    }
    lazy val list = selectList(sh.block)
    lazy val aliases = list.collect { case Alias(e, n) => n.toLowerCase(Locale.ROOT) -> e }.toMap
    def resolve(e: Expression): Expression = e.transformUp {
      case a @ UnresolvedAttribute(Seq(n)) => aliases.getOrElse(n.toLowerCase(Locale.ROOT), a)
    }
    // `DISTINCT ON (2)` / `ORDER BY 2` name the second select item
    def positional(e: Expression): Expression = (e match {
      case UnresolvedOrdinal(i) => Some(i)
      case Literal(i: Int, IntegerType) => Some(i)
      case _ => None
    }).filter(_ => !list.exists(_.isInstanceOf[Star])).flatMap(i => list.lift(i - 1)) match {
      case Some(Alias(c, _)) => c
      case Some(c) => c
      case None => e
    }
    val hidden = ArrayBuffer.empty[Alias]
    def hide(e: Expression, tag: String): Expression = {
      val a = Alias(resolve(e), s"__graft_$tag${hidden.size + 1}")()
      hidden += a
      UnresolvedAttribute(Seq(a.name))
    }
    val order = sh.sort.map(_.order).getOrElse(Nil)
    val qual = qualify.map(hide(_, "qualify"))
    val keys = distinctOn.map(k => hide(positional(k), "key"))
    val order2 =
      if (keys.nonEmpty) order.map(o => o.copy(child = hide(positional(o.child), "order")))
      else if (sh.inner.exists(_.isInstanceOf[Distinct])) order
      else order.map(o => if (hasWindow(o.child)) o.copy(child = hide(o.child, "window")) else o)
    if (hidden.isEmpty) return plan

    val block = withHidden(sh.block, hidden.toSeq)
    val filtered = qual.fold(block)(Filter(_, block))
    val firstPerKey = if (keys.isEmpty) filtered else {
      val rn = Alias(WindowExpression(RowNumber(), WindowSpecDefinition(keys,
        if (order2.nonEmpty) order2 else keys.map(SortOrder(_, Ascending)), UnspecifiedFrame)),
        "__graft_rn")()
      Filter(EqualTo(UnresolvedAttribute(Seq(rn.name)), Literal(1)),
        Project(Seq(UnresolvedStar(None), rn), filtered))
    }
    val sorted = sh.sort.fold(wrap(sh.inner, firstPerKey))(_.copy(order = order2,
      child = wrap(sh.inner, firstPerKey)))
    val dropped = hidden.toSeq.map(_.name) ++ (if (keys.isEmpty) Nil else Seq("__graft_rn"))
    wrap(sh.outer, Project(Seq(UnresolvedStarExceptOrReplace(None, dropped.map(Seq(_)), None)),
      sorted))
  }

  // ------------------------------------------------------- token splices

  /** Lexical token spans: 's'tring literal, 'q'uoted ident ("…"),
    * 'b'acktick ident, 'w'ord, 'p'unct char; comments are skipped. The one
    * SQL scanner: the splices, the clause cut and DFContext's EXECUTE
    * binding all read it. */
  private[graft] final case class Tok(start: Int, end: Int, kind: Char)

  private[graft] def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\'') {
        val st = i; i += 1
        var done = false
        while (i < s.length && !done) {
          if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') i += 2
          else if (s(i) == '\'') { i += 1; done = true }
          else i += 1
        }
        out += Tok(st, i, 's')
      } else if (c == '"') {
        val st = i; i += 1
        var done = false
        while (i < s.length && !done) {
          if (s(i) == '"' && i + 1 < s.length && s(i + 1) == '"') i += 2
          else if (s(i) == '"') { i += 1; done = true }
          else i += 1
        }
        out += Tok(st, i, 'q')
      } else if (c == '`') {
        val st = i; i += 1
        while (i < s.length && s(i) != '`') i += 1
        if (i < s.length) i += 1
        out += Tok(st, i, 'b')
      } else if (c.isLetterOrDigit || c == '_' || c == '$') {
        val st = i
        while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_' ||
          s(i) == '$' ||
          // decimal point / exponent inside a numeric literal
          (s(i) == '.' && st < i && s.substring(st, i).forall(_.isDigit)))) i += 1
        out += Tok(st, i, 'w')
      } else if (c.isWhitespace) { i += 1 }
      else if (s.startsWith("--", i)) { // comments yield no token
        while (i < s.length && s(i) != '\n') i += 1
      } else if (s.startsWith("/*", i)) {
        val e = s.indexOf("*/", i + 2)
        i = if (e < 0) s.length else e + 2
      } else { out += Tok(i, i + 1, 'p'); i += 1 }
    }
    out.result()
  }

  /** Keywords that terminate a primary-expression scan — a `~` whose left
    * neighbour is one of these is unary/invalid and is left untouched. */
  private val StopWords = Set("SELECT", "WHERE", "WHEN", "THEN", "ELSE",
    "AND", "OR", "NOT", "ON", "BY", "AS", "FROM", "CASE", "END", "IN",
    "LIKE", "ILIKE", "BETWEEN", "IS", "ALL", "ANY", "SOME", "HAVING",
    "UNION", "INTERSECT", "EXCEPT", "LIMIT", "OFFSET", "JOIN", "SET",
    "VALUES", "DISTINCT", "GROUP", "ORDER", "OVER", "PARTITION", "RETURN",
    "IF", "ESCAPE", "FILTER", "WITHIN")

  /** Postgres regex / LIKE operators (reference dialect via sqlparser:
    * `~` `~*` `!~` `!~*` regex match and `~~` `~~*` `!~~` `!~~*` LIKE
    * spellings — the regexp and string slt subtrees, predicates.slt). The LIKE
    * family is a pure operator splice onto Spark's LIKE/ILIKE; the regex
    * family becomes a `graft_regexp_like(lhs, rhs, flags)` call (the
    * engine's Rust-regex-compatible function, RegexpCompat), which needs the operand
    * bounds — a primary-expression scan over the token list on each side
    * (identifier chains, literals, balanced call/paren/bracket groups,
    * `::` cast suffixes). Unary `~` (no left primary) is left untouched. */
  private[graft] def rewriteRegexOps(query: String): String = {
    if (!query.contains("~")) return query
    var s = query
    var guard = 0
    var continue = true
    while (continue && guard < 200) {
      guard += 1
      continue = false
      val toks = lex(s)
      // locate the first regex-operator token run (longest match)
      var k = 0
      var found = -1
      var op = ""
      while (k < toks.length && found < 0) {
        val t = toks(k)
        if (t.kind == 'p' && (s(t.start) == '~' || s(t.start) == '!')) {
          // assemble the maximal contiguous run of ~ ! * characters
          var j = k
          val sb = new StringBuilder
          while (j < toks.length && toks(j).kind == 'p' &&
            "~!*".contains(s(toks(j).start)) &&
            (j == k || toks(j).start == toks(j - 1).end)) {
            sb.append(s(toks(j).start)); j += 1
          }
          val run = sb.toString
          if (run.contains('~') &&
            Set("~", "~*", "!~", "!~*", "~~", "~~*", "!~~", "!~~*")(run)) {
            found = k; op = run
          } else k = j
        } else k += 1
      }
      if (found >= 0) {
        val opLen = op.length
        val lhsEndTok = found - 1
        val rhsStartTok = found + opLen
        // ---- backward primary scan (token indices, inclusive range) ----
        def primaryBack(k0: Int): Int = {
          if (k0 < 0) return -1
          var k1 = k0
          val t = toks(k1)
          t.kind match {
            case 's' | 'q' | 'b' => // literal / quoted ident
            case 'w' =>
              if (StopWords(s.substring(t.start, t.end).toUpperCase)) return -1
            case 'p' if s(t.start) == ')' || s(t.start) == ']' =>
              val close = s(toks(k1).start)
              val open = if (close == ')') '(' else '['
              var depth = 1
              k1 -= 1
              while (k1 >= 0 && depth > 0) {
                if (toks(k1).kind == 'p' && s(toks(k1).start) == close) depth += 1
                else if (toks(k1).kind == 'p' && s(toks(k1).start) == open) depth -= 1
                if (depth > 0) k1 -= 1
              }
              if (k1 < 0) return -1
              // a word (function name) directly before '(' joins the group
              if (open == '(' && k1 - 1 >= 0 && toks(k1 - 1).kind == 'w' &&
                !StopWords(s.substring(toks(k1 - 1).start, toks(k1 - 1).end).toUpperCase))
                k1 -= 1
            case _ => return -1
          }
          // identifier qualification chain: …  a . b
          while (k1 - 2 >= 0 && toks(k1).kind == 'w' &&
            toks(k1 - 1).kind == 'p' && s(toks(k1 - 1).start) == '.' &&
            (toks(k1 - 2).kind == 'w' || toks(k1 - 2).kind == 'q' ||
              toks(k1 - 2).kind == 'b')) k1 -= 2
          // `x :: T` cast chains extend left of a type word
          while (k1 - 3 >= 0 && toks(k1 - 1).kind == 'p' &&
            s(toks(k1 - 1).start) == ':' && toks(k1 - 2).kind == 'p' &&
            s(toks(k1 - 2).start) == ':') {
            val prev = primaryBack(k1 - 3)
            if (prev < 0) return k1 else k1 = prev
          }
          k1
        }
        // ---- forward primary scan -------------------------------------
        def primaryFwd(k0: Int): Int = {
          if (k0 >= toks.length) return -1
          var k1 = k0
          // optional sign
          if (toks(k1).kind == 'p' &&
            (s(toks(k1).start) == '-' || s(toks(k1).start) == '+') &&
            k1 + 1 < toks.length) k1 += 1
          val t = toks(k1)
          t.kind match {
            case 's' | 'q' | 'b' =>
            case 'w' =>
              if (StopWords(s.substring(t.start, t.end).toUpperCase)) return -1
              // qualification chain a.b.c
              while (k1 + 2 < toks.length && toks(k1 + 1).kind == 'p' &&
                s(toks(k1 + 1).start) == '.' && toks(k1 + 2).kind == 'w') k1 += 2
              // function call
              if (k1 + 1 < toks.length && toks(k1 + 1).kind == 'p' &&
                s(toks(k1 + 1).start) == '(') {
                var depth = 1
                k1 += 2
                while (k1 < toks.length && depth > 0) {
                  if (toks(k1).kind == 'p' && s(toks(k1).start) == '(') depth += 1
                  else if (toks(k1).kind == 'p' && s(toks(k1).start) == ')') depth -= 1
                  if (depth > 0) k1 += 1
                }
                if (k1 >= toks.length) return -1
              }
            case 'p' if s(t.start) == '(' || s(t.start) == '[' =>
              val open = s(t.start)
              val close = if (open == '(') ')' else ']'
              var depth = 1
              k1 += 1
              while (k1 < toks.length && depth > 0) {
                if (toks(k1).kind == 'p' && s(toks(k1).start) == open) depth += 1
                else if (toks(k1).kind == 'p' && s(toks(k1).start) == close) depth -= 1
                if (depth > 0) k1 += 1
              }
              if (k1 >= toks.length) return -1
            case _ => return -1
          }
          // `:: T` cast suffix (type may carry parenthesized params)
          while (k1 + 3 <= toks.length && k1 + 2 < toks.length &&
            toks(k1 + 1).kind == 'p' && s(toks(k1 + 1).start) == ':' &&
            toks(k1 + 2).kind == 'p' && s(toks(k1 + 2).start) == ':' &&
            k1 + 3 < toks.length && toks(k1 + 3).kind == 'w') {
            k1 += 3
            if (k1 + 1 < toks.length && toks(k1 + 1).kind == 'p' &&
              s(toks(k1 + 1).start) == '(') {
              var depth = 1
              k1 += 2
              while (k1 < toks.length && depth > 0) {
                if (toks(k1).kind == 'p' && s(toks(k1).start) == '(') depth += 1
                else if (toks(k1).kind == 'p' && s(toks(k1).start) == ')') depth -= 1
                if (depth > 0) k1 += 1
              }
            }
          }
          k1
        }
        val likeFamily = op.contains("~~")
        if (likeFamily) {
          val neg = op.startsWith("!")
          val ci = op.endsWith("*")
          val opStart = toks(found).start
          val opEnd = toks(found + opLen - 1).end
          val padL = if (opStart > 0 && !s(opStart - 1).isWhitespace) " " else ""
          val padR = if (opEnd < s.length && !s(opEnd).isWhitespace) " " else ""
          val spelled = padL + (if (neg) "NOT " else "") +
            (if (ci) "ILIKE" else "LIKE") + padR
          s = s.substring(0, opStart) + spelled + s.substring(opEnd)
          continue = true
        } else {
          val lhsTok = primaryBack(lhsEndTok)
          val rhsTok = primaryFwd(rhsStartTok)
          if (lhsTok >= 0 && rhsTok >= 0) {
            val lhs = s.substring(toks(lhsTok).start, toks(lhsEndTok).end)
            val rhs = s.substring(toks(rhsStartTok).start, toks(rhsTok).end)
            val neg = op.startsWith("!")
            val flags = if (op.endsWith("*")) "i" else ""
            val call = s"graft_regexp_like($lhs, $rhs, '$flags')"
            val repl = if (neg) s"(NOT $call)" else call
            s = s.substring(0, toks(lhsTok).start) + repl +
              s.substring(toks(rhsTok).end)
            continue = true
          } // else: unary/unparseable — leave it for Spark's error
        }
      }
    }
    s
  }

  /** Wildcard modifiers (reference: `wildcard.slt`, sqlparser's
    * `SELECT * EXCLUDE (cols)`): Spark parses the same column list natively
    * as `* EXCEPT (cols)`, qualified `t.*` included, so an EXCLUDE keyword
    * right after a `*` is swapped for EXCEPT. Lexed, so string literals and
    * quoted identifiers stay untouched; an unknown column fails analysis,
    * like the reference's bind error. */
  private def rewriteExclude(query: String): String =
    if (!query.toUpperCase.contains("EXCLUDE")) query
    else {
      val toks = lex(query)
      toks.indices.drop(1).filter { i =>
        val (star, kw) = (toks(i - 1), toks(i))
        star.kind == 'p' && query(star.start) == '*' && kw.kind == 'w' &&
          query.substring(kw.start, kw.end).equalsIgnoreCase("EXCLUDE")
      }.foldRight(query) { (i, q) =>
        q.substring(0, toks(i).start) + "EXCEPT" + q.substring(toks(i).end)
      }
    }

  /** `s` split at its top-level commas (outside parens, string literals and
    * quoted identifiers), each piece trimmed. */
  private[graft] def splitArgs(s: String): Seq[String] = {
    var depth = 0
    val cuts = lex(s).filter { t =>
      if (t.kind == 'p' && s(t.start) == '(') depth += 1
      else if (t.kind == 'p' && s(t.start) == ')') depth -= 1
      t.kind == 'p' && s(t.start) == ',' && depth == 0
    }.map(_.start)
    ((-1 +: cuts) zip (cuts :+ s.length)).map { case (a, b) => s.substring(a + 1, b).trim }
  }
}
