package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Engine facade — the Spark-native equivalent of the reference's
  * `SessionContext` (datafusion/core/src/execution/context/mod.rs:611):
  * table registration, SQL entry point, prepared-statement parameters, an
  * information_schema surface and EXPLAIN.
  *
  * SQL goes through a light pre-rewriter (`DFContext.rewrite`) that adds the
  * two reference SQL forms Spark's parser lacks — `QUALIFY`
  * (sqllogictest/test_files/qualify.slt) and `DISTINCT ON`
  * (DataFrame distinct_on, dataframe/mod.rs:963) — by textual rewrite into
  * window-function subqueries, exactly the rewrite the reference's planner
  * performs. Everything else is passed to Catalyst untouched.
  */
class DFContext(val spark: SparkSession) {

  /** Register a file-backed table; format inferred from the extension
    * (parquet/csv/json), mirroring CREATE EXTERNAL TABLE
    * (reference: sql/src/parser.rs:245). */
  def register(name: String, path: String): Unit = {
    val df =
      if (path.endsWith(".csv")) spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      else if (path.endsWith(".json")) spark.read.json(path)
      else Tables.readParquet(spark, path)
    df.createOrReplaceTempView(name)
  }

  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** Register every fixture table from a scale-factor directory. */
  def registerAll(dir: String): Unit = Tables.registerAll(spark, dir)

  def table(name: String): DataFrame = spark.table(name)

  /** SQL-level prepared statements (reference: PREPARE/EXECUTE/DEALLOCATE
    * in sql/src/planner — `$1`-style positional placeholders; exercised by
    * sqllogictest/test_files/prepare.slt). The plan text is stored at
    * PREPARE time and placeholders are bound to literal argument text at
    * EXECUTE; optional declared types become explicit CASTs. */
  private val preparedStmts =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[String])]

  private val PrepareRe =
    """(?is)^\s*PREPARE\s+(\w+)\s*(\(([^)]*)\))?\s*AS\s+(.+)$""".r
  private val ExecuteRe =
    """(?is)^\s*EXECUTE\s+(\w+)\s*(\((.*)\))?\s*$""".r
  private val DeallocRe =
    """(?is)^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*$""".r

  def sql(query: String): DataFrame = query.replaceAll(";\\s*$", "") match {
    case PrepareRe(name, _, types, body) =>
      val declared = Option(types).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      preparedStmts(name.toLowerCase) = (body, declared)
      spark.emptyDataFrame
    case ExecuteRe(name, _, argText) =>
      val (body, declared) = preparedStmts.getOrElse(name.toLowerCase,
        throw new IllegalArgumentException(s"prepared statement $name not found"))
      val args = Option(argText).map(DFContext.splitTopLevel(_, ","))
        .getOrElse(Seq.empty).map(_.trim).filter(_.nonEmpty)
      // Bind $n with a trailing-digit guard ($1 must not fire inside $10)
      // and never inside single-quoted string literals; an index past the
      // supplied arguments is a loud error, not silent text corruption.
      val bound = {
        val parts = body.split("'", -1) // even indices = outside literals
        parts.zipWithIndex.map { case (seg, pi) =>
          if (pi % 2 == 1) seg
          else "\\$(\\d+)(?!\\d)".r.replaceAllIn(seg, m => {
            val i = m.group(1).toInt - 1
            if (i < 0 || i >= args.size) throw new IllegalArgumentException(
              s"EXECUTE $name: placeholder $$${m.group(1)} but only ${args.size} argument(s) supplied")
            val lit = if (declared.lift(i).exists(_.nonEmpty))
              s"CAST(${args(i)} AS ${declared(i)})" else args(i)
            java.util.regex.Matcher.quoteReplacement(lit)
          })
        }.mkString("'")
      }
      spark.sql(DFContext.rewrite(bound))
    case DeallocRe(name) =>
      preparedStmts.remove(name.toLowerCase)
      spark.emptyDataFrame
    case q => spark.sql(DFContext.rewrite(q))
  }

  /** Prepared-statement surface (reference: Expr::Placeholder,
    * dataframe with_param_values — dataframe/mod.rs:2384): named `:name`
    * placeholders bound via Spark's parameterized SQL (literal-safe). */
  def sqlWithParams(query: String, params: Map[String, Any]): DataFrame =
    spark.sql(DFContext.rewrite(query), params.view.mapValues(lit).toMap)

  /** information_schema.tables equivalent
    * (reference: catalog/src/information_schema.rs:77). Pass a database
    * name to list that schema's persistent tables/views. */
  def informationSchemaTables(db: String = null): DataFrame = {
    import spark.implicits._
    val listed = if (db == null) spark.catalog.listTables()
    else spark.catalog.listTables(db)
    listed.select($"name".as("table_name"), $"tableType".as("table_type"),
      $"isTemporary".as("is_temporary"))
  }

  /** information_schema.schemata equivalent — the catalog→schema level of
    * the reference's catalog hierarchy (catalog/src/catalog.rs,
    * catalog/src/memory/). */
  def informationSchemaSchemata(): DataFrame = {
    import spark.implicits._
    spark.catalog.listDatabases().select($"name".as("schema_name"))
  }

  /** information_schema.columns for one table. */
  def informationSchemaColumns(tableName: String): DataFrame = {
    import spark.implicits._
    spark.catalog.listColumns(tableName)
      .select($"name".as("column_name"), $"dataType".as("data_type"),
        $"nullable".as("is_nullable"))
  }

  /** EXPLAIN surface (reference: ExplainExec — physical-plan/src/explain.rs:39). */
  def explain(query: String, mode: String = "formatted"): String =
    sql(query).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** EXPLAIN ANALYZE: execute the query and render the FINAL physical plan
    * (post-AQE) with each operator's runtime SQL metrics — rows produced,
    * spill/shuffle bytes, timings — the reference's AnalyzeExec surface
    * (physical-plan/src/analyze.rs:46). Execution runs distributed
    * (`toRdd.foreach`); only metric values come back to the driver. A
    * query run under the small-input profile prints the profile's line,
    * then its statically planned inner plan. */
  def explainAnalyze(query: String): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = sql(query)
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec =>
        walk(q.plan, depth)
      case s: graft.plans.SmallInputExec =>
        sb.append("  " * depth).append(s.nodeName).append(" [").append(s.profile).append("]\n")
        walk(s.executed, depth + 1)
      case _ =>
        val ms = p.metrics.toSeq.sortBy(_._1)
          .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
        sb.append("  " * depth).append(p.nodeName)
        if (ms.nonEmpty) sb.append(s" [$ms]")
        sb.append('\n')
        p.children.foreach(walk(_, depth + 1))
    }
    walk(qe.executedPlan, 0)
    sb.toString
  }
}

object DFContext {

  def apply(spark: SparkSession): DFContext = new DFContext(spark)

  private val QualifyRe =
    """(?is)^(.*?)\s+QUALIFY\s+(.+?)\s*$""".r
  private val DistinctOnHeadRe =
    """(?is)^\s*SELECT\s+DISTINCT\s+ON\s*\(""".r
  private val FromSplitRe =
    """(?is)^\s*(.*?)\s+FROM\s+(.*)$""".r

  /** True iff `kw` occurs at position `i` of (uppercased) `u` as a whole
    * word. */
  private def wordAt(u: String, i: Int, kw: String): Boolean =
    u.startsWith(kw, i) &&
      (i == 0 || { val c = u(i - 1); !c.isLetterOrDigit && c != '_' }) &&
      (i + kw.length >= u.length || { val c = u(i + kw.length); !c.isLetterOrDigit && c != '_' })

  /** Split a trailing top-level `ORDER BY … [LIMIT n] [OFFSET n]` off a
    * clause. Paren depth is tracked so an `ORDER BY` inside a window spec
    * (`row_number() OVER (ORDER BY x)`) is never mistaken for the tail —
    * the exact case a naive regex gets wrong in `QUALIFY p ORDER BY x`.
    * Single-quoted string literals ('' escapes) are skipped entirely, so
    * neither keywords nor parens inside them shift the cut point. */
  private def splitTopLevelTail(s: String): (String, String) = {
    val u = s.toUpperCase
    var depth = 0
    var i = 0
    var cut = -1
    while (i < s.length && cut < 0) {
      s(i) match {
        case '\'' =>
          i += 1
          while (i < s.length && !(s(i) == '\'' && (i + 1 >= s.length || s(i + 1) != '\''))) {
            if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') i += 1
            i += 1
          }
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 =>
          val isOrderBy = wordAt(u, i, "ORDER") &&
            u.drop(i + 5).dropWhile(_.isWhitespace).startsWith("BY")
          if (isOrderBy || wordAt(u, i, "LIMIT") || wordAt(u, i, "OFFSET")) cut = i
        case _ =>
      }
      i += 1
    }
    if (cut < 0) (s.trim, "") else (s.substring(0, cut).trim, s.substring(cut).trim)
  }

  /** Parse `SELECT DISTINCT ON ( <keys> ) <rest>` with balanced parens in
    * the key list (e.g. `DISTINCT ON (abs(x), y)`); quoted literals in the
    * key list are skipped like in splitTopLevelTail. */
  private def parseDistinctOn(q: String): Option[(String, String)] =
    DistinctOnHeadRe.findFirstMatchIn(q).flatMap { m =>
      var depth = 1
      var i = m.end
      while (i < q.length && depth > 0) {
        q(i) match {
          case '\'' =>
            i += 1
            while (i < q.length && !(q(i) == '\'' && (i + 1 >= q.length || q(i + 1) != '\''))) {
              if (q(i) == '\'' && i + 1 < q.length && q(i + 1) == '\'') i += 1
              i += 1
            }
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      if (depth != 0) None
      else Some((q.substring(m.end, i - 1).trim, q.substring(i)))
    }

  /** Index of the first top-level (paren-depth-0, outside literals)
    * occurrence of keyword `word`, or -1. */
  private def findTopLevelWord(s: String, word: String): Int = {
    val u = s.toUpperCase
    var depth = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' =>
          i += 1
          while (i < s.length && !(s(i) == '\'' && (i + 1 >= s.length || s(i + 1) != '\''))) {
            if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') i += 1
            i += 1
          }
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && wordAt(u, i, word) => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** QUALIFY support: ORDER BY keys that are simple identifiers of base
    * columns not present in the select list become hidden passthrough
    * columns (`x` → `x AS __ob_x` appended to the projection; the tail is
    * rewritten to use the alias). Returns (base', tail', hiddenAliases). */
  private def hiddenOrderCols(base: String, tail: String)
      : (String, String, Seq[String]) = {
    val ObRe = """(?is)^ORDER\s+BY\s+(.*)$""".r
    val fromIdx = findTopLevelWord(base, "FROM")
    tail match {
      case ObRe(rest) if fromIdx >= 0 =>
        val (orderList, limitTail) = splitOffLimit(rest)
        val selectList = base.substring(0, fromIdx)
          .replaceFirst("(?is)^\\s*SELECT\\s+(DISTINCT\\s+)?", "")
        val names = splitTopLevel(selectList, ",").map(_.trim).map { item =>
          """(?is)\s+AS\s+[`"]?(\w+)[`"]?\s*$""".r.findFirstMatchIn(item)
            .map(_.group(1))
            .getOrElse(item.substring(item.lastIndexOf('.') + 1).trim)
        }.map(_.toLowerCase).toSet
        var newTailItems = Seq.empty[String]
        var hidden = Seq.empty[String]
        for (item0 <- splitTopLevel(orderList, ",")) {
          val item = item0.trim
          val m = """(?is)^([A-Za-z_]\w*)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?$""".r
            .findFirstMatchIn(item)
          m match {
            case Some(g) if !names.contains(g.group(1).toLowerCase) =>
              val alias = s"__ob_${g.group(1).toLowerCase}"
              hidden :+= alias
              newTailItems :+= alias +
                Option(g.group(2)).getOrElse("") + Option(g.group(3)).getOrElse("")
            case _ => newTailItems :+= item
          }
        }
        if (hidden.isEmpty) (base, tail, Nil)
        else {
          val adds = hidden.map(a => s"${a.stripPrefix("__ob_")} AS $a").mkString(", ", ", ", "")
          val base2 = base.substring(0, fromIdx).stripTrailing + adds + " " +
            base.substring(fromIdx)
          (base2, s"ORDER BY ${newTailItems.mkString(", ")}$limitTail", hidden)
        }
      case _ => (base, tail, Nil)
    }
  }

  /** Hoist aggregate-function calls out of a QUALIFY predicate into hidden
    * select items of the grouped base query. An aggregate spelling followed
    * by OVER is a window function and stays put. Returns
    * (base', pred', hiddenAliases). */
  private def hoistAggregates(base: String, pred: String)
      : (String, String, Seq[String]) = {
    val AggRe = ("""(?i)\b(sum|count|avg|min|max|stddev|stddev_samp|stddev_pop""" +
      """|variance|var_samp|var_pop|median|array_agg|string_agg)\s*\(""").r
    var out = pred
    var exprs = Seq.empty[String]
    var search = 0
    var continue = true
    while (continue) {
      AggRe.findFirstMatchIn(out.substring(search)) match {
        case None => continue = false
        case Some(m) =>
          val open = search + m.end - 1
          val close = matchParenAt(out, open)
          if (close < 0) continue = false
          else {
            val after = out.substring(close + 1).dropWhile(_.isWhitespace)
            if (after.toUpperCase.startsWith("OVER")) search = open + 1
            else {
              val expr = out.substring(search + m.start, close + 1)
              val alias = s"__agg${exprs.size + 1}"
              exprs :+= expr
              out = out.substring(0, search + m.start) + alias + out.substring(close + 1)
              search = search + m.start + alias.length
            }
          }
      }
    }
    if (exprs.isEmpty) (base, pred, Nil)
    else {
      val fromIdx = findTopLevelWord(base, "FROM")
      if (fromIdx < 0) (base, pred, Nil)
      else {
        val aliases = exprs.indices.map(i => s"__agg${i + 1}")
        val adds = exprs.zip(aliases).map { case (e, a) => s"$e AS $a" }
          .mkString(", ", ", ", "")
        val base2 = base.substring(0, fromIdx).stripTrailing + adds + " " +
          base.substring(fromIdx)
        (base2, out, aliases)
      }
    }
  }

  /** Whitespace/case-insensitive expression text normalization. */
  private def norm(s: String): String =
    s.trim.toLowerCase.replaceAll("\\s+", " ")

  /** Matching close-paren index for the open paren at `open`, or -1. */
  private def matchParenAt(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '\'' =>
          i += 1
          while (i < s.length && !(s(i) == '\'' && (i + 1 >= s.length || s(i + 1) != '\''))) {
            if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') i += 1
            i += 1
          }
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Split a trailing top-level LIMIT/OFFSET off an ORDER BY item list. */
  private def splitOffLimit(s: String): (String, String) = {
    val u = s.toUpperCase
    var depth = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' =>
          i += 1
          while (i < s.length && !(s(i) == '\'' && (i + 1 >= s.length || s(i + 1) != '\''))) {
            if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') i += 1
            i += 1
          }
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && (wordAt(u, i, "LIMIT") || wordAt(u, i, "OFFSET")) =>
          return (s.substring(0, i).trim, " " + s.substring(i).trim)
        case _ =>
      }
      i += 1
    }
    (s.trim, "")
  }

  /** Split `s` on every top-level occurrence of the token `sep` (outside
    * parens and single-quoted literals). */
  private def splitTopLevel(s: String, sep: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var i = 0
    var start = 0
    while (i < s.length) {
      s(i) match {
        case '\'' =>
          i += 1
          while (i < s.length && !(s(i) == '\'' && (i + 1 >= s.length || s(i + 1) != '\''))) {
            if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') i += 1
            i += 1
          }
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && s.startsWith(sep, i) =>
          out += s.substring(start, i)
          start = i + sep.length
          i += sep.length - 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Light SQL pre-rewrite for QUALIFY and DISTINCT ON.
    *
    * - `... QUALIFY <pred> [ORDER BY …] [LIMIT …]` → the predicate is
    *   projected as a boolean column over the base subquery (window
    *   functions are legal there, unlike WHERE) and filtered on; trailing
    *   clauses stay OUTSIDE the predicate — QUALIFY precedes ORDER BY/LIMIT
    *   in the reference dialect (qualify.slt). Limitation of the textual
    *   rewrite: the predicate sees the base's select-list columns, not
    *   unselected table columns.
    * - `SELECT DISTINCT ON (k…) cols FROM rel [ORDER BY o…] [LIMIT …]` →
    *   row_number() OVER (PARTITION BY k ORDER BY o…) = 1, preserving the
    *   reference's first-row-per-key semantics (deterministic only with an
    *   ORDER BY, as in the reference); key expressions may contain parens.
    */
  def rewrite(query: String): String =
    rewriteOrderByWindow(rewriteStd(rewriteExclude(rewriteRegexOps(query))))

  // ------------------------------------------------- Postgres operators

  /** Lexical token spans for the operator rewrites: 's'tring literal,
    * 'q'uoted ident ("…"), 'b'acktick ident, 'w'ord, 'p'unct char. */
  private final case class Tok(start: Int, end: Int, kind: Char)

  private def lex(s: String): Vector[Tok] = {
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
      else { out += Tok(i, i + 1, 'p'); i += 1 }
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

  /** Window functions in the top-level ORDER BY (reference:
    * `ORDER BY row_number() OVER (…)` — window.slt): Spark rejects window
    * expressions in Sort, so each such item is hoisted into a hidden
    * select item of the base query and the sort references the alias. */
  private def rewriteOrderByWindow(query: String): String = {
    val obIdx = findTopLevelWord(query, "ORDER")
    if (obIdx < 0) return query
    val tail = query.substring(obIdx)
    if (!"""(?is)^ORDER\s+BY""".r.findFirstIn(tail).isDefined) return query
    val afterBy = tail.replaceFirst("""(?is)^ORDER\s+BY\s*""", "")
    val (orderList, limitTail) = splitOffLimit(afterBy)
    if (!"""(?i)\bOVER\b""".r.findFirstIn(orderList).isDefined) return query
    val base = query.substring(0, obIdx).trim
    val fromIdx = findTopLevelWord(base, "FROM")
    if (fromIdx < 0) return query
    val OrdItemRe =
      """(?is)^(.*?)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?$""".r
    var hidden = Seq.empty[(String, String)] // (expr, alias)
    val newItems = splitTopLevel(orderList, ",").map(_.trim).filter(_.nonEmpty).map { it =>
      val m = OrdItemRe.findFirstMatchIn(it).get
      val expr = m.group(1)
      val suffix = Option(m.group(2)).getOrElse("") + Option(m.group(3)).getOrElse("")
      if ("""(?i)\bOVER\b""".r.findFirstIn(expr).isDefined) {
        val alias = s"__w${hidden.size + 1}"
        hidden :+= (expr, alias)
        alias + suffix
      } else it
    }
    if (hidden.isEmpty) return query
    val adds = hidden.map { case (e, a) => s"($e) AS $a" }.mkString(", ", ", ", "")
    val base2 = base.substring(0, fromIdx).stripTrailing + adds + " " +
      base.substring(fromIdx)
    val except = hidden.map(_._2).mkString(", ")
    s"""SELECT * EXCEPT ($except) FROM (
       |$base2
       |) __obw
       |ORDER BY ${newItems.mkString(", ")}$limitTail""".stripMargin
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

  private def rewriteStd(query: String): String = {
    // WITH-prefixed statements: the CTE bodies are parenthesized, so the
    // first depth-0 SELECT is the main query — rewrite that part and keep
    // the CTE prefix (distinct_on.slt's CTE forms).
    if ("""(?is)^\s*WITH\b""".r.findFirstIn(query).isDefined) {
      val selIdx = findTopLevelWord(query, "SELECT")
      if (selIdx > 0) {
        val main = query.substring(selIdx)
        val rewritten = rewriteStd0(main)
        return if (rewritten == main) query else query.substring(0, selIdx) + rewritten
      }
    }
    rewriteStd0(query)
  }

  private def rewriteStd0(query: String): String = parseDistinctOn(query) match {
    case Some((keys, rest)) =>
      rest match {
        case FromSplitRe(selectList, relAndTail) =>
          // `rel` keeps everything through GROUP BY/HAVING; the window runs
          // over the PROJECTED (possibly grouped) result, with key/order
          // expressions not in the select list carried as hidden columns —
          // required for grouped queries, where the window scope only sees
          // grouped/aggregated outputs (reference issue #17256 cases).
          val (rel, tail) = splitTopLevelTail(relAndTail)
          val items = splitTopLevel(selectList, ",").map(_.trim)
          val starSelect = items.exists(_.endsWith("*"))
          val aliasOf: Map[String, String] = items.flatMap { it =>
            """(?is)^(.*?)\s+AS\s+[`"]?(\w+)[`"]?\s*$""".r.findFirstMatchIn(it) match {
              case Some(m) => Seq(norm(m.group(1)) -> m.group(2),
                                  norm(m.group(2)) -> m.group(2))
              case None if it.matches("[A-Za-z_][\\w.]*") =>
                // bare (possibly qualified) column: output name = last part
                val out = it.substring(it.lastIndexOf('.') + 1)
                Seq(norm(it) -> out, norm(out) -> out)
              case None => Seq.empty // expression without alias: auto-named
            }
          }.toMap
          // norm(expr) -> (alias, original text); original text keeps
          // literal case (norm would lowercase string literals)
          val hidden = scala.collection.mutable.LinkedHashMap[String, (String, String)]()
          def resolve(expr0: String): String = {
            val expr = expr0.trim
            if (expr.matches("\\d+") && !starSelect) {
              // positional ref → that select item's output
              val idx = expr.toInt - 1
              if (idx >= 0 && idx < items.size) resolve(
                """(?is)^(.*?)\s+AS\s+[`"]?\w+[`"]?\s*$""".r
                  .findFirstMatchIn(items(idx)).map(_.group(1)).getOrElse(items(idx)))
              else expr
            }
            else aliasOf.get(norm(expr)) match {
              case Some(a) => a
              case None =>
                if (starSelect && expr.matches("[A-Za-z_][\\w.]*")) expr
                else hidden.get(norm(expr)) match {
                  case Some((a, _)) => a
                  case None =>
                    val a = s"__x${hidden.size + 1}"
                    hidden(norm(expr)) = (a, expr)
                    a
                }
            }
          }
          // key exprs first, then order exprs (suffixes preserved)
          val keyRefs = splitTopLevel(keys, ",").map(_.trim).filter(_.nonEmpty)
            .map(k => k -> resolve(k))
          val OrdItemRe =
            """(?is)^(.*?)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?$""".r
          val orderRefs: Seq[(String, String)] = {
            val t = tail.toUpperCase
            if (t.startsWith("ORDER")) {
              val afterBy = tail.drop(5).dropWhile(_.isWhitespace).drop(2)
              val (o, _) = splitTopLevelTail(afterBy)
              splitTopLevel(o, ",").map(_.trim).filter(_.nonEmpty).map { it =>
                val m = OrdItemRe.findFirstMatchIn(it).get
                val suffix = Option(m.group(2)).getOrElse("") +
                  Option(m.group(3)).getOrElse("")
                (it, resolve(m.group(1)) + suffix)
              }
            } else Seq.empty
          }
          val hiddenDefs =
            hidden.values.map { case (a, orig) => s"($orig) AS $a" }.toSeq
          val innerList = (items ++ hiddenDefs).mkString(", ")
          val partBy = keyRefs.map(_._2).mkString(", ")
          val winOrder =
            if (orderRefs.nonEmpty) orderRefs.map(_._2).mkString(", ") else partBy
          val outerTail = {
            val t = tail.toUpperCase
            if (t.startsWith("ORDER")) {
              val afterBy = tail.drop(5).dropWhile(_.isWhitespace).drop(2)
              val (_, lim) = splitTopLevelTail(afterBy)
              "\nORDER BY " + orderRefs.map(_._2).mkString(", ") +
                (if (lim.nonEmpty) s"\n$lim" else "")
            } else if (tail.nonEmpty) s"\n$tail" else ""
          }
          val except = ("__rn" +: hidden.values.map(_._1).toSeq).mkString(", ")
          s"""SELECT * EXCEPT ($except) FROM (
             |  SELECT *, row_number() OVER (PARTITION BY $partBy ORDER BY $winOrder) AS __rn
             |  FROM (SELECT $innerList FROM $rel) __di) __don
             |WHERE __rn = 1$outerTail""".stripMargin
        case _ => query
      }
    case None => query match {
      case QualifyRe(base0, predAndTail) if !base0.toUpperCase.contains("QUALIFY") =>
        val (pred, tail0) = splitTopLevelTail(predAndTail)
        // The reference resolves the post-QUALIFY ORDER BY against the FROM
        // scope (qualify.slt orders by unprojected base columns); the
        // wrapper only exposes the projection, so pass simple-identifier
        // order keys that aren't in the select list through as hidden
        // columns and strip them from the final output.
        // Aggregate calls in the predicate (QUALIFY over GROUP BY —
        // `QUALIFY rank() OVER (ORDER BY sum(salary)) = 1`) must evaluate
        // inside the grouped query; hoist each into a hidden select item
        // and reference the alias from the wrapper.
        val (base1, pred1, aggHidden) =
          if (findTopLevelWord(base0, "GROUP") >= 0) hoistAggregates(base0, pred)
          else (base0, pred, Nil)
        val (base, tail, hidden) = hiddenOrderCols(base1, tail0)
        val outerTail = if (tail.isEmpty) "" else s"\n$tail"
        val except = ("__qual" +: (aggHidden ++ hidden)).mkString(", ")
        // the predicate is projected as a column, not put in WHERE: QUALIFY
        // allows window functions directly in the predicate, which Spark
        // rejects inside WHERE but accepts in a select list
        s"""SELECT * EXCEPT ($except) FROM (
           |  SELECT *, ($pred1) AS __qual FROM (
           |$base
           |) __qi) __q
           |WHERE __qual$outerTail""".stripMargin
      case _ => query
    }
  }
}
