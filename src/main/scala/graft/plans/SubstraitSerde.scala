package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Substrait plan exchange over the spec's canonical protobuf-JSON form —
  * the same wire format the reference's substrait crate tests with (its
  * `serde` feature; fixture plans under
  * substrait/tests/testdata/tpch_substrait_plans, JSON files produced by
  * Isthmus). Two halves:
  *
  *  - [[consumeJson]]: Substrait Plan JSON → executable DataFrame. Covers
  *    the relational core the reference's consumer covers
  *    (substrait/src/logical_plan/consumer/): read(namedTable) / filter /
  *    project(+emit) / aggregate / sort / fetch / join / cross / set, and
  *    the expression surface those TPC-H plans use (field selections,
  *    scalar functions by extension name, literals incl. decimal/date/
  *    interval, cast, ifThen, singularOrList).
  *  - [[emitJson]]: DataFrame analyzed plan → Substrait Plan JSON with
  *    extension declarations, consumable by [[consumeJson]] (round-trip
  *    re-plans on the receiving session — the substrait contract).
  *
  * Substrait field references are ORDINAL; Spark's DataFrame algebra is
  * name-based. The consumer bridges by renaming every relation's output
  * positionally with a query-level qualifier (`_q<level>_s<ordinal>`), so
  * duplicate source names (self-joins, join fan-in) and cross-level
  * subquery scopes can never mis-resolve; the root relation re-applies
  * the plan's declared output names.
  */
object SubstraitSerde {

  // ================================================================ consume

  /** Rebuild a DataFrame from Substrait protobuf-JSON. `tableFor` resolves
    * a namedTable (case-normalized to lower) to a DataFrame; columns the
    * base schema declares but the table lacks are filled with typed NULLs
    * so ordinal references stay aligned (fixture tables are narrower than
    * the full TPC-H schema). */
  def consumeJson(spark: SparkSession, json: String,
      tableFor: String => Option[DataFrame]): DataFrame = {
    val plan = JsonMethods.parse(json)
    val functions = extensionFunctions(plan)
    val rels = plan \ "relations" match {
      case JArray(rs) => rs
      case _ => throw new IllegalArgumentException("substrait: no relations")
    }
    val root = rels.head \ "root"
    val input = rel(root \ "input", Ctx(functions, tableFor, spark), 0).df
    root \ "names" match {
      case JArray(names) =>
        val ns = names.map { case JString(s) => s; case o => o.toString }
        input.toDF(ns: _*)
      case _ => input
    }
  }

  /** anchor -> base function name ("sum:dec" -> "sum"; absent anchor = 0
    * per proto3 JSON zero-omission). */
  private def extensionFunctions(plan: JValue): Map[Long, String] =
    (plan \ "extensions" match {
      case JArray(es) => es
      case _ => Nil
    }).flatMap { e =>
      e \ "extensionFunction" match {
        case JNothing => None
        case ef =>
          val anchor = long(ef \ "functionAnchor").getOrElse(0L)
          val name = str(ef \ "name").getOrElse("")
          Some(anchor -> name.split(':').head)
      }
    }.toMap

  private def str(j: JValue): Option[String] =
    j match { case JString(s) => Some(s); case _ => None }
  private def long(j: JValue): Option[Long] = j match {
    case JInt(n) => Some(n.toLong)
    case JLong(n) => Some(n)
    case JString(s) => scala.util.Try(s.toLong).toOption
    case JDouble(d) => Some(d.toLong)
    case JDecimal(d) => Some(d.toLong)
    case _ => None
  }
  private def int(j: JValue): Option[Int] = long(j).map(_.toInt)
  private def arr(j: JValue): List[JValue] =
    j match { case JArray(xs) => xs; case JNothing => Nil; case x => List(x) }

  /** Positional rename, LEVEL-QUALIFIED: `_q<level>_s<ordinal>`. The
    * level prefix makes names unique across query-nesting levels — an
    * unresolved-name `.outer()` reference resolves inner-first, so bare
    * `_sN` names would silently capture the subquery's own column
    * whenever the ordinal exists on both sides (which positional naming
    * guarantees). Level-qualifying removes the collision entirely. */
  private def positional(cols: Seq[Column], level: Int): Seq[Column] =
    cols.zipWithIndex.map { case (c, i) => c.as(s"_q${level}_s$i") }

  /** Bundled consume context (extension anchors, table resolver, session). */
  private case class Ctx(fns: Map[Long, String],
      tableFor: String => Option[DataFrame], spark: SparkSession)

  /** Relation build result: the DataFrame plus its OUTPUT WIDTH.
    *
    * Width is threaded explicitly because a correlated-subquery body
    * (holding lazy `.outer()` references) CANNOT be analyzed standalone —
    * any `.columns`/`.schema`/`toDF` access on such a DataFrame forces
    * analysis and throws UNRESOLVED_COLUMN. Level-qualified positional
    * naming plus a tracked width lets every construction step reference columns
    * by computed name with zero schema access; the full plan analyzes once
    * at the root, where the subquery expressions have their outer scope. */
  private case class RelOut(df: DataFrame, width: Int)

  /** `level` = query nesting level (0 = root; a subquery body is its
    * enclosing level + 1). All field names inside a level are
    * `_q<level>_s<ordinal>`. */
  private def rel(j: JValue, ctx: Ctx, level: Int): RelOut = {
    val fns = ctx.fns; val tableFor = ctx.tableFor
    def recurse(child: JValue): RelOut = rel(child, ctx, level)
    def expression(e: JValue): Column = expr0(e, ctx, level, bind = false)
    def emitOf(node: JValue): Option[List[Int]] =
      node \ "common" \ "emit" \ "outputMapping" match {
        case JArray(m) => Some(m.flatMap(int))
        case _ => None
      }
    def applyEmit(out: RelOut, node: JValue): RelOut = emitOf(node) match {
      case Some(m) =>
        RelOut(out.df.select(
          positional(m.map(i => col(s"_q${level}_s$i")), level): _*), m.size)
      case None => out
    }

    j match {
      case _ if j \ "read" != JNothing &&
          (j \ "read" \ "virtualTable") != JNothing =>
        // VirtualTable: inline literal rows (the lowering target for
        // explode-of-literal-array Generates — see the emitter)
        val r = j \ "read"
        val names = arr(r \ "baseSchema" \ "names").flatMap(str)
        val rows = arr(r \ "virtualTable" \ "values").map { row =>
          val fields = arr(row \ "fields").map(literal)
          ctx.spark.range(1).select(positional(fields, level): _*)
        }
        val df = rows.reduceOption(_.unionAll(_)).getOrElse(
          throw new IllegalArgumentException("substrait: empty virtualTable"))
        applyEmit(RelOut(df, names.size), r)

      case _ if j \ "read" != JNothing =>
        val r = j \ "read"
        val names = arr(r \ "baseSchema" \ "names").flatMap(str)
        val types = arr(r \ "baseSchema" \ "struct" \ "types").map(sparkTypeOf)
        val tname = arr(r \ "namedTable" \ "names").flatMap(str).lastOption
          .getOrElse(throw new IllegalArgumentException(
            "substrait: only namedTable reads are supported"))
        val base = tableFor(tname.toLowerCase).getOrElse(
          throw new IllegalArgumentException(s"substrait: unknown table $tname"))
        val have = base.columns.map(_.toLowerCase).toSet
        val cols = names.zip(types).map { case (n, t) =>
          if (have(n.toLowerCase)) col(n.toLowerCase)
          else lit(null).cast(t)
        }
        var df = base.select(positional(cols, level): _*)
        r \ "filter" match {
          case JNothing =>
          case f => df = df.filter(expression(f))
        }
        applyEmit(RelOut(df, names.size), r)

      case _ if j \ "filter" != JNothing =>
        val f = j \ "filter"
        val in = recurse(f \ "input")
        applyEmit(RelOut(in.df.filter(expression(f \ "condition")), in.width), f)

      case _ if j \ "project" != JNothing =>
        // emit is FUSED into the project's single select (referencing the
        // expression objects directly, never re-referencing columns the
        // same select defines) — one plan node, lazy-safe
        val p = j \ "project"
        val in = recurse(p \ "input")
        val exprs = arr(p \ "expressions").map(expression)
        val all = ((0 until in.width).map(i => col(s"_q${level}_s$i")) ++ exprs).toIndexedSeq
        val emitted = emitOf(p).map(_.map(all(_))).getOrElse(all.toList)
        RelOut(in.df.select(positional(emitted, level): _*), emitted.size)

      case _ if j \ "aggregate" != JNothing =>
        val a = j \ "aggregate"
        val in = recurse(a \ "input")
        // modern form: rel-level groupingExpressions + per-grouping
        // expressionReferences (multiple groupings = GROUPING SETS);
        // legacy form: one grouping with inline expressions
        val relGroupExprs = arr(a \ "groupingExpressions").map(expression)
        val groupings = arr(a \ "groupings")
        val groupExprs =
          if (relGroupExprs.nonEmpty) relGroupExprs
          else groupings.headOption
            .map(g => arr(g \ "groupingExpressions").map(expression))
            .getOrElse(Nil)
        val measures = arr(a \ "measures").map { m =>
          val me = m \ "measure"
          val name = fns.getOrElse(long(me \ "functionReference").getOrElse(0L),
            throw new IllegalArgumentException("substrait: unknown aggregate anchor"))
          val distinct =
            str(me \ "invocation").contains("AGGREGATION_INVOCATION_DISTINCT")
          aggColumn(name, distinct, arr(me \ "arguments").map(a0 => expression(a0 \ "value")))
        }
        val nK = groupExprs.size
        val agged =
          if (relGroupExprs.nonEmpty && groupings.size > 1) {
            // GROUPING SETS: Dataset.groupingSets over the materialized
            // key columns; the rel's output is keys ++ measures ++ an i32
            // grouping-set ordinal (substrait AggregateRel spec), the
            // ordinal recovered from grouping_id() via the per-set mask
            val sets: Seq[Seq[Int]] = groupings.map(g =>
              arr(g \ "expressionReferences").flatMap(x => long(x).map(_.toInt)))
            val keyed = in.df.select(
              ((0 until in.width).map(i => col(s"_q${level}_s$i")) ++
                groupExprs.zipWithIndex.map { case (e, i) =>
                  e.as(s"_q${level}_g$i") }): _*)
            val keys = (0 until nK).map(i => col(s"_q${level}_g$i"))
            val ms = measures.zipWithIndex.map { case (m, i) =>
              m.as(s"_q${level}_m$i") } :+
              grouping_id(keys: _*).as(s"_q${level}_gid")
            val gs = keyed.groupingSets(
                sets.map(s0 => s0.map(i => keys(i))), keys: _*)
              .agg(ms.head, ms.tail: _*)
            val masks = sets.map(s0 =>
              (0 until nK).filterNot(s0.contains)
                .map(i => 1L << (nK - 1 - i)).sum)
            val ord = masks.zipWithIndex.tail.foldLeft(
              when(col(s"_q${level}_gid") === masks.head, lit(0))) {
                case (acc, (m, k)) =>
                  acc.when(col(s"_q${level}_gid") === m, lit(k))
              }.cast("int")
            val outCols = keys ++
              measures.indices.map(i => col(s"_q${level}_m$i")) :+ ord
            gs.select(positional(outCols, level): _*)
          }
          else
          if (measures.isEmpty)
            // DISTINCT form; Dataset.distinct resolves eagerly — fine at
            // the outer level, unsupported under a lazy subquery body
            in.df.select(positional(groupExprs, level): _*).distinct()
          else if (nK == 0)
            // global aggregate via select (same Aggregate plan):
            // Dataset.agg's typed-agg bridge requires a fully-resolved
            // child, which a lazy subquery body is not yet
            in.df.select(positional(measures, level): _*)
          else {
            // grouping keys materialize as extra columns first so
            // arbitrary grouping EXPRESSIONS (not just fields) group
            // correctly; keys+measures re-aliased positionally by name
            val keyed = in.df.select(
              ((0 until in.width).map(i => col(s"_q${level}_s$i")) ++
                groupExprs.zipWithIndex.map { case (e, i) =>
                  e.as(s"_q${level}_g$i") }): _*)
            val keys = (0 until nK).map(i => col(s"_q${level}_g$i"))
            val ms = measures.zipWithIndex.map { case (m, i) =>
              m.as(s"_q${level}_m$i") }
            keyed.groupBy(keys: _*).agg(ms.head, ms.tail: _*)
              .select(positional(
                (0 until nK).map(i => col(s"_q${level}_g$i")) ++
                  measures.indices.map(i => col(s"_q${level}_m$i")), level): _*)
          }
        val ordWidth =
          if (relGroupExprs.nonEmpty && groupings.size > 1) 1 else 0
        applyEmit(RelOut(agged, nK + measures.size + ordWidth), a)

      case _ if j \ "sort" != JNothing =>
        val s = j \ "sort"
        val in = recurse(s \ "input")
        val sorts = arr(s \ "sorts").map(sf => sortColumn(sf, expression(sf \ "expr")))
        applyEmit(RelOut(in.df.orderBy(sorts: _*), in.width), s)

      case _ if j \ "fetch" != JNothing =>
        val f = j \ "fetch"
        val in = recurse(f \ "input")
        val offset = long(f \ "offset").getOrElse(0L)
        val count = long(f \ "count").getOrElse(-1L)
        val off = if (offset > 0) in.df.offset(offset.toInt) else in.df
        applyEmit(
          RelOut(if (count >= 0) off.limit(count.toInt) else off, in.width), f)

      case _ if j \ "join" != JNothing =>
        val jn = j \ "join"
        val l = recurse(jn \ "left")
        val r0 = recurse(jn \ "right")
        // continue the ordinal numbering across the right side so the
        // combined name space matches substrait's left++right field space
        // (select-based rename: no schema access on the unanalyzed side)
        val r = r0.df.select((0 until r0.width)
          .map(i => col(s"_q${level}_s$i").as(s"_q${level}_s${l.width + i}")): _*)
        val jt = str(jn \ "type").getOrElse("JOIN_TYPE_INNER") match {
          case "JOIN_TYPE_INNER" => "inner"
          case "JOIN_TYPE_OUTER" => "full"
          case "JOIN_TYPE_LEFT"  => "left"
          case "JOIN_TYPE_RIGHT" => "right"
          case "JOIN_TYPE_LEFT_SEMI" | "JOIN_TYPE_SEMI" => "left_semi"
          case "JOIN_TYPE_LEFT_ANTI" | "JOIN_TYPE_ANTI" => "left_anti"
          case other => throw new IllegalArgumentException(s"substrait: join $other")
        }
        val cond = jn \ "expression" match {
          case JNothing => lit(true)
          case e => expression(e) // names _s0.._s{nL+nR-1} span both sides
        }
        val semi = jt == "left_semi" || jt == "left_anti"
        val width = if (semi) l.width else l.width + r0.width
        applyEmit(RelOut(l.df.join(r, cond, jt), width), jn)

      case _ if j \ "cross" != JNothing =>
        val c = j \ "cross"
        val l = recurse(c \ "left")
        val r0 = recurse(c \ "right")
        val r = r0.df.select((0 until r0.width)
          .map(i => col(s"_q${level}_s$i").as(s"_q${level}_s${l.width + i}")): _*)
        applyEmit(RelOut(l.df.crossJoin(r), l.width + r0.width), c)

      case _ if j \ "set" != JNothing =>
        val s = j \ "set"
        val inputs = arr(s \ "inputs").map(recurse)
        val df = str(s \ "op").getOrElse("") match {
          case "SET_OP_UNION_ALL" => inputs.map(_.df).reduce(_.union(_))
          case "SET_OP_UNION_DISTINCT" =>
            inputs.map(_.df).reduce(_.union(_)).distinct()
          case other => throw new IllegalArgumentException(s"substrait: set $other")
        }
        applyEmit(RelOut(df, inputs.head.width), s)

      case _ =>
        val keys = j match { case JObject(fs) => fs.map(_._1).mkString(","); case _ => "?" }
        throw new IllegalArgumentException(s"substrait: unsupported rel [$keys]")
    }
  }

  // ------------------------------------------------------------ expressions

  /** Expression builder. Field selections resolve BY COMPUTED NAME
    * (`_s<ordinal>` — scope-invariant under the positional-rename
    * convention), never by DataFrame schema access, so construction works
    * inside lazily-analyzed correlated-subquery bodies. Subquery forms map
    * onto Spark 4's Dataset subquery expression API: scalar →
    * Dataset.scalar(), setPredicate EXISTS / inPredicate →
    * Dataset.exists() (the reference consumer performs the same rewrites;
    * substrait/src/logical_plan/consumer/expr/subquery.rs). Correlation
    * (outerReference, and IN-needles evaluated inside the haystack's plan)
    * becomes an unresolved column marked `.outer()`: the analyzer resolves
    * it against the enclosing plan while resolving the subquery
    * expression; outer() skips the inner scope, so identical positional
    * names cannot capture. `depth` counts available scopes — all fixture
    * correlation is stepsOut=1; deeper nesting would be ambiguous under
    * name resolution and fails loudly. */
  private def expr0(j: JValue, ctx: Ctx, level: Int, bind: Boolean): Column = {
    def sub(e: JValue): Column = expr0(e, ctx, level, bind)
    j match {
    case _ if j \ "selection" != JNothing =>
      // proto3 JSON omits zero: structField:{} is field 0
      val sel = j \ "selection"
      val f = int(sel \ "directReference" \ "structField" \ "field")
        .getOrElse(0)
      val stepsOut =
        if (sel \ "outerReference" == JNothing) 0
        else int(sel \ "outerReference" \ "stepsOut").getOrElse(1)
      if (stepsOut > 0) {
        if (stepsOut > level) throw new IllegalArgumentException(
          s"substrait: outerReference stepsOut=$stepsOut exceeds nesting level")
        // level-qualified name of the TARGET scope; .outer() resolves
        // against enclosing plans, and the level prefix guarantees the
        // name exists in exactly one of them (arbitrary stepsOut works)
        col(s"_q${level - stepsOut}_s$f").outer()
      }
      else if (bind) col(s"_q${level}_s$f").outer()
      else col(s"_q${level}_s$f")
    case _ if j \ "literal" != JNothing => literal(j \ "literal")
    case _ if j \ "scalarFunction" != JNothing =>
      val sf = j \ "scalarFunction"
      val name = ctx.fns.getOrElse(long(sf \ "functionReference").getOrElse(0L),
        throw new IllegalArgumentException("substrait: unknown function anchor"))
      val (enums, args) = arr(sf \ "arguments").partitionMap { a =>
        a \ "enum" match {
          case JString(e) => Left(e)
          case _ => Right(sub(a \ "value"))
        }
      }
      scalarFunction(name, enums, args)
    case _ if j \ "cast" != JNothing =>
      val c = j \ "cast"
      sub(c \ "input").cast(sparkTypeOf(c \ "type"))
    case _ if j \ "ifThen" != JNothing =>
      val it = j \ "ifThen"
      val ifs = arr(it \ "ifs").map(b => (sub(b \ "if"), sub(b \ "then")))
      val base = when(ifs.head._1, ifs.head._2)
      val chained = ifs.tail.foldLeft(base) { case (acc, (c, t)) => acc.when(c, t) }
      it \ "else" match {
        case JNothing => chained
        case e => chained.otherwise(sub(e))
      }
    case _ if j \ "singularOrList" != JNothing =>
      val sl = j \ "singularOrList"
      val v = sub(sl \ "value")
      val opts = arr(sl \ "options").map(sub)
      v.isin(opts: _*)
    case _ if j \ "windowFunction" != JNothing =>
      windowFunction(j \ "windowFunction", ctx, level)
    case _ if j \ "subquery" != JNothing =>
      val sq = j \ "subquery"
      if (sq \ "scalar" != JNothing)
        rel(sq \ "scalar" \ "input", ctx, level + 1).df.scalar()
      else if (sq \ "setPredicate" != JNothing) {
        val sp = sq \ "setPredicate"
        val op = str(sp \ "predicateOp").getOrElse("")
        if (op != "PREDICATE_OP_EXISTS") throw new IllegalArgumentException(
          s"substrait: unsupported setPredicate $op")
        rel(sp \ "tuples", ctx, level + 1).df.exists()
      } else if (sq \ "inPredicate" != JNothing) {
        val ip = sq \ "inPredicate"
        val hay = rel(ip \ "haystack", ctx, level + 1)
        // needles are expressions over the CURRENT scope but evaluate
        // inside the haystack's plan — marked .outer() (non-null fixture
        // keys make the EXISTS rewrite of IN exact; substrait inPredicate
        // has no null-aware variant)
        val needles = arr(ip \ "needles").map(expr0(_, ctx, level, bind = true))
        val cond = needles.zipWithIndex
          .map { case (n, i) => col(s"_q${level + 1}_s$i") === n }
          .reduce(_ && _)
        hay.df.where(cond).exists()
      } else throw new IllegalArgumentException(
        s"substrait: unsupported subquery form")
    case _ =>
      val keys = j match { case JObject(fs) => fs.map(_._1).mkString(","); case _ => "?" }
      throw new IllegalArgumentException(s"substrait: unsupported expression [$keys]")
    }
  }

  /** SortField direction -> Column ordering. */
  private def sortColumn(sf: JValue, e: Column): Column =
    str(sf \ "direction").getOrElse("SORT_DIRECTION_ASC_NULLS_LAST") match {
      case "SORT_DIRECTION_ASC_NULLS_FIRST"  => e.asc_nulls_first
      case "SORT_DIRECTION_ASC_NULLS_LAST"   => e.asc_nulls_last
      case "SORT_DIRECTION_DESC_NULLS_FIRST" => e.desc_nulls_first
      case "SORT_DIRECTION_DESC_NULLS_LAST"  => e.desc_nulls_last
      case _ => e.asc
    }

  /** Expression.WindowFunction -> Column.over(WindowSpec) (reference:
    * substrait consumer expr/window_function.rs). Ranking functions keep
    * Spark's mandatory default frame; aggregates honor the declared
    * ROWS/RANGE bounds, with the reference's unspecified-bounds default
    * (no ORDER BY -> whole partition; ORDER BY -> range to current row,
    * which is Spark's own default, so no explicit frame is set). */
  private def windowFunction(wf: JValue, ctx: Ctx, level: Int): Column = {
    import org.apache.spark.sql.expressions.Window
    val name = ctx.fns.getOrElse(long(wf \ "functionReference").getOrElse(0L),
      throw new IllegalArgumentException("substrait: unknown window anchor"))
    val args = arr(wf \ "arguments")
      .flatMap(a => a \ "value" match {
        case JNothing => None
        case v => Some(expr0(v, ctx, level, bind = false))
      })
    val distinct =
      str(wf \ "invocation").contains("AGGREGATION_INVOCATION_DISTINCT")
    def argLit(i: Int, default: Int): Int =
      arr(wf \ "arguments").lift(i)
        .flatMap(a => long(a \ "value" \ "literal" \ "i32")
          .orElse(long(a \ "value" \ "literal" \ "i64"))).map(_.toInt)
        .getOrElse(default)
    val ranking = Set("row_number", "rank", "dense_rank", "percent_rank",
      "cume_dist", "ntile", "lead", "lag")
    val fn: Column = name match {
      case "cume_dist" => cume_dist()
      case "ntile" => ntile(argLit(0, 1))
      case "lead" => lead(args.head, argLit(1, 1))
      case "lag" => lag(args.head, argLit(1, 1))
      case "first_value" => first(args.head)
      case "last_value" => last(args.head)
      case other => PlanVocabulary.ranking(other).getOrElse(aggColumn(other, distinct, args))
    }
    val parts = arr(wf \ "partitions").map(expr0(_, ctx, level, bind = false))
    val sorts = arr(wf \ "sorts").map(sf =>
      sortColumn(sf, expr0(sf \ "expr", ctx, level, bind = false)))
    var w = Window.partitionBy(parts: _*)
    if (sorts.nonEmpty) w = w.orderBy(sorts: _*)
    def bound(b: JValue, unboundedDefault: Long): Long =
      if (b \ "currentRow" != JNothing) Window.currentRow
      else if (b \ "preceding" != JNothing)
        -long(b \ "preceding" \ "offset").getOrElse(0L)
      else if (b \ "following" != JNothing)
        long(b \ "following" \ "offset").getOrElse(0L)
      else unboundedDefault
    val lo = bound(wf \ "lowerBound", Window.unboundedPreceding)
    val hi = bound(wf \ "upperBound", Window.unboundedFollowing)
    val explicitBounds =
      wf \ "lowerBound" != JNothing || wf \ "upperBound" != JNothing
    if (!ranking(name) && explicitBounds) {
      str(wf \ "boundsType") match {
        case Some("BOUNDS_TYPE_RANGE") => w = w.rangeBetween(lo, hi)
        case _ => w = w.rowsBetween(lo, hi)
      }
    }
    fn.over(w)
  }

  private def literal(l: JValue): Column = {
    def has(k: String) = l \ k != JNothing
    if (has("boolean")) lit(l \ "boolean" == JBool(true))
    else if (has("i8")) lit(int(l \ "i8").get.toByte)
    else if (has("i16")) lit(int(l \ "i16").get.toShort)
    else if (has("i32")) lit(int(l \ "i32").get)
    else if (has("i64")) lit(long(l \ "i64").get)
    else if (has("fp32")) lit(jdouble(l \ "fp32").toFloat)
    else if (has("fp64")) lit(jdouble(l \ "fp64"))
    else if (has("string")) lit(str(l \ "string").get)
    else if (has("fixedChar")) lit(str(l \ "fixedChar").get)
    else if (has("date")) date_add(lit("1970-01-01").cast(DateType), int(l \ "date").get)
    else if (has("decimal")) {
      val d = l \ "decimal"
      val bytes = java.util.Base64.getDecoder.decode(str(d \ "value").get)
      val unscaled = new java.math.BigInteger(bytes.reverse) // little-endian
      val scale = int(d \ "scale").getOrElse(0)
      val precision = int(d \ "precision").getOrElse(38)
      lit(new java.math.BigDecimal(unscaled, scale))
        .cast(DecimalType(precision, scale))
    }
    else if (has("intervalDayToSecond")) {
      val iv = l \ "intervalDayToSecond"
      val days = int(iv \ "days").getOrElse(0)
      val seconds = int(iv \ "seconds").getOrElse(0)
      val micros = int(iv \ "microseconds").getOrElse(
        int(iv \ "subseconds").getOrElse(0))
      make_dt_interval(lit(days), lit(0), lit(0),
        lit(seconds + micros / 1e6))
    }
    else if (has("intervalYearToMonth")) {
      val iv = l \ "intervalYearToMonth"
      make_ym_interval(lit(int(iv \ "years").getOrElse(0)),
        lit(int(iv \ "months").getOrElse(0)))
    }
    else if (has("precisionTimestamp")) {
      val pt = l \ "precisionTimestamp"
      val v = long(pt \ "value").get
      val us = int(pt \ "precision").getOrElse(6) match {
        case 0 => v * 1000000L; case 3 => v * 1000L; case 9 => v / 1000L
        case _ => v
      }
      timestamp_micros(lit(us))
    }
    else if (has("timestamp")) timestamp_micros(lit(long(l \ "timestamp").get))
    else if (has("null")) lit(null).cast(sparkTypeOf(l \ "null"))
    else throw new IllegalArgumentException(
      s"substrait: unsupported literal ${JsonMethods.compact(JsonMethods.render(l))}")
  }

  private def jdouble(j: JValue): Double = j match {
    case JDouble(d) => d
    case JInt(n) => n.toDouble
    case JDecimal(d) => d.toDouble
    case JString(s) => s.toDouble
    case o => throw new IllegalArgumentException(s"substrait: bad float $o")
  }

  private def scalarFunction(name: String, enums: List[String],
      args: List[Column]): Column = name match {
    case "and" => args.reduce(_ && _)
    case "or" => args.reduce(_ || _)
    case "not" => !args.head
    case "equal" => args(0) === args(1)
    case "not_equal" => args(0) =!= args(1)
    case "lt" => args(0) < args(1)
    case "gt" => args(0) > args(1)
    case "lte" => args(0) <= args(1)
    case "gte" => args(0) >= args(1)
    case "add" => args(0) + args(1)
    case "subtract" => args(0) - args(1)
    case "multiply" => args(0) * args(1)
    case "divide" => args(0) / args(1)
    case "modulus" => args(0) % args(1)
    case "bitwise_and" => args(0).bitwiseAND(args(1))
    case "shift_right" =>
      org.apache.spark.sql.functions.call_function("shiftright", args(0), args(1))
    case "negate" => -args.head
    case "abs" => abs(args.head)
    case "like" => call_function("like", args: _*)
    case "concat" => concat(args: _*)
    case "substring" =>
      if (args.size >= 3) args(0).substr(args(1), args(2))
      else args(0).substr(args(1), length(args(0)))
    case "extract" => enums.headOption.map(_.toUpperCase) match {
      case Some("YEAR") => year(args.head)
      case Some("MONTH") => month(args.head)
      case Some("DAY") => dayofmonth(args.head)
      case Some("HOUR") => hour(args.head)
      case Some("MINUTE") => minute(args.head)
      case Some("SECOND") => second(args.head)
      case other => throw new IllegalArgumentException(s"substrait: extract $other")
    }
    case "is_null" => args.head.isNull
    case "is_not_null" => args.head.isNotNull
    case "between" => args(0) >= args(1) && args(0) <= args(2)
    case "coalesce" => coalesce(args: _*)
    case "floor" => floor(args.head)
    case "ceil" => ceil(args.head)
    case "contains" => args(0).contains(args(1))
    case "starts_with" => args(0).startsWith(args(1))
    case "ends_with" => args(0).endsWith(args(1))
    case graft.functions.DenseKeyProbe.Name =>
      org.apache.spark.sql.GraftSqlBridge.column(graft.functions.DenseKeyProbe
        .fromArgs(args.map(org.apache.spark.sql.GraftSqlBridge.expressionEager)))
    case other =>
      throw new IllegalArgumentException(s"substrait: unsupported function $other")
  }

  /** Substrait spells `count(*)` with no arguments. */
  private def aggColumn(name: String, distinct: Boolean, args: List[Column]): Column =
    PlanVocabulary.aggregate(name, distinct, if (args.isEmpty) List(lit(1)) else args)

  /** Substrait Type message → Spark DataType (JSON field key = kind). */
  private def sparkTypeOf(t: JValue): DataType = {
    def has(k: String) = t \ k != JNothing
    if (has("bool")) BooleanType
    else if (has("i8")) ByteType
    else if (has("i16")) ShortType
    else if (has("i32")) IntegerType
    else if (has("i64")) LongType
    else if (has("fp32")) FloatType
    else if (has("fp64")) DoubleType
    else if (has("string") || has("varchar") || has("fixedChar")) StringType
    else if (has("binary")) BinaryType
    else if (has("date")) DateType
    else if (has("timestamp") || has("timestampTz") ||
             has("precisionTimestamp") || has("precisionTimestampTz")) TimestampType
    else if (has("decimal"))
      DecimalType(int(t \ "decimal" \ "precision").getOrElse(38),
        int(t \ "decimal" \ "scale").getOrElse(0))
    else throw new IllegalArgumentException(
      s"substrait: unsupported type ${JsonMethods.compact(JsonMethods.render(t))}")
  }

  // =================================================================== emit

  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
    AttributeReference, Expression => CExpr, Literal => CLit, SortOrder,
    Ascending, Descending, NullsFirst, NullsLast, Cast => CCast,
    CaseWhen => CCaseWhen, Coalesce => CCoalesce, In => CIn, IsNull => CIsNull,
    IsNotNull => CIsNotNull, Not => CNot, And => CAnd, Or => COr,
    EqualTo, LessThan, GreaterThan, LessThanOrEqual, GreaterThanOrEqual,
    Add => CAdd, Subtract => CSubtract, Multiply => CMultiply,
    Divide => CDivide, Remainder => CRemainder, Like => CLike,
    ScalarSubquery => CScalarSubquery, Exists => CExists,
    InSubquery => CInSubquery, ListQuery => CListQuery,
    OuterReference => COuterReference, WindowExpression => CWindowExpression,
    WindowSpecDefinition, SpecifiedWindowFrame, UnspecifiedFrame,
    RowFrame, RangeFrame, UnboundedPreceding, UnboundedFollowing,
    CurrentRow => CCurrentRow, CumeDist => CCumeDist, NTile => CNTile,
    Lead => CLead, Lag => CLag,
    Floor => CFloor, Ceil => CCeil, Year => CYear, Month => CMonth,
    DayOfMonth => CDayOfMonth, Quarter => CQuarter,
    Contains => CContains, StartsWith => CStartsWith, EndsWith => CEndsWith}
  import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
  import PlanVocabulary.stripAlias
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  /** Mutable per-emit function registry (name:signature → anchor). */
  private class FnReg {
    val anchors = scala.collection.mutable.LinkedHashMap[String, Long]()
    def anchor(sig: String): Long = anchors.getOrElseUpdate(sig, anchors.size.toLong)
  }

  def emitJson(df: DataFrame): String = {
    val reg = new FnReg
    // substrait has no CTE rel — inline every WITH before emitting (the
    // consumer re-plans; common-subplan reuse is the receiving engine's
    // optimization to rediscover)
    val analyzed = org.apache.spark.sql.catalyst.optimizer
      .InlineCTE(alwaysInline = true)(df.queryExecution.analyzed)
    val relJson = emitRel(analyzed, reg)
    val extensions = reg.anchors.toSeq.map { case (sig, anchor) =>
      JObject("extensionFunction" -> JObject(
        "extensionUriReference" -> JInt(1),
        "functionAnchor" -> JInt(anchor),
        "name" -> JString(sig)))
    }
    val plan = JObject(
      "extensionUris" -> JArray(List(JObject(
        "extensionUriAnchor" -> JInt(1),
        "uri" -> JString("/functions_all.yaml")))),
      "extensions" -> JArray(extensions.toList),
      "relations" -> JArray(List(JObject(
        "root" -> JObject(
          "input" -> relJson,
          "names" -> JArray(analyzed.output.map(a => JString(a.name)).toList))))),
      "version" -> JObject("minorNumber" -> JInt(54), "producer" -> JString("graft")))
    JsonMethods.compact(JsonMethods.render(plan))
  }

  /** The innermost stable table name under alias/view wrappers: a query
    * alias (`lineitem l1`) must emit the TABLE's name, not the alias —
    * the consumer resolves reads by table name. */
  private def innerTableName(plan: LogicalPlan): Option[String] = plan match {
    case View(desc, _, _, _) => Some(desc.identifier.table)
    case SubqueryAlias(ident, child) => innerTableName(child).orElse(Some(ident.name))
    case lr: LogicalRelation => PlanVocabulary.relationName(lr)
    case _ => None
  }

  private def emitRead(name: String, output: Seq[Attribute]): JValue =
    JObject("read" -> JObject(
      "common" -> JObject("direct" -> JObject()),
      "baseSchema" -> JObject(
        "names" -> JArray(output.map(a => JString(a.name)).toList),
        "struct" -> JObject("types" ->
          JArray(output.map(a => typeJson(a.dataType, a.nullable)).toList))),
      "namedTable" -> JObject("names" -> JArray(List(JString(name))))))

  private def emitRel(plan: LogicalPlan, reg: FnReg,
      outer: Seq[Attribute] = Nil): JValue = plan match {
    case SubqueryAlias(ident, child) if child.collectLeaves().size == 1 &&
        isScanLeaf(child) =>
      emitRead(innerTableName(child).getOrElse(ident.name), plan.output)
    case SubqueryAlias(_, child) => emitRel(child, reg, outer)
    // hints are engine-local advice; the plan-exchange contract is that
    // the consumer re-plans for its own layout, so they drop on the wire
    case h: ResolvedHint => emitRel(h.child, reg, outer)
    case lr: LogicalRelation =>
      emitRead(innerTableName(lr).getOrElse(
        throw new IllegalArgumentException(
          "substrait emit: relation with no catalog identifier or path")),
        lr.output)
    case Project(projectList, child) =>
      val childOut = child.output
      val newExprs = scala.collection.mutable.ListBuffer[JValue]()
      val mapping = projectList.map {
        case a: AttributeReference if childOut.exists(_.exprId == a.exprId) =>
          childOut.indexWhere(_.exprId == a.exprId)
        case Alias(a: AttributeReference, _)
          if childOut.exists(_.exprId == a.exprId) =>
          childOut.indexWhere(_.exprId == a.exprId)
        case e =>
          newExprs += emitExpr(stripAlias(e), childOut, reg, outer)
          childOut.size + newExprs.size - 1
      }
      JObject("project" -> JObject(
        "common" -> JObject("emit" -> JObject(
          "outputMapping" -> JArray(mapping.map(JInt(_)).toList))),
        "input" -> emitRel(child, reg, outer),
        "expressions" -> JArray(newExprs.toList)))
    case Filter(condition, child) =>
      JObject("filter" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "input" -> emitRel(child, reg, outer),
        "condition" -> emitExpr(condition, child.output, reg, outer)))
    // Composite post-aggregation outputs (avg(x) * 0.01, sum(a)/sum(b)):
    // substrait's AggregateRel holds only keys and raw measures, so split
    // into Aggregate(pure) + Project(composite over ordinals) and emit that
    case Aggregate(g, aggExprs, child, _) if aggExprs.exists { ne =>
      val st = stripAlias(ne)
      !st.isInstanceOf[AggregateExpression] &&
        g.indexWhere(_.semanticEquals(st)) < 0 &&
        st.exists(_.isInstanceOf[AggregateExpression])
    } =>
      import org.apache.spark.sql.catalyst.expressions.NamedExpression
      val keyAliases: Seq[NamedExpression] = g.zipWithIndex.map {
        case (a: Attribute, _) => a
        case (e, i) => Alias(e, s"_k$i")()
      }
      val aggAliases = scala.collection.mutable.LinkedHashMap[CExpr, Alias]()
      def measureRef(ae: AggregateExpression): Attribute =
        aggAliases.getOrElseUpdate(ae.canonicalized, Alias(ae, s"_a${aggAliases.size}")())
          .toAttribute
      def keyRefFor(e: CExpr): Option[Attribute] = {
        val i = g.indexWhere(_.semanticEquals(e))
        if (i < 0) None else Some(keyAliases(i).toAttribute)
      }
      val rewritten: Seq[NamedExpression] = aggExprs.map { ne =>
        val newE = ne.transformDown {
          case ae: AggregateExpression => measureRef(ae)
          case e if !e.isInstanceOf[CLit] && keyRefFor(e).isDefined => keyRefFor(e).get
        }
        newE match {
          case n: NamedExpression => n
          case x => Alias(x, ne.name)()
        }
      }
      val pure = Aggregate(g, keyAliases ++ aggAliases.values.toSeq, child)
      emitRel(Project(rewritten, pure), reg, outer)

    // GROUPING SETS (Spark: Aggregate over Expand with a
    // spark_grouping_id key) → substrait's modern multi-grouping
    // AggregateRel: rel-level groupingExpressions + per-grouping
    // expressionReferences; output keys ++ measures ++ i32 set ordinal.
    // grouping()/grouping_id() projections lower to a CASE over the
    // ordinal (each set's spark_grouping_id is a per-set constant).
    case Aggregate(gExprs, aggExprs,
        expand @ org.apache.spark.sql.catalyst.plans.logical.Expand(
          projections, expOut, pchild), _)
        if gExprs.exists {
          case a: Attribute => a.name == "spark_grouping_id"; case _ => false
        } =>
      val gidAttr = gExprs.collectFirst {
        case a: Attribute if a.name == "spark_grouping_id" => a }.get
      val keyAttrs2 = gExprs.collect {
        case a: Attribute if a.name != "spark_grouping_id" => a }
      val nG = keyAttrs2.size
      val baseWidth = pchild.output.size - nG
      // per-set membership + spark_grouping_id constants from the Expand
      // projection rows (null literal at a key slot = key absent)
      val sets = projections.map { row =>
        (0 until nG).filter(i => row(baseWidth + i) match {
          case CLit(null, _) => false
          case _ => true
        })
      }
      val gidLits = projections.map(row => row.last match {
        case l: CLit => l
        case other => throw new IllegalArgumentException(
          s"substrait emit: non-literal grouping id in Expand: ${other.sql}")
      })
      // measures: collected in output order; their attr refs live in the
      // Expand output space — re-anchor base columns onto the Expand child
      val aggList = scala.collection.mutable.ListBuffer[AggregateExpression]()
      aggExprs.foreach(_.foreach {
        case ae: AggregateExpression if !aggList.exists(_ eq ae) =>
          aggList += ae
        case _ =>
      })
      val measures2 = aggList.map { ae =>
        val fixed = ae.transform {
          case at: Attribute =>
            val i = expOut.indexWhere(_.exprId == at.exprId)
            if (i >= 0 && i < baseWidth) pchild.output(i)
            else if (i >= 0) throw new IllegalArgumentException(
              "substrait emit: measure over a grouping-set key")
            else at
        }.asInstanceOf[AggregateExpression]
        emitMeasure(fixed, pchild.output, reg, outer)
      }
      val aggJson = JObject("aggregate" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "input" -> emitRel(pchild, reg, outer),
        "groupingExpressions" -> JArray(
          (0 until nG).map(i => emitExpr(pchild.output(baseWidth + i),
            pchild.output, reg, outer)).toList),
        "groupings" -> JArray(sets.map(s0 => JObject(
          "expressionReferences" -> JArray(s0.map(JInt(_)).toList))).toList),
        "measures" -> JArray(measures2.toList)))
      // project the Aggregate's own output shape over the rel's
      // [keys, measures, ordinal] space
      val mAttrs = aggList.map(ae =>
        AttributeReference("_m", ae.dataType, ae.nullable)()).toSeq
      val ordAttr = AttributeReference("_ord",
        org.apache.spark.sql.types.IntegerType, nullable = false)()
      val gidCase = CCaseWhen(
        gidLits.zipWithIndex.map { case (l, k) =>
          (EqualTo(ordAttr, CLit(k, org.apache.spark.sql.types.IntegerType)),
            l: CExpr)
        }, None)
      val space = keyAttrs2 ++ mAttrs :+ ordAttr
      val outExprs = aggExprs.map { ne =>
        stripAlias(ne).transformDown {
          case ae: AggregateExpression =>
            mAttrs(aggList.indexWhere(_ eq ae))
          case at: Attribute if at.exprId == gidAttr.exprId => gidCase
        }
      }
      val width = nG + aggList.size + 1
      JObject("project" -> JObject(
        "common" -> JObject("emit" -> JObject(
          "outputMapping" -> JArray(
            outExprs.indices.map(i => JInt(width + i)).toList))),
        "input" -> aggJson,
        "expressions" -> JArray(
          outExprs.map(emitExpr(_, space, reg, outer)).toList)))

    case Aggregate(groupingExpressions, aggregateExpressions, child, _) =>
      val childOut = child.output
      val groups = groupingExpressions.map(emitExpr(_, childOut, reg, outer))
      val measures = scala.collection.mutable.ListBuffer[JValue]()
      val mapping = aggregateExpressions.map { ae =>
        val stripped = stripAlias(ae)
        val gi = groupingExpressions.indexWhere(_.semanticEquals(stripped))
        if (gi >= 0) gi
        else stripped match {
          case agg: AggregateExpression =>
            measures += emitMeasure(agg, childOut, reg, outer)
            groupingExpressions.size + measures.size - 1
          case other => throw new IllegalArgumentException(
            s"substrait emit: aggregate output is neither key nor measure: ${other.sql}")
        }
      }
      JObject("aggregate" -> JObject(
        "common" -> JObject("emit" -> JObject(
          "outputMapping" -> JArray(mapping.map(JInt(_)).toList))),
        "input" -> emitRel(child, reg, outer),
        "groupings" -> JArray(List(JObject(
          "groupingExpressions" -> JArray(groups.toList)))),
        "measures" -> JArray(measures.toList)))
    case Join(left, right, joinType, condition, _) =>
      val inputAttrs = left.output ++ right.output
      val jt = joinType.sql match {
        case "INNER" => "JOIN_TYPE_INNER"
        case "FULL OUTER" => "JOIN_TYPE_OUTER"
        case "LEFT OUTER" => "JOIN_TYPE_LEFT"
        case "RIGHT OUTER" => "JOIN_TYPE_RIGHT"
        case "LEFT SEMI" => "JOIN_TYPE_LEFT_SEMI"
        case "LEFT ANTI" => "JOIN_TYPE_LEFT_ANTI"
        case "CROSS" => "JOIN_TYPE_INNER"
        case other => throw new IllegalArgumentException(s"substrait emit: join $other")
      }
      JObject("join" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "left" -> emitRel(left, reg, outer),
        "right" -> emitRel(right, reg, outer),
        "expression" -> condition.map(emitExpr(_, inputAttrs, reg, outer))
          .getOrElse(JObject("literal" -> JObject("boolean" -> JBool(true)))),
        "type" -> JString(jt)))
    case w: Window =>
      // substrait models window functions as expressions in a ProjectRel;
      // Window's output is child ++ windowExpressions, which is exactly
      // the emit-free project shape
      JObject("project" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "input" -> emitRel(w.child, reg, outer),
        "expressions" -> JArray(w.windowExpressions.map(ne =>
          emitExpr(stripAlias(ne), w.child.output, reg, outer)).toList)))
    // global and partition-local sorts both emit SortRel: Substrait's
    // sort is total, a sound refinement of a local sort (the library
    // emits local sorts only over single-partition children, where
    // local IS total)
    case Sort(order, _, child, _) =>
      JObject("sort" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "input" -> emitRel(child, reg, outer),
        "sorts" -> JArray(order.map(sortField(_, child.output, reg, outer)).toList)))
    case GlobalLimit(limitExpr, LocalLimit(_, child)) =>
      JObject("fetch" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "input" -> emitRel(child, reg, outer),
        "count" -> JString(limitExpr.eval().asInstanceOf[Number].longValue().toString)))
    case Union(children, false, false) =>
      JObject("set" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "inputs" -> JArray(children.map(emitRel(_, reg, outer)).toList),
        "op" -> JString("SET_OP_UNION_ALL")))
    case Distinct(child) =>
      // substrait's DISTINCT form: aggregate grouping all fields
      JObject("aggregate" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "input" -> emitRel(child, reg, outer),
        "groupings" -> JArray(List(JObject(
          "groupingExpressions" -> JArray(child.output.indices.map(fieldRef).toList)))),
        "measures" -> JArray(Nil)))
    // Dataset.distinct() analyzes to Deduplicate over all columns
    case Deduplicate(keys, child) if keys.size == child.output.size &&
        keys.forall(k => child.output.exists(_.semanticEquals(k))) =>
      emitRel(Distinct(child), reg, outer)
    // temp-view references wrap their plan in View — transparent on the wire
    case v: View => emitRel(v.child, reg, outer)
    // Generate/unnest: substrait core has no unnest rel. The foldable case
    // (explode of a literal array — TVF-style row multipliers) lowers
    // EXACTLY to CROSS JOIN with a VirtualTable of the elements; the
    // data-dependent case stays a documented unsupported node (the
    // reference's consumer reads unnest via its own extension space —
    // substrait/src/logical_plan/consumer/).
    case g: Generate if g.unrequiredChildIndex.isEmpty && !g.outer &&
        g.generator.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Explode] &&
        g.generator.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Explode].child.foldable =>
      val gen = g.generator.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Explode]
      val elemType = gen.child.dataType.asInstanceOf[ArrayType].elementType
      val elems = gen.child.eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(elemType)
      val outAttr = g.generatorOutput.head
      JObject("cross" -> JObject(
        "common" -> JObject("direct" -> JObject()),
        "left" -> emitRel(g.child, reg, outer),
        "right" -> JObject("read" -> JObject(
          "common" -> JObject("direct" -> JObject()),
          "baseSchema" -> JObject(
            "names" -> JArray(List(JString(outAttr.name))),
            "struct" -> JObject("types" -> JArray(List(
              typeJson(elemType, outAttr.nullable))))),
          "virtualTable" -> JObject("values" -> JArray(elems.map(v =>
            JObject("fields" -> JArray(List(
              literalJson(CLit(v, elemType)))))).toList))))))
    // physical layout hints (repartition/coalesce) are invisible to the
    // logical plan exchange — Substrait carries no partitioning, and the
    // consumer re-plans layout on its own engine
    case r: Repartition => emitRel(r.child, reg, outer)
    case r: RepartitionByExpression => emitRel(r.child, reg, outer)
    case other => throw new IllegalArgumentException(
      s"substrait emit: unsupported node ${other.nodeName}")
  }

  /** A scan: a leaf relation, possibly under view and alias wrappers. */
  private def isScanLeaf(plan: LogicalPlan): Boolean = plan match {
    case _: LeafNode => true
    case View(_, _, child, _) => isScanLeaf(child)
    case SubqueryAlias(_, c) => isScanLeaf(c)
    case _ => false
  }

  private def fieldRef(i: Int): JValue =
    JObject("selection" -> JObject(
      "directReference" -> JObject("structField" ->
        (if (i == 0) JObject() else JObject("field" -> JInt(i)))),
      "rootReference" -> JObject()))

  private def sigOf(name: String, args: Seq[CExpr]): String =
    name + ":" + args.map(a => shortType(a.dataType)).mkString("_")

  private def shortType(dt: DataType): String = dt match {
    case ByteType => "i8"; case ShortType => "i16"
    case IntegerType => "i32"; case LongType => "i64"
    case FloatType => "fp32"; case DoubleType => "fp64"
    case StringType => "str"; case DateType => "date"
    case BooleanType => "bool"; case _: DecimalType => "dec"
    case _: TimestampType => "ts"; case _ => "any"
  }

  private def emitExpr(e: CExpr, input: Seq[Attribute], reg: FnReg,
      outer: Seq[Attribute] = Nil): JValue = {
    def fn(name: String, args: Seq[CExpr]): JValue =
      JObject("scalarFunction" -> JObject(
        "functionReference" -> JInt(reg.anchor(sigOf(name, args))),
        "outputType" -> typeJson(e.dataType, e.nullable),
        "arguments" -> JArray(args.map(a =>
          JObject("value" -> emitExpr(a, input, reg, outer))).toList)))
    e match {
      case a: AttributeReference =>
        val i = input.indexWhere(_.exprId == a.exprId)
        if (i < 0) throw new IllegalArgumentException(
          s"substrait emit: unresolved reference ${a.name}")
        fieldRef(i)
      case Alias(child, _) => emitExpr(child, input, reg, outer)
      case l: CLit => JObject("literal" -> literalJson(l))
      case CAnd(l, r) => fn("and", Seq(l, r))
      case COr(l, r) => fn("or", Seq(l, r))
      case CNot(c) => fn("not", Seq(c))
      case EqualTo(l, r) => fn("equal", Seq(l, r))
      case LessThan(l, r) => fn("lt", Seq(l, r))
      case GreaterThan(l, r) => fn("gt", Seq(l, r))
      case LessThanOrEqual(l, r) => fn("lte", Seq(l, r))
      case GreaterThanOrEqual(l, r) => fn("gte", Seq(l, r))
      case CAdd(l, r, _) => fn("add", Seq(l, r))
      case CSubtract(l, r, _) => fn("subtract", Seq(l, r))
      case CMultiply(l, r, _) => fn("multiply", Seq(l, r))
      case CDivide(l, r, _) => fn("divide", Seq(l, r))
      case CRemainder(l, r, _) => fn("modulus", Seq(l, r))
      case org.apache.spark.sql.catalyst.expressions.BitwiseAnd(l, r) =>
        fn("bitwise_and", Seq(l, r))
      case org.apache.spark.sql.catalyst.expressions.ShiftRight(l, r) =>
        fn("shift_right", Seq(l, r))
      case CLike(l, r, _) => fn("like", Seq(l, r))
      case CIsNull(c) => fn("is_null", Seq(c))
      case CIsNotNull(c) => fn("is_not_null", Seq(c))
      // dense-key probe: the map rides as a base64 string literal in an
      // extension-space function; consume rebuilds the exact expression
      case p: graft.functions.DenseKeyProbe =>
        fn(graft.functions.DenseKeyProbe.Name, graft.functions.DenseKeyProbe.wireArgs(p))
      // a NULL literal under a cast is the cast target's typed null
      // (Substrait has no NullType)
      case CCast(CLit(null, _), dt, _, _) => JObject("literal" -> literalJson(CLit(null, dt)))
      case CCast(child, dt, _, _) =>
        JObject("cast" -> JObject(
          "type" -> typeJson(dt, e.nullable),
          "input" -> emitExpr(child, input, reg, outer),
          "failureBehavior" -> JString("FAILURE_BEHAVIOR_THROW_EXCEPTION")))
      case CCaseWhen(branches, elseValue) =>
        JObject("ifThen" -> JObject(
          "ifs" -> JArray(branches.map { case (c, v) =>
            JObject("if" -> emitExpr(c, input, reg, outer),
              "then" -> emitExpr(v, input, reg, outer))
          }.toList),
          "else" -> elseValue.map(emitExpr(_, input, reg, outer)).getOrElse(JNothing)))
      case CCoalesce(children) if children.size == 1 =>
        emitExpr(children.head, input, reg, outer)
      case CCoalesce(children) =>
        // Substrait core has no first-class coalesce — lower to the
        // equivalent if-then chain (the consumer rebuilds it as CASE WHEN;
        // same null semantics: first non-null child wins). Children are
        // emitted twice (condition + branch): only valid because plan
        // expressions here are deterministic.
        JObject("ifThen" -> JObject(
          "ifs" -> JArray(children.init.map { c =>
            JObject("if" -> emitExpr(CIsNotNull(c), input, reg, outer),
              "then" -> emitExpr(c, input, reg, outer))
          }.toList),
          "else" -> emitExpr(children.last, input, reg, outer)))
      case CIn(value, list) if list.forall(_.isInstanceOf[CLit]) =>
        JObject("singularOrList" -> JObject(
          "value" -> emitExpr(value, input, reg, outer),
          "options" -> JArray(list.map(x =>
            emitExpr(x, input, reg, outer)).toList)))
      case CFloor(c) => fn("floor", Seq(c))
      case CCeil(c) => fn("ceil", Seq(c))
      case CContains(l, r) => fn("contains", Seq(l, r))
      case CStartsWith(l, r) => fn("starts_with", Seq(l, r))
      case CEndsWith(l, r) => fn("ends_with", Seq(l, r))
      case CYear(c) => extractFn("YEAR", c, e, input, reg, outer)
      case CMonth(c) => extractFn("MONTH", c, e, input, reg, outer)
      case CDayOfMonth(c) => extractFn("DAY", c, e, input, reg, outer)
      case CQuarter(c) => extractFn("QUARTER", c, e, input, reg, outer)
      case CWindowExpression(fun, WindowSpecDefinition(parts, order, frame)) =>
        val (name, wargs, distinct) = fun match {
          case agg: AggregateExpression => measure(agg)
          case _: CCumeDist => ("cume_dist", Nil, false)
          case CNTile(b) => ("ntile", Seq(b), false)
          case CLead(in0, off, _, false) => ("lead", Seq(in0, off), false)
          case CLag(in0, off, _, false) => ("lag", Seq(in0, off), false)
          case other => (PlanVocabulary.rankingName(other).getOrElse(
            throw new IllegalArgumentException(
              s"substrait emit: window function ${other.prettyName}")), Nil, false)
        }
        def boundJson(b: CExpr): JValue = b match {
          case UnboundedPreceding | UnboundedFollowing =>
            JObject("unbounded" -> JObject())
          case CCurrentRow => JObject("currentRow" -> JObject())
          // analyzed bounds keep arithmetic (`ROWS 2 PRECEDING` is
          // UnaryMinus(2)) — fold any constant bound to its offset
          case e0 if e0.foldable =>
            val n = e0.eval().asInstanceOf[Number].longValue()
            if (n < 0) JObject("preceding" -> JObject("offset" -> JString((-n).toString)))
            else if (n > 0) JObject("following" -> JObject("offset" -> JString(n.toString)))
            else JObject("currentRow" -> JObject())
          case other => throw new IllegalArgumentException(
            s"substrait emit: window bound ${other.sql}")
        }
        val frameFields: List[(String, JValue)] = frame match {
          case SpecifiedWindowFrame(ft, lower, upper) =>
            List(
              "boundsType" -> JString(ft match {
                case RowFrame => "BOUNDS_TYPE_ROWS"
                case RangeFrame => "BOUNDS_TYPE_RANGE"
              }),
              "lowerBound" -> boundJson(lower),
              "upperBound" -> boundJson(upper))
          case UnspecifiedFrame => Nil
          case other => throw new IllegalArgumentException(
            s"substrait emit: window frame ${other.sql}")
        }
        JObject(("windowFunction" -> JObject(List(
          "functionReference" -> JInt(reg.anchor(sigOf(name, wargs))),
          "outputType" -> typeJson(e.dataType, e.nullable),
          "invocation" -> JString(
            if (distinct) "AGGREGATION_INVOCATION_DISTINCT"
            else "AGGREGATION_INVOCATION_ALL"),
          "arguments" -> JArray(wargs.map(a =>
            JObject("value" -> emitExpr(a, input, reg, outer))).toList),
          "partitions" -> JArray(parts.map(emitExpr(_, input, reg, outer)).toList),
          "sorts" -> JArray(order.map(sortField(_, input, reg, outer)).toList)) ++
          frameFields)) :: Nil)
      case COuterReference(a) =>
        // depth-1 correlation: index into the ENCLOSING rel's input
        val i = outer.indexWhere(_.exprId == a.exprId)
        if (i < 0) throw new IllegalArgumentException(
          s"substrait emit: outer reference ${a.name} not found in enclosing scope")
        JObject("selection" -> JObject(
          "directReference" -> JObject("structField" ->
            (if (i == 0) JObject() else JObject("field" -> JInt(i)))),
          "outerReference" -> JObject("stepsOut" -> JInt(1))))
      case ss: CScalarSubquery =>
        JObject("subquery" -> JObject("scalar" -> JObject(
          "input" -> emitRel(ss.plan, reg, input))))
      case ex: CExists =>
        JObject("subquery" -> JObject("setPredicate" -> JObject(
          "predicateOp" -> JString("PREDICATE_OP_EXISTS"),
          "tuples" -> emitRel(ex.plan, reg, input))))
      case CInSubquery(values, lq: CListQuery) =>
        JObject("subquery" -> JObject("inPredicate" -> JObject(
          "needles" -> JArray(values.map(emitExpr(_, input, reg, outer)).toList),
          "haystack" -> emitRel(lq.plan, reg, input))))
      case other => throw new IllegalArgumentException(
        s"substrait emit: unsupported expression ${other.getClass.getSimpleName}: ${other.sql}")
    }
  }

  /** Substrait models EXTRACT as `extract` with a leading enum argument
    * (the field name), mirrored by the consumer's enum parsing. */
  private def extractFn(field: String, c: CExpr, e: CExpr,
      input: Seq[Attribute], reg: FnReg, outer: Seq[Attribute]): JValue =
    JObject("scalarFunction" -> JObject(
      "functionReference" -> JInt(reg.anchor(sigOf("extract", Seq(c)))),
      "outputType" -> typeJson(e.dataType, e.nullable),
      "arguments" -> JArray(List(
        JObject("enum" -> JString(field)),
        JObject("value" -> emitExpr(c, input, reg, outer))))))

  /** An aggregate call in Substrait's spelling: `count(*)` (a count of
    * constants) takes no arguments. */
  private def measure(agg: AggregateExpression): (String, Seq[CExpr], Boolean) =
    PlanVocabulary.aggregate(agg) match {
      case ("count", cs, d) if cs.forall(_.foldable) => ("count", Nil, d)
      case m => m
    }

  private def sortField(so: SortOrder, input: Seq[Attribute], reg: FnReg,
      outer: Seq[Attribute]): JValue = {
    val dir = (so.direction, so.nullOrdering) match {
      case (Ascending, NullsFirst) => "SORT_DIRECTION_ASC_NULLS_FIRST"
      case (Ascending, NullsLast) => "SORT_DIRECTION_ASC_NULLS_LAST"
      case (Descending, NullsFirst) => "SORT_DIRECTION_DESC_NULLS_FIRST"
      case (Descending, NullsLast) => "SORT_DIRECTION_DESC_NULLS_LAST"
    }
    JObject("expr" -> emitExpr(so.child, input, reg, outer), "direction" -> JString(dir))
  }

  private def emitMeasure(agg: AggregateExpression, input: Seq[Attribute],
      reg: FnReg, outer: Seq[Attribute] = Nil): JValue = {
    val (name, args, distinct) = measure(agg)
    val invocation =
      if (distinct) "AGGREGATION_INVOCATION_DISTINCT"
      else "AGGREGATION_INVOCATION_ALL"
    JObject("measure" -> JObject(
      "functionReference" -> JInt(reg.anchor(sigOf(name, args))),
      "phase" -> JString("AGGREGATION_PHASE_INITIAL_TO_RESULT"),
      "outputType" -> typeJson(agg.dataType, agg.nullable),
      "invocation" -> JString(invocation),
      "arguments" -> JArray(args.map(a =>
        JObject("value" -> emitExpr(a, input, reg, outer))).toList)))
  }

  private def literalJson(l: CLit): JValue = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (l.value == null)
      JObject("null" -> typeJson(l.dataType, nullable = true))
    else l.dataType match {
      case BooleanType => JObject("boolean" -> JBool(l.value.asInstanceOf[Boolean]))
      case ByteType => JObject("i8" -> JInt(l.value.asInstanceOf[Byte].toInt))
      case ShortType => JObject("i16" -> JInt(l.value.asInstanceOf[Short].toInt))
      case IntegerType => JObject("i32" -> JInt(l.value.asInstanceOf[Int]))
      case LongType => JObject("i64" -> JString(l.value.toString))
      case FloatType => JObject("fp32" -> JDouble(l.value.asInstanceOf[Float].toDouble))
      case DoubleType => JObject("fp64" -> JDouble(l.value.asInstanceOf[Double]))
      case StringType => JObject("string" -> JString(l.value.toString))
      case DateType => JObject("date" -> JInt(l.value.asInstanceOf[Int]))
      case _: TimestampType =>
        JObject("precisionTimestamp" -> JObject(
          "precision" -> JInt(6), "value" -> JString(l.value.toString)))
      case dt: DecimalType =>
        val bd = l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal
        val unscaled = bd.unscaledValue()
        // 16-byte little-endian two's complement per the substrait spec
        val be = unscaled.toByteArray
        val sign: Byte = if (unscaled.signum() < 0) -1 else 0
        val le = (be.reverse ++ Array.fill(16 - be.length)(sign)).take(16)
        JObject("decimal" -> JObject(
          "value" -> JString(java.util.Base64.getEncoder.encodeToString(le)),
          "precision" -> JInt(dt.precision), "scale" -> JInt(dt.scale)))
      case other => throw new IllegalArgumentException(
        s"substrait emit: unsupported literal type $other")
    }
  }

  private def typeJson(dt: DataType, nullable: Boolean): JValue = {
    val nullability =
      if (nullable) "NULLABILITY_NULLABLE" else "NULLABILITY_REQUIRED"
    val inner = JObject("nullability" -> JString(nullability))
    dt match {
      case BooleanType => JObject("bool" -> inner)
      case ByteType => JObject("i8" -> inner)
      case ShortType => JObject("i16" -> inner)
      case IntegerType => JObject("i32" -> inner)
      case LongType => JObject("i64" -> inner)
      case FloatType => JObject("fp32" -> inner)
      case DoubleType => JObject("fp64" -> inner)
      case StringType => JObject("string" -> inner)
      case BinaryType => JObject("binary" -> inner)
      case DateType => JObject("date" -> inner)
      case _: TimestampType | TimestampNTZType => JObject("timestamp" -> inner)
      case d: DecimalType => JObject("decimal" -> JObject(
        "scale" -> JInt(d.scale), "precision" -> JInt(d.precision),
        "nullability" -> JString(nullability)))
      case other => throw new IllegalArgumentException(
        s"substrait emit: unsupported type $other")
    }
  }
}
