package graft

import org.scalatest.funsuite.AnyFunSuite

class DFContextSpec extends AnyFunSuite {
  import TestSpark._

  lazy val ctx: DFContext = { val c = DFContext(spark); c.registerAll(sfDir); c }

  test("register + sql end to end") {
    ctx.register("nation2", s"$sfDir/nation.parquet")
    assert(ctx.sql("SELECT count(*) AS n FROM nation2").collect().head.getLong(0) == 25)
  }

  test("postgres regex operators: textual rewrite shapes") {
    import graft.plans.DialectParser.{rewriteRegexOps => rw}
    assert(rw("select 'abc' ~ 'a.c'") == "select graft_regexp_like('abc', 'a.c', '')")
    assert(rw("select 'abc' ~* 'A.C'") == "select graft_regexp_like('abc', 'A.C', 'i')")
    assert(rw("select col !~ '.*' AS c FROM t") ==
      "select (NOT graft_regexp_like(col, '.*', '')) AS c FROM t")
    assert(rw("select null !~* 'x'") == "select (NOT graft_regexp_like(null, 'x', 'i'))")
    // function-call and qualified operands
    assert(rw("select right('foo', 1) ~ t.s from t") ==
      "select graft_regexp_like(right('foo', 1), t.s, '') from t")
    // LIKE-family splices
    assert(rw("select a ~~ 'x%' from t") == "select a LIKE 'x%' from t")
    assert(rw("select a !~~ 'x%' from t") == "select a NOT LIKE 'x%' from t")
    assert(rw("select a ~~* 'x%' from t") == "select a ILIKE 'x%' from t")
    assert(rw("select a !~~* 'x%' from t") == "select a NOT ILIKE 'x%' from t")
    // untouched: tilde inside string literals, != operator
    assert(rw("select '~' , a != b from t") == "select '~' , a != b from t")
    // multiple operators in one statement
    assert(rw("select a ~ 'x' AND b ~* 'y' from t") ==
      "select graft_regexp_like(a, 'x', '') AND graft_regexp_like(b, 'y', 'i') from t")
    // inside CASE WHEN with a cast suffix on the THEN side
    assert(rw("SELECT CASE WHEN split_part(u, '&', 1) ~ '^\\d+$' THEN 1 ELSE 0 END") ==
      "SELECT CASE WHEN graft_regexp_like(split_part(u, '&', 1), '^\\d+$', '') THEN 1 ELSE 0 END")
  }

  test("postgres regex operators execute through the SQL front door") {
    val r = ctx.sql(
      "SELECT n_name FROM nation WHERE n_name ~ '^NATION_2[0-2]$' ORDER BY n_name")
      .collect().map(_.getString(0))
    assert(r.toSeq == Seq("NATION_20", "NATION_21", "NATION_22"), s"got ${r.toSeq}")
    val ci = ctx.sql("SELECT 'Foo' ~* '^f' AS m").collect().head.getBoolean(0)
    assert(ci)
    val nl = ctx.sql("SELECT NULL ~ 'x' AS m").collect().head
    assert(nl.isNullAt(0))
  }

  test("QUALIFY rewrite") {
    val rows = ctx.sql("""
      SELECT s_nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rn
      FROM supplier
      QUALIFY rn = 1""").collect()
    val perNation = ctx.sql(
      "SELECT count(DISTINCT s_nationkey) AS n FROM supplier").collect().head.getLong(0)
    assert(rows.length == perNation)
    assert(rows.forall(_.getInt(2) == 1))
  }

  test("DISTINCT ON rewrite picks first row per key by order") {
    val rows = ctx.sql("""SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
      FROM customer ORDER BY c_nationkey, c_acctbal DESC""").collect()
    val nations = ctx.sql(
      "SELECT count(DISTINCT c_nationkey) AS n FROM customer").collect().head.getLong(0)
    assert(rows.length == nations)
    // each returned row carries its nation's max acctbal
    val maxes = ctx.sql(
      "SELECT c_nationkey, max(c_acctbal) AS m FROM customer GROUP BY c_nationkey")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(r.getDouble(2) == maxes(r.getInt(0))))
  }

  test("QUALIFY followed by ORDER BY and LIMIT keeps the tail outside the predicate") {
    val rows = ctx.sql("""
      SELECT s_nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rn
      FROM supplier
      QUALIFY rn = 1
      ORDER BY s_nationkey
      LIMIT 5""").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getInt(2) == 1))
    // ordered output: nation keys ascending
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
  }

  test("QUALIFY predicate containing an inline window spec is not split") {
    // the predicate is a hidden item of the query's own select list, so its
    // window sees every FROM-scope column, selected or not (next cases)
    val rows = ctx.sql("""
      SELECT s_nationkey, s_suppkey, s_acctbal FROM supplier
      QUALIFY row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) = 1
      LIMIT 3""").collect()
    assert(rows.length == 3)
  }

  test("QUALIFY inside a string literal is text, not a clause") {
    val r = ctx.sql("SELECT 'x QUALIFY y' AS s").collect().map(_.getString(0))
    assert(r.toSeq == Seq("x QUALIFY y"))
  }

  test("QUALIFY predicate over a backticked identifier containing limit") {
    val rows = ctx.sql("""
      SELECT c_nationkey,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS `my limit`
      FROM customer
      QUALIFY `my limit` = 1""").collect()
    val nations = ctx.sql("SELECT count(DISTINCT c_nationkey) FROM customer").collect().head.getLong(0)
    assert(rows.length == nations && rows.forall(_.getInt(1) == 1))
  }

  test("QUALIFY window ordered by a column that is not selected") {
    val got = ctx.sql("""
      SELECT c_custkey FROM customer
      QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) = 1
      ORDER BY c_acctbal""").collect().map(_.getLong(0)).toSeq
    val want = ctx.sql("""
      SELECT c_custkey FROM (
        SELECT c_custkey, c_acctbal, row_number() OVER (
          PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer) WHERE rn = 1
      ORDER BY c_acctbal""").collect().map(_.getLong(0)).toSeq
    assert(got.length > 1 && got == want)
  }

  test("PREPARE / EXECUTE / DEALLOCATE bind $n outside literals and quoted identifiers") {
    ctx.sql("""PREPARE cost_of(STRING, INT) AS
      SELECT $1 AS a, $2 * 10 AS b, "cost $1" AS s, 'cost $2' AS t, $2 AS `$1`""")
    val df = ctx.sql("EXECUTE cost_of(concat('x,', 'y'), 4)")
    val r = df.collect().head
    assert((r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getInt(4)) ==
      (("x,y", 40, "cost $1", "cost $2", 4)))
    assert(df.columns.toSeq == Seq("a", "b", "s", "t", "$1"))
    ctx.sql("DEALLOCATE cost_of")
    intercept[IllegalArgumentException](ctx.sql("EXECUTE cost_of('z', 1)"))
    // a declared type with its own parens and comma
    ctx.sql("PREPARE dec_of(DECIMAL(4, 1)) AS SELECT $1 AS d")
    assert(ctx.sql("EXECUTE dec_of(2.25)").collect().head.getDecimal(0) ==
      new java.math.BigDecimal("2.3"))
  }

  test("DISTINCT ON with parenthesized key expressions") {
    val rows = ctx.sql("""SELECT DISTINCT ON (abs(c_nationkey), c_mktsegment)
        c_nationkey, c_mktsegment, c_acctbal
      FROM customer ORDER BY abs(c_nationkey), c_mktsegment, c_acctbal DESC""").collect()
    val groups = ctx.sql(
      """SELECT count(*) AS n FROM (
        |  SELECT DISTINCT abs(c_nationkey), c_mktsegment FROM customer)""".stripMargin)
      .collect().head.getLong(0)
    assert(rows.length == groups)
  }

  test("QUALIFY predicate with keywords inside string literals is not split") {
    val rows = ctx.sql("""
      SELECT s_nationkey, s_name,
             row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rn
      FROM supplier
      QUALIFY rn = 1 AND s_name <> 'ORDER BY (LIMIT'
      LIMIT 4""").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getInt(2) == 1))
  }

  test("DISTINCT ON key list containing a quoted paren parses") {
    val rows = ctx.sql("""SELECT DISTINCT ON (concat(c_mktsegment, '(x')) c_mktsegment, c_acctbal
      FROM customer ORDER BY concat(c_mktsegment, '(x'), c_acctbal DESC""").collect()
    val segs = ctx.sql("SELECT count(DISTINCT c_mktsegment) AS n FROM customer")
      .collect().head.getLong(0)
    assert(rows.length == segs)
  }

  test("DISTINCT ON with trailing LIMIT") {
    val rows = ctx.sql("""SELECT DISTINCT ON (c_nationkey) c_nationkey, c_acctbal
      FROM customer ORDER BY c_nationkey, c_acctbal DESC LIMIT 4""").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
  }

  test("sqlWithParams binds named placeholders") {
    val n = ctx.sqlWithParams(
      "SELECT count(*) AS n FROM customer WHERE c_acctbal > :minBal AND c_mktsegment = :seg",
      Map("minBal" -> 5000.0, "seg" -> "BUILDING")).collect().head.getLong(0)
    val direct = ctx.sql(
      "SELECT count(*) AS n FROM customer WHERE c_acctbal > 5000.0 AND c_mktsegment = 'BUILDING'")
      .collect().head.getLong(0)
    assert(n == direct && n > 0)
  }

  test("sqlWithParams binds a named parameter inside the QUALIFY predicate") {
    val n = ctx.sqlWithParams("""
      SELECT c_nationkey, c_custkey FROM customer
      QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) <= :k""",
      Map("k" -> 2)).count()
    val want = ctx.sql("""SELECT count(*) FROM (SELECT row_number() OVER (
      PARTITION BY c_nationkey ORDER BY c_custkey) AS rn FROM customer) WHERE rn <= 2""")
      .collect().head.getLong(0)
    assert(n == want && want > 0)
  }

  test("QUALIFY inside a CTE body fails loudly at parse time") {
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException](ctx.sql("""
      WITH t AS (SELECT c_custkey FROM customer
        QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) = 1)
      SELECT count(*) FROM t"""))
    assert(e.getMessage.contains("QUALIFY inside a subquery or CTE is unsupported"), e.getMessage)
  }

  test("DISTINCT ON inside a subquery fails loudly at parse time") {
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException](ctx.sql(
      "SELECT count(*) FROM (SELECT DISTINCT ON (c_nationkey) c_nationkey FROM customer)"))
    assert(e.getMessage.contains("DISTINCT ON inside a subquery or CTE is unsupported"),
      e.getMessage)
  }

  test("information_schema surfaces") {
    val tables = ctx.informationSchemaTables().collect().map(_.getString(0))
    assert(tables.contains("customer") && tables.contains("lineitem"))
    val cols = ctx.informationSchemaColumns("nation").collect().map(_.getString(0))
    assert(cols.sameElements(Array("n_nationkey", "n_name", "n_regionkey")))
  }

  test("explainAnalyze reports per-operator runtime metrics") {
    ctx.register("li_ea", s"$sfDir/lineitem.parquet")
    val out = ctx.explainAnalyze(
      "SELECT l_returnflag, count(*) AS n FROM li_ea WHERE l_quantity < 10 GROUP BY 1")
    assert(out.contains("HashAggregate"))
    assert(out.contains("numOutputRows="))
    // the scan's row counter must reflect actual execution, not zero
    val rowCounts = "numOutputRows=(\\d+)".r.findAllMatchIn(out).map(_.group(1).toLong).toSeq
    assert(rowCounts.exists(_ > 0), s"all-zero metrics:\n$out")
  }

  test("explainAnalyze names the small-input profile and walks its inner plan") {
    val q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1"
    val out = ctx.explainAnalyze(q)
    val lines = out.linesIterator.toSeq
    assert(lines.head.startsWith("SmallInput [small-input profile: input "), out)
    assert(lines.head.contains("adaptive off, 1 shuffle partition"), out)
    // inner operators, indented under the profile line, with live metrics
    assert(lines.tail.nonEmpty && lines.tail.forall(_.startsWith("  ")), out)
    assert(out.contains("HashAggregate") && out.contains("Exchange"), out)
    assert("numOutputRows=(\\d+)".r.findAllMatchIn(out).exists(_.group(1).toLong > 0), out)
    // the plan string lists the inner operators too
    val plan = ctx.sql(q).queryExecution.executedPlan.toString
    assert(plan.contains("small-input profile") && plan.contains("HashAggregate"), plan)
  }

  test("pipe operator: WHERE / ORDER BY / LIMIT / SELECT") {
    // mirrors sqllogictest/test_files/pipe_operator.slt shapes
    val rows = ctx.sql(
      "SELECT n_nationkey, n_name FROM nation |> WHERE n_nationkey > 20 |> ORDER BY n_nationkey DESC |> LIMIT 2 |> SELECT n_nationkey")
      .collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(24, 23))
  }

  test("pipe operator: EXTEND adds a computed column") {
    val r = ctx.sql(
      "SELECT n_nationkey FROM nation |> WHERE n_nationkey < 3 |> EXTEND n_nationkey * 10 AS k10 |> ORDER BY n_nationkey |> LIMIT 1")
      .collect().head
    assert(r.getInt(r.fieldIndex("k10")) == 0)
  }

  test("pipe operator: AGGREGATE with and without GROUP BY") {
    val g = ctx.sql(
      "SELECT n_regionkey, n_nationkey FROM nation |> AGGREGATE count(*) AS n GROUP BY n_regionkey |> ORDER BY n_regionkey")
      .collect()
    assert(g.length == 5 && g.forall(_.getLong(1) == 5L))
    val tot = ctx.sql("SELECT n_nationkey FROM nation |> AGGREGATE count(*) AS n")
      .collect().head.getLong(0)
    assert(tot == 25L)
  }

  test("pipe operator: AS alias + JOIN keeps both sides' qualifiers") {
    val rows = ctx.sql(
      "SELECT n_nationkey, n_regionkey, n_name FROM nation " +
        "|> AS n |> LEFT JOIN region AS r ON n.n_regionkey = r.r_regionkey " +
        "|> SELECT n.n_name, r.r_name |> ORDER BY n_name |> LIMIT 3")
      .collect()
    assert(rows.length == 3 && rows.forall(r => !r.isNullAt(1)))
  }

  test("pipe operator: set operations") {
    val u = ctx.sql(
      "SELECT n_nationkey FROM nation |> WHERE n_nationkey < 2 |> UNION ALL (SELECT n_nationkey FROM nation WHERE n_nationkey < 2)")
      .collect()
    assert(u.length == 4)
    val e = ctx.sql(
      "SELECT n_nationkey FROM nation |> WHERE n_nationkey < 5 |> EXCEPT DISTINCT (SELECT n_nationkey FROM nation WHERE n_nationkey < 3)")
      .collect().map(_.getInt(0)).sorted
    assert(e.toSeq == Seq(3, 4))
  }

  test("pipe operator: post-aggregation WHERE filters on the aggregate") {
    val rows = ctx.sql(
      "SELECT n_regionkey FROM nation |> AGGREGATE count(*) AS n GROUP BY n_regionkey |> WHERE n > 4")
      .collect()
    assert(rows.length == 5) // every region has exactly 5 nations
  }

  test("persistent views in a named schema (CREATE DATABASE / CREATE VIEW)") {
    ctx.sql("CREATE DATABASE IF NOT EXISTS ctxspec")
    ctx.sql(s"CREATE OR REPLACE VIEW ctxspec.small_nation AS SELECT * FROM parquet.`$sfDir/nation.parquet` WHERE n_regionkey = 1")
    ctx.sql("CREATE OR REPLACE VIEW ctxspec.small_count AS SELECT count(*) AS n FROM ctxspec.small_nation")
    // query through the stacked views by qualified name
    assert(ctx.sql("SELECT n FROM ctxspec.small_count").collect().head.getLong(0) == 5L)
    // catalog surfaces list the schema and its views
    val schemas = ctx.informationSchemaSchemata().collect().map(_.getString(0))
    assert(schemas.contains("ctxspec"))
    val views = ctx.informationSchemaTables("ctxspec").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(views.get("small_nation").contains("VIEW"))
    assert(views.get("small_count").contains("VIEW"))
  }

  test("pipe operator: differential vs plain SQL on composed pipelines") {
    // every composition of these segments must equal its hand-written
    // standard-SQL counterpart (order-insensitive compare)
    val cases = Seq(
      ("SELECT c_nationkey, c_acctbal FROM customer |> WHERE c_acctbal > 0 |> AGGREGATE count(*) AS n, sum(c_acctbal) AS s GROUP BY c_nationkey |> WHERE n > 2",
        "SELECT c_nationkey, count(*) AS n, sum(c_acctbal) AS s FROM customer WHERE c_acctbal > 0 GROUP BY c_nationkey HAVING count(*) > 2"),
      ("SELECT s_suppkey, s_acctbal FROM supplier |> EXTEND s_acctbal * 2 AS dbl |> WHERE dbl > 5000 |> SELECT s_suppkey",
        "SELECT s_suppkey FROM supplier WHERE s_acctbal * 2 > 5000"),
      ("SELECT n_nationkey FROM nation |> INTERSECT DISTINCT (SELECT n_regionkey FROM nation)",
        "SELECT n_nationkey FROM nation INTERSECT SELECT n_regionkey FROM nation"),
      ("SELECT o_orderpriority, o_totalprice FROM orders |> AGGREGATE max(o_totalprice) AS m GROUP BY o_orderpriority |> ORDER BY m DESC, o_orderpriority |> LIMIT 3",
        "SELECT o_orderpriority, max(o_totalprice) AS m FROM orders GROUP BY o_orderpriority ORDER BY m DESC, o_orderpriority LIMIT 3"))
    for ((pipe, plain) <- cases) {
      val a = ctx.sql(pipe).collect().map(_.toString).sorted
      val b = ctx.sql(plain).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"pipe != plain for: $pipe")
    }
  }

  test("explain returns a physical plan") {
    ctx.register("nation_explain", s"$sfDir/nation.parquet")
    val plan = ctx.explain("SELECT count(*) FROM nation_explain WHERE n_regionkey = 1")
    assert(plan.contains("Physical Plan"))
    // another suite may have cached the underlying relation, in which case
    // the scan is served from memory instead of parquet pushdown
    assert(plan.contains("PushedFilters") || plan.contains("InMemoryTableScan"))
  }
}
