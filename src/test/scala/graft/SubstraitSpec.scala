package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{DataFusionProto, DataFusionProtoPhysical, SubstraitSerde}

/** Substrait wire-format conformance.
  *
  * Consumer: executes the reference's OWN Substrait TPC-H fixture plans
  * (substrait/tests/testdata/tpch_substrait_plans, protobuf-JSON files
  * produced by Isthmus — plans this repo did not write) against the
  * parquet fixtures. The reference's consumer tests do the same
  * (substrait crate `serde` feature).
  *
  * Emitter: our DataFrame core emits Substrait JSON that our consumer
  * re-plans; round-trip results must equal the original.
  */
class SubstraitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val fixtureDir =
    "/root/reference/datafusion/substrait/tests/testdata/tpch_substrait_plans"
  private val dataDir = TestSpark.sfDir

  private def available = new java.io.File(fixtureDir).isDirectory

  private val tpchTables =
    Set("lineitem", "orders", "customer", "supplier", "part", "nation", "region")

  private def tableFor(name: String): Option[DataFrame] =
    if (tpchTables(name)) Some(spark.read.parquet(s"$dataDir/$name.parquet"))
    // partsupp is not in the fixture set: an empty relation suffices for
    // plan building (the consumer NULL-fills declared columns)
    else if (name == "partsupp") Some(spark.emptyDataFrame)
    else None

  private def planJson(q: Int): String = {
    val f = f"$fixtureDir/query_$q%02d_plan.json"
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  test("consume the reference's TPC-H q1 Substrait plan and execute it") {
    assume(available)
    val df = SubstraitSerde.consumeJson(spark, planJson(1), tableFor)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // q1 output: group keys + 8 aggregates, sorted by the keys
    assert(df.columns.toSeq == Seq("L_RETURNFLAG", "L_LINESTATUS", "SUM_QTY",
      "SUM_BASE_PRICE", "SUM_DISC_PRICE", "SUM_CHARGE", "AVG_QTY", "AVG_PRICE",
      "AVG_DISC", "COUNT_ORDER"))
    // reference semantics: l_shipdate <= date '1998-12-01' - interval
    // (the fixture's interval literal lands the bound on 1998-11-30)
    val expected = spark.read.parquet(s"$dataDir/lineitem.parquet")
      .createOrReplaceTempView("substrait_l")
    val exp = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity), sum(l_extendedprice),
        |  sum(l_extendedprice * (1 - l_discount)),
        |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
        |  avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
        |FROM substrait_l
        |WHERE CAST(l_shipdate AS TIMESTAMP) <=
        |      TIMESTAMP '1998-12-01 00:00:00' - make_dt_interval(0,0,0,10368)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
    assert(rows.length == exp.length)
    def num(v: Any): Double = v.toString.toDouble
    rows.zip(exp).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getString(1) == b.getString(1))
      (2 to 8).foreach(i => assert(math.abs(num(a.get(i)) - num(b.get(i))) < 1e-4,
        s"aggregate $i differs: ${a.get(i)} vs ${b.get(i)}"))
      assert(num(a.get(9)) == num(b.get(9)))
    }
  }

  test("consume and plan every reference TPC-H Substrait plan") {
    assume(available)
    // All fixture plans, including the subquery forms (scalar,
    // setPredicate EXISTS, inPredicate — correlated via outerReference),
    // which map onto Spark 4's Dataset.scalar()/exists() subquery API.
    // query_15's fixture file is an empty JSON placeholder upstream.
    val qs = (1 to 22).filterNot(_ == 15)
    val failures = scala.collection.mutable.ListBuffer[String]()
    qs.foreach { q =>
      try {
        val df = SubstraitSerde.consumeJson(spark, planJson(q), tableFor)
        assert(df.queryExecution.executedPlan != null)
      } catch {
        case e: Throwable =>
          failures += s"q$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    failures.foreach(f => info(s"FAILED $f"))
    assert(failures.isEmpty, s"${failures.size} fixture plans failed to consume")
  }

  test("fixture plans with full fixture columns also execute") {
    assume(available)
    // q6's columns all exist in the fixture lineitem; execution must work
    val df = SubstraitSerde.consumeJson(spark, planJson(6), tableFor)
    assert(df.collect().length >= 0) // runs end-to-end (single revenue row)
    assert(df.columns.length == 1)
  }

  test("every consumable plan also executes end-to-end") {
    assume(available)
    // Execution smoke at sf0.001: plans touching columns the narrow
    // fixtures lack (l_commitdate, p_container, ps_*) run against typed
    // NULLs and produce degenerate-but-valid results; what this catches
    // is runtime breakage in the subquery rewrites (OuterReference
    // binding, exists/scalar physical planning), not values.
    val qs = (1 to 22).filterNot(_ == 15)
    val failures = scala.collection.mutable.ListBuffer[String]()
    qs.foreach { q =>
      try {
        val n = SubstraitSerde.consumeJson(spark, planJson(q), tableFor).count()
        assert(n >= 0)
      } catch {
        case e: Throwable =>
          failures += s"q$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    failures.foreach(f => info(s"FAILED $f"))
    assert(failures.isEmpty, s"${failures.size} fixture plans failed to execute")
  }

  test("q18 (correlated inPredicate) matches the SQL equivalent on values") {
    assume(available)
    // Every column q18 touches exists in the fixture tables, so the
    // consumed Substrait plan must agree with Spark's own evaluation of
    // the same query — this value-checks the IN→EXISTS subquery rewrite
    val df = SubstraitSerde.consumeJson(spark, planJson(18), tableFor)
    Seq("lineitem", "orders", "customer").foreach(t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(s"st_$t"))
    val exp = spark.sql(
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       sum(l_quantity)
        |FROM st_customer JOIN st_orders ON c_custkey = o_custkey
        |     JOIN st_lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM st_lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate
        |LIMIT 100""".stripMargin).collect()
    val got = df.collect()
    assert(exp.nonEmpty, "fixture should produce qualifying orders (5 at sf0.001)")
    assert(got.length == exp.length,
      s"row count: substrait ${got.length} vs sql ${exp.length}")
    got.zip(exp).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getLong(2) == b.getLong(2),
        s"row differs: $a vs $b")
      assert(math.abs(a.getDouble(5) - b.getDouble(5)) < 1e-6)
    }
  }

  test("emit/consume round-trip: filter + project") {
    val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
    li.createOrReplaceTempView("rt_lineitem")
    val orig = spark.table("rt_lineitem")
      .where("l_quantity > 30 AND l_discount < 0.05")
      .selectExpr("l_orderkey", "l_extendedprice * (1 - l_discount) AS net")
    val json = SubstraitSerde.emitJson(orig)
    val back = SubstraitSerde.consumeJson(spark, json,
      n => if (n == "rt_lineitem") Some(spark.table("rt_lineitem")) else None)
    assert(back.columns.toSeq == orig.columns.toSeq)
    val a = orig.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("emit/consume round-trip: join + aggregate + sort + limit") {
    spark.read.parquet(s"$dataDir/orders.parquet").createOrReplaceTempView("rt_orders")
    spark.read.parquet(s"$dataDir/customer.parquet").createOrReplaceTempView("rt_customer")
    val orig = spark.sql(
      """SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS total
        |FROM rt_orders JOIN rt_customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 1000.0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment
        |LIMIT 10""".stripMargin)
    val json = SubstraitSerde.emitJson(orig)
    val back = SubstraitSerde.consumeJson(spark, json,
      n => n match {
        case "rt_orders" => Some(spark.table("rt_orders"))
        case "rt_customer" => Some(spark.table("rt_customer"))
        case _ => None
      })
    assert(back.columns.toSeq == orig.columns.toSeq)
    assert(back.collect().map(_.toString).toSeq ==
      orig.collect().map(_.toString).toSeq)
  }

  test("emit/consume round-trip: distinct and union") {
    spark.read.parquet(s"$dataDir/nation.parquet").createOrReplaceTempView("rt_nation")
    val orig = spark.table("rt_nation").select("n_regionkey").distinct()
    val back = SubstraitSerde.consumeJson(spark, SubstraitSerde.emitJson(orig),
      n => if (n == "rt_nation") Some(spark.table("rt_nation")) else None)
    assert(back.collect().map(_.get(0).toString).sorted.sameElements(
      orig.collect().map(_.get(0).toString).sorted))

    val u = spark.table("rt_nation").select("n_name")
      .union(spark.table("rt_nation").select("n_name"))
    val ub = SubstraitSerde.consumeJson(spark, SubstraitSerde.emitJson(u),
      n => if (n == "rt_nation") Some(spark.table("rt_nation")) else None)
    assert(ub.count() == u.count())
  }

  test("emit/consume round-trip: subquery expressions (scalar, EXISTS, IN)") {
    spark.read.parquet(s"$dataDir/orders.parquet").createOrReplaceTempView("rt2_orders")
    spark.read.parquet(s"$dataDir/customer.parquet").createOrReplaceTempView("rt2_customer")
    val orig = spark.sql(
      """SELECT c_custkey, c_acctbal FROM rt2_customer
        |WHERE c_acctbal > (SELECT avg(o_totalprice) * 0.01 FROM rt2_orders
        |                   WHERE o_custkey = c_custkey)
        |  AND EXISTS (SELECT 1 FROM rt2_orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |  AND c_custkey IN (SELECT o_custkey FROM rt2_orders
        |                    WHERE o_totalprice > 1000.0)
        |ORDER BY c_custkey""".stripMargin)
    val json = SubstraitSerde.emitJson(orig)
    assert(json.contains("\"scalar\"") && json.contains("PREDICATE_OP_EXISTS") &&
      json.contains("\"inPredicate\"") && json.contains("\"outerReference\""))
    val back = SubstraitSerde.consumeJson(spark, json,
      n => n match {
        case "rt2_orders" => Some(spark.table("rt2_orders"))
        case "rt2_customer" => Some(spark.table("rt2_customer"))
        case _ => None
      })
    val a = orig.collect().map(_.toString).toSeq
    val b = back.collect().map(_.toString).toSeq
    assert(a.nonEmpty, "round-trip query should select rows")
    assert(a == b, s"round-trip mismatch: ${a.take(3)} vs ${b.take(3)}")
  }

  test("emit/consume round-trip: window functions") {
    spark.read.parquet(s"$dataDir/customer.parquet").createOrReplaceTempView("rt3_customer")
    val orig = spark.sql(
      """SELECT c_custkey, c_mktsegment,
        |  RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
        |  SUM(c_acctbal) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_custkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS run3,
        |  ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn
        |FROM rt3_customer
        |ORDER BY c_custkey""".stripMargin)
    val json = SubstraitSerde.emitJson(orig)
    assert(json.contains("\"windowFunction\"") &&
      json.contains("BOUNDS_TYPE_ROWS") && json.contains("\"preceding\""))
    val back = SubstraitSerde.consumeJson(spark, json,
      n => if (n == "rt3_customer") Some(spark.table("rt3_customer")) else None)
    val a = orig.collect().map(_.toString).toSeq
    val b = back.collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b,
      s"window round-trip mismatch: ${a.take(2)} vs ${b.take(2)}")
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Consumers read the session's TPC-H views by name. */
  private def registered(): Unit = Tables.registerAll(spark, dataDir)
  private val views: String => Option[DataFrame] = n => Some(spark.table(n))

  /** Emit → consume over the registered views; columns and rows must
    * equal the source's. */
  private def roundtrip(df: DataFrame): Unit = {
    val json = SubstraitSerde.emitJson(df)
    val back = SubstraitSerde.consumeJson(spark, json, views)
    assert(back.columns.toSeq == df.columns.toSeq, s"columns differ for $json")
    assert(sortedRows(back) == sortedRows(df), s"rows differ for $json")
  }

  test("emit/consume round-trip: left join with an expression condition") {
    registered()
    roundtrip(spark.table("region")
      .join(spark.table("nation"),
        col("r_regionkey") === col("n_regionkey") && col("n_nationkey") > 5, "left")
      .select(col("r_name"), col("n_name")))
  }

  test("emit/consume round-trip: sort with NULLS LAST over a CASE column") {
    registered()
    // the NULL branch is a typed null of the CASE's decimal type on the wire
    roundtrip(spark.table("customer")
      .select(col("c_name"),
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")).as("bal"))
      .orderBy(col("bal").desc_nulls_last, col("c_name").asc)
      .limit(25))
  }

  test("unsupported nodes fail loudly at emit time") {
    registered()
    // a data-dependent explode: Substrait core has no unnest relation
    val exploded = spark.table("nation")
      .select(explode(array(col("n_nationkey"), col("n_regionkey"))).as("k"))
    val e = intercept[IllegalArgumentException](SubstraitSerde.emitJson(exploded))
    assert(e.getMessage.contains("unsupported node Generate"), e.getMessage)
  }

  test("distinct aggregates and group-only plans round-trip all three plan wires") {
    registered()
    val wires: Seq[(String, DataFrame => DataFrame)] = Seq(
      "substrait" -> (df => SubstraitSerde.consumeJson(spark, SubstraitSerde.emitJson(df), views)),
      "logical proto" -> (df => DataFusionProto.consume(spark, DataFusionProto.emit(df), views)),
      "physical proto" -> (df =>
        DataFusionProtoPhysical.consume(spark, DataFusionProtoPhysical.emit(df), views)))
    val queries = Seq(
      "SELECT l_returnflag, count(DISTINCT l_linestatus, l_suppkey) AS n FROM lineitem " +
        "GROUP BY l_returnflag",
      "SELECT l_returnflag, avg(DISTINCT l_quantity) AS a FROM lineitem GROUP BY l_returnflag",
      "SELECT DISTINCT n_regionkey FROM nation",
      "SELECT n_regionkey FROM nation GROUP BY n_regionkey")
    val failures = for {
      q <- queries
      df = spark.sql(q)
      expected = sortedRows(df)
      (wire, through) <- wires
      problem <- (try {
        val got = sortedRows(through(df))
        if (got == expected) None else Some(s"rows ${got.take(3)} vs ${expected.take(3)}")
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
    } yield s"$wire [$q]: $problem"
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("emitted JSON carries substrait structure (extensions + root names)") {
    spark.read.parquet(s"$dataDir/region.parquet").createOrReplaceTempView("rt_region")
    val df = spark.table("rt_region").where("r_regionkey > 1").select("r_name")
    val json = SubstraitSerde.emitJson(df)
    assert(json.contains("\"extensionUris\""))
    assert(json.contains("\"extensionFunction\""))
    assert(json.contains("\"gt:"))
    assert(json.contains("\"names\":[\"r_name\"]"))
    assert(json.contains("\"namedTable\""))
  }
}
