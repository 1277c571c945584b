package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsyncBatch
import graft.plans.GraftExtensions

class ExtensionsSpec extends AnyFunSuite {

  // GraftSession's session carries GraftExtensions: the UnionsToFilter
  // tests below see the injected rule fire on its own
  private lazy val spark = TestSpark.spark

  test("UnionsToFilter collapses same-source DISTINCT union branches into one scan") {
    val li = Tables.load(spark, TestSpark.sfDir, "lineitem")
    val a = li.filter(col("l_quantity") < 5)
    val b = li.filter(col("l_quantity") > 45)
    val unioned = a.unionAll(b).distinct()
    val optimized = unioned.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Union"), s"distinct union not collapsed:\n$optimized")
    // correctness: equals the OR-filter formulation
    val expect = li.filter(col("l_quantity") < 5 || col("l_quantity") > 45).distinct().count()
    assert(unioned.count() == expect)
  }

  test("UnionsToFilter preserves UNION ALL duplicates (overlapping predicates)") {
    val li = Tables.load(spark, TestSpark.sfDir, "lineitem")
    // overlap: rows with 5 < l_quantity < 10 satisfy BOTH branches and must
    // be emitted twice by UNION ALL — the rule must not fire on a bare union
    val a = li.filter(col("l_quantity") < 10)
    val b = li.filter(col("l_quantity") > 5)
    val unioned = a.unionAll(b)
    assert(unioned.queryExecution.optimizedPlan.toString.contains("Union"),
      "bare UNION ALL must not be collapsed")
    assert(unioned.count() == a.count() + b.count())
  }

  test("UnionsToFilter skips non-deterministic predicates") {
    val li = Tables.load(spark, TestSpark.sfDir, "lineitem")
    val a = li.filter(rand(1) < 0.5)
    val b = li.filter(rand(2) < 0.5)
    val unioned = a.unionAll(b).distinct()
    assert(unioned.queryExecution.optimizedPlan.toString.contains("Union"),
      "non-deterministic branch predicates must not be OR-merged")
  }

  test("rule leaves different-source unions alone") {
    val li = Tables.load(spark, TestSpark.sfDir, "lineitem")
    val o = Tables.load(spark, TestSpark.sfDir, "orders")
    val u = li.select(col("l_orderkey").as("k")).filter(col("k") < 100)
      .unionAll(o.select(col("o_orderkey").as("k")).filter(col("k") > 200))
    assert(u.queryExecution.optimizedPlan.toString.contains("Union"))
    assert(u.count() > 0)
  }

  test("AsyncBatch.mapAsync preserves order and values") {
    val s = spark
    import s.implicits._
    val ds = s.range(0, 1000).as[Long]
    val out = AsyncBatch.mapAsync(ds, concurrency = 8) { x =>
      // simulate a slow external call
      if (x % 100 == 0) Thread.sleep(1)
      x * 2
    }.collect()
    assert(out.sorted.sameElements((0L until 1000L).map(_ * 2)))
  }

  private val injected = GraftExtensions.functions.map(_._1)

  private def tempFunctions(s: SparkSession): Set[String] =
    s.catalog.listFunctions().collect().filter(_.isTemporary).map(_.name).toSet

  test("GraftExtensions is the one function registry: no session-local registration") {
    assert(injected.distinct == injected, "a name injected twice keeps only its last builder")
    // every injected name resolves on a fresh session, no DFContext built
    val fresh = TestSpark.spark.newSession()
    assert(injected.filterNot(fresh.catalog.functionExists).isEmpty)
    // building a DFContext leaves the session's function table as it was
    val before = tempFunctions(fresh)
    def changed = (tempFunctions(fresh) diff before) ++ (before diff tempFunctions(fresh))
    DFContext(fresh)
    assert(changed.isEmpty, "DFContext changed functions")
    // so does running the inventory lines that call engine functions
    for (q <- Seq("text_ngrams_udtf", "win_custom_pwavg", "fn_crypto2", "agg_countmin")) {
      assert(SparkEntry.queries(q)(fresh, TestSpark.sfDir).collect().nonEmpty, q)
      assert(changed.isEmpty, s"$q changed functions")
    }
  }

  test("injected names replace exactly the Spark built-ins make_time and to_time") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    assert(injected.toSet.intersect(builtin) == Set("make_time", "to_time"))
  }

  test("plain spark.sql reads the dialect through the injected parser (no DFContext)") {
    val s = TestSpark.spark
    Tables.registerAll(s, TestSpark.sfDir)
    val firstPerRegion = s.sql("""SELECT n_regionkey, n_name FROM nation
      QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name DESC) = 1""")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val distinctOn = s.sql("""SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name FROM nation
      ORDER BY n_regionkey, n_name DESC""").collect().map(r => r.getInt(0) -> r.getString(1))
    assert(firstPerRegion.size == 5 && distinctOn.toMap == firstPerRegion)
    assert(distinctOn.map(_._1).toSeq == (0 until 5))
    assert(s.sql("SELECT n_name FROM nation WHERE n_name ~ '^NATION_2[0-2]$'").count() == 3)
    assert(s.sql("SELECT * EXCLUDE (n_name) FROM nation").columns.toSeq ==
      Seq("n_nationkey", "n_regionkey"))
  }
}
