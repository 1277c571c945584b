package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallInputExec

/** Both sides of the small-input profile's gate (plans/SmallInput.scala):
  * where it wraps, where it must not, and that wrapped and adaptive plans
  * return the same rows on every TPC-H line. */
class SmallInputSpec extends AnyFunSuite {
  private val dir = TestSpark.sfDir

  /** A session of its own (its conf changes stay local), tables registered. */
  private def session(confs: (String, String)*): DFContext = {
    val s = TestSpark.spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val ctx = DFContext(s)
    ctx.registerAll(dir)
    ctx
  }
  private lazy val ctx = session()

  private val q3 = SparkEntry.oracleSql("q3_join_topk")

  private def wrapped(p: SparkPlan): Option[SmallInputExec] = p match {
    case s: SmallInputExec => Some(s)
    case _ => p.children.flatMap(wrapped).headOption
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("(a) a small TPC-H line is wrapped: inner plan static, 1-partition exchanges") {
    val plan = ctx.sql(q3).queryExecution.executedPlan
    val s = wrapped(plan).getOrElse(fail(s"not wrapped:\n$plan"))
    assert(plan eq s, "the profile node is the root of a collected query")
    assert(s.executed.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty)
    val exchanges = s.executed.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty && exchanges.forall(_.outputPartitioning.numPartitions == 1),
      s.executed.toString)
    // the plan string still lists the inner operators
    assert(plan.toString.contains("BroadcastHashJoin") && plan.toString.contains("small-input"))
  }

  test("(b) the same query is adaptive when its input passes the threshold") {
    val small = session("spark.sql.autoBroadcastJoinThreshold" -> "1000")
    val plan = small.sql(q3).queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
    assert(!plan.toString.contains("SmallInput"))
  }

  test("(c) forceApply keeps the query adaptive") {
    val forced = session("spark.sql.adaptive.forceApply" -> "true")
    val plan = forced.sql(q3).queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
    assert(!plan.toString.contains("SmallInput"))
  }

  test("(d) a large query with a small join side or subquery is not partly wrapped") {
    // range stats: 8 bytes a row, far past the threshold; only planned
    for (q <- Seq(
        "SELECT r.value, n.n_name FROM range(10000000000) r JOIN nation n ON r.value = n.n_nationkey",
        "SELECT value FROM range(10000000000) WHERE value < (SELECT max(n_nationkey) FROM nation)")) {
      val qe = ctx.sql(q).queryExecution
      assert(qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      assert(!qe.executedPlan.toString.contains("SmallInput"), qe.executedPlan.toString)
    }
  }

  test("(e) all 22 TPC-H lines return the same rows wrapped and adaptive") {
    // Interpreted on both sides: the plans under test are the same, and at
    // sf0.001 compiling 44 distinct plans costs far more than running them.
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val profiled = session(interpreted: _*)
    val adaptive = session(interpreted :+ ("spark.sql.adaptive.forceApply" -> "true"): _*)
    for (q <- Bench.tpch22) {
      val sql = SparkEntry.oracleSql(q)
      val w = profiled.sql(sql)
      assert(wrapped(w.queryExecution.executedPlan).isDefined, s"$q not wrapped")
      assert(rows(w) == rows(adaptive.sql(sql)), s"$q differs")
    }
  }

  test("(f) the result stays on the caller's session: temp views over it work") {
    val df = ctx.sql("SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1")
    assert(df.sparkSession eq ctx.spark)
    df.createOrReplaceTempView("small_input_v")
    val back = ctx.sql("SELECT count(*) FROM small_input_v")
    assert(wrapped(back.queryExecution.executedPlan).isDefined)
    assert(back.collect().head.getLong(0) == 5)
    assert(df.sparkSession.sql("SELECT * FROM small_input_v").count() == 5)
  }

  test("(g) noop write, parquet write and collect all run under the profile") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val s: SparkSession = ctx.spark
    s.listenerManager.register(listener)
    val out = Files.createTempDirectory("small_input").toString
    try {
      val df = ctx.sql(q3)
      df.write.mode("overwrite").format("noop").save()
      df.write.mode("overwrite").parquet(s"$out/q3")
      assert(wrapped(df.queryExecution.executedPlan).isDefined)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val writes = seen.asScala.toSeq
      assert(writes.size == 2, writes.map(_._1))
      for ((f, qe) <- writes)
        assert(wrapped(qe.executedPlan).isDefined, s"$f:\n${qe.executedPlan}")
      assert(rows(s.read.parquet(s"$out/q3")) == rows(df))
    } finally s.listenerManager.unregister(listener)
  }

  test("(h) the queries once routed to per-query profiles run on the caller's session, wrapped") {
    // the bodies with a static (broadcast or dense-key) form: at this
    // scale the profile node gives each its static plan
    val s = TestSpark.spark.newSession()
    for (q <- Seq("q2_mincost", "q3_join_topk", "q4_priority", "q5_multijoin",
        "q7_volume", "q8_share", "q9_profit", "q10_returns", "q11_partsupp",
        "q12_shipmode", "q13_custdist", "q15_topsupplier", "q17_smallqty",
        "q21_waiting", "q22_global")) {
      val df = SparkEntry.queries(q)(s, dir)
      assert(df.sparkSession eq s, s"$q left the caller's session")
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[SmallInputExec], s"$q is not wrapped at the root:\n$plan")
    }
  }

  test("(i) q22's broadcast form is in cntrycode order without the profile") {
    // adaptive, 4 shuffle partitions, no coalescing: the order comes from
    // the query itself, not from a single-partition plan. sf0.1 is the
    // smallest fixture where q22 returns more than one segment.
    val larger = TestSpark.fixtureDir("sf0.1")
    val s = TestSpark.spark.newSession()
    Seq("spark.sql.adaptive.forceApply" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4").foreach { case (k, v) => s.conf.set(k, v) }
    val df = SparkEntry.queries("q22_global")(s, larger)
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    val got = df.collect().toSeq
    val codes = got.map(_.getString(0))
    assert(codes.size > 1, "too few rows to show an order")
    assert(codes == codes.sorted, codes)
    assert(got.map(_.toString) == SparkEntry.queries("q22_global")(
      TestSpark.spark.newSession(), larger).collect().map(_.toString).toSeq)
  }
}
