package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Concurrent query execution on one SparkContext: a real deployment runs
  * many sessions in parallel, and the library keeps per-session caches
  * (Tables.registerAll and Q.childSession, behind runtimeFilterSession
  * and aggPushdownSession — all WeakHashMap-backed). Eight threads running a mixed slice of the
  * inventory simultaneously must each get the exact rows a serial run
  * gets: a race in view registration or session reuse shows up as a
  * missing-table error or cross-talk rows.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private val names = Seq(
    "q1_agg", "q6_filter", "q3_join_topk", "tpcds_q52_month_brand",
    "h2o_g4_mean_by_key", "join_semi", "agg_rollup", "win_ranking")

  test("8 concurrent sessions produce serial-identical results") {
    val serial = names.map { n =>
      n -> SparkEntry.queries(n)(spark.newSession(), dir)
        .collect().map(_.toString).sorted.toSeq
    }.toMap
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // two waves so every query runs concurrently with every other at
      // least once (wave 2 reverses the pairing)
      for (wave <- 1 to 2) {
        val futures = (if (wave == 1) names else names.reverse).map { n =>
          Future {
            n -> SparkEntry.queries(n)(spark.newSession(), dir)
              .collect().map(_.toString).sorted.toSeq
          }
        }
        val results = Await.result(Future.sequence(futures), 10.minutes)
        for ((n, rows) <- results)
          assert(rows == serial(n), s"wave $wave: $n diverged under concurrency")
      }
    } finally pool.shutdown()
  }

  test("Q child sessions start from the caller's runtime SQL conf") {
    import graft.queries.Round5Queries.runtimeFilterSession
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s.conf.set("spark.graft.ngramPairs.bucketCap", "17")
    val child = runtimeFilterSession(s)
    assert(child ne s)
    assert(child.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    assert(child.conf.get("spark.graft.ngramPairs.bucketCap") == "17")
    // the profile still goes on top of the caller's conf
    assert(child.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    assert(child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(runtimeFilterSession(s) eq child, "unchanged settings reuse the child")
    // a changed setting builds a new child; the old one is left as it was
    s.conf.set("spark.graft.ngramPairs.bucketCap", "18")
    val rebuilt = runtimeFilterSession(s)
    assert(rebuilt ne child)
    assert(rebuilt.conf.get("spark.graft.ngramPairs.bucketCap") == "18")
    assert(child.conf.get("spark.graft.ngramPairs.bucketCap") == "17")
  }
}
