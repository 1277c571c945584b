package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.BroadcastAdvisor

/** Round-5 additions: stats-gated broadcast reshape (BroadcastAdvisor). */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("footer stats carry rows, widths and INT64 min/max") {
    val st = BroadcastAdvisor.tableStats(spark, s"$dir/orders.parquet")
    assert(st.rows > 0)
    val od = st.cols("o_orderdate")
    assert(od.avgBytes > 0)
    assert(od.minLong.isDefined && od.maxLong.isDefined)
    assert(od.minLong.get < od.maxLong.get)
    // full range selects everything; an empty range selects nothing
    assert(BroadcastAdvisor.rangeSelectivity(st, "o_orderdate", None, None) == 1.0)
    assert(BroadcastAdvisor.rangeSelectivity(st, "o_orderdate",
      Some(od.maxLong.get + 1000), None) < 0.01)
  }

  test("q3 broadcast reshape flips to shuffle form past the threshold") {
    // Both sessions disable Spark's own size-based auto-broadcast so the
    // advisor's decision is the only thing separating the two plans.
    val sBc = spark.newSession()
    sBc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val planBc = graft.queries.TpchQueries.queries("q3_join_topk")(sBc, dir)
      .queryExecution.executedPlan.toString
    assert(planBc.contains("BroadcastHashJoin"),
      s"expected hinted broadcast plan, got:\n$planBc")

    val sSh = spark.newSession()
    sSh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sSh.conf.set(BroadcastAdvisor.ThresholdConf, "1")
    val planSh = graft.queries.TpchQueries.queries("q3_join_topk")(sSh, dir)
      .queryExecution.executedPlan.toString
    assert(!planSh.contains("BroadcastHashJoin"),
      s"expected shuffle-form plan past threshold, got:\n$planSh")
    assert(planSh.contains("SortMergeJoin") || planSh.contains("ShuffledHashJoin"))
  }

  test("q12 shuffle-hash gate flips to plain AQE text past the threshold") {
    // r11: within the dense-key gate (2×maxKey/8 under the threshold) q12
    // plans the 2-bit dense_key_probe — no join operator at all; past the
    // threshold BOTH gates release and the plain hint-free text plans.
    // (The middle SHUFFLE_HASH tier needs bitmapBytes > threshold ≥
    // estBytes/partitions, which tiny-fixture stats can't produce — it is
    // measured at SF1 (BENCH_NOTES.md r11) and gated by the same
    // BroadcastAdvisor code q3 exercises above.)
    val sSh = spark.newSession()
    sSh.conf.set("spark.sql.adaptive.enabled", "false") // inspect static plan
    val planSh = graft.queries.TpchQueries.queries("q12_shipmode")(sSh, dir)
      .queryExecution.executedPlan.toString
    assert(planSh.contains("dense_key_probe") && !planSh.contains("Join"),
      s"expected the bitmap-probe plan (no join), got:\n$planSh")

    val sPlain = spark.newSession()
    sPlain.conf.set("spark.sql.adaptive.enabled", "false")
    sPlain.conf.set(BroadcastAdvisor.ThresholdConf, "1")
    val planPlain = graft.queries.TpchQueries.queries("q12_shipmode")(sPlain, dir)
      .queryExecution.executedPlan.toString
    assert(!planPlain.contains("ShuffledHashJoin") &&
      !planPlain.contains("dense_key_probe"),
      s"expected hint-free join plan past threshold, got:\n$planPlain")
    assert(planPlain.contains("Join"),
      s"expected a join operator past threshold, got:\n$planPlain")
    // both forms agree on rows
    val a = graft.queries.TpchQueries.queries("q12_shipmode")(spark.newSession(), dir)
      .collect().map(_.toString).toSeq
    val sFlip = spark.newSession()
    sFlip.conf.set(BroadcastAdvisor.ThresholdConf, "1")
    val b = graft.queries.TpchQueries.queries("q12_shipmode")(sFlip, dir)
      .collect().map(_.toString).toSeq
    assert(a == b, "q12 rows differ between shuffle-hash and plain forms")
  }

  test("q5/q10 accept the gate on both sides and stay correct") {
    // tiny fixture → gates all pass → broadcast / dense-key form;
    // past-threshold session → hint-free form; both must return identical
    // rows. q4/q9/q21 exercise the dense-key gate's fallback side; q7, q8,
    // q9 and q15 have no ORDER BY, so their rows compare as a set.
    val unordered = Set("q7_volume", "q8_share", "q9_profit", "q15_topsupplier")
    // q7 and q22 return no rows at sf0.001: q7 runs at sf0.01, q22 at
    // sf0.1, its smallest fixture with more than one segment
    val dirOf = Map("q7_volume" -> TestSpark.fixtureDir("sf0.01"),
      "q22_global" -> TestSpark.fixtureDir("sf0.1")).withDefaultValue(dir)
    for (q <- Seq("q5_multijoin", "q10_returns", "q4_priority", "q9_profit",
        "q21_waiting", "q2_mincost", "q3_join_topk", "q7_volume", "q8_share",
        "q11_partsupp", "q13_custdist", "q15_topsupplier", "q17_smallqty",
        "q22_global")) {
      def rows(s: org.apache.spark.sql.SparkSession): Seq[String] = {
        val r = SparkEntry.queries(q)(s, dirOf(q)).collect().map(_.toString).toSeq
        if (unordered(q)) r.sorted else r
      }
      val a = rows(spark.newSession())
      val sSh = spark.newSession()
      sSh.conf.set(BroadcastAdvisor.ThresholdConf, "1")
      val b = rows(sSh)
      assert(a.nonEmpty, s"$q returned no rows — the comparison is vacuous")
      assert(a == b, s"$q rows differ between broadcast and shuffle forms")
    }
  }
}
