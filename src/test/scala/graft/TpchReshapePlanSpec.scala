package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality pins for the round-5 reshape of the non-headline TPC-H
  * shapes (TpchQueries2/FunctionQueries3): the measured SF1 wins came from
  * specific plan properties — fact table never sort-merge-joined, slim
  * complexes broadcast, single fact scan where the rewrite eliminated a
  * second pass. These assertions fail loudly if an engine upgrade, config
  * change, or query edit silently loses the shape.
  *
  * Fixture scale keeps every BroadcastAdvisor gate on, so the asserted
  * plans are the same family the SF1 bench measured.
  */
class TpchReshapePlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def scansOf(plan: String, table: String): Int =
    plan.linesIterator.count(l => l.contains("Scan") && l.contains(table))

  test("q4: bitmap exists-set probe — NO join node at all") {
    // r12: the EXISTS subquery is a pure orderkey SET, collapsed to a
    // 1-bit dense key map probe (BitmapJoin.probe) inside the orders
    // scan filter; the only exchange left is the ≤5-group aggregate
    val p = plan("q4_priority")
    assert(!p.contains("Join"), p.take(800))
    // r13: the probe is a codegen expression (dense_key_probe), no
    // longer a Scala UDF — assert it sits inside the whole-stage-codegen
    // filter rather than at a BatchEvalPython/UDF boundary
    assert(p.contains("dense_key_probe"),
      s"bitmap probe filter expected:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q7/q8: fact streams through broadcast complexes only") {
    for (q <- Seq("q7_volume", "q8_share")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(800)}")
      assert(!p.contains("SortMergeJoin"), s"$q sort-merge-joins:\n${p.take(800)}")
      assert(scansOf(p, "lineitem") == 1, s"$q scans the fact more than once")
    }
  }

  test("q9: dims broadcast, orders collapsed to a byte-map year probe") {
    // r14: orders' only contribution is o_year keyed by the PK — the
    // SHUFFLE_HASH (both sides exchanged + 1.5M-entry hash relation)
    // became an 8-bit dense_key_probe inside the fact scan; no orders scan,
    // no shuffled join, a single final-agg exchange.
    val p = plan("q9_profit")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("dense_key_probe"),
      s"byte-map year probe expected:\n${p.take(800)}")
    assert(!p.contains("ShuffledHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(scansOf(p, "orders") == 0, "orders must not be scanned in-plan")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"one final-agg exchange expected:\n${p.take(1200)}")
  }

  test("q13: per-customer counts broadcast over customer (left outer)") {
    val p = plan("q13_custdist")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(scansOf(p, "customer") == 1)
  }

  test("q15: revenue CTE evaluated once — a single fact scan") {
    val p = plan("q15_topsupplier")
    assert(scansOf(p, "lineitem") == 1,
      s"scalar-subquery form re-scans lineitem:\n${p.take(1200)}")
  }

  test("q16: filtered part broadcasts; lineitem never sorted") {
    val p = plan("q16_suppcnt")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q21: one fact scan computes both EXISTS predicates") {
    val p = plan("q21_waiting")
    assert(scansOf(p, "lineitem") == 1,
      s"q21 reshape lost the single-pass shape:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the F-order set is a 1-bit dense key map probed in the fact scan
    assert(p.contains("dense_key_probe"), s"F-order probe expected:\n${p.take(1200)}")
  }

  test("q2: single-scan window form — partsupp semi-joined before any exchange") {
    val p = plan("q2_mincost")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("Window"), s"q2 reshape lost the window min form:\n${p.take(800)}")
  }

  test("q11: grand total re-aggregates the grouped exchange (ReusedExchange)") {
    val p = plan("q11_partsupp")
    assert(p.contains("ReusedExchange"),
      s"q11 recomputes the partsupp aggregate for the grand total:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q22: anti join runs as broadcast, customer unexchanged") {
    val p = plan("q22_global")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }
}
