package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SubstraitSerde

/** Substrait emit→consume sweep over the TPC-H inventory shapes: each
  * entry's ANALYZED plan is emitted to Substrait JSON, consumed back into
  * a fresh DataFrame against the same fixture tables, and the results must
  * match row-for-row. Emit-unsupported shapes are counted and printed
  * (never silently dropped), with a floor so support cannot regress.
  */
class SubstraitSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private val names = Seq("q1_agg", "q3_join_topk", "q4_priority",
    "q5_multijoin", "q6_filter", "q7_volume", "q8_share", "q9_profit",
    "q10_returns", "q12_shipmode", "q13_custdist", "q14_promo",
    "q15_topsupplier", "q17_smallqty", "q18_bigorders", "q19_disjunct",
    "q20_nested_in", "q21_waiting", "q22_global", "q11_partsupp",
    "q2_mincost", "q16_suppcnt",
    // r6: grouping-set relations (multi-grouping AggregateRel emit+consume)
    "agg_groupingsets", "agg_rollup", "agg_cube", "agg_grouping_id")

  test("TPC-H inventory round-trips through Substrait emit/consume") {
    val present = names.filter(SparkEntry.queries.contains)
    var ok = 0
    val skipped = scala.collection.mutable.ListBuffer[String]()
    val failures = scala.collection.mutable.ListBuffer[String]()
    for (name <- present) {
      val df = SparkEntry.queries(name)(spark, dir)
      val s = df.sparkSession
      val jsonOpt =
        try Some(SubstraitSerde.emitJson(df))
        catch { case e: Exception => skipped += s"$name: ${e.getMessage}"; None }
      jsonOpt.foreach { json =>
        try {
          val back = SubstraitSerde.consumeJson(s, json,
            n => if (graft.Tables.names.contains(n))
              Some(graft.Tables.load(s, dir, n)) else Some(s.table(n)))
          val a = df.collect().map(_.toString).sorted.toSeq
          val b = back.collect().map(_.toString).sorted.toSeq
          if (a == b) ok += 1 else failures += s"$name: rows differ"
        } catch { case e: Exception =>
          skipped += s"$name (consume): ${e.getMessage.take(160)}" }
      }
    }
    info(s"${present.size} entries: $ok roundtripped, ${skipped.size} skipped")
    skipped.foreach(x => info(s"  skipped $x"))
    failures.foreach(x => info(s"  MISMATCH $x"))
    assert(failures.isEmpty, s"${failures.size} substrait roundtrip mismatches")
    // r6: all 22 TPC-H — View/Window/Generate(foldable explode →
    // virtualTable cross) closed the last emit gaps — plus the four
    // grouping-set shapes (multi-grouping AggregateRel, set-ordinal
    // lowering of grouping()/grouping_id()); no declared skips remain
    // r11: q12 plans the bitmap-probe UDF (no Substrait spelling for a
    // Scala closure) — one legitimate skip, floor 26 → 25
    // r12: q4 ships the same bitmap exists-probe plan — floor 25 → 24
    // r13: q21 joins the bitmap-probe class (exists-bitmap + single
    // exchange, see OPTIMIZATION_r13.md §6) — floor 24 → 23; the
    // past-gate fallback shapes still cross the wire
    // r14: the probe family got a wire spelling (payload as a base64
    // string literal, ProbePayloadCodec) — q4/q12/q21 roundtrip again and
    // q9's new bytemap plan joins them: floor 23 → 26, the r11-r13
    // erosion reversed (verdict item 9); the three probes are now one,
    // dense_key_probe(key, bits, payload)
    assert(ok >= 26, s"only $ok roundtripped — emit support regressed")
  }
}
