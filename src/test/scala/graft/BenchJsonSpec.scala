package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The per-query JSON fields `graft.Bench` writes for a set of passes. */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("a failed pass is counted in `failed` and left out of the minimum") {
    val passes = Bench.PassSet(Seq("q1_agg", "q6_filter", "q3_join_topk"), Map(
      "q1_agg" -> Vector(0.5, -1.0, 0.4),
      "q6_filter" -> Vector(0.2, 0.1, 0.3),
      "q3_join_topk" -> Vector(-1.0, -1.0, -1.0)))
    val failed = mapper.readTree(passes.failed)
    assert(failed.size == 2)
    assert(failed.get("q1_agg").asInt == 1)
    assert(failed.get("q3_join_topk").asInt == 3)
    val queries = mapper.readTree(passes.queries(identity))
    assert(queries.get("q1_agg").asDouble == 0.4)
    assert(queries.get("q6_filter").asDouble == 0.1)
    assert(queries.get("q3_join_topk").asDouble == -1.0)
    assert(passes.total == 0.5)
    val times = mapper.readTree(passes.passTimes)
    assert(times.get("q1_agg").toString == "[0.5,-1.0,0.4]")
  }

  test("no failed pass gives an empty `failed` object") {
    val passes = Bench.PassSet(Seq("q1_agg"), Map("q1_agg" -> Vector(1.23456, 1.0)))
    assert(passes.failed == "{}")
    assert(passes.queries(Bench.r3) == """{"q1_agg":1.0}""")
    assert(passes.passTimes == """{"q1_agg":[1.235,1.0]}""")
  }

  test("per-pass load: loadavg at start and end plus steal ticks, one object a pass") {
    val load = Bench.PassLoad.json(Seq(Bench.PassLoad(0.5, 1.25, 3L), Bench.PassLoad(2.0, 0.0, 0L)))
    val arr = mapper.readTree(load)
    assert(arr.isArray && arr.size == 2)
    for (i <- 0 until arr.size) {
      val p = arr.get(i)
      assert(p.size == 3, p)
      assert(p.get("loadavg_start").isNumber && p.get("loadavg_end").isNumber, p)
      assert(p.get("steal_ticks").isIntegralNumber, p)
    }
    assert(arr.get(0).get("loadavg_end").asDouble == 1.25)
    assert(arr.get(0).get("steal_ticks").asLong == 3L)
    // a measured pass reads the machine around its body
    var ran = false
    val measured = Bench.PassLoad.around { ran = true }
    assert(ran && measured.stealTicks >= 0 && measured.loadavgStart >= 0, measured)
    assert(mapper.readTree(measured.json).size == 3)
  }
}
