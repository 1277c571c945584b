package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Function-gap layer: reference scalar functions Spark lacks as builtins,
  * expressed as pure Column arithmetic so they stay inside whole-stage
  * codegen (no UDF serialization, no codegen fences).
  */
object GraftFunctions {

  /** `date_bin(stride, ts, origin)` — floor `ts` into a `stride`-wide bucket
    * aligned to `origin` (reference:
    * datafusion/functions/src/datetime/date_bin.rs:53-60).
    *
    * Pure integer arithmetic on epoch micros: bucket = x - floorMod(x-o, s).
    * `pmod` gives the floor-mod so timestamps before the origin bin
    * correctly too.
    */
  def dateBin(strideMicros: Long, ts: Column, originTs: String): Column = {
    val o = unix_micros(to_timestamp(lit(originTs)))
    val x = unix_micros(ts)
    timestamp_micros(x - pmod(x - o, lit(strideMicros)))
  }

  /** date_bin with a column origin. */
  def dateBin(strideMicros: Long, ts: Column, origin: Column): Column = {
    val o = unix_micros(origin)
    val x = unix_micros(ts)
    timestamp_micros(x - pmod(x - o, lit(strideMicros)))
  }

  /** `array_resize(arr, n, fill)` — truncate to n, or pad with `fill` up to n
    * (reference: datafusion/functions-nested/src/resize.rs; DuckDB
    * list_resize). No Spark builtin; composed from slice/concat/repeat so it
    * stays codegen'd. */
  def arrayResize(arr: Column, n: Int, fill: Column): Column =
    when(size(arr) >= n, slice(arr, 1, n))
      .otherwise(concat(arr, array_repeat(fill, lit(n) - size(arr))))
}

/** Sketch probes over Spark's built-in sketch aggregates, injected by
  * GraftExtensions. `cms_estimate(sketch, key)` reads a `count_min_sketch`
  * aggregate's serialized bytes and estimates `key`'s count. A named
  * function (not an anonymous UDF object), so a plan that calls it
  * re-resolves by name when its unparsed SQL re-executes. */
object SketchFunctions {
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    GraftSqlBridge.udfBuilder("cms_estimate", udf((b: Array[Byte], key: String) =>
      CountMinSketch.readFrom(b).estimateCount(key))))
}
