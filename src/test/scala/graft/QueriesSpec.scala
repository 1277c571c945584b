package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every inventory query must execute at sf0.001; a few have exact pins.
  * The value-level gate is the DuckDB differential (tools/selfcheck.py) —
  * these specs are the fast regression net for `sbt test`.
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes and has a schema") {
      val df = fn(spark, sfDir)
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
      assert(df.count() >= 0)
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("no query name is registered by two query sets") {
    // the inventory maps are concatenations, where a repeated name would
    // silently keep only the later set's entry
    for (names <- Seq(SparkEntry.querySets.flatMap(_.queries.keys),
                      SparkEntry.querySets.flatMap(_.oracleSql.keys))) {
      val dups = names.diff(names.distinct).distinct
      assert(dups.isEmpty, s"names in more than one query set: $dups")
    }
  }

  test("inventory size never silently shrinks") {
    // bump when adding queries; catches entries dropped by bad merges/edits
    assert(SparkEntry.queries.size >= 372, s"got ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.size >= 372, s"got ${SparkEntry.oracleSql.size}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("cte_recursive computes 1..100 series") {
    val row = SparkEntry.queries("cte_recursive")(spark, sfDir).collect().head
    assert(row.getLong(row.fieldIndex("series_sum")) == 5050L)
    assert(row.getLong(row.fieldIndex("series_count")) == 100L)
  }

  test("generate_series sums 1..1000") {
    val row = SparkEntry.queries("generate_series")(spark, sfDir).collect().head
    assert(row.getLong(row.fieldIndex("series_sum")) == 500500L)
  }

  test("values_inline has 4 rows incl. a null") {
    val rows = SparkEntry.queries("values_inline")(spark, sfDir).collect()
    assert(rows.length == 4)
    assert(rows.count(_.isNullAt(1)) == 1)
  }

  test("q6_filter revenue positive") {
    val v = SparkEntry.queries("q6_filter")(spark, sfDir).collect().head.getDouble(0)
    assert(v > 0)
  }
}
