package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SqlUnparser

/** Plan → SQL unparser roundtrip (the datafusion/sql/src/unparser analog):
  * for a representative slice of the oracle-checked inventory, unparse the
  * ANALYZED plan to SQL text, re-execute that text in the same session, and
  * require the exact same result multiset. This is the strongest available
  * oracle for an unparser — any mis-scoped column, lost qualifier, dropped
  * DISTINCT, or reordered LIMIT changes the rows.
  */
class SqlUnparserSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Names chosen to cover: plain agg, filters, inner/outer/semi/anti/cross
    * joins, IN/EXISTS subqueries, set ops, DISTINCT, window functions,
    * ORDER BY + LIMIT/OFFSET fusion, CTE inlining, scalar-subquery grids. */
  private val names = Seq(
    "q1_agg", "q6_filter", "q3_join_topk", "q5_multijoin", "q10_returns",
    "q18_bigorders",
    "join_inner", "join_left", "join_right", "join_full", "join_semi",
    "join_anti", "join_cross", "join_theta",
    "subq_in", "subq_scalar", "subq_correlated",
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    "limit_offset", "sort_topk", "sort_nulls", "distinct_on",
    "win_ranking", "win_partition_share", "win_lag_lead", "win_topk_per_group",
    "agg_distinct_mixed", "agg_minmax_countd",
    "tpcds_q2_yoy_priority", "tpcds_q44_best_worst", "tpcds_q69_exists_notexists",
    "tpcds_q88_bucket_grid", "tpcds_q90_half_ratio", "tpcds_q54_segment_histogram",
    "cb_topk_users", "h2o_g6_median_sd",
    // ROLLUP/CUBE/GROUPING SETS (Expand → UNION ALL) and Generate (LATERAL VIEW)
    "agg_rollup", "agg_cube", "agg_groupingsets", "agg_grouping_id",
    "unnest_words", "explode_map")

  for (name <- names) {
    test(s"unparse roundtrip: $name") {
      val fn = SparkEntry.queries.getOrElse(name, fail(s"no inventory entry $name"))
      val df = fn(spark, dir)
      val sql = SqlUnparser.unparse(df)
      // execute on the DataFrame's own session: temp views (registerAll)
      // are session-scoped and some queries build on a child session
      val re = df.sparkSession.sql(sql)
      assert(rows(re) == rows(df), s"roundtrip mismatch for $name; sql:\n$sql")
    }
  }

  test("unsupported shapes fail loudly, not wrongly") {
    import spark.implicits._
    // typed object operators (map over a Dataset) have no SQL rendering
    val typed = spark.range(3).as[Long].map(_ + 1).toDF("v")
    intercept[UnsupportedOperationException](SqlUnparser.unparse(typed))
  }
}
