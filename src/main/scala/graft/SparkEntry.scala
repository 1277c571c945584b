package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (SURVEY.md §2): one entry per
  * implemented operator/capability; `oracleSql` holds the DuckDB-equivalent
  * SQL for the driver's differential check. Column names and rounding must
  * match exactly on both sides (see graft.queries.Q).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchQueries.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every inventory object, each registered once for both maps. */
  val querySets: Seq[QuerySet] = Seq(
    TpchQueries, TpchQueries2, RelationalQueries, AggQueries, WindowQueries,
    WindowQueries2, FunctionQueries, FunctionQueries2, FunctionQueries3,
    ArrayMathQueries, PipelineQueries, DmlQueries, StreamQueries,
    MultimodalQueries, Round2Queries, Round3Queries, Round3bQueries,
    Round3cQueries, Round3dQueries, Round3eQueries, Round3fQueries,
    Round4Queries, Round4bQueries, Round4cQueries, Round4dQueries,
    Round4eQueries, Round4fQueries, PipelineQueries2, TpcdsQueries,
    TpcdsQueries2, TpcdsQueries3, TpcdsQueries4, TpcdsQueries5,
    Round5Queries, Round5bQueries, WorkloadQueries, Round6Queries,
    Round8Queries, Round9Queries, Round10Queries, Round11Queries,
    Round12Queries, Round13Queries)

  /** One entry per implemented operator from SURVEY.md §2. (A `val`: the
    * 43-set concatenation costs real milliseconds inside benchmarked query
    * construction when rebuilt per call.) */
  lazy val queries: Map[String, Q.QueryFn] = querySets.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = querySets.flatMap(_.oracleSql).toMap
}
