package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-4 batch: the generate_series / range TABLE functions injected via
  * SparkSessionExtensions (plans/GenerateSeriesTVF.scala — reference:
  * functions-table/src/generate_series.rs), oracle-checked against DuckDB's
  * own generate_series/range TVFs which share the reference's semantics
  * (inclusive vs exclusive end, negative steps, temporal stepping).
  */
object Round4fQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // integer forms: 1-arg inclusive 0..n, 3-arg negative step, exclusive
    // `range`, and a wrong-direction empty series aggregated to one row
    "tvf_generate_series" -> { (s, _) =>
      s.sql(
        """SELECT
          |  (SELECT sum(value) FROM generate_series(6)) AS s1,
          |  (SELECT sum(value) FROM generate_series(6, -1, -2)) AS s2,
          |  (SELECT sum(value) FROM range(6)) AS s3,
          |  (SELECT count(*) FROM generate_series(6, -6, 1)) AS n_empty,
          |  (SELECT count(*) FROM generate_series(1, 5, NULL)) AS n_null""".stripMargin)
    },

    // timestamp + day-time interval stepping (distributed Range plan) and
    // calendar-month stepping; generate_series includes the boundary hit,
    // range excludes it
    "tvf_generate_series_ts" -> { (s, _) =>
      s.sql(
        """SELECT CAST(value AS STRING) AS ts_value, 'day' AS step FROM
          |  generate_series(TIMESTAMP '2023-01-01T00:00:00',
          |                  TIMESTAMP '2023-01-03T00:00:00', INTERVAL '1' DAY)
          |UNION ALL
          |SELECT CAST(value AS STRING) AS ts_value, 'month' AS step FROM
          |  range(TIMESTAMP '2023-01-01T00:00:00',
          |        TIMESTAMP '2023-04-01T00:00:00', INTERVAL '1' MONTH)
          |ORDER BY step, ts_value""".stripMargin)
    })

  val oracleSql: Map[String, String] = Map(

    "tvf_generate_series" ->
      """SELECT
        |  CAST((SELECT sum(generate_series) FROM generate_series(0, 6)) AS BIGINT) AS s1,
        |  CAST((SELECT sum(generate_series) FROM generate_series(6, -1, -2)) AS BIGINT) AS s2,
        |  CAST((SELECT sum(range) FROM range(6)) AS BIGINT) AS s3,
        |  CAST(0 AS BIGINT) AS n_empty, -- DuckDB errors on a wrong-direction series; the reference (and we) yield empty
        |  CAST(0 AS BIGINT) AS n_null""".stripMargin,

    "tvf_generate_series_ts" ->
      """SELECT ts_value, step FROM (
        |  SELECT strftime(generate_series, '%Y-%m-%d %H:%M:%S') AS ts_value,
        |         'day' AS step
        |  FROM generate_series(TIMESTAMP '2023-01-01 00:00:00',
        |                       TIMESTAMP '2023-01-03 00:00:00', INTERVAL 1 DAY)
        |  UNION ALL
        |  SELECT strftime(range, '%Y-%m-%d %H:%M:%S') AS ts_value,
        |         'month' AS step
        |  FROM range(TIMESTAMP '2023-01-01 00:00:00',
        |             TIMESTAMP '2023-04-01 00:00:00', INTERVAL 1 MONTH)
        |) ORDER BY step, ts_value""".stripMargin)
}
