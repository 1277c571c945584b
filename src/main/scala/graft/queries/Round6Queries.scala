package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._

/** Round-6 additions: the TIME-of-day / timestamp-precision convention
  * layer (SURVEY §1.2) as first-class oracle-checked surface.
  *
  * Reference: functions/src/datetime/{to_timestamp.rs, to_local_time.rs,
  * make_time.rs, to_unixtime.rs}; common/src/scalar/mod.rs:358-475
  * (Time64/Timestamp units). The engine convention: TIME-of-day is a
  * µs-of-day LongType; sub-µs inputs truncate to µs (Spark's timestamp
  * precision). All functions are pure catalyst trees registered via the
  * session extension (graft.functions.TimeFunctions), callable from SQL.
  */
object Round6Queries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // TIME-of-day + timestamp-precision family. Sub-day values render as
    // strings on both sides (Q.scala parity rules); the ns entry proves
    // the declared truncate-to-µs convention against DuckDB's integer
    // division to µs.
    "fn_time" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          expr("time_format(make_time(CAST(o_orderkey % 24 AS INT), " +
            "CAST(o_orderkey % 60 AS INT), CAST(o_orderkey % 60 AS DOUBLE) + 0.5))")
            .as("tstr"),
          expr("time_part('hour', make_time(CAST(o_orderkey % 24 AS INT), " +
            "CAST(o_orderkey % 60 AS INT), 0.0))").cast("long").as("hh"),
          expr("time_part('minute', make_time(CAST(o_orderkey % 24 AS INT), " +
            "CAST(o_orderkey % 60 AS INT), 0.0))").cast("long").as("mm"),
          floor(expr("time_part('second', make_time(0, 0, " +
            "CAST(o_orderkey % 60 AS DOUBLE) + 0.5))")).cast("long").as("ss"),
          date_format(expr("to_timestamp_micros(o_orderkey * 86400000000 + 123456)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_us"),
          date_format(expr("to_timestamp_nanos(o_orderkey * 1000000000000 + 123456789)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_ns_trunc"),
          expr("to_unixtime(o_orderdate)").cast("long").as("epoch_s"),
          date_format(expr("to_local_time(o_orderdate)"),
            "yyyy-MM-dd HH:mm:ss").as("local_ts"),
          expr("time_format(to_time(to_timestamp_micros(o_orderkey * 86400000000 + 45296500000)))")
            .as("tod"))
    },

    // Epoch-ns convention family (r8, SURVEY §1.2 addendum — mirror of
    // the µs TIME layer for FULL-ns timestamps): graft_ns_epoch parses a
    // datetime string to BIGINT epoch-ns (sub-µs digits preserved, the
    // reference's '…'::timestamp::bigint), graft_ns_text renders it back
    // as Arrow's Timestamp(ns) text (fraction trimmed in 3-digit groups).
    // The oracle reproduces both with DuckDB integer arithmetic — a
    // parse/render bug anywhere in the 9-digit fraction breaks the hash.
    "fn_time_ns" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          expr("""graft_ns_epoch(concat(date_format(o_orderdate, "yyyy-MM-dd'T'HH:mm:ss"),
            '.', lpad(CAST((o_orderkey * 7919) % 1000000000 AS STRING), 9, '0')))""")
            .as("ns_epoch"),
          expr("""graft_ns_text(graft_ns_epoch(concat(
            date_format(o_orderdate, "yyyy-MM-dd'T'HH:mm:ss"),
            '.', lpad(CAST((o_orderkey * 7919) % 1000000000 AS STRING), 9, '0'))))""")
            .as("ns_text"),
          expr("graft_ns_text(o_orderkey * 1000000000 + (o_orderkey * 101) % 1000000000)")
            .as("ns_small"))
    })

  val oracleSql: Map[String, String] = Map(
    "fn_time" ->
      """SELECT o_orderkey,
        | CAST(make_time(CAST(o_orderkey % 24 AS BIGINT), CAST(o_orderkey % 60 AS BIGINT),
        |   CAST(o_orderkey % 60 AS DOUBLE) + 0.5) AS VARCHAR) AS tstr,
        | CAST(extract(hour FROM make_time(CAST(o_orderkey % 24 AS BIGINT),
        |   CAST(o_orderkey % 60 AS BIGINT), 0.0)) AS BIGINT) AS hh,
        | CAST(extract(minute FROM make_time(CAST(o_orderkey % 24 AS BIGINT),
        |   CAST(o_orderkey % 60 AS BIGINT), 0.0)) AS BIGINT) AS mm,
        | CAST(extract(second FROM make_time(0, 0,
        |   CAST(o_orderkey % 60 AS DOUBLE) + 0.5)) AS BIGINT) AS ss,
        | strftime(make_timestamp(o_orderkey * 86400000000 + 123456),
        |   '%Y-%m-%d %H:%M:%S.%f') AS ts_us,
        | strftime(make_timestamp((o_orderkey * 1000000000000 + 123456789) // 1000),
        |   '%Y-%m-%d %H:%M:%S.%f') AS ts_ns_trunc,
        | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS local_ts,
        | CAST(CAST(make_timestamp(o_orderkey * 86400000000 + 45296500000) AS TIME)
        |   AS VARCHAR) AS tod
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,

    "fn_time_ns" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    epoch_ns(date_trunc('second', o_orderdate))
        |      + (o_orderkey * 7919) % 1000000000 AS ns,
        |    o_orderkey * 1000000000 + (o_orderkey * 101) % 1000000000 AS ns2
        |  FROM orders WHERE o_orderkey <= 500),
        |r AS (
        |  SELECT o_orderkey, ns, ns2,
        |    ns % 1000000000 AS f, ns2 % 1000000000 AS f2
        |  FROM b)
        |SELECT o_orderkey,
        |  ns AS ns_epoch,
        |  strftime(make_timestamp((ns - f) // 1000), '%Y-%m-%dT%H:%M:%S') ||
        |    CASE WHEN f = 0 THEN ''
        |         WHEN f % 1000000 = 0 THEN '.' || lpad(CAST(f // 1000000 AS VARCHAR), 3, '0')
        |         WHEN f % 1000 = 0 THEN '.' || lpad(CAST(f // 1000 AS VARCHAR), 6, '0')
        |         ELSE '.' || lpad(CAST(f AS VARCHAR), 9, '0') END AS ns_text,
        |  strftime(make_timestamp((ns2 - f2) // 1000), '%Y-%m-%dT%H:%M:%S') ||
        |    CASE WHEN f2 = 0 THEN ''
        |         WHEN f2 % 1000000 = 0 THEN '.' || lpad(CAST(f2 // 1000000 AS VARCHAR), 3, '0')
        |         WHEN f2 % 1000 = 0 THEN '.' || lpad(CAST(f2 // 1000 AS VARCHAR), 6, '0')
        |         ELSE '.' || lpad(CAST(f2 AS VARCHAR), 9, '0') END AS ns_small
        |FROM r""".stripMargin)
}
