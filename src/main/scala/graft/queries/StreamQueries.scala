package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import Q._

/** Oracle-checked streaming queries: the bounded events table driven through
  * the Structured Streaming engine (micro-batches, memory sink) must equal
  * the batch SQL the DuckDB oracle runs. */
object StreamQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    "stream_tumbling_agg" -> { (s, dir) =>
      Streaming.runTumblingAgg(s, dir, "graft_stream_tumbling")
        .select(col("bucket"), col("event_type"), col("n"),
          r2(col("val_sum")).as("val_sum"))
    },

    // Streaming dedup (dropDuplicates + watermark) must equal batch
    // DISTINCT over the same bounded input.
    "stream_dedup" -> { (s, dir) =>
      Streaming.runStreamDedup(s, dir, "graft_stream_dedup")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Streaming session windows (30-min gap) — per-user session count and
    // totals must equal the batch gaps-and-islands computation in DuckDB.
    "stream_session_window" -> { (s, dir) =>
      Streaming.runSessionWindow(s, dir, "graft_stream_session")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n")).cast("long").as("n_events"),
          r2(sum(col("v"))).as("val_sum"))
    },

    // Stream-stream join cardinality per user (append mode, watermarked) —
    // compared against the equivalent batch join in DuckDB.
    "stream_join_counts" -> { (s, dir) =>
      Streaming.runStreamStreamJoin(s, dir, "graft_stream_join")
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"), r2(sum(col("p_value"))).as("purchase_value"))
    },

    // Stream-static enrichment: unbounded events broadcast-joined per
    // micro-batch to the bounded customer dim (no state store), must equal
    // the batch join over the same bounded input.
    "stream_static_join" -> { (s, dir) =>
      Streaming.runStreamStaticJoin(s, dir, "graft_stream_static")
        .select(col("c_mktsegment"), col("event_type"), col("n"),
          r2(col("val_sum")).as("val_sum"))
    },

    // transformWithState (typed ValueState + MapState on RocksDB): the
    // order-insensitive per-user profile must equal a batch GROUP BY.
    "stream_tws_profile" -> { (s, dir) =>
      Streaming.runTwsUserProfile(s, dir, "graft_stream_tws")
        .select(col("user_id"), col("n_events"),
          r2(col("total_value")).as("total_value"),
          col("span_ms"), col("n_types"))
        .orderBy("user_id")
    })

  val oracleSql: Map[String, String] = Map(
    "stream_tumbling_agg" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n,
        | floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS val_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |x AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, count(DISTINCT sid) AS n_sessions,
        |  count(*) AS n_events,
        |  floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS val_sum
        |FROM g GROUP BY user_id""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        | floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS val_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type""".stripMargin,

    "stream_join_counts" ->
      """WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT v.user_id AS user_id, count(*) AS n_pairs,
        | floor((sum(p.value) + 1.37e-4) * 100 + 0.5) / 100 AS purchase_value
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 30 MINUTE
        |GROUP BY v.user_id""".stripMargin,

    "stream_tws_profile" ->
      """SELECT user_id, count(*) AS n_events,
        | floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS total_value,
        | max(epoch_ms(CAST(ts AS TIMESTAMP))) - min(epoch_ms(CAST(ts AS TIMESTAMP))) AS span_ms,
        | count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
