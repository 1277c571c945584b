package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-4 batch 5: timezone conversion semantics
  * (to_timestamp_timezone.slt) and IEEE float edge semantics
  * (negative_zero.slt) — both previously unexercised.
  */
object Round4eQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // Timezone conversions (reference: to_timestamp_timezone.slt,
    // timestamps.slt AT TIME ZONE): 96 hourly instants spanning the
    // 2024-03-10 US spring-forward, rendered in a DST zone and a
    // half-hour-offset zone. from_utc_timestamp is total (every instant
    // has exactly one wall time), so DST is exercised without touching
    // the gap-ambiguity direction, where engines' conventions differ.
    // A fixed unambiguous wall time covers the reverse direction.
    "fn_timezone" -> { (s, _) =>
      s.range(0, 96).select(
        col("id"),
        date_format(expr(
          "from_utc_timestamp(timestampadd(HOUR, CAST(id AS INT), timestamp'2024-03-09 00:00:00'), 'America/New_York')"),
          "yyyy-MM-dd HH:mm:ss").as("ny"),
        date_format(expr(
          "from_utc_timestamp(timestampadd(HOUR, CAST(id AS INT), timestamp'2024-03-09 00:00:00'), 'Asia/Kolkata')"),
          "yyyy-MM-dd HH:mm:ss").as("kolkata"),
        date_format(expr(
          "to_utc_timestamp(timestamp'2024-03-15 12:00:00', 'America/New_York')"),
          "yyyy-MM-dd HH:mm:ss").as("noon_ny_in_utc"))
    },

    // IEEE float edges (reference: negative_zero.slt): the
    // cross-engine-agreed core — signed zero compares equal, is not
    // negative, collapses under DISTINCT; NaN/Infinity parse and test.
    // (Engine-DIVERGENT edges — x/0.0 NULL-vs-inf, '-0.0' rendering —
    // are deliberately out; Spark's conventions are spec'd JVM-side.)
    "fn_float_edge" -> { (s, _) =>
      s.sql("""
        SELECT (CAST(-0.0 AS DOUBLE) = CAST(0.0 AS DOUBLE)) AS eq_zero,
               (CAST(-0.0 AS DOUBLE) < CAST(0.0 AS DOUBLE)) AS lt_zero,
               isnan(CAST('NaN' AS DOUBLE)) AS nan_ok,
               (CAST('Infinity' AS DOUBLE) > CAST(1e308 AS DOUBLE)) AS inf_ok,
               (CAST('-Infinity' AS DOUBLE) < CAST(-1e308 AS DOUBLE)) AS neginf_ok
      """).crossJoin(
        s.range(0, 2).select(
          (when(col("id") === 0, lit(0.0)).otherwise(lit(-0.0))).as("z"))
          .agg(countDistinct(col("z")).as("n_distinct_zero"),
            (min(col("z")) === max(col("z"))).as("zeros_equal")))
    },

    // Array-valued join keys (reference: join_lists.slt — NLJ joining on
    // LISTS): topic classification by word-overlap between a document's
    // token array and each topic's word list. arrays_overlap is a theta
    // condition, so Spark plans a nested-loop join with the 3-row topics
    // side broadcast — at 100 TB the corpus still streams partition-
    // parallel past the tiny broadcast list. A topic with no matching
    // words checks empty-group semantics.
    "join_array_overlap" -> { (s, dir) =>
      val topics = s.sql(
        """SELECT * FROM VALUES
          | ('engine',  array('spark', 'vector')),
          | ('storage', array('scan', 'merge')),
          | ('missing', array('zebra', 'qwerty'))
          | AS t(topic, words)""".stripMargin)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("dw"))
      docs.join(topics, arrays_overlap(col("dw"), col("words")), "inner")
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    })

  val oracleSql: Map[String, String] = Map(

    "fn_timezone" ->
      """SELECT id,
        | strftime(((TIMESTAMP '2024-03-09 00:00:00' + id * INTERVAL 1 HOUR)
        |   AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York',
        |   '%Y-%m-%d %H:%M:%S') AS ny,
        | strftime(((TIMESTAMP '2024-03-09 00:00:00' + id * INTERVAL 1 HOUR)
        |   AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Kolkata',
        |   '%Y-%m-%d %H:%M:%S') AS kolkata,
        | strftime((TIMESTAMP '2024-03-15 12:00:00'
        |   AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC',
        |   '%Y-%m-%d %H:%M:%S') AS noon_ny_in_utc
        |FROM range(96) t(id)""".stripMargin,

    "fn_float_edge" ->
      """WITH z AS (SELECT CASE WHEN id = 0 THEN 0.0::DOUBLE ELSE -0.0::DOUBLE END AS z
        |           FROM range(2) t(id))
        |SELECT (-0.0::DOUBLE = 0.0::DOUBLE) AS eq_zero,
        |       (-0.0::DOUBLE < 0.0::DOUBLE) AS lt_zero,
        |       isnan('NaN'::DOUBLE) AS nan_ok,
        |       ('Infinity'::DOUBLE > 1e308::DOUBLE) AS inf_ok,
        |       ('-Infinity'::DOUBLE < -1e308::DOUBLE) AS neginf_ok,
        |       (SELECT count(DISTINCT z) FROM z) AS n_distinct_zero,
        |       (SELECT min(z) = max(z) FROM z) AS zeros_equal""".stripMargin,

    "join_array_overlap" ->
      """WITH topics(topic, words) AS (VALUES
        |   ('engine',  ['spark', 'vector']),
        |   ('storage', ['scan', 'merge']),
        |   ('missing', ['zebra', 'qwerty'])),
        |d AS (SELECT doc_id, string_split(lower(text), ' ') AS dw FROM documents)
        |SELECT topic, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM d JOIN topics ON list_has_any(dw, words)
        |GROUP BY topic""".stripMargin)
}
