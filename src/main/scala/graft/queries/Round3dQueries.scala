package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._
import graft.operators.Dedup

/** Round-3 batch 4: benchmark decontamination, window-frame EXCLUDE
  * semantics, sliding streaming windows.
  */
object Round3dQueries extends QuerySet {

  private val WordsCte =
    "SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws FROM documents"

  val queries: Map[String, QueryFn] = Map(

    // Decontamination: training docs ranked by distinct-3-shingle overlap
    // with a deterministic "benchmark" slice (doc_id % 97 = 0). The SF
    // generator plants near-dup copies, so top scores are non-trivially
    // large. Ordered by the ROUNDED score so the LIMIT boundary ties
    // identically across engines (doc_id tiebreak).
    "dedup_contamination" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      Dedup.contaminationScores(train, evalSet)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          r6(col("score")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(25)
    },

    // Window-frame EXCLUDE family (reference/DuckDB frame modifier Spark
    // lacks), emulated EXACTLY with integer-cent arithmetic so no FP
    // reassociation can drift: EXCLUDE CURRENT ROW = frame sum - current;
    // EXCLUDE GROUP on [unbounded, current] = RANGE [unbounded, -1];
    // EXCLUDE TIES = that + current. The oracle uses DuckDB's native
    // EXCLUDE syntax against the emulations.
    "win_exclude" -> { (s, dir) =>
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")).as("dn"),
          cents.as("cents"))
      val wRows = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
        .rowsBetween(-3, 3)
      val wBefore = Window.partitionBy("o_orderpriority").orderBy("dn")
        .rangeBetween(Window.unboundedPreceding, -1)
      base.select(col("o_orderkey"), col("o_orderpriority"), col("dn"), col("cents"),
        (sum(col("cents")).over(wRows) - col("cents")).as("excl_current"),
        sum(col("cents")).over(wBefore).as("excl_group"),
        (coalesce(sum(col("cents")).over(wBefore), lit(0L)) + col("cents")).as("excl_ties"))
    },

    "stream_sliding_agg" -> { (s, dir) =>
      graft.streaming.Streaming.runSlidingAgg(s, dir, "graft_stream_sliding")
        .select(col("bucket"), col("event_type"), col("n"),
          r2(col("val_sum")).as("val_sum"))
    })

  val oracleSql: Map[String, String] = Map(

    "dedup_contamination" ->
      s"""WITH words AS ($WordsCte),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |    ELSE list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shingles FROM words),
        |ex AS (SELECT DISTINCT doc_id, sh
        |       FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh)),
        |ev AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 97 = 0),
        |tr AS (SELECT * FROM ex WHERE doc_id % 97 != 0),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
        |hit AS (SELECT tr.doc_id, count(*) AS n_hit FROM tr JOIN ev USING (sh)
        |        GROUP BY tr.doc_id)
        |SELECT t.doc_id, t.n_shingles, coalesce(h.n_hit, 0) AS n_hit,
        |  floor((coalesce(h.n_hit, 0) / t.n_shingles + 1.37e-8) * 1000000 + 0.5)
        |    / 1000000 AS score
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        |ORDER BY score DESC, t.doc_id LIMIT 25""".stripMargin,

    "win_exclude" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
        |  datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dn,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        | FROM orders WHERE o_orderkey <= 2000)
        |SELECT o_orderkey, o_orderpriority, CAST(dn AS INT) AS dn, cents,
        |  CAST(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
        |    EXCLUDE CURRENT ROW) AS BIGINT) AS excl_current,
        |  CAST(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY dn
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |    EXCLUDE GROUP) AS BIGINT) AS excl_group,
        |  CAST(coalesce(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY dn
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |    EXCLUDE GROUP), 0) + cents AS BIGINT) AS excl_ties
        |FROM b""".stripMargin,

    "stream_sliding_agg" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |w AS (SELECT time_bucket(INTERVAL '30 minutes', ts)
        |               - k * INTERVAL '30 minutes' AS ws,
        |             event_type, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
        |  count(*) AS n,
        |  floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS val_sum
        |FROM w GROUP BY ws, event_type""".stripMargin
  )
}
