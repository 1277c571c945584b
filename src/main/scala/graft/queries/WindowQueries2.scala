package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Q._

/** Window/relational batch 2: GROUPS frames (emulated — closes the gap
  * SURVEY.md flags as hard part #2), TPC-H Q2 shape, PIVOT.
  *
  * GROUPS BETWEEN n PRECEDING AND CURRENT ROW aggregates over peer groups
  * (distinct ORDER BY values). Spark has no GROUPS frames
  * (reference: expr/src/window_frame.rs:460-474 supports them), but a RANGE
  * frame over `dense_rank` is semantically identical: peers share a
  * dense_rank, and a rank distance of n spans exactly n+1 peer groups.
  * (DuckDB 1.0 doesn't implement GROUPS frames either, so the oracle uses
  * the same dense_rank+RANGE identity — an independent engine computing the
  * identical semantics.)
  */
object WindowQueries2 extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    "win_groups_frame" -> { (s, dir) =>
      val byPrio = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("odate"))
      val groupsFrame = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("dr"))
        .rangeBetween(-2, 0) // GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW
      t(s, dir, "orders")
        .filter(col("o_custkey") < 120)
        .withColumn("odate", col("o_orderdate").cast("date"))
        .withColumn("dr", dense_rank().over(byPrio))
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          count(lit(1)).over(groupsFrame).as("n_in_3_groups"),
          r2(sum(col("o_totalprice")).over(groupsFrame)).as("sum_in_3_groups"))
    },

    // TPC-H Q2 (real shape): min-cost supplier per part over partsupp —
    // correlated scalar min subquery, 5-way dim join, top-100. partsupp is
    // the real file in the scale fixtures (800k rows at SF1 — the
    // reference's actual input volume), derived deterministically at the
    // oracle scales (Tables.partsupp). Adapted to the reduced fixture
    // schema: no p_mfgr/s_address/s_phone/s_comment; s_suppkey added as the
    // unique LIMIT tiebreaker. Reference: sqllogictest/test_files/tpch/
    // answers/q2.slt.part.
    //
    // Reshape (r6, stats-gated): the textbook decorrelation scans partsupp
    // TWICE — once for the outer join tree, once for the per-part min — and
    // shuffles the whole EUROPE slice to aggregate it. But the correlation
    // key is p_partkey, so only parts surviving the σ(p_size ∧ p_type)
    // filter can reach the output: semi-joining partsupp against the
    // filtered part keys FIRST shrinks the min's input by the part filter's
    // selectivity (~1/50 · LIKE) before any exchange, and the per-part min
    // becomes a window over that residue — ONE partsupp scan, one KB-scale
    // shuffle. Same values per surviving key, so semantics are identical
    // (the oracle runs the un-reshaped reference text). This is the
    // filter-pushdown-through-correlation a CBO derives from the equi-join;
    // both broadcasts are footer-gated (BroadcastAdvisor) — past threshold
    // the reference-shaped text runs instead.
    "q2_mincost" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val pOk = shouldBroadcast(s, q2PartBytes(s, dir))
      val euOk = shouldBroadcast(s, supplierComplexBytes(s, dir, "region",
        Seq("s_suppkey", "s_name", "s_acctbal")))
      Tables.registerAll(s, dir)
      if (!(pOk && euOk)) s.sql(TpchPartsuppSql.q2)
      else s.sql(
        """SELECT s_acctbal, s_name, n_name, p_partkey, s_suppkey
          |FROM (
          |  SELECT /*+ BROADCAST(p), BROADCAST(eu) */
          |    s_acctbal, s_name, n_name, p_partkey, s_suppkey, ps_supplycost,
          |    min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS mc
          |  FROM partsupp
          |  JOIN (SELECT p_partkey FROM part
          |        WHERE p_size = 15 AND p_type LIKE '%STAND%') p
          |    ON p_partkey = ps_partkey
          |  JOIN (SELECT s_suppkey, s_name, s_acctbal, n_name
          |        FROM supplier, nation, region
          |        WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |          AND r_name = 'EUROPE') eu
          |    ON s_suppkey = ps_suppkey)
          |WHERE ps_supplycost = mc
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
          |LIMIT 100""".stripMargin)
    },

    // PIVOT (conditional-aggregation expansion; Spark-native API breadth).
    "pivot_status" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
    })

  val oracleSql: Map[String, String] = Map(
    "win_groups_frame" ->
      """SELECT o_orderkey, o_orderpriority,
        | count(*) OVER w AS n_in_3_groups,
        | floor((sum(o_totalprice) OVER w + 1.37e-4) * 100 + 0.5) / 100 AS sum_in_3_groups
        |FROM (SELECT *, dense_rank() OVER (PARTITION BY o_orderpriority
        |        ORDER BY CAST(o_orderdate AS DATE)) AS dr
        |      FROM orders WHERE o_custkey < 120)
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY dr
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q2_mincost" -> TpchPartsuppSql.oracle(TpchPartsuppSql.q2),

    "pivot_status" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin)
}
