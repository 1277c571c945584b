package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** TPC-H-style relational queries over the fixture star schema.
  *
  * These mirror the reference's primary benchmark/correctness corpus
  * (reference: datafusion/sqllogictest/test_files/tpch/ — all 22 queries with
  * golden answers) re-expressed on the reduced fixture schema. Each query is
  * declared with the DataFrame API so Catalyst plans partial aggregation,
  * join selection (broadcast vs shuffle via AQE) and parquet
  * filter/projection pushdown.
  */
object TpchQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // TPC-H Q1: scan → filter → groupBy agg → sort.
    // Reference golden: sqllogictest/test_files/tpch/answers/q1.slt.part
    "q1_agg" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r2(sum("l_quantity")).as("sum_qty"),
          r2(sum("l_extendedprice")).as("sum_base_price"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
          r4(avg("l_quantity")).as("avg_qty"),
          r4(avg("l_extendedprice")).as("avg_price"),
          r6(avg("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q6: tight scan+filter+sum — exercises parquet predicate pushdown.
    "q6_filter" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(r2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"))
    },

    // TPC-H Q3: 3-way join → agg → top-k (TakeOrderedAndProject).
    // Eager aggregation: revenue is summed per orderkey BELOW the join, so
    // the shuffle carries one narrow row per order instead of every raw
    // lineitem (map-side combine is near-total — lineitem is clustered by
    // orderkey), and because orderkey stays unique through the orders /
    // customer joins no re-aggregation is needed above them.
    // Declared as ONE SQL statement: the eager per-operator analysis of the
    // DataFrame DSL costs ~2× the single parse+analyze of the equivalent
    // text (measured 96 vs 50 ms/plan on this shape — NOTES_r4.md),
    // which is a real fraction of a 1 s query. Same plan either way.
    "q3_join_topk" -> { (s, dir) =>
      // Stats-gated reshape (BroadcastAdvisor): the broadcast form is only
      // emitted when the footer-estimated complex fits the threshold; past
      // it, the hint-free text runs and join selection
      // happens at runtime from actual sizes.
      import graft.plans.BroadcastAdvisor
      val bc = BroadcastAdvisor.shouldBroadcast(s, BroadcastAdvisor.q3CmplxBytes(s, dir))
      graft.Tables.registerAll(s, dir)
      val hint = if (bc) "/*+ BROADCAST(cmplx) */ " else ""
      s.sql(
        s"""SELECT ${hint}l_orderkey,
          |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
          |  CAST(FLOOR((sum(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS revenue
          |FROM lineitem,
          |  (SELECT o_orderkey, o_orderdate, o_orderpriority
          |   FROM customer, orders
          |   WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          |     AND o_orderdate < '1998-03-15') cmplx
          |WHERE l_orderkey = cmplx.o_orderkey AND l_shipdate > '1998-03-15'
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
    },

    // TPC-H Q5-style: 5-way join through region/nation dims + group agg.
    // Shape: every side but lineitem is reduced to a slim broadcastable
    // complex BEFORE touching the fact table, so lineitem streams through
    // two broadcast hash joins straight into partial aggregation — the
    // fact table is never exchanged (the pre-reshape plan shuffled 107 MB
    // of lineitem at SF1 only for AQE to convert the join to broadcast
    // after the write was already paid). The region→nation→customer→orders
    // reduction chain is selective (ASIA ∧ 2-year window), so the broadcast
    // side scales with the filtered order window, not |orders|; the same
    // reduction is what a stats-aware CBO picks here (the reference's
    // planner does the equivalent CollectLeft chain from its estimates).
    "q5_multijoin" -> { (s, dir) =>
      // Stats-gated (BroadcastAdvisor): ao (the filtered order complex) and
      // the slim customer projection both scale with SF — each hint is
      // gated on its own footer estimate; nr (nation⋈region) is constant-
      // size and sup tracks the supplier table.
      import graft.plans.BroadcastAdvisor._
      val aoOk = shouldBroadcast(s, q5AoBytes(s, dir))
      val custStats = tableStats(s, s"$dir/customer.parquet")
      val custOk = shouldBroadcast(s,
        estimateBytes(custStats, custStats.rows.toDouble, Seq("c_custkey", "c_nationkey")))
      val supStats = tableStats(s, s"$dir/supplier.parquet")
      val supOk = shouldBroadcast(s,
        estimateBytes(supStats, supStats.rows.toDouble, Seq("s_suppkey", "s_nationkey")))
      val all = aoOk && custOk && supOk
      graft.Tables.registerAll(s, dir)
      val outerHints = Seq(if (aoOk) Some("BROADCAST(ao)") else None,
        if (supOk) Some("BROADCAST(sup)") else None).flatten
      val outer = if (outerHints.nonEmpty) outerHints.mkString("/*+ ", ", ", " */ ") else ""
      val inner = if (custOk) "/*+ BROADCAST(cust), BROADCAST(nr) */ " else "/*+ BROADCAST(nr) */ "
      // Broadcast-dependency shape: the old left-deep region→nation→
      // customer→orders chain was four SEQUENTIAL broadcast-exchange jobs
      // (each level's build waits on the previous) before lineitem could
      // stream. Written as explicit joins, the two prefixes are
      // independent — (nation⋈region) and the slim customer projection
      // broadcast-build CONCURRENTLY, and orders absorbs both probes in
      // one scan stage — so the critical path drops a full job+build
      // round-trip. Same plan a dependency-graph-aware scheduler (or the
      // reference's CollectLeft chain) discovers; Spark executes sibling
      // broadcast futures in parallel but never re-associates the join
      // tree itself, hence the explicit shape. ORDER BY + LIMIT 30 (≥ the
      // 25 possible nations, so semantically total) plans as
      // TakeOrderedAndProject — no range-partitioner sampling job for a
      // 5-row sort.
      s.sql(
        s"""SELECT ${outer}n_name,
          |  CAST(FLOOR((sum(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS revenue
          |FROM lineitem,
          |  (SELECT ${inner}o_orderkey, c_nationkey, n_name
          |   FROM orders
          |   JOIN (SELECT c_custkey, c_nationkey FROM customer) cust
          |     ON o_custkey = c_custkey
          |   JOIN (SELECT n_nationkey, n_name FROM nation, region
          |         WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey) nr
          |     ON c_nationkey = n_nationkey
          |   WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01') ao,
          |  (SELECT s_suppkey, s_nationkey FROM supplier) sup
          |WHERE l_orderkey = ao.o_orderkey AND l_suppkey = sup.s_suppkey
          |  AND sup.s_nationkey = ao.c_nationkey
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name LIMIT 30""".stripMargin)
    },

    // TPC-H Q10-style: customer revenue ranking, join + agg + topk.
    // Eager aggregation (same rationale as q3): sum revenue per orderkey
    // before any join, roll up to per-customer totals, and only then join
    // the customer/nation dimensions — the wide rows never shuffle.
    // c_name/c_acctbal/n_name are functionally dependent on c_custkey, so
    // grouping by custkey alone is equivalent to the 4-key grouping.
    // The 3-month order window is the selective side: broadcast it into
    // the lineitem scan so returned lines reduce to per-customer revenue
    // in one streamed pass (no fact shuffle), then broadcast the small
    // per-customer totals back over the customer/nation dims — the wide
    // c_name/c_acctbal rows never shuffle either.
    "q10_returns" -> { (s, dir) =>
      // Stats-gated (BroadcastAdvisor): pc (per-customer totals) and o2
      // (the 3-month order window) are both bounded by the window's order
      // count — one footer estimate gates both hints.
      import graft.plans.BroadcastAdvisor
      val bc = BroadcastAdvisor.shouldBroadcast(s, BroadcastAdvisor.q10PcBytes(s, dir))
      graft.Tables.registerAll(s, dir)
      val pcHint = if (bc) "/*+ BROADCAST(pc) */ " else ""
      val o2Hint = if (bc) "/*+ BROADCAST(o2) */ " else ""
      s.sql(
        s"""SELECT ${pcHint}c_custkey, c_name, c_acctbal, n_name,
          |  CAST(FLOOR((rev_c + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS revenue
          |FROM customer, nation,
          |  (SELECT ${o2Hint}o_custkey, sum(l_extendedprice * (1 - l_discount)) AS rev_c
          |   FROM lineitem,
          |     (SELECT o_orderkey, o_custkey FROM orders
          |      WHERE o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01') o2
          |   WHERE l_orderkey = o2.o_orderkey AND l_returnflag = 'R'
          |   GROUP BY o_custkey) pc
          |WHERE c_custkey = pc.o_custkey AND c_nationkey = n_nationkey
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
    },

    // TPC-H Q12-style: join + conditional aggregation (CASE inside SUM).
    // Reshape (r6): the priority predicate folds to ONE boolean below the
    // orders exchange (the r5 form shuffled the dictionary string), and
    // the join runs as SHUFFLE_HASH when the per-partition orders build
    // fits task memory (stats-gated via shouldShuffleHash — past the
    // threshold the plain AQE text plans the spillable SMJ). A/B at SF1
    // (steady state, BENCH_NOTES.md): gated SHUFFLE_HASH+bool 0.686 s;
    // r5 plain AQE 0.711; runtime bloom filter 1.30 (extra fact pass + 1-task
    // bloom merge buys only 12→5 MB on a join that was never
    // scan-bound); bool payload under plain AQE 1.16 (AQE flips to a
    // LOSING 1.5M-row broadcast — driver-side build hides ~0.7 s). The
    // residual vs the reference is exchange materialization itself — the
    // component-floor study in BENCH_NOTES pins it.
    "q12_shipmode" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val o = tableStats(s, s"$dir/orders.parquet")
      // r11: the orders side carries exactly ONE boolean per key, so the
      // whole build collapses to a dense 2-bit key map over o_orderkey
      // (BitmapJoin; slot 1 = low, 2 = high, 0 = absent) — 375 KB at SF1
      // vs any hash relation, zero shuffles left but the ≤2-group agg.
      // BENCH_NOTES.md r11 (SF1, interleaved min-of-8, as two 1-bit
      // planes): bitmap-exact 0.274 s vs gated SHUFFLE_HASH 0.522 vs plain
      // AQE 0.857 vs broadcast 0.814, identical results. Gated on footer
      // maxKey (2×maxKey/8 ≤ broadcast threshold, minKey ≥ 0); past it, the
      // r5-measured SHUFFLE_HASH/AQE chain is unchanged.
      graft.Tables.registerAll(s, dir)
      if (graft.operators.BitmapJoin.gate(s, o.cols.get("o_orderkey"), 2)) {
        val orders = s.table("orders").select(col("o_orderkey"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi"))
        val probe = graft.operators.BitmapJoin.probe(graft.operators.BitmapJoin
          .build(orders, "o_orderkey", when(col("hi"), 2).otherwise(1), 2), 2)
        s.table("lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("l_linestatus"),
            (probe(col("l_orderkey").cast("long")) === 2).as("hi"))
          .filter(col("hi").isNotNull) // inner-join drop for unmatched keys
          .groupBy(col("l_linestatus"))
          .agg(sum(when(col("hi"), 1).otherwise(0)).as("high_line_count"),
            sum(when(col("hi"), 0).otherwise(1)).as("low_line_count"))
          .coalesce(1).sortWithinPartitions("l_linestatus")
      } else {
      val sh = shouldShuffleHash(s,
        estimateBytes(o, o.rows.toDouble, Seq("o_orderkey")))
      // when the SHUFFLE_HASH gate decides the join at planning time, the
      // ≤2-group final aggregate rides coalesce(1) + local sort, so the
      // ORDER BY's range exchange and sampling job vanish (same argument as
      // q22's broadcast form)
      val hint = if (sh) "/*+ SHUFFLE_HASH(os) */ " else ""
      val body =
        s"""SELECT ${hint}l_linestatus,
          |  sum(CASE WHEN os.hi THEN 1 ELSE 0 END) AS high_line_count,
          |  sum(CASE WHEN os.hi THEN 0 ELSE 1 END) AS low_line_count
          |FROM lineitem,
          |  (SELECT o_orderkey,
          |     o_orderpriority IN ('1-URGENT', '2-HIGH') AS hi FROM orders) os
          |WHERE l_orderkey = os.o_orderkey
          |  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          |GROUP BY l_linestatus""".stripMargin
      if (sh) s.sql(body).coalesce(1).sortWithinPartitions("l_linestatus")
      else s.sql(body + "\nORDER BY l_linestatus")
      }
    },

    // TPC-H Q14-style: promo revenue ratio — scalar expression over join agg.
    "q14_promo" -> { (s, dir) =>
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01") && col("l_shipdate") < lit("1996-10-01"))
      p.join(l, col("l_partkey") === col("p_partkey"))
        .agg(
          r2(sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(lit(0.0))) * 100.0 /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("promo_revenue"))
    },

    // TPC-H Q18-style: large-group filter via HAVING (agg → filter → join-back).
    "q18_bigorders" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // r14: materializing the HAVING survivors (localCheckpoint + real
      // count) and broadcasting them into the orders scan was implemented
      // and measured-REJECTED (OPTIMIZATION_r14.md, SF1, same-JVM min-of-8:
      // shuffle join 1.43/1.67 vs ckpt+broadcast 1.61/2.14). The orders
      // exchange this removes runs CONCURRENTLY with the lineitem partial-agg
      // exchange (the query's semantic shuffle), so cutting it buys no
      // wall-clock while the checkpoint inserts a barrier + count job +
      // broadcast build on the critical path. The 44 MB partial-agg
      // exchange itself is the query's semantics (every orderkey's
      // partial sums must meet once) — shape stands as r13 left it.
      val big = l.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("tot_qty"))
        .filter(col("tot_qty") > 150)
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(
          col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"), r2(col("tot_qty")).as("tot_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
    })

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_quantity) + 1.37e-4) * 100 + 0.5) / 100 AS sum_qty,
        | floor((sum(l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS sum_base_price,
        | floor((sum(l_extendedprice*(1-l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS sum_disc_price,
        | floor((sum(l_extendedprice*(1-l_discount)*(1+l_tax)) + 1.37e-4) * 100 + 0.5) / 100 AS sum_charge,
        | floor((avg(l_quantity) + 1.37e-6) * 10000 + 0.5) / 10000 AS avg_qty,
        | floor((avg(l_extendedprice) + 1.37e-6) * 10000 + 0.5) / 10000 AS avg_price,
        | floor((avg(l_discount) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q6_filter" ->
      """SELECT floor((sum(l_extendedprice*l_discount) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q3_join_topk" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        | floor((sum(l_extendedprice*(1-l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name, floor((sum(l_extendedprice*(1-l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 30""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | floor((sum(l_extendedprice*(1-l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_shipmode" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q14_promo" ->
      """SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice*(1-l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice*(1-l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS promo_revenue
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,

    "q18_bigorders" ->
      """SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | o_totalprice, floor((tot_qty + 1.37e-4) * 100 + 0.5) / 100 AS tot_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS tot_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
        | JOIN orders ON big.l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin)
}
