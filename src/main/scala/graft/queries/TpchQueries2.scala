package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import Q._

/** Second TPC-H-style batch: the remaining reference benchmark shapes
  * (sqllogictest/test_files/tpch/ q4,q7,q8,q9,q13,q15,q17,q19,q20,q21,q22)
  * adapted to the reduced fixture schema (no partsupp/commitdate/phone —
  * predicates substituted with available columns, keeping each query's
  * structural signature: decorrelated EXISTS, multi-way joins with
  * conditional aggregation, views, nested INs, disjunctive DNF predicates,
  * anti-join + scalar subquery, etc.).
  */
object TpchQueries2 extends QuerySet {

  /** q21 tail shared by the bitmap branch: resolve supplier names (the
    * planner's own size estimate broadcasts the dimension; no hint, so past
    * dimension-scale growth it degrades to the spillable partitioned join)
    * and produce the top-20 with the oracle's exact column types. */
  private def return21(l2: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    l2.join(s.table("supplier"), col("high_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum("nlines").cast("bigint").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)

  val queries: Map[String, QueryFn] = Map(
    // Q4: EXISTS-decorrelated semi join + group on priority.
    "q4_priority" -> { (s, dir) =>
      val l = graft.plans.BroadcastAdvisor.tableStats(s, s"$dir/lineitem.parquet")
      // r12: EXISTS(σ lineitem) carries NO payload — it is a pure SET of
      // orderkeys, so the whole subquery collapses to ONE dense bitset
      // over l_orderkey (a 1-bit BitmapJoin key map; duplicates are
      // idempotent under OR, exactly semi-join semantics). Built by a
      // partition-OR pass over the 2-column filtered fact scan; the
      // 3-month order window probes it with a bit test. BENCH_NOTES.md
      // r12 (SF1, interleaved min-of-8): bitmap 0.225 s vs shipped bcast-window
      // 0.323 vs broadcast-semi 0.417 vs plain AQE EXISTS 0.826,
      // identical results. Gated on footer maxKey (maxKey/8 ≤ broadcast
      // threshold, minKey ≥ 0); past the gate the original EXISTS text
      // runs on the caller's session (Spark decorrelates it to the shuffled
      // semi join).
      Tables.registerAll(s, dir)
      if (graft.operators.BitmapJoin.gate(s, l.cols.get("l_orderkey"), 1)) {
        val keys = s.table("lineitem")
          .filter(col("l_quantity") > 45)
          .select(col("l_orderkey"))
        val hasLine = graft.operators.BitmapJoin.probe(
          graft.operators.BitmapJoin.build(keys, "l_orderkey", lit(1), 1), 1)
        s.table("orders")
          .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
          .filter(hasLine(col("o_orderkey").cast("long")).isNotNull)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .coalesce(1).sortWithinPartitions("o_orderpriority")
      } else {
        s.sql("""
          SELECT o_orderpriority, count(*) AS order_count
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
            AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                        AND l_quantity > 45)
          GROUP BY o_orderpriority ORDER BY o_orderpriority
        """)
      }
    },

    // Q7: volume between two nations by year (join + CASE pairs).
    // Reshape (stats-gated): customers are pre-filtered to the two
    // nations (2/|nation| of the table), that slim set folds into orders
    // producing a small (o_orderkey, cust_nation) complex, and lineitem
    // streams through two broadcast joins (order complex + two-nation
    // suppliers) straight into partial aggregation — the fact table and
    // orders are never exchanged. The nation-PAIR predicate applies after
    // both joins, on the already-reduced rows.
    "q7_volume" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val o = tableStats(s, s"$dir/orders.parquet")
      val n = tableStats(s, s"$dir/nation.parquet")
      val twoNationSel = if (n.rows > 0) 2.0 / n.rows else 1.0
      val bc = shouldBroadcast(s,
        estimateBytes(o, o.rows * twoNationSel, Seq("o_orderkey", "o_custkey")))
      Tables.registerAll(s, dir)
      val hint = if (bc) "/*+ BROADCAST(ocx), BROADCAST(sn) */ " else ""
      val innerHint = if (bc) "/*+ BROADCAST(cn) */ " else ""
      s.sql(
        s"""SELECT ${hint}supp_nation, cust_nation,
          |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |  CAST(FLOOR((sum(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS revenue
          |FROM lineitem,
          |  (SELECT ${innerHint}o_orderkey, cust_nation
          |   FROM orders,
          |     (SELECT c_custkey, n_name AS cust_nation FROM customer, nation
          |      WHERE c_nationkey = n_nationkey
          |        AND n_name IN ('NATION_1', 'NATION_2')) cn
          |   WHERE o_custkey = c_custkey) ocx,
          |  (SELECT s_suppkey, n_name AS supp_nation FROM supplier, nation
          |   WHERE s_nationkey = n_nationkey
          |     AND n_name IN ('NATION_1', 'NATION_2')) sn
          |WHERE l_orderkey = ocx.o_orderkey AND l_suppkey = sn.s_suppkey
          |  AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
          |    OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
          |GROUP BY supp_nation, cust_nation, l_year""".stripMargin)
    },

    // Q8: market-share ratio per year (conditional agg over a big join).
    // Reshape (stats-gated): Europe customers reduce to 1/|region| of the
    // table, fold into orders as a slim (o_orderkey, o_orderdate) complex;
    // ECONOMY parts are a 1/|p_type| key set; the supplier→nation lookup
    // is dimension-sized. All three broadcast, lineitem streams through
    // them into a 2-group partial aggregation — zero fact/orders exchange.
    "q8_share" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val o = tableStats(s, s"$dir/orders.parquet")
      val r = tableStats(s, s"$dir/region.parquet")
      val regionSel = if (r.rows > 0) 1.0 / r.rows else 1.0
      val bc = shouldBroadcast(s,
        estimateBytes(o, o.rows * regionSel, Seq("o_orderkey", "o_orderdate")))
      Tables.registerAll(s, dir)
      val hint = if (bc) "/*+ BROADCAST(ocx), BROADCAST(px), BROADCAST(sn) */ " else ""
      val innerHint = if (bc) "/*+ BROADCAST(cn) */ " else ""
      s.sql(
        s"""SELECT ${hint}CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  CAST(FLOOR((sum(CASE WHEN supp_nation = 'NATION_3'
          |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
          |    / sum(l_extendedprice * (1 - l_discount)) + 1.37e-8) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mkt_share
          |FROM lineitem,
          |  (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY') px,
          |  (SELECT ${innerHint}o_orderkey, o_orderdate
          |   FROM orders,
          |     (SELECT c_custkey FROM customer, nation, region
          |      WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |        AND r_name = 'EUROPE') cn
          |   WHERE o_custkey = c_custkey) ocx,
          |  (SELECT s_suppkey, n_name AS supp_nation FROM supplier, nation
          |   WHERE s_nationkey = n_nationkey) sn
          |WHERE l_partkey = px.p_partkey AND l_orderkey = ocx.o_orderkey
          |  AND l_suppkey = sn.s_suppkey
          |GROUP BY o_year""".stripMargin)
    },

    // Q9: profit per nation/year over the REAL partsupp join — the
    // reference's exact shape (benchmarks/queries/q9.sql): amount =
    // l_extendedprice*(1-l_discount) - ps_supplycost*l_quantity, partsupp
    // matched on BOTH (l_partkey, l_suppkey). The name predicate is the
    // fixture analog of '%green%': one of the 8 uniformly-assigned color
    // words (~1/8 of parts vs the reference's ~1/17 — if anything MORE
    // input). Reshape (stats-gated): psx = σ(name) part ⋈ partsupp
    // projected to (ps_partkey, ps_suppkey, ps_supplycost) — 4 rows/part ×
    // word selectivity — broadcasts with the supplier→nation lookup;
    // lineitem streams through both; the orders side is fact-sized, so
    // that join is a SHUFFLE_HASH of two slim projections — scale-safe
    // (no build-size ceiling, no sort of either side). Past the psx
    // threshold the plain reference text runs under AQE (spillable SMJ).
    "q9_profit" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val p = tableStats(s, s"$dir/part.parquet")
      val sup = tableStats(s, s"$dir/supplier.parquet")
      // psx rows = |part| × name-word selectivity × 4 suppliers/part;
      // EqSelectivity (0.2) over-estimates the measured 1/8, so the gate
      // errs toward the shuffle plan. Widths: two int64 keys + decimal cost
      // ≈ the part key width ×3.
      val psxRows = p.rows * EqSelectivity * 4.0
      val bc = shouldBroadcast(s,
        estimateBytes(p, psxRows,
          Seq("p_partkey", "p_partkey", "p_retailprice"))) &&
        shouldBroadcast(s,
          estimateBytes(sup, sup.rows.toDouble, Seq("s_suppkey")))
      // r14: orders' ONLY contribution to q9 is o_year = year(o_orderdate)
      // looked up by the PK o_orderkey — a 1-byte payload per key. Past the
      // r13 fold the SHUFFLE_HASH still exchanged BOTH the folded fact
      // (orderkey, amount, n_name) and all of orders, then built a
      // 1.5M-entry hash relation per partition. A dense 8-bit key map
      // (slot[o_orderkey] = year-1900, 0 = absent → NULL → dropped, the
      // inner-join semantics without assuming FK integrity) turns that
      // join into an in-scan codegen array index: the only exchange left
      // is the ~175-group final aggregate. Gated on footer stats like
      // q21's 1-bit map: maxKey bytes ≤ broadcast threshold, minKey ≥ 0, and
      // o_orderdate's footer year range inside 1901..2155 so the payload
      // fits 1..255 (at 100 TB maxKey trips the gate and the exchange
      // plan below is unchanged). o_orderkey unique + o_orderdate non-null
      // are schema knowledge (TPC-H PK/NOT NULL), same as q12/q21.
      val o = tableStats(s, s"$dir/orders.parquet")
      def yearOf(v: Long, unit: Double): Int = java.time.LocalDate
        .ofEpochDay(math.floor(v * unit / 86.4e9).toLong).getYear
      val yearsOk = o.cols.get("o_orderdate").exists(c => (for {
        mn <- c.minLong; mx <- c.maxLong; u <- c.microsPerUnit
      } yield yearOf(mn, u) >= 1901 && yearOf(mx, u) <= 2155).getOrElse(false))
      Tables.registerAll(s, dir)
      if (bc && yearsOk &&
          graft.operators.BitmapJoin.gate(s, o.cols.get("o_orderkey"), 8)) {
        val oyear = graft.operators.BitmapJoin.probe(graft.operators.BitmapJoin.build(
          s.table("orders").select(col("o_orderkey"), col("o_orderdate")),
          "o_orderkey", year(col("o_orderdate")) - 1900, 8), 8)
        val f = s.sql(
          """SELECT /*+ BROADCAST(psx), BROADCAST(sn) */ l_orderkey, n_name,
            |   l_extendedprice * (1 - l_discount)
            |     - ps_supplycost * l_quantity AS amount
            | FROM lineitem,
            |   (SELECT /*+ BROADCAST(pn) */ ps_partkey, ps_suppkey,
            |      CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
            |    FROM partsupp,
            |      (SELECT p_partkey FROM part WHERE contains(p_name, 'red')) pn
            |    WHERE ps_partkey = pn.p_partkey) psx,
            |   (SELECT s_suppkey, n_name FROM supplier, nation
            |    WHERE s_nationkey = n_nationkey) sn
            | WHERE l_partkey = psx.ps_partkey AND l_suppkey = psx.ps_suppkey
            |   AND l_suppkey = sn.s_suppkey""".stripMargin)
        f.withColumn("o_year",
            (oyear(col("l_orderkey").cast("long")) + 1900).cast("long"))
          .where(col("o_year").isNotNull)
          .groupBy("n_name", "o_year")
          .agg((floor((sum(col("amount")) + lit(1.37e-4)) * 100 + 0.5)
            .cast("double") / 100).as("profit"))
      } else {
      // r13: fold the amount expression BELOW the fact-side exchange
      // (guide: project before the exchange). The SHUFFLE_HASH fact side
      // used to carry (l_quantity, l_extendedprice, l_discount,
      // ps_supplycost) through hashpartitioning(l_orderkey) only to
      // combine them immediately after — computing `amount` inside the
      // broadcast-join subquery shrinks the shuffled row from 6 columns
      // to 3 (orderkey, amount, n_name). Identical row set; the epsilon
      // rounding already absorbs FP summation-order drift (oracle-gated).
      val hint = if (bc) "/*+ SHUFFLE_HASH(ox) */ " else ""
      val factHint = if (bc) "/*+ BROADCAST(psx), BROADCAST(sn) */ " else ""
      val innerHint = if (bc) "/*+ BROADCAST(pn) */ " else ""
      s.sql(
        s"""SELECT ${hint}n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  CAST(FLOOR((sum(amount) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS profit
          |FROM
          |  (SELECT ${factHint}l_orderkey, n_name,
          |     l_extendedprice * (1 - l_discount)
          |       - ps_supplycost * l_quantity AS amount
          |   FROM lineitem,
          |     (SELECT ${innerHint}ps_partkey, ps_suppkey,
          |        CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
          |      FROM partsupp,
          |        (SELECT p_partkey FROM part WHERE contains(p_name, 'red')) pn
          |      WHERE ps_partkey = pn.p_partkey) psx,
          |     (SELECT s_suppkey, n_name FROM supplier, nation
          |      WHERE s_nationkey = n_nationkey) sn
          |   WHERE l_partkey = psx.ps_partkey AND l_suppkey = psx.ps_suppkey
          |     AND l_suppkey = sn.s_suppkey) f,
          |  (SELECT o_orderkey, o_orderdate FROM orders) ox
          |WHERE f.l_orderkey = ox.o_orderkey
          |GROUP BY n_name, o_year""".stripMargin)
      }
    },

    // Q13: distribution of orders per customer (left join + double groupBy).
    // Reshape (stats-gated): orders aggregate to per-customer counts FIRST
    // (one shuffle of narrow (custkey, count) pairs with near-total
    // map-side combine), then the count relation — bounded by |customer| —
    // broadcasts over the customer scan as a LEFT join (count 0 for
    // customers with no matching orders), and the histogram re-aggregates.
    // Neither base table is exchanged; the old shape shuffled the full
    // customer AND orders tables into a join keyed on c_custkey.
    "q13_custdist" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val c = tableStats(s, s"$dir/customer.parquet")
      val bc = shouldBroadcast(s,
        estimateBytes(c, c.rows.toDouble, Seq("c_custkey")))
      Tables.registerAll(s, dir)
      val hint = if (bc) "/*+ BROADCAST(oc) */ " else ""
      val grouped = s.sql(
        s"""SELECT c_count, count(*) AS custdist FROM (
          |  SELECT ${hint}coalesce(oc.n, 0) AS c_count
          |  FROM customer LEFT JOIN
          |    (SELECT o_custkey, count(*) AS n FROM orders
          |     WHERE o_orderpriority <> '1-URGENT'
          |     GROUP BY o_custkey) oc
          |  ON c_custkey = oc.o_custkey)
          |GROUP BY c_count""".stripMargin)
      // r13: the histogram is bounded by max(orders per customer) + 1 rows
      // at ANY scale, so one final task is exact — sortWithinPartitions IS
      // the total order and the ORDER BY's range exchange + its sampling
      // job disappear (the q4/q22 latency treatment).
      if (bc) grouped.coalesce(1)
        .sortWithinPartitions(col("custdist").desc, col("c_count").desc)
      else grouped.orderBy(col("custdist").desc, col("c_count").desc)
    },

    // Q15: top supplier(s) by quarterly revenue — view + scalar-subquery
    // max. Reshape: the scalar-subquery form evaluates the revenue CTE
    // TWICE (once for the join, once for max) — two full lineitem scans.
    // An unpartitioned window max over the aggregated revenue relation
    // (bounded by |supplier| rows) computes the same maximum-with-ties in
    // the same pass, and the tiny result broadcasts over supplier. One
    // fact scan, no fact exchange, identical semantics (ties kept).
    "q15_topsupplier" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val sup = tableStats(s, s"$dir/supplier.parquet")
      val bc = shouldBroadcast(s,
        estimateBytes(sup, sup.rows.toDouble, Seq("s_suppkey")))
      Tables.registerAll(s, dir)
      val hint = if (bc) "/*+ BROADCAST(r) */ " else ""
      s.sql(
        s"""SELECT ${hint}s_suppkey, s_name,
          |       floor((total_revenue + 1.37e-4) * 100 + 0.5) / 100 AS total_revenue
          |FROM supplier,
          |  (SELECT supplier_no, total_revenue,
          |          max(total_revenue) OVER () AS mx
          |   FROM (SELECT l_suppkey AS supplier_no,
          |                sum(l_extendedprice * (1 - l_discount)) AS total_revenue
          |         FROM lineitem
          |         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          |         GROUP BY l_suppkey)) r
          |WHERE s_suppkey = supplier_no AND total_revenue = mx""".stripMargin)
    },

    // Q17: small-quantity revenue vs per-part average (correlated agg).
    //
    // r13 reshape (stats-gated): Spark decorrelates the scalar subquery to
    // a SECOND full lineitem scan (no part pre-filter reaches it — the
    // correlation is on l_partkey, and the optimizer cannot see that
    // p_partkey is part's key) joined back by SortMergeJoin: two fact
    // scans, a full fact exchange + sort. But p_partkey is unique and
    // p_brand is a part attribute, so every lineitem row of a qualifying
    // partkey survives the brand join — the correlated avg over ALL rows
    // of a partkey equals the window avg over the brand-filtered rows.
    // One fact scan through a broadcast key filter, one keyed exchange,
    // one window: no second scan, no fact sort-merge. The DuckDB oracle
    // keeps the correlated text, so the selfcheck proves the equivalence.
    // Past the broadcast gate the original text runs under AQE unchanged.
    "q17_smallqty" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val p = tableStats(s, s"$dir/part.parquet")
      val bc = shouldBroadcast(s,
        estimateBytes(p, p.rows * EqSelectivity, Seq("p_partkey")))
      Tables.registerAll(s, dir)
      if (bc) s.sql("""
        SELECT floor((sum(l_extendedprice) / 7.0 + 1.37e-4) * 100 + 0.5) / 100 AS avg_yearly
        FROM (
          SELECT /*+ BROADCAST(pb) */ l_extendedprice, l_quantity,
                 avg(l_quantity) OVER (PARTITION BY l_partkey) AS pavg
          FROM lineitem
          JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1') pb
            ON p_partkey = l_partkey)
        WHERE l_quantity < 0.5 * pavg
      """)
      else s.sql("""
        SELECT floor((sum(l_extendedprice) / 7.0 + 1.37e-4) * 100 + 0.5) / 100 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = lineitem.l_partkey)
      """)
    },

    // Q19: DNF of conjunctive range predicates (join + OR-of-ANDs).
    "q19_disjunct" -> { (s, dir) =>
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 21)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 40)))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
    },

    // Real Q20: nested IN chain over partsupp (file-backed in the scale
    // fixtures; derived at oracle scales) with the correlated
    // 0.5*sum(l_quantity) availability threshold — the reference's actual
    // shape and input volume.
    "q20_nested_in" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(TpchPartsuppSql.q20)
    },

    // Q21: orders where a supplier is the only one with high quantity —
    // EXISTS + NOT EXISTS pair.
    // Reshape: the EXISTS/NOT-EXISTS pair decorrelates to THREE lineitem
    // shuffles (two self semi/anti joins). Per-order supplier statistics
    // compute both predicates — and the answer — in one aggregation tree:
    //   level 1 (orderkey, suppkey): high_lines = #lines with qty > 30
    //   level 2 (orderkey):          n_supp  = #suppliers on the order
    //                                n_high  = #suppliers with a high line
    //                                high_supp / nlines = the high supplier
    //                                  and its high-line count
    // A candidate l1 row has qty>30, so its supplier is high. Then
    //   EXISTS(other supplier)          ⟺ n_supp ≥ 2
    //   NOT EXISTS(other high supplier) ⟺ n_high = 1
    // and when n_high = 1 every qualifying l1 line belongs to the ONE
    // high supplier — numwait = Σ nlines per supplier, no join back to
    // the fact at all. The F-order keys broadcast-semi-filter the scan
    // BEFORE the only shuffle (halves it); supplier resolves names via
    // broadcast at the very end. One fact scan, one narrow shuffle.
    "q21_waiting" -> { (s, dir) =>
      val o = graft.plans.BroadcastAdvisor.tableStats(s, s"$dir/orders.parquet")
      // r13: the F-order filter carries NO payload — it is a pure SET of
      // orderkeys (the q4/q12 diagnosis transfers), so the broadcast-semi
      // hash relation collapses to ONE dense bitset over o_orderkey
      // (~190 KB at SF1 vs a ~750k-entry HashedRelation; build stage
      // 671 → 66 ms in the SF1 profile), probed by a codegen bit test
      // inside the lineitem scan. The two-level aggregate keeps the
      // prior partial-agg cascade: OPTIMIZATION_r13.md (SF1, same-JVM
      // interleaved min-of-8) measured the single-exchange repartition form
      // WORSE (B min 1.066 / med 1.422) than this cascade (C min 0.930 /
      // med 1.142) and the prior broadcast chain (A 0.946 / 1.195) —
      // stacking both 3M-entry hash builds into one stage loses more
      // than the second, well-combined exchange costs. Gated on footer
      // maxKey (maxKey/8 ≤ broadcast threshold, minKey ≥ 0); past the
      // gate the hint-free per-order statistics text runs on the AQE
      // session.
      Tables.registerAll(s, dir)
      if (graft.operators.BitmapJoin.gate(s, o.cols.get("o_orderkey"), 1)) {
        val keys = s.table("orders")
          .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
        val isF = graft.operators.BitmapJoin.probe(
          graft.operators.BitmapJoin.build(keys, "o_orderkey", lit(1), 1), 1)
        val l2 = s.table("lineitem")
          .filter(isF(col("l_orderkey").cast("long")).isNotNull)
          .groupBy("l_orderkey", "l_suppkey")
          .agg(sum(when(col("l_quantity") > 30, 1).otherwise(0)).as("high_lines"))
          .groupBy("l_orderkey").agg(
            max(when(col("high_lines") > 0, col("l_suppkey"))).as("high_supp"),
            sum("high_lines").as("nlines"),
            count(lit(1)).as("n_supp"),
            sum(when(col("high_lines") > 0, 1).otherwise(0)).as("n_high"))
          .filter(col("n_supp") >= 2 && col("n_high") === 1)
        return21(l2, s)
      } else {
        s.sql(
          """SELECT s_name, CAST(sum(nlines) AS BIGINT) AS numwait
            |FROM (
            |  SELECT max(CASE WHEN high_lines > 0 THEN l_suppkey END) AS high_supp,
            |         sum(high_lines) AS nlines
            |  FROM (SELECT l_orderkey, l_suppkey,
            |               sum(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS high_lines
            |        FROM lineitem,
            |          (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') of
            |        WHERE l_orderkey = of.o_orderkey
            |        GROUP BY l_orderkey, l_suppkey)
            |  GROUP BY l_orderkey
            |  HAVING count(*) >= 2
            |     AND sum(CASE WHEN high_lines > 0 THEN 1 ELSE 0 END) = 1) c
            |JOIN supplier ON c.high_supp = s_suppkey
            |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
      }
    },

    // Q22: customers with above-average balance and no orders —
    // scalar subquery + null-aware-ish anti join.
    // Reshape (stats-gated): NOT EXISTS with a pure equality is an anti
    // join; written explicitly with the high-price order KEYS broadcast,
    // the customer table streams scan→anti-probe→2-group partial agg with
    // no exchange on either base table (the decorrelated form shuffled
    // both sides). The scalar average stays a scalar subquery — one tiny
    // driver-shared job, exactly like the reference's
    // ScalarSubqueryExec sharing.
    "q22_global" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val o = tableStats(s, s"$dir/orders.parquet")
      // o_totalprice is a double column (no INT64 footer stats) — gate on
      // the conservative full key set
      val bc = shouldBroadcast(s,
        estimateBytes(o, o.rows.toDouble, Seq("o_custkey")))
      Tables.registerAll(s, dir)
      if (bc)
        // Broadcast form, latency-shaped (r9): the scalar average becomes a
        // broadcast 1-row CROSS JOIN — identical semantics (NULL gavg over
        // an empty positive-balance set filters everything either way) but
        // it skips Catalyst's scalar-subquery planning machinery (84 → 39
        // ms/plan measured, BENCH_NOTES.md r9) and its build runs CONCURRENTLY
        // with the oh broadcast. The only exchanges left feed a
        // ≤|segments|-group aggregate (partial agg caps every map task's
        // output at the group count), so coalesce(1) is exact at any scale
        // and sortWithinPartitions IS the total order: no range exchange,
        // no sampling job. customer is still never exchanged.
        s.sql(
          """SELECT /*+ BROADCAST(oh), BROADCAST(av) */ c_mktsegment AS cntrycode,
            |       count(*) AS numcust,
            |       floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS totacctbal
            |FROM customer
            |CROSS JOIN (SELECT avg(c_acctbal) AS gavg FROM customer
            |            WHERE c_acctbal > 0) av
            |ANTI JOIN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000) oh
            |  ON o_custkey = c_custkey
            |WHERE c_acctbal > gavg
            |GROUP BY c_mktsegment""".stripMargin)
          .coalesce(1).sortWithinPartitions("cntrycode")
      else s.sql(
        """SELECT c_mktsegment AS cntrycode, count(*) AS numcust,
          |       floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS totacctbal
          |FROM customer ANTI JOIN
          |  (SELECT o_custkey FROM orders WHERE o_totalprice > 200000) oh
          |  ON o_custkey = c_custkey
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          |GROUP BY c_mktsegment ORDER BY cntrycode""".stripMargin)
    })

  val oracleSql: Map[String, String] = Map(
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |              AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | floor((sum(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin,

    "q8_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | floor((sum(CASE WHEN n2.n_name = 'NATION_3'
        |     THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |   / sum(l_extendedprice * (1 - l_discount)) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS mkt_share
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON c_nationkey = n1.n_nationkey
        | JOIN region ON n1.n_regionkey = r_regionkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
        |GROUP BY 1""".stripMargin,

    "q9_profit" -> TpchPartsuppSql.oracle(
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | floor((sum(l_extendedprice * (1 - l_discount)
        |   - CAST(ps_supplycost AS DOUBLE) * l_quantity) + 1.37e-4) * 100 + 0.5) / 100 AS profit
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE contains(p_name, 'red')
        |GROUP BY 1, 2""".stripMargin),

    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_topsupplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |       floor((total_revenue + 1.37e-4) * 100 + 0.5) / 100 AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin,

    "q17_smallqty" ->
      """SELECT floor((sum(l_extendedprice) / 7.0 + 1.37e-4) * 100 + 0.5) / 100 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q19_disjunct" ->
      """SELECT floor((sum(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q20_nested_in" -> TpchPartsuppSql.oracle(TpchPartsuppSql.q20),

    "q21_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_quantity > 30
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_quantity > 30)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q22_global" ->
      """SELECT c_mktsegment AS cntrycode, count(*) AS numcust,
        | floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_totalprice > 200000)
        |GROUP BY c_mktsegment ORDER BY cntrycode""".stripMargin)
}
