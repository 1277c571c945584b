package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.GraftMath
import graft.operators.RecursiveCte
import org.apache.spark.sql.expressions.Window
import Q._

/** Round-2 coverage batch: decimal arithmetic, the math long tail
  * (gcd/lcm/nanvl/iszero), native SQL `WITH RECURSIVE` + the UNION-distinct
  * recursion mode, struct/nested unnest, and a custom window function.
  *
  * References: common/src/scalar/mod.rs:358-475 + decimal.slt (decimals);
  * functions/src/math/{gcd,lcm,nanvl,iszero}.rs; physical-plan/src/
  * recursive_query.rs:66,76 + cte.slt; physical-plan/src/unnest.rs:65 +
  * unnest.slt; expr/src/udwf.rs:315 (window UDF surface).
  */
object Round2Queries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // Decimal row-level arithmetic with explicit precision/scale control on
    // every output — exact (non-FP) money semantics, reference decimal.slt.
    // All decimal-typed results are emitted as their exact decimal STRING
    // form: the arithmetic under test is decimal, but the transport type is
    // hash-stable regardless of how the gate normalizes DECIMAL columns
    // (r02 showed rows+schema green / hash red on decimal-typed output).
    "fn_decimal" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice").cast("decimal(15,2)").as("d"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("d").cast("string").as("d"),
          (col("d") + lit(1.5).cast("decimal(4,2)")).cast("decimal(16,2)").cast("string").as("d_add"),
          (col("d") * lit(3).cast("decimal(1,0)")).cast("decimal(18,2)").cast("string").as("d_mul"),
          (-col("d")).cast("decimal(15,2)").cast("string").as("d_neg"),
          abs(col("d")).cast("decimal(15,2)").cast("string").as("d_abs"),
          round(col("d"), 1).cast("decimal(15,1)").cast("string").as("d_round1"),
          ceil(col("d")).cast("bigint").as("d_ceil"),
          floor(col("d")).cast("bigint").as("d_floor"),
          expr("cast(try_cast(d * cast(1000000 as decimal(7,0)) as decimal(10,2)) as string)").as("d_overflow"))
    },

    // TPC-H Q1 over DECIMAL money columns: exact aggregation — sums agree
    // with the oracle bit-for-bit with no rounding convention needed.
    "q1_agg_decimal" -> { (s, dir) =>
      val one = lit(1).cast("decimal(3,2)")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("decimal(15,2)").as("qty"),
          col("l_extendedprice").cast("decimal(15,2)").as("ext"),
          col("l_discount").cast("decimal(15,2)").as("disc"),
          col("l_tax").cast("decimal(15,2)").as("tax"))
        .withColumn("disc_price", (col("ext") * (one - col("disc"))).cast("decimal(20,4)"))
        .withColumn("charge", (col("disc_price") * (one + col("tax"))).cast("decimal(25,6)"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("qty")).cast("decimal(20,2)").cast("string").as("sum_qty"),
          sum(col("ext")).cast("decimal(20,2)").cast("string").as("sum_base"),
          sum(col("disc_price")).cast("decimal(25,4)").cast("string").as("sum_disc_price"),
          sum(col("charge")).cast("decimal(30,6)").cast("string").as("sum_charge"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Math long tail: gcd/lcm as custom codegen expressions, nanvl/iszero.
    "fn_math2" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 600)
        .select(col("l_orderkey"), col("l_linenumber"),
          GraftMath.gcd(col("l_orderkey"), col("l_partkey")).as("g"),
          GraftMath.lcm(col("l_linenumber"), (col("l_suppkey") % 24) + 1).as("lc"),
          GraftMath.nanvl(
            when(col("l_linenumber") === 1, lit(Double.NaN)).otherwise(col("l_quantity")),
            lit(-1.0)).as("nv"),
          GraftMath.iszero(col("l_quantity") - col("l_quantity")).as("z0"),
          GraftMath.iszero(col("l_quantity")).as("z1"))
    },

    // Spark 4.1 native WITH RECURSIVE through SQL: binary-tree traversal
    // over the customer table (parent(k) = k div 2), depth-capped.
    "cte_recursive_sql" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("r2_cust")
      s.sql("""
        WITH RECURSIVE tree AS (
          SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth
          FROM r2_cust WHERE c_custkey = 1
          UNION ALL
          SELECT c.c_custkey AS k, t.depth + 1 AS depth
          FROM r2_cust c JOIN tree t ON c.c_custkey DIV 2 = t.k
          WHERE t.depth < 7
        )
        SELECT k, depth FROM tree
      """)
    },

    // UNION-distinct recursion over a CYCLIC graph (n -> (2n+1) mod 25 on
    // nation keys): only the distinct mode terminates here.
    "cte_recursive_distinct" -> { (s, dir) =>
      val edges = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") * 2 + 1) % 25).cast("long").as("dst"))
      val base = t(s, dir, "nation").filter(col("n_nationkey") === 0)
        .select(col("n_nationkey").cast("long").as("node"))
      RecursiveCte.iterateDistinct(base,
          fr => fr.join(edges, col("node") === col("src")).select(col("dst").as("node")))
        .orderBy("node")
    },

    // Struct flattening: inline() over an array-of-structs column
    // (reference unnest.rs:65 struct unnest).
    "unnest_inline" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          array(
            struct(lit("qty").as("k"), col("l_quantity").as("v")),
            struct(lit("price").as("k"), col("l_extendedprice").as("v"))).as("m"))
        .select(col("l_orderkey"), col("l_linenumber"), expr("inline(m)"))
    },

    // Depth-2 unnest: array<array<double>> flattened level by level with
    // position tracking (reference unnest.slt nested-list cases).
    "unnest_nested" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          array(array(col("l_quantity"), col("l_discount")), array(col("l_tax"))).as("aa"))
        .select(col("l_orderkey"), col("l_linenumber"),
          posexplode(col("aa")).as(Seq("i", "inner")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("i").cast("long").as("i"), explode(col("inner")).as("x"))
    },

    // Skew-salted join must be result-identical to the plain equi-join:
    // lineitem (large, skewed side) salted, orders replicated per salt.
    "join_salted" -> { (s, dir) =>
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      graft.operators.Scale.saltedJoin(l, o, "l_orderkey", "o_orderkey", 8)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_extendedprice"))).as("total"))
        .orderBy(col("n").desc, col("o_custkey")).limit(20)
    },

    // Custom table function (UDTF): ngrams_explode as a native Generator,
    // used with select-list generator syntax like explode. Top bigrams.
    "text_ngrams_udtf" -> { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("r2_docs")
      s.sql("""
        SELECT ngram, CAST(count(*) AS BIGINT) AS n
        FROM r2_docs LATERAL VIEW ngrams_explode(text, 2) g AS ngram
        GROUP BY ngram HAVING count(*) >= 5
        ORDER BY n DESC, ngram LIMIT 50
      """)
    },

    // Schema evolution: two parquet files whose schemas differ by an added
    // column, read as one table with mergeSchema — rows from the old-schema
    // file surface NULL for the new column (reference
    // datasource-parquet/src/schema_coercion.rs + schema_evolution.slt).
    "source_merge_schema" -> { (s, dir) =>
      val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_evolve", dir.replaceAll("[^A-Za-z0-9]", "_"))
      val o = t(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      v1.write.mode("overwrite").parquet(s"$stage/v1")
      v2.write.mode("overwrite").parquet(s"$stage/v2")
      s.read.option("mergeSchema", "true").parquet(s"$stage/v1", s"$stage/v2")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_first)
    },

    // Arrow IPC roundtrip through the from-scratch DSv2 source, BOTH
    // directions distributed: executor-side per-partition write (one .arrow
    // file per task, no driver collect), read back via the custom
    // TableProvider, aggregate — values must match the parquet original.
    "source_arrow_roundtrip" -> { (s, dir) =>
      val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_arrow", dir.replaceAll("[^A-Za-z0-9]", "_"), "customer_dir")
      t(s, dir, "customer").write.format("graft.sources.ArrowIpcTableProvider")
        .mode("overwrite").save(stage.toString)
      s.read.format("graft.sources.ArrowIpcTableProvider").load(stage.toString)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r2(sum(col("c_acctbal"))).as("bal"))
        .orderBy("c_mktsegment")
    },

    // Custom window function (AggregateWindowFunction), SQL-callable and
    // used with standard OVER syntax: position-weighted running average.
    "win_custom_pwavg" -> { (s, dir) =>
      val over = "over (partition by l_orderkey order by l_linenumber, l_quantity, l_extendedprice)"
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 2000)
        .selectExpr("l_orderkey",
          s"cast(row_number() $over as bigint) as pos",
          s"pwavg(l_quantity) $over as pw_raw")
        .select(col("l_orderkey"), col("pos"), r4(col("pw_raw")).as("pwavg"))
    }
  )

  val oracleSql: Map[String, String] = Map(

    "fn_decimal" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR) AS d,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) + CAST(1.5 AS DECIMAL(4,2)) AS DECIMAL(16,2)) AS VARCHAR) AS d_add,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(3 AS DECIMAL(1,0)) AS DECIMAL(18,2)) AS VARCHAR) AS d_mul,
        |  CAST(CAST(-CAST(l_extendedprice AS DECIMAL(15,2)) AS DECIMAL(15,2)) AS VARCHAR) AS d_neg,
        |  CAST(CAST(abs(CAST(l_extendedprice AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS VARCHAR) AS d_abs,
        |  CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(15,2)), 1) AS DECIMAL(15,1)) AS VARCHAR) AS d_round1,
        |  CAST(ceil(CAST(l_extendedprice AS DECIMAL(15,2))) AS BIGINT) AS d_ceil,
        |  CAST(floor(CAST(l_extendedprice AS DECIMAL(15,2))) AS BIGINT) AS d_floor,
        |  CAST(TRY_CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(10,2)) AS VARCHAR) AS d_overflow
        |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin,

    "q1_agg_decimal" ->
      """WITH d AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DECIMAL(15,2)) AS qty,
        |    CAST(l_extendedprice AS DECIMAL(15,2)) AS ext,
        |    CAST(l_discount AS DECIMAL(15,2)) AS disc,
        |    CAST(l_tax AS DECIMAL(15,2)) AS tax
        |  FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |), e AS (
        |  SELECT *, CAST(ext * (CAST(1 AS DECIMAL(3,2)) - disc) AS DECIMAL(20,4)) AS disc_price FROM d
        |), f AS (
        |  SELECT *, CAST(disc_price * (CAST(1 AS DECIMAL(3,2)) + tax) AS DECIMAL(25,6)) AS charge FROM e
        |)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(qty) AS DECIMAL(20,2)) AS VARCHAR) AS sum_qty,
        |  CAST(CAST(sum(ext) AS DECIMAL(20,2)) AS VARCHAR) AS sum_base,
        |  CAST(CAST(sum(disc_price) AS DECIMAL(25,4)) AS VARCHAR) AS sum_disc_price,
        |  CAST(CAST(sum(charge) AS DECIMAL(30,6)) AS VARCHAR) AS sum_charge,
        |  count(*) AS n
        |FROM f GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "fn_math2" ->
      """SELECT l_orderkey, l_linenumber,
        |  gcd(l_orderkey, l_partkey) AS g,
        |  lcm(CAST(l_linenumber AS BIGINT), CAST(l_suppkey % 24 + 1 AS BIGINT)) AS lc,
        |  CASE WHEN l_linenumber = 1 THEN -1.0 ELSE l_quantity END AS nv,
        |  (l_quantity - l_quantity) = 0 AS z0,
        |  l_quantity = 0 AS z1
        |FROM lineitem WHERE l_orderkey <= 600""".stripMargin,

    "cte_recursive_sql" ->
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth
        |  FROM customer WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT c.c_custkey AS k, t.depth + 1 AS depth
        |  FROM customer c JOIN tree t ON c.c_custkey // 2 = t.k
        |  WHERE t.depth < 7
        |)
        |SELECT k, depth FROM tree""".stripMargin,

    "cte_recursive_distinct" ->
      """WITH RECURSIVE r AS (
        |  SELECT CAST(0 AS BIGINT) AS node
        |  UNION
        |  SELECT CAST((n.n_nationkey * 2 + 1) % 25 AS BIGINT) AS node
        |  FROM r JOIN nation n ON n.n_nationkey = r.node
        |)
        |SELECT node FROM r ORDER BY node""".stripMargin,

    "unnest_inline" ->
      """SELECT l_orderkey, l_linenumber, u.k AS k, u.v AS v FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    unnest([{'k': 'qty', 'v': l_quantity}, {'k': 'price', 'v': l_extendedprice}]) AS u
        |  FROM lineitem WHERE l_orderkey <= 200)""".stripMargin,

    "unnest_nested" ->
      """SELECT l_orderkey, l_linenumber, CAST(i AS BIGINT) AS i, unnest(aa[i + 1]) AS x
        |FROM (SELECT l_orderkey, l_linenumber,
        |        [[l_quantity, l_discount], [l_tax]] AS aa
        |      FROM lineitem WHERE l_orderkey <= 200),
        |     (SELECT unnest([0, 1]) AS i)""".stripMargin,

    "join_salted" ->
      """SELECT o_custkey, count(*) AS n,
        |  floor((sum(l_extendedprice) + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT 20""".stripMargin,

    "text_ngrams_udtf" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS ngram
        |  FROM words WHERE len(ws) >= 2
        |)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS n FROM b
        |GROUP BY ngram HAVING count(*) >= 5
        |ORDER BY n DESC, ngram LIMIT 50""".stripMargin,

    "source_merge_schema" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority,
        |  count(*) AS n,
        |  floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    "source_arrow_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "win_custom_pwavg" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem WHERE l_orderkey <= 2000
        |)
        |SELECT l_orderkey, CAST(rn AS BIGINT) AS pos,
        |  floor((sum(l_quantity * rn) OVER (PARTITION BY l_orderkey ORDER BY rn)
        |         / (rn * (rn + 1) / 2.0) + 1.37e-6) * 10000 + 0.5) / 10000 AS pwavg
        |FROM b""".stripMargin
  )
}
