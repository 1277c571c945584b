package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Third function/aggregate batch: remaining string utilities, mode,
  * skewness/kurtosis (with population→sample convention bridging), and the
  * TPC-H Q16 shape (distinct-supplier counts).
  *
  * Spark's `skewness`/`kurtosis` are population moments (g1, excess g2);
  * DuckDB's are the sample-corrected G1/G2 — the queries convert Spark's to
  * the sample convention explicitly, documenting the semantic bridge
  * (reference stddev/variance files carry the same _pop/_samp split).
  */
object FunctionQueries3 extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    "fn_string2" -> { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 150)
        .select(
          col("p_partkey"),
          expr("char(65 + pmod(p_partkey, 26))").as("letter"),
          bit_length(col("p_brand")).cast("long").as("bits"),
          hex(col("p_size").cast("long")).as("size_hex"),
          instr(col("p_type"), "O").cast("long").as("pos_o"),
          format_string("%d-%s", col("p_size"), col("p_brand")).as("fmt"),
          trim(col("p_brand"), "Brand#").as("brand_num"),
          substring_index(col("p_type"), "A", 1).as("before_a"),
          expr("position('AND' IN p_type)").cast("long").as("pos_and"),
          soundex(col("p_type")).as("sdx"))
    },

    "agg_extra" -> { (s, dir) =>
      val n = count(col("l_extendedprice"))
      val g1 = skewness(col("l_extendedprice"))
      val g2 = kurtosis(col("l_extendedprice"))
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          mode(col("l_linestatus")).as("mode_status"),
          r6(g1 * sqrt(n * (n - 1)) / (n - 2)).as("skew_sample"),
          r6(((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))).as("kurt_sample"),
          n.as("n"))
    },

    // Real TPC-H Q16 over the partsupp table (file-backed in the scale
    // fixtures — the reference's actual 800k-row input at SF1; derived at
    // oracle scales). Negated brand/type predicates + 8-value size IN,
    // distinct-supplier counts per (brand, type, size). partsupp and part
    // are both sub-fact-sized: plain AQE picks the broadcast.
    //
    // r13 (stats-gated latency shape): BROADCAST(part) pins the join the
    // planner already wants, and the ORDER BY's range exchange + its
    // SAMPLING JOB sort a result bounded by |brand|×|type|×8 rows —
    // group-count-bounded at ANY scale, so one final task is exact and
    // sortWithinPartitions IS the total order. AQE stays ON: the
    // distinct-agg's two mid-exchanges carry ~1 MB here and AQE's
    // coalescing beats a fixed width (OPTIMIZATION_r13.md, min-of-8
    // interleave, SF1: plain AQE 0.452 / AQE+coalesce-sort 0.392 / staticWide
    // 0.677 — the static form's 32+32 task launches on KB-scale exchanges
    // REGRESSED, so it was rejected). Past the broadcast gate the plain AQE
    // text runs unchanged.
    "q16_suppcnt" -> { (s0, dir) =>
      import graft.plans.BroadcastAdvisor._
      val p = tableStats(s0, s"$dir/part.parquet")
      val bc = shouldBroadcast(s0,
        estimateBytes(p, p.rows * EqSelectivity,
          Seq("p_partkey", "p_brand", "p_type")))
      graft.Tables.registerAll(s0, dir)
      if (!bc) s0.sql(TpchPartsuppSql.q16)
      else {
        s0.sql(
          """SELECT /*+ BROADCAST(part) */ p_brand, p_type, p_size,
            |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
            |FROM partsupp, part
            |WHERE p_partkey = ps_partkey
            |  AND p_brand <> 'Brand#3'
            |  AND p_type NOT LIKE 'MEDIUM%'
            |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
            |GROUP BY p_brand, p_type, p_size""".stripMargin)
          .coalesce(1)
          .sortWithinPartitions(col("supplier_cnt").desc, col("p_brand"),
            col("p_type"), col("p_size"))
      }
    })

  val oracleSql: Map[String, String] = Map(
    "fn_string2" ->
      """SELECT p_partkey,
        | chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
        | CAST(bit_length(p_brand) AS BIGINT) AS bits,
        | to_hex(p_size) AS size_hex,
        | CAST(instr(p_type, 'O') AS BIGINT) AS pos_o,
        | printf('%d-%s', p_size, p_brand) AS fmt,
        | trim(p_brand, 'Brand#') AS brand_num,
        | CASE WHEN instr(p_type, 'A') = 0 THEN p_type
        |      ELSE substr(p_type, 1, instr(p_type, 'A') - 1) END AS before_a,
        | CAST(position('AND' IN p_type) AS BIGINT) AS pos_and,
        | CASE p_type WHEN 'ECONOMY' THEN 'E255' WHEN 'SMALL' THEN 'S540'
        |   WHEN 'MEDIUM' THEN 'M350' WHEN 'STANDARD' THEN 'S353'
        |   WHEN 'LARGE' THEN 'L620' WHEN 'PROMO' THEN 'P650' END AS sdx
        |FROM part WHERE p_partkey <= 150""".stripMargin,

    "agg_extra" ->
      """SELECT l_returnflag,
        | mode(l_linestatus) AS mode_status,
        | floor((skewness(l_extendedprice) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS skew_sample,
        | floor((kurtosis(l_extendedprice) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS kurt_sample,
        | count(l_extendedprice) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q16_suppcnt" -> TpchPartsuppSql.oracle(TpchPartsuppSql.q16))
}
