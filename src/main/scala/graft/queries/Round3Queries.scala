package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-3 coverage batch.
  *
  * q11_partsupp: the one TPC-H shape previously missing — the fixture set has
  * no partsupp table, so partsupp is DERIVED deterministically from
  * part × {0..3} with modular-arithmetic supplier assignment and integer-cent
  * supply costs. The identical derivation runs on the oracle side, so the
  * full q11 semantics (group-by, scalar-subquery HAVING over the group total,
  * value ranking) are hash-verified. All money arithmetic is exact BIGINT
  * cents: the HAVING comparison (value·10000 > total) cannot drift with
  * summation order. Reference: sqllogictest/test_files/tpch/q11.slt.part.
  *
  * source_avro_roundtrip: Avro scan + sink. spark-avro is compiled into this
  * distribution's spark-sql jar (AvroFileFormat), so format("avro") works
  * offline — closing the SURVEY §2.1 Avro row that round 1 marked
  * unavailable. Reference: datasource-avro/src/avro_to_df.rs.
  */
object Round3Queries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // Real Q11 over the partsupp table (file-backed in the scale
    // fixtures — 800k rows at SF1, the reference's actual input volume;
    // derived at oracle scales, see Tables.partsupp). Decimal supplycost
    // keeps the HAVING comparison exact under any summation order.
    //
    // Reshape (r6, stats-gated): the textbook decorrelation runs the
    // partsupp ⋈ supplier ⋈ nation tree TWICE — once grouped by part,
    // once for the scalar grand total. But the per-part groups PARTITION
    // the filtered rows, so the grand total is exactly the sum of the
    // group sums (decimal arithmetic — order-independent): re-aggregating
    // the grouped result costs one KB-scale pass instead of a second
    // 800k-row scan+join. The CTE is referenced twice, but both references
    // share the identical aggregate subtree, so the shuffle materializes
    // once (ReusedExchange — plan-asserted in TpchReshapePlanSpec). The
    // supplier-complex broadcast is footer-gated; past threshold the
    // reference-shaped text runs instead. 0.0001 parses as
    // DECIMAL(4,4) in both engines, so the HAVING comparison stays exact.
    "q11_partsupp" -> { (s, dir) =>
      import graft.plans.BroadcastAdvisor._
      val supOk = shouldBroadcast(s,
        supplierComplexBytes(s, dir, "nation", Seq("s_suppkey")))
      graft.Tables.registerAll(s, dir)
      if (!supOk) s.sql(TpchPartsuppSql.q11)
      else s.sql(
        """WITH g AS (
          |  SELECT /*+ BROADCAST(sup) */ ps_partkey,
          |    sum(ps_supplycost * ps_availqty) AS v
          |  FROM partsupp
          |  JOIN (SELECT s_suppkey FROM supplier, nation
          |        WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3') sup
          |    ON ps_suppkey = s_suppkey
          |  GROUP BY ps_partkey)
          |SELECT ps_partkey, CAST(v AS DOUBLE) AS value
          |FROM g, (SELECT sum(v) * 0.0001 AS thresh FROM g) t
          |WHERE v > thresh
          |ORDER BY value DESC, ps_partkey""".stripMargin)
    },

    // Spark-compat-crate function batch (reference spark/src/function/):
    // hypot, cot, factorial, width_bucket, next_day, add_months — Spark
    // builtins, oracle-rebuilt from DuckDB primitives. width_bucket's oracle
    // replicates Spark's exact association ((v-lo)/((hi-lo)/n)) so bucket
    // boundaries agree bit-for-bit.
    "fn_compat" -> { (s, dir) =>
      val d = to_date(col("o_orderdate"))
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          r6(hypot(col("o_totalprice") / 1000, lit(3.0))).as("hyp"),
          r6(cot(col("o_orderkey").cast("double") / 100 + 1.5)).as("cotv"),
          factorial((col("o_orderkey") % 10).cast("int")).cast("long").as("fact"),
          width_bucket(col("o_totalprice"), lit(800.0), lit(500000.0), lit(7)).as("wb"),
          next_day(d, "Monday").as("nd"),
          add_months(d, 3).as("am"))
    },

    // Spark-compat batch 2 (reference spark/src/function/{url,string,math,
    // bitwise}/): parse_url, find_in_set, overlay, luhn_check, bit_count,
    // getbit — DuckDB has none of these, so the oracle rebuilds each from
    // regexp/list/bit primitives.
    "fn_compat2" -> { (s, dir) =>
      val url = concat(lit("https://ex"), col("o_orderkey") % 5,
        lit(".com:8080/p/"), col("o_orderkey"), lit("?q="), col("o_custkey"),
        lit("&r=2#frag"))
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          parse_url(url, lit("PROTOCOL")).as("proto"),
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY")).as("query"),
          parse_url(url, lit("REF")).as("ref"),
          find_in_set((col("o_orderkey") % 7).cast("string"),
            lit("0,1,2,3")).cast("long").as("fis"),
          overlay(col("o_orderpriority"), lit("XX"), lit(2)).as("ovl"),
          call_function("luhn_check", col("o_orderkey").cast("string")).as("luhn"),
          bit_count(col("o_orderkey")).cast("long").as("bc"),
          getbit(col("o_orderkey"), lit(3)).cast("long").as("gb"))
    },

    // String/bitwise long-tail batch 3 (reference functions/src/string/,
    // unicode/, spark-compat bitwise): elt, octet_length, initcap,
    // shiftleft/shiftright, unhex (via hex roundtrip). DuckDB rebuilds:
    // list_extract, encode-BLOB length, word-split recapitalization, << >>.
    "fn_string3" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 500)
      c.select(col("c_custkey"),
        elt((col("c_custkey") % 3 + 1).cast("int"), lit("aa"), lit("bb"),
          col("c_mktsegment")).as("eltv"),
        octet_length(col("c_name")).cast("long").as("ol"),
        initcap(concat(lower(col("c_mktsegment")), lit(" "),
          lower(col("c_name")))).as("ic"),
        shiftleft(col("c_custkey"), 3).cast("long").as("shl"),
        shiftright(col("c_custkey"), 2).cast("long").as("shr"),
        hex(unhex(upper(substring(md5(col("c_name")), 1, 8)))).as("uh"))
    },

    // Datetime long-tail batch 2 (reference functions/src/datetime/):
    // weekofyear, dayofyear, dayname/monthname, trunc-to-month,
    // months_between (Spark's 31-day fraction + same-day integer rule,
    // rebuilt literally in the oracle), make_timestamp, timestampadd,
    // to_unix_timestamp, last_day.
    "fn_datetime2" -> { (s, dir) =>
      val d = to_date(col("o_orderdate"))
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          weekofyear(d).cast("long").as("woy"),
          dayofyear(d).cast("long").as("doy"),
          call_function("dayname", d).as("dn"),
          call_function("monthname", d).as("mn"),
          trunc(d, "MM").as("tr"),
          r6(months_between(lit("1997-06-15").cast("date"), d)).as("mb"),
          date_format(make_timestamp(year(d), month(d), dayofmonth(d),
            lit(13), lit(45), lit(30)), "yyyy-MM-dd HH:mm:ss").as("mts"),
          date_format(d.cast("timestamp") +
            make_dt_interval(lit(0), (col("o_orderkey") % 24).cast("int")),
            "yyyy-MM-dd HH:mm:ss").as("tsadd"),
          to_unix_timestamp(d).cast("long").as("ep"),
          last_day(d).as("ld"))
    },

    // Map lambda family (reference functions-nested map*.rs + lambda):
    // map_filter, transform_keys/values, map_concat, map_from_entries,
    // arrays_overlap, array_insert. Map columns hash-compare unordered, so
    // every map output is serialized to a sorted "k=v" entry string on both
    // sides. Values are exact longs (floor(x*100+0.5)) — no double
    // formatting drift.
    "fn_map2" -> { (s, dir) =>
      import org.apache.spark.sql.Column
      val cents = (c: Column) => floor(c * 100 + lit(0.5)).cast("long")
      val m = map(lit("qty"), col("l_quantity").cast("long"),
        lit("disc"), cents(col("l_discount")),
        lit("tax"), cents(col("l_tax")))
      def ser(mc: Column) = array_join(array_sort(transform(map_entries(mc),
        e => concat(e.getField("key"), lit("="),
          e.getField("value").cast("string")))), ",")
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          ser(map_filter(m, (_, v) => v >= 5)).as("mfilter"),
          ser(transform_values(m, (_, v) => v * 2)).as("mvals"),
          ser(transform_keys(m, (k, _) => upper(k))).as("mkeys"),
          ser(map_concat(m, map(lit("extra"), lit(7L)))).as("mcat"),
          ser(map_from_entries(array(
            struct(lit("a").as("k"), col("l_quantity").cast("long").as("v")),
            struct(lit("b").as("k"), col("l_linenumber").cast("long").as("v"))))).as("mfe"),
          arrays_overlap(array(col("l_quantity").cast("long"), lit(999L)),
            array(lit(1L), lit(2L), lit(3L))).as("ovl"),
          array_join(array_insert(array(lit(10L), lit(20L), lit(30L)), lit(2),
            col("l_linenumber").cast("long")).cast("array<string>"), ",").as("ins"))
    },

    // As-of join: each purchase picks up the most recent prior-or-equal view
    // of the same user — one shuffle + window carry-forward, no join
    // explosion (operators/AsOfJoin.scala). The right side is pre-aggregated
    // to one row per (user, ts) so ASOF is unambiguous; DuckDB's native
    // ASOF LEFT JOIN is the oracle.
    "join_asof" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("value"))
        .groupBy("user_id", "v_ts")
        .agg(max(col("value")).as("v_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts").as("p_ts"))
      graft.operators.AsOfJoin.asOf(purchases, views,
          key = "user_id", leftTs = "p_ts", rightTs = "v_ts",
          payload = Seq("v_ts", "v_value"))
        .select(col("user_id"), col("event_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
          date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("v_ts"),
          col("v_value"))
    },

    // Multi-column unnest: two arrays of different lengths unnested in one
    // step zip positionally with NULL padding to the longest (reference
    // unnest.rs multi-column; DuckDB multi-unnest has identical semantics).
    // Spark-first form: arrays_zip + posexplode.
    "unnest_multi" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          array(col("l_quantity"), col("l_discount"), col("l_tax")).as("a"),
          array(col("l_extendedprice"), col("l_discount")).as("b"))
        .select(col("l_orderkey"), col("l_linenumber"),
          posexplode(arrays_zip(col("a"), col("b"))).as(Seq("i", "z")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("i").cast("long").as("i"), col("z.a").as("x"), col("z.b").as("y"))
    },

    // array_agg ORDER BY <other column> / DISTINCT, and nth_value-as-
    // aggregate — the §2.4 nuances Spark's bare collect_list doesn't pin
    // down (collection order is partition-dependent). Ordering is imposed
    // explicitly: collect (key, value) structs, sort_array on the unique
    // key, project the values — deterministic under any partitioning.
    // Reference: functions-aggregate/src/{array_agg,nth_value}.rs.
    "agg_arrayagg_ordered" -> { (s, dir) =>
      val vals = expr("transform(pairs, p -> p.o_orderpriority)")
      t(s, dir, "orders").filter(col("o_custkey") <= 300)
        .groupBy(col("o_custkey"))
        .agg(
          sort_array(collect_list(struct(col("o_orderkey"), col("o_orderpriority")))).as("pairs"),
          count(lit(1)).as("n"))
        .select(col("o_custkey"),
          concat_ws(",", vals).as("prios_ordered"),
          concat_ws(",", sort_array(array_distinct(vals))).as("prios_distinct"),
          expr("try_element_at(transform(pairs, p -> p.o_orderpriority), 2)").as("second_prio"),
          col("n"))
    },

    "source_avro_roundtrip" -> { (s, dir) =>
      val stage = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_avro", dir.replaceAll("[^A-Za-z0-9]", "_"), "customer")
      // The short name "avro" is not service-registered in this distribution
      // (AvroFileFormat is compiled into spark-sql but absent from
      // META-INF/services/DataSourceRegister) — address it by class name.
      val avro = "org.apache.spark.sql.avro.AvroFileFormat"
      t(s, dir, "customer").write.mode("overwrite").format(avro).save(stage.toString)
      s.read.format(avro).load(stage.toString)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r2(sum(col("c_acctbal"))).as("bal"))
        .orderBy("c_mktsegment")
    }
  )

  val oracleSql: Map[String, String] = Map(

    "q11_partsupp" -> TpchPartsuppSql.oracle(TpchPartsuppSql.q11),

    "fn_map2" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |  MAP {'qty': CAST(l_quantity AS BIGINT),
        |       'disc': CAST(floor(l_discount*100 + 0.5) AS BIGINT),
        |       'tax': CAST(floor(l_tax*100 + 0.5) AS BIGINT)} AS m
        | FROM lineitem WHERE l_orderkey <= 300)
        |SELECT l_orderkey, l_linenumber,
        |  coalesce(list_aggregate(list_sort(list_transform(
        |    list_filter(map_entries(m), e -> e.value >= 5),
        |    e -> e.key || '=' || e.value)), 'string_agg', ','), '') AS mfilter,
        |  list_aggregate(list_sort(list_transform(map_entries(m),
        |    e -> e.key || '=' || (e.value * 2))), 'string_agg', ',') AS mvals,
        |  list_aggregate(list_sort(list_transform(map_entries(m),
        |    e -> upper(e.key) || '=' || e.value)), 'string_agg', ',') AS mkeys,
        |  list_aggregate(list_sort(list_transform(
        |    map_entries(map_concat(m, MAP {'extra': CAST(7 AS BIGINT)})),
        |    e -> e.key || '=' || e.value)), 'string_agg', ',') AS mcat,
        |  list_aggregate(list_sort(list_transform(map_entries(map_from_entries(
        |    [{'k': 'a', 'v': CAST(l_quantity AS BIGINT)},
        |     {'k': 'b', 'v': CAST(l_linenumber AS BIGINT)}])),
        |    e -> e.key || '=' || e.value)), 'string_agg', ',') AS mfe,
        |  len(list_intersect([CAST(l_quantity AS BIGINT), 999],
        |    [CAST(1 AS BIGINT), 2, 3])) > 0 AS ovl,
        |  list_aggregate(list_transform(
        |    ([CAST(10 AS BIGINT), 20, 30])[1:1]
        |      || [CAST(l_linenumber AS BIGINT)]
        |      || ([CAST(10 AS BIGINT), 20, 30])[2:],
        |    x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS ins
        |FROM b""".stripMargin,

    "fn_datetime2" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        | FROM orders WHERE o_orderkey <= 2000),
        |m AS (SELECT *, (1997 - year(d))*12 + (6 - month(d)) AS mons FROM b)
        |SELECT o_orderkey,
        |  weekofyear(d) AS woy,
        |  dayofyear(d) AS doy,
        |  strftime(d, '%a') AS dn,
        |  strftime(d, '%b') AS mn,
        |  date_trunc('month', d) AS tr,
        |  CASE WHEN day(d) = 15 THEN CAST(mons AS DOUBLE)
        |       ELSE floor((mons + (15 - day(d))/31.0 + 1.37e-8) * 1000000 + 0.5) / 1000000
        |  END AS mb,
        |  strftime(make_timestamp(year(d), month(d), day(d), 13, 45, 30),
        |    '%Y-%m-%d %H:%M:%S') AS mts,
        |  strftime(CAST(d AS TIMESTAMP) + (o_orderkey % 24) * INTERVAL 1 HOUR,
        |    '%Y-%m-%d %H:%M:%S') AS tsadd,
        |  CAST(epoch(CAST(d AS TIMESTAMP)) AS BIGINT) AS ep,
        |  last_day(d) AS ld
        |FROM m""".stripMargin,

    "fn_string3" ->
      """SELECT c_custkey,
        |  list_extract(['aa', 'bb', c_mktsegment],
        |    CAST(c_custkey % 3 + 1 AS INT)) AS eltv,
        |  octet_length(encode(c_name)) AS ol,
        |  list_aggregate(list_transform(
        |    string_split(lower(c_mktsegment) || ' ' || lower(c_name), ' '),
        |    w -> upper(w[1]) || w[2:]), 'string_agg', ' ') AS ic,
        |  (CAST(c_custkey AS BIGINT) << 3) AS shl,
        |  (CAST(c_custkey AS BIGINT) >> 2) AS shr,
        |  hex(unhex(upper(substr(md5(c_name), 1, 8)))) AS uh
        |FROM customer WHERE c_custkey <= 500""".stripMargin,

    "fn_compat2" ->
      """WITH u AS (SELECT o_orderkey, o_custkey, o_orderpriority,
        |  'https://ex' || (o_orderkey % 5) || '.com:8080/p/' || o_orderkey
        |    || '?q=' || o_custkey || '&r=2#frag' AS url
        | FROM orders WHERE o_orderkey <= 2000)
        |SELECT o_orderkey,
        |  regexp_extract(url, '^(https?)://', 1) AS proto,
        |  regexp_extract(url, '^https?://([^/:?#]+)', 1) AS host,
        |  regexp_extract(url, '^https?://[^/?#]*(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query,
        |  regexp_extract(url, '#(.*)$', 1) AS ref,
        |  CAST(coalesce(list_position(string_split('0,1,2,3', ','),
        |    CAST(o_orderkey % 7 AS VARCHAR)), 0) AS BIGINT) AS fis,
        |  substr(o_orderpriority, 1, 1) || 'XX' || substr(o_orderpriority, 4) AS ovl,
        |  (list_sum(list_transform(range(0, len(d)),
        |     i -> CASE WHEN i % 2 = 0 THEN CAST(d[len(d)-i] AS INT)
        |          ELSE CASE WHEN CAST(d[len(d)-i] AS INT) * 2 > 9
        |               THEN CAST(d[len(d)-i] AS INT) * 2 - 9
        |               ELSE CAST(d[len(d)-i] AS INT) * 2 END END)) % 10 = 0) AS luhn,
        |  CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS bc,
        |  CAST((o_orderkey >> 3) & 1 AS BIGINT) AS gb
        |FROM (SELECT *, string_split(CAST(o_orderkey AS VARCHAR), '') AS d FROM u)""".stripMargin,

    "fn_compat" ->
      """SELECT o_orderkey,
        |  floor((sqrt((o_totalprice/1000)*(o_totalprice/1000) + 3.0*3.0) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS hyp,
        |  floor((cot(CAST(o_orderkey AS DOUBLE) / 100 + 1.5) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS cotv,
        |  CAST(factorial(CAST(o_orderkey % 10 AS INT)) AS BIGINT) AS fact,
        |  CAST(CASE WHEN o_totalprice < 800.0 THEN 0
        |            WHEN o_totalprice >= 500000.0 THEN 8
        |            ELSE floor((o_totalprice - 800.0) / ((500000.0 - 800.0) / 7)) + 1
        |       END AS BIGINT) AS wb,
        |  CAST(CAST(o_orderdate AS DATE)
        |    + CAST(CASE WHEN (8 - isodow(CAST(o_orderdate AS DATE))) % 7 = 0 THEN 7
        |                ELSE (8 - isodow(CAST(o_orderdate AS DATE))) % 7 END AS INT) AS DATE) AS nd,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS am
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,

    "join_asof" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |v AS (SELECT user_id, ts, max(value) AS v_value FROM e
        |      WHERE event_type = 'view' GROUP BY user_id, ts),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts,
        |  v.v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

    "unnest_multi" ->
      """SELECT l_orderkey, l_linenumber, CAST(i AS BIGINT) AS i,
        |  a[i+1] AS x, b[i+1] AS y
        |FROM (SELECT l_orderkey, l_linenumber,
        |        [l_quantity, l_discount, l_tax] AS a,
        |        [l_extendedprice, l_discount] AS b
        |      FROM lineitem WHERE l_orderkey <= 200),
        |     (SELECT unnest([0, 1, 2]) AS i)""".stripMargin,

    "agg_arrayagg_ordered" ->
      """SELECT o_custkey,
        |  array_to_string(list(o_orderpriority ORDER BY o_orderkey), ',') AS prios_ordered,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS prios_distinct,
        |  (list(o_orderpriority ORDER BY o_orderkey))[2] AS second_prio,
        |  count(*) AS n
        |FROM orders WHERE o_custkey <= 300 GROUP BY o_custkey""".stripMargin,

    "source_avro_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  floor((sum(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  )
}
