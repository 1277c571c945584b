package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.dateBin
import Q._

/** Scalar-function inventory (SURVEY.md §2.8 — reference documents ~270
  * functions in docs/source/user-guide/sql/scalar_functions.md; crates
  * functions/src/{string,unicode,regex,math,datetime,crypto,encoding,core}
  * and functions-nested/src). Spark builtins cover nearly all; `date_bin`
  * comes from graft.functions.GraftFunctions (pure column arithmetic).
  *
  * Oracle note: names differ across dialects (strpos/instr, sequence/range,
  * `regexp_replace` global flag, dayofweek conventions) — each oracle uses
  * the DuckDB spelling of the same semantics.
  */
object FunctionQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // String functions (reference: functions/src/string/, unicode/).
    "fn_string" -> { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 100)
        .select(
          col("p_partkey"),
          length(col("p_name")).cast("long").as("len"),
          lower(col("p_type")).as("lo"),
          upper(col("p_brand")).as("up"),
          substring(col("p_name"), 3, 8).as("sub"),
          instr(col("p_name"), "a").cast("long").as("pos_a"),
          regexp_replace(col("p_name"), lit(" "), lit("_")).as("underscored"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          reverse(col("p_type")).as("rev"),
          repeat(col("p_brand"), 2).as("twice"),
          concat_ws("/", col("p_brand"), col("p_type")).as("joined"),
          translate(col("p_type"), "AEO", "aeo").as("translated"),
          ascii(col("p_brand")).cast("long").as("first_ascii"),
          expr("split_part(p_name, ' ', 2)").as("word2"),
          expr("left(p_name, 4)").as("l4"),
          expr("right(p_type, 3)").as("r3"),
          levenshtein(col("p_brand"), lit("Brand#1")).cast("long").as("lev"),
          col("p_type").startsWith("PRO").as("is_promo"),
          col("p_name").contains("the").as("has_the"))
    },

    // Math functions (reference: functions/src/math/, 22 files).
    "fn_math" -> { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_custkey") <= 200)
        .select(
          col("c_custkey"),
          r2(abs(col("c_acctbal"))).as("abs_bal"),
          ceil(col("c_acctbal")).cast("long").as("ceil_bal"),
          floor(col("c_acctbal")).cast("long").as("floor_bal"),
          r6(sqrt(abs(col("c_acctbal")))).as("sqrt_bal"),
          r6(exp(col("c_acctbal") / 10000)).as("exp_b"),
          r6(log(abs(col("c_acctbal")) + 1)).as("ln_b"),
          r6(log10(abs(col("c_acctbal")) + 1)).as("log10_b"),
          r6(log2(abs(col("c_acctbal")) + 1)).as("log2_b"),
          r4(pow(col("c_acctbal") / 1000, 2)).as("pow2"),
          pmod(col("c_custkey"), lit(7)).cast("long").as("mod7"),
          signum(col("c_acctbal")).cast("long").as("sign_b"),
          r6(sin(col("c_acctbal") / 1000)).as("sin_b"),
          r6(atan2(col("c_acctbal"), lit(100.0))).as("atan2_b"),
          r6(degrees(col("c_acctbal") / 10000)).as("deg_b"),
          greatest(col("c_acctbal"), lit(0.0)).as("gz"),
          least(col("c_custkey"), lit(100L)).cast("long").as("lz"),
          factorial(pmod(col("c_custkey"), lit(10)).cast("int")).as("fact"))
    },

    // Datetime functions (reference: functions/src/datetime/, 18 files).
    "fn_datetime" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("q_start"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
          last_day(col("o_orderdate").cast("date")).as("eom"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_2002"),
          make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("made"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("formatted"))
    },

    // date_bin tumbling buckets over the events stream table
    // (reference: functions/src/datetime/date_bin.rs).
    "fn_date_bin" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_format(dateBin(6L * 3600 * 1000000, col("ts"), "2024-01-01 00:00:00"),
            "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("val_sum"))
    },

    // Regexp family (reference: functions/src/regex/).
    "fn_regexp" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "(\\w+) (\\w+)", 2).as("second_word"),
          regexp_replace(col("text"), "\\b(a|the)\\b", "X").as("articles_masked"),
          size(expr("regexp_extract_all(text, '(ta)ble', 0)")).cast("long").as("n_table"),
          col("text").rlike("stream|batch").as("mentions_exec"))
        .orderBy(col("doc_id")).limit(100)
    },

    // Conditional / null-handling (reference: functions/src/core/).
    "fn_conditional" -> { (s, dir) =>
      t(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          when(col("s_acctbal") < 0, "neg")
            .when(col("s_acctbal") < 5000, "mid")
            .otherwise("high").as("band"),
          coalesce(nullif(col("s_name"), lit("none")), lit("?")).as("name_nn"),
          nvl(nullif(col("s_acctbal"), col("s_acctbal")), lit(-1.0)).as("nulled_bal"),
          nvl2(nullif(col("s_acctbal"), col("s_acctbal")), lit("nonnull"), lit("isnull")).as("nv2"),
          greatest(col("s_acctbal"), col("s_nationkey").cast("double")).as("gr"),
          least(col("s_acctbal"), col("s_nationkey").cast("double")).as("le"),
          col("s_acctbal").isNull.as("bal_null"),
          (col("s_acctbal") > 0).as("bal_pos"))
    },

    // Crypto / encoding (reference: functions/src/crypto/, encoding/).
    "fn_crypto" -> { (s, dir) =>
      t(s, dir, "nation")
        .select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          md5(col("n_name").cast("binary")).as("md5_name"),
          sha2(col("n_name").cast("binary"), 256).as("sha256_name"),
          base64(col("n_name").cast("binary")).as("b64_name"))
    },

    // Array / list functions (reference: functions-nested/src/, 48 files).
    "fn_array" -> { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          size(array_distinct(col("words"))).cast("long").as("n_distinct"),
          array_contains(col("words"), "table").as("has_table"),
          element_at(col("words"), 1).as("first_word"),
          element_at(col("words"), -1).as("last_word"),
          coalesce(array_position(col("words"), "join"), lit(0L)).as("join_pos"),
          concat_ws(" ", slice(col("words"), 2, 3)).as("w2_4"),
          concat_ws(",", sort_array(array_distinct(slice(col("words"), 1, 8)))).as("sorted8"),
          array_min(col("words")).as("min_word"),
          array_max(col("words")).as("max_word"))
        .orderBy(col("doc_id")).limit(200)
    },

    // Higher-order functions with lambdas (reference:
    // functions-nested/src/array_transform.rs, array_filter.rs; Expr::Lambda).
    "fn_higher_order" -> { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 300)
        .withColumn("seq", sequence(lit(1L), (pmod(col("p_partkey"), lit(8)) + 2).cast("long")))
        .select(
          col("p_partkey"),
          aggregate(col("seq"), lit(0L), (acc, x) => acc + x).as("seq_sum"),
          size(filter(col("seq"), x => x % 2 === 0)).cast("long").as("n_even"),
          concat_ws(",", transform(col("seq"), x => x * x)).as("squares"),
          exists(col("seq"), x => x > 5).as("has_gt5"),
          forall(col("seq"), x => x < 100).as("all_lt100"))
    },

    // Struct construction + field access (reference: functions/src/core/
    // named_struct/getfield; Spark struct + dot access).
    "fn_struct" -> { (s, dir) =>
      t(s, dir, "region")
        .withColumn("meta", struct(col("r_regionkey").cast("long").as("key"),
          lower(col("r_name")).as("lname")))
        .select(
          col("meta.key").as("key"),
          col("meta.lname").as("lname"),
          map(lit("name"), col("r_name")).getItem("name").as("from_map"))
    },

    // Unnest / explode (reference: physical-plan/src/unnest.rs:65,
    // logical plan.rs:295 — explode family in Spark).
    "unnest_words" -> { (s, dir) =>
      // r14: NO repartition spread here. The r13 spread-before-explode was
      // A/B-measured a LOSS on this shape (plain 0.314 s vs spread 0.421 s,
      // same-box min-of-8): unlike win_topk_per_group, the explode output
      // combines heavily in the partial distinct-agg, so the extra exchange
      // costs more than the 2-core Generate saves.
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("word"))
        .limit(30)
    },

    // posexplode — ordinal positions of words within each document.
    "unnest_pos" -> { (s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos1"), col("word"))
    },

    // Sessionization over the events stream: gap > 30 min starts a new
    // session (lag + conditional cumsum — the classic pattern).
    "events_sessionize" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(byUser))
        .groupBy("user_id")
        .agg(
          max(col("sess_id")).as("n_sessions"),
          count(lit(1)).as("n_events"),
          r2(sum(col("value"))).as("total_value"))
    },

    // Day-over-day retention: distinct active users joined to the next day.
    "events_retention" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val next = daily.select(date_sub(col("d"), 1).as("d"), col("user_id"))
      daily.join(next, Seq("d", "user_id"), "left_semi")
        .groupBy("d").agg(countDistinct(col("user_id")).as("retained"))
        .join(daily.groupBy("d").agg(countDistinct(col("user_id")).as("active")), "d")
        .select(col("d"), col("active"), col("retained"),
          r4(col("retained") / col("active")).as("retention_rate"))
    },

    // JSON extraction from the events props column.
    "events_json" -> { (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"))
    })

  val oracleSql: Map[String, String] = Map(
    "fn_string" ->
      """SELECT p_partkey,
        | CAST(length(p_name) AS BIGINT) AS len,
        | lower(p_type) AS lo,
        | upper(p_brand) AS up,
        | substr(p_name, 3, 8) AS sub,
        | CAST(instr(p_name, 'a') AS BIGINT) AS pos_a,
        | regexp_replace(p_name, ' ', '_', 'g') AS underscored,
        | lpad(p_brand, 12, '*') AS padded,
        | reverse(p_type) AS rev,
        | repeat(p_brand, 2) AS twice,
        | concat_ws('/', p_brand, p_type) AS joined,
        | translate(p_type, 'AEO', 'aeo') AS translated,
        | CAST(ascii(p_brand) AS BIGINT) AS first_ascii,
        | split_part(p_name, ' ', 2) AS word2,
        | left(p_name, 4) AS l4,
        | right(p_type, 3) AS r3,
        | CAST(levenshtein(p_brand, 'Brand#1') AS BIGINT) AS lev,
        | starts_with(p_type, 'PRO') AS is_promo,
        | contains(p_name, 'the') AS has_the
        |FROM part WHERE p_partkey <= 100""".stripMargin,

    "fn_math" ->
      """SELECT c_custkey,
        | floor((abs(c_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS abs_bal,
        | CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
        | CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
        | floor((sqrt(abs(c_acctbal)) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS sqrt_bal,
        | floor((exp(c_acctbal / 10000) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS exp_b,
        | floor((ln(abs(c_acctbal) + 1) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS ln_b,
        | floor((log10(abs(c_acctbal) + 1) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS log10_b,
        | floor((log2(abs(c_acctbal) + 1) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS log2_b,
        | floor((pow(c_acctbal / 1000, 2) + 1.37e-6) * 10000 + 0.5) / 10000 AS pow2,
        | CAST(c_custkey % 7 AS BIGINT) AS mod7,
        | CAST(sign(c_acctbal) AS BIGINT) AS sign_b,
        | floor((sin(c_acctbal / 1000) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS sin_b,
        | floor((atan2(c_acctbal, 100.0) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS atan2_b,
        | floor((degrees(c_acctbal / 10000) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS deg_b,
        | greatest(c_acctbal, 0.0) AS gz,
        | CAST(least(c_custkey, 100) AS BIGINT) AS lz,
        | CAST(factorial(CAST(c_custkey % 10 AS INT)) AS BIGINT) AS fact
        |FROM customer WHERE c_custkey <= 200""".stripMargin,

    "fn_datetime" ->
      """SELECT o_orderkey,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo,
        | CAST(day(o_orderdate) AS BIGINT) AS dom,
        | CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
        | last_day(CAST(o_orderdate AS DATE)) AS eom,
        | CAST(o_orderdate AS DATE) + 30 AS plus30,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        | make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS made,
        | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS formatted
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,

    "fn_date_bin" ->
      """SELECT strftime(time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP),
        |   TIMESTAMP '2024-01-01 00:00:00'), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n,
        | floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS val_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "fn_regexp" ->
      """SELECT doc_id,
        | regexp_extract(text, '(\w+) (\w+)', 2) AS second_word,
        | regexp_replace(text, '\b(a|the)\b', 'X', 'g') AS articles_masked,
        | CAST(len(regexp_extract_all(text, '(ta)ble', 0)) AS BIGINT) AS n_table,
        | regexp_matches(text, 'stream|batch') AS mentions_exec
        |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin,

    "fn_conditional" ->
      """SELECT s_suppkey,
        | CASE WHEN s_acctbal < 0 THEN 'neg'
        |      WHEN s_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        | coalesce(nullif(s_name, 'none'), '?') AS name_nn,
        | coalesce(nullif(s_acctbal, s_acctbal), -1.0) AS nulled_bal,
        | CASE WHEN nullif(s_acctbal, s_acctbal) IS NOT NULL
        |      THEN 'nonnull' ELSE 'isnull' END AS nv2,
        | greatest(s_acctbal, CAST(s_nationkey AS DOUBLE)) AS gr,
        | least(s_acctbal, CAST(s_nationkey AS DOUBLE)) AS le,
        | s_acctbal IS NULL AS bal_null,
        | s_acctbal > 0 AS bal_pos
        |FROM supplier""".stripMargin,

    "fn_crypto" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        | md5(n_name) AS md5_name,
        | sha256(n_name) AS sha256_name,
        | to_base64(encode(n_name)) AS b64_name
        |FROM nation""".stripMargin,

    "fn_array" ->
      """SELECT doc_id,
        | CAST(len(words) AS BIGINT) AS n_words,
        | CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
        | list_contains(words, 'table') AS has_table,
        | words[1] AS first_word,
        | words[-1] AS last_word,
        | CAST(coalesce(list_position(words, 'join'), 0) AS BIGINT) AS join_pos,
        | array_to_string(list_slice(words, 2, 4), ' ') AS w2_4,
        | array_to_string(list_sort(list_distinct(list_slice(words, 1, 8))), ',') AS sorted8,
        | list_min(words) AS min_word,
        | list_max(words) AS max_word
        |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |ORDER BY doc_id LIMIT 200""".stripMargin,

    "fn_higher_order" ->
      """SELECT p_partkey,
        | CAST(list_sum(seq) AS BIGINT) AS seq_sum,
        | CAST(len(list_filter(seq, x -> x % 2 = 0)) AS BIGINT) AS n_even,
        | array_to_string(list_transform(seq, x -> x * x), ',') AS squares,
        | list_bool_or(list_transform(seq, x -> x > 5)) AS has_gt5,
        | list_bool_and(list_transform(seq, x -> x < 100)) AS all_lt100
        |FROM (SELECT p_partkey, range(1, (p_partkey % 8) + 3) AS seq
        |      FROM part WHERE p_partkey <= 300)""".stripMargin,

    "fn_struct" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS key,
        | lower(r_name) AS lname,
        | map(['name'], [r_name])['name'][1] AS from_map
        |FROM region""".stripMargin,

    "unnest_words" ->
      """SELECT word, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 30""".stripMargin,

    "unnest_pos" ->
      """SELECT doc_id, CAST(s.i AS BIGINT) AS pos1, s.w AS word
        |FROM (SELECT doc_id, unnest(list_transform(string_split(text, ' '),
        |        (w, i) -> {'w': w, 'i': i})) AS s
        |      FROM documents WHERE doc_id < 20)""".stripMargin,

    "events_sessionize" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR date_diff('microsecond', prev_ts, ts) > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM seq),
        |sess AS (
        |  SELECT user_id, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged)
        |SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
        | count(*) AS n_events,
        | floor((sum(value) + 1.37e-4) * 100 + 0.5) / 100 AS total_value
        |FROM sess GROUP BY user_id""".stripMargin,

    "events_retention" ->
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |ret AS (SELECT a.d, count(DISTINCT a.user_id) AS retained
        |        FROM daily a WHERE EXISTS (SELECT 1 FROM daily b
        |          WHERE b.user_id = a.user_id AND b.d = a.d + 1)
        |        GROUP BY a.d),
        |act AS (SELECT d, count(DISTINCT user_id) AS active FROM daily GROUP BY d)
        |SELECT act.d, active, retained,
        | floor((retained * 1.0 / active + 1.37e-6) * 10000 + 0.5) / 10000 AS retention_rate
        |FROM ret JOIN act ON ret.d = act.d""".stripMargin,

    "events_json" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
        | count(*) AS n
        |FROM events GROUP BY 1""".stripMargin)
}
