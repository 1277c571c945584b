package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-4 batch 2: long-tail closure from a systematic name diff of the
  * reference's ScalarUDFImpl registry (192 `fn name()` strings across the
  * functions / functions-nested crates) against this inventory — array
  * pop/positions/replace/any_* and the unixtime / to_char / typeof family
  * were the semantics not yet exercised under any Spark spelling.
  */
object Round4bQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // Array long tail (reference functions-nested: array_pop_back/front,
    // array_positions, array_sum, array_any_match/any_value,
    // array_replace[_all], array_reverse, array_dims/ndims). The source
    // array [k%7, k%5, k%7, k%3] always contains k%7 twice, so position /
    // replace semantics are exercised on both hit and duplicate paths.
    "fn_array4" -> { (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 300)
        .withColumn("a", array((col("p_partkey") % 7).cast("long"),
          (col("p_partkey") % 5).cast("long"),
          (col("p_partkey") % 7).cast("long"),
          (col("p_partkey") % 3).cast("long")))
        .select(col("p_partkey"),
          // array outputs serialized to CSV strings: the driver's
          // pandas-based oracle compare cannot hash raw ndarray cells
          concat_ws(",", expr("slice(a, 1, size(a) - 1)")).as("pop_back"),
          concat_ws(",", expr("slice(a, 2, size(a) - 1)")).as("pop_front"),
          concat_ws(",", reverse(col("a"))).as("rev"),
          concat_ws(",", expr("filter(transform(a, (x, i) -> IF(x = p_partkey % 7, CAST(i + 1 AS BIGINT), CAST(NULL AS BIGINT))), p -> p IS NOT NULL)"))
            .as("positions"),
          expr("aggregate(a, 0L, (acc, x) -> acc + x)").as("asum"),
          expr("exists(a, x -> x = 1)").as("any_match"),
          expr("element_at(filter(a, x -> x IS NOT NULL), 1)").as("any_value"),
          concat_ws(",", expr("transform(a, x -> IF(x = p_partkey % 7, -1L, x))")).as("replace_all"),
          concat_ws(",", expr("""concat(slice(a, 1, CAST(array_position(a, p_partkey % 7) AS INT) - 1),
                         array(-1L),
                         slice(a, CAST(array_position(a, p_partkey % 7) AS INT) + 1, size(a)))"""))
            .as("replace_first"),
          concat_ws(",", array(size(col("a")).cast("long"))).as("dims"),
          lit(1).as("ndims"))
    },

    // Vector-arithmetic long tail (reference array_add/subtract/scale/
    // normalize/avg/product — SURVEY §7 M2's list): elementwise ops as
    // zip_with/transform lambdas, L2 normalization with in-lambda rounding
    // (fixed 4-element arrays keep FP evaluation order identical across
    // engines), exact product on the integral values.
    "fn_vector2" -> { (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 300)
        .withColumn("a", expr(
          "array(CAST(p_partkey % 7 + 1 AS DOUBLE), CAST(p_partkey % 5 + 1 AS DOUBLE), " +
            "CAST(p_partkey % 3 + 1 AS DOUBLE), CAST(p_partkey % 2 + 1 AS DOUBLE))"))
        .withColumn("rb", reverse(col("a")))
        .select(col("p_partkey"),
          // array outputs serialized to CSV strings (see fn_array4)
          concat_ws(",", expr("zip_with(a, rb, (x, y) -> x + y)")).as("vadd"),
          concat_ws(",", expr("zip_with(a, rb, (x, y) -> x - y)")).as("vsub"),
          concat_ws(",", expr("transform(a, x -> x * 2.5)")).as("vscale"),
          concat_ws(",", expr("transform(a, x -> CAST(FLOOR((x / sqrt(aggregate(a, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)) + 1.37e-8) * 1000000 + 0.5) AS DOUBLE) / 1000000)"))
            .as("vnorm"),
          r6(expr("aggregate(a, CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size(a)")).as("vavg"),
          expr("a[0] * a[1] * a[2] * a[3]").as("vprod"))
    },

    // Datetime long tail (reference datetime crate: to_unixtime /
    // from_unixtime, to_timestamp_seconds/micros, to_char, plus isnan and
    // typeof from math/core). o_orderdate is midnight-aligned, so epoch
    // seconds are exact integers on both engines.
    "fn_datetime3" -> { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          from_unixtime(unix_timestamp(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("from_unix"),
          date_format(col("o_orderdate"), "yyyy/MM/dd").as("tochar"),
          timestamp_seconds(unix_timestamp(col("o_orderdate"))).cast("date").as("ts_from_s"),
          timestamp_micros(unix_timestamp(col("o_orderdate")) * 1000000L).cast("date").as("ts_from_us"),
          isnan(expr("CAST('NaN' AS DOUBLE)")).as("is_nan"),
          isnan(col("o_totalprice")).as("not_nan"),
          lower(expr("typeof(o_totalprice)")).as("price_type"),
          lower(expr("typeof(o_orderkey)")).as("key_type"))
    })

  val oracleSql: Map[String, String] = Map(

    "fn_array4" ->
      """WITH b AS (SELECT p_partkey,
        |  [p_partkey % 7, p_partkey % 5, p_partkey % 7, p_partkey % 3] AS a
        |  FROM part WHERE p_partkey <= 300)
        |SELECT p_partkey,
        | array_to_string(a[1:len(a)-1], ',') AS pop_back,
        | array_to_string(a[2:len(a)], ',') AS pop_front,
        | array_to_string(list_reverse(a), ',') AS rev,
        | array_to_string(list_filter(range(1, len(a) + 1), i -> a[i] = p_partkey % 7), ',') AS positions,
        | CAST(list_aggregate(a, 'sum') AS BIGINT) AS asum,
        | len(list_filter(a, x -> x = 1)) > 0 AS any_match,
        | list_filter(a, x -> x IS NOT NULL)[1] AS any_value,
        | array_to_string(list_transform(a, x -> CASE WHEN x = p_partkey % 7 THEN -1 ELSE x END), ',') AS replace_all,
        | array_to_string(list_concat(list_concat(
        |     a[1:list_position(a, p_partkey % 7) - 1], [-1]),
        |     a[list_position(a, p_partkey % 7) + 1:len(a)]), ',') AS replace_first,
        | array_to_string([len(a)], ',') AS dims,
        | 1 AS ndims
        |FROM b""".stripMargin,

    "fn_vector2" ->
      """WITH b0 AS (SELECT p_partkey,
        |  [CAST(p_partkey % 7 + 1 AS DOUBLE), CAST(p_partkey % 5 + 1 AS DOUBLE),
        |   CAST(p_partkey % 3 + 1 AS DOUBLE), CAST(p_partkey % 2 + 1 AS DOUBLE)] AS a
        |  FROM part WHERE p_partkey <= 300),
        |b AS (SELECT p_partkey, a, list_reverse(a) AS rb FROM b0)
        |SELECT p_partkey,
        | array_to_string(list_transform(range(1, len(a) + 1), i -> a[i] + rb[i]), ',') AS vadd,
        | array_to_string(list_transform(range(1, len(a) + 1), i -> a[i] - rb[i]), ',') AS vsub,
        | array_to_string(list_transform(a, x -> x * 2.5), ',') AS vscale,
        | array_to_string(list_transform(a, x -> floor((x / sqrt(list_aggregate(list_transform(a, v -> v * v), 'sum')) + 1.37e-8) * 1000000 + 0.5) / 1000000), ',') AS vnorm,
        | floor((list_aggregate(a, 'sum') / len(a) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS vavg,
        | a[1] * a[2] * a[3] * a[4] AS vprod
        |FROM b""".stripMargin,

    "fn_datetime3" ->
      """SELECT o_orderkey,
        | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_unix,
        | strftime(o_orderdate, '%Y/%m/%d') AS tochar,
        | CAST(o_orderdate AS DATE) AS ts_from_s,
        | CAST(o_orderdate AS DATE) AS ts_from_us,
        | isnan(CAST('NaN' AS DOUBLE)) AS is_nan,
        | isnan(o_totalprice) AS not_nan,
        | lower(typeof(o_totalprice)) AS price_type,
        | lower(typeof(o_orderkey)) AS key_type
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin)
}
