package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Elementwise array/vector arithmetic from the reference's nested-functions
  * crate (SURVEY §2.8: array_add/subtract/sum/avg/scale/normalize —
  * functions-nested arithmetic + distance.rs) expressed entirely with
  * Spark's higher-order builtins (`transform`, `zip_with`, `aggregate`) —
  * codegen'd lambdas, no UDFs, no custom expressions needed.
  */
object ArrayMathQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    "fn_array_math" -> { (s, dir) =>
      val e = col("embedding")
      val sumv = aggregate(e, lit(0.0), (a, x) => a + x)
      val l1 = aggregate(e, lit(0.0), (a, x) => a + abs(x))
      val norm2 = sqrt(aggregate(e, lit(0.0), (a, x) => a + x * x))
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(
          col("vec_id"),
          r6(sumv).as("vsum"),
          r6(sumv / size(e)).as("vavg"),
          r6(l1).as("l1_norm"),
          r6(norm2).as("l2_norm"),
          r6(element_at(transform(e, x => x * 2.5), 1)).as("scaled_head"),
          r6(element_at(zip_with(e, reverse(e), (x, y) => x.cast("double") + y.cast("double")), 1)).as("add_head"),
          r6(element_at(zip_with(e, reverse(e), (x, y) => x.cast("double") - y.cast("double")), 2)).as("sub_head2"),
          r6(element_at(e, 1) / norm2).as("normalized_head"))
    },

    // Array manipulation batch 2 (reference: functions-nested remove/
    // repeat/compact/flatten/zip files).
    "fn_array2" -> { (s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .withColumn("words", split(col("text"), " "))
        .select(
          col("doc_id"),
          concat_ws(",", slice(array_remove(col("words"), "the"), 1, 6)).as("no_the"),
          concat_ws(",", array_repeat(element_at(col("words"), 1), 3)).as("first3x"),
          size(array_compact(transform(col("words"),
            w => when(w === "a", lit(null)).otherwise(w)))).cast("long").as("n_not_a"),
          size(flatten(array(slice(col("words"), 1, 3), slice(col("words"), 4, 3))))
            .cast("long").as("n_flat"),
          concat_ws(",", transform(arrays_zip(slice(col("words"), 1, 3), slice(col("words"), 2, 3)),
            p => concat(p.getField("0"), lit("+"), p.getField("1")))).as("bigrams"))
    },

    // FILTER (WHERE ...) aggregate clause.
    "agg_filter_clause" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_returnflag,
               count(*) AS n,
               count(*) FILTER (WHERE l_quantity > 25) AS n_big,
               CAST(sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS qty_disc,
               count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F') AS supp_f
        FROM lineitem GROUP BY l_returnflag
      """)
    })

  val oracleSql: Map[String, String] = Map(
    "fn_array2" ->
      """SELECT doc_id,
        | array_to_string(list_filter(words, w -> w != 'the')[1:6], ',') AS no_the,
        | words[1] || ',' || words[1] || ',' || words[1] AS first3x,
        | CAST(len(list_filter(words, w -> w != 'a')) AS BIGINT) AS n_not_a,
        | CAST(len(flatten([words[1:3], words[4:6]])) AS BIGINT) AS n_flat,
        | array_to_string(list_transform(range(1, 4),
        |    i -> words[i] || '+' || words[i+1]), ',') AS bigrams
        |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |      WHERE doc_id < 100)""".stripMargin,

    "agg_filter_clause" ->
      """SELECT l_returnflag, count(*) AS n,
        | count(*) FILTER (l_quantity > 25) AS n_big,
        | CAST(sum(l_quantity) FILTER (l_discount > 0.05) AS BIGINT) AS qty_disc,
        | count(DISTINCT l_suppkey) FILTER (l_linestatus = 'F') AS supp_f
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "fn_array_math" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS de FROM embeddings
        |           WHERE vec_id < 100),
        |c AS (SELECT vec_id, de,
        |  list_sum(de) AS vsum,
        |  list_sum(list_transform(de, x -> abs(x))) AS l1,
        |  sqrt(list_sum(list_transform(de, x -> x * x))) AS norm2
        | FROM e)
        |SELECT vec_id,
        | floor((vsum + 1.37e-8) * 1000000 + 0.5) / 1000000 AS vsum,
        | floor((vsum / len(de) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS vavg,
        | floor((l1 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS l1_norm,
        | floor((norm2 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS l2_norm,
        | floor((de[1] * 2.5 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS scaled_head,
        | floor((de[1] + de[-1] + 1.37e-8) * 1000000 + 0.5) / 1000000 AS add_head,
        | floor((de[2] - de[-2] + 1.37e-8) * 1000000 + 0.5) / 1000000 AS sub_head2,
        | floor((de[1] / norm2 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS normalized_head
        |FROM c""".stripMargin)
}
