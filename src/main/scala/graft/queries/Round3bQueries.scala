package graft.queries

import org.apache.spark.sql.functions._
import Q._
import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.{Similarity, TextQuality}

/** Round-3 batch 2: regexp long tail, array set-ops/resize, repetition
  * quality signals (Gopher rules), PII scrubbing, and oracle-checked
  * distributed k-means IVF.
  *
  * embed_ann_kmeans is the notable one: the full Lloyd refinement (2 rounds,
  * 8 centroids) runs distributed on the Spark side and is REPLAYED exactly in
  * DuckDB SQL — ε-shifted rounding of each updated centroid component makes
  * the iteration deterministic across engines, so an iterative ML-ish
  * pipeline gets the same rows+hash oracle treatment as a SQL query.
  */
object Round3bQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(

    // Regexp long tail (reference functions/src/regex/: regexp_count,
    // regexp_instr-like position, regexp_like, match extraction). The
    // DuckDB side rebuilds instr from strpos+extract — safe because the
    // patterns are single-char classes where the first extracted match's
    // first occurrence IS the match position.
    "fn_regexp2" -> { (s, dir) =>
      val m = concat(col("c_mktsegment"), lit(" "), col("c_name"),
        lit(" id"), col("c_custkey"))
      t(s, dir, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          regexp_count(m, lit("[0-9]+")).cast("long").as("rcount"),
          regexp_like(m, lit("MACH|FURN")).as("rlk"),
          regexp_substr(m, lit("[A-Z]{4,}")).as("rsub"),
          regexp_substr(m, lit("zzz+")).as("rmiss"),
          regexp_instr(m, lit("[0-9]")).cast("long").as("rpos"))
    },

    // Array set-ops + resize (reference functions-nested/src/{set_ops,
    // resize}.rs). Set-valued results are sorted before serialization —
    // Spark and DuckDB agree on the SET but not the internal order.
    "fn_array3" -> { (s, dir) =>
      val k = col("o_orderkey")
      val a = array((k % 5).cast("long"), (k % 7).cast("long"), (k % 9).cast("long"))
      val b = array((k % 5).cast("long"), (k % 3 + 10).cast("long"))
      val x = (k % 11).cast("long")
      t(s, dir, "orders").filter(k <= 1000)
        .select(k,
          array_join(array_append(a, x).cast("array<string>"), ",").as("app"),
          array_join(array_prepend(a, x).cast("array<string>"), ",").as("prep"),
          array_join(array_sort(array_union(a, b)).cast("array<string>"), ",").as("uni"),
          array_join(array_sort(array_except(a, b)).cast("array<string>"), ",").as("exc"),
          array_join(array_sort(array_intersect(a, b)).cast("array<string>"), ",").as("inter"),
          array_join(flatten(array(a, b)).cast("array<string>"), ",").as("flat"),
          array_join(sequence(lit(1L), (k % 4).cast("long") + 1).cast("array<string>"), ",").as("seqv"),
          array_join(GraftFunctions.arrayResize(a, 5, lit(0L)).cast("array<string>"), ",").as("rsz5"),
          array_join(GraftFunctions.arrayResize(a, 2, lit(0L)).cast("array<string>"), ",").as("rsz2"))
    },

    // Gopher-family repetition signals: top-word fraction, distinct-word
    // ratio, top-bigram fraction (operators/TextQuality.scala — explode +
    // map-side-combined counts, O(tokens) per doc at any document size).
    "text_quality_rep" -> { (s, dir) =>
      TextQuality.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_words"),
          r6(col("top_w") / col("n_words")).as("top_word_frac"),
          r6(col("distinct_w") / col("n_words")).as("distinct_ratio"),
          r6(col("top_b") / col("n_bigrams")).as("top_bigram_frac"))
    },

    // PII scrubbing: deterministic synthetic PII is appended to each doc
    // (the fixture corpus has none), then redacted with engine-portable
    // regexes (TextFunctions.scrubPii). Counts are taken pre-scrub; the
    // scrubbed text is hash-compared plus a visible tail.
    "text_scrub" -> { (s, dir) =>
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.org or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), col("doc_id") % 256, lit(".0."), col("doc_id") % 100)
      t(s, dir, "documents")
        .withColumn("scrubbed", TextFunctions.scrubPii(pii))
        .select(col("doc_id"),
          regexp_count(pii, lit(TextFunctions.EmailRe)).cast("long").as("n_email"),
          regexp_count(pii, lit(TextFunctions.Ipv4Re)).cast("long").as("n_ip"),
          regexp_count(pii, lit(TextFunctions.PhoneRe)).cast("long").as("n_phone"),
          md5(col("scrubbed").cast("binary")).as("scrub_md5"),
          expr("right(scrubbed, 40)").as("tail"))
    },

    // IVF ANN with k-means-refined centroids: 2 distributed Lloyd rounds
    // (Similarity.kmeansCentroids), then the standard probe/rank path.
    "embed_ann_kmeans" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(e, 8, 2)
      Similarity.ivfKnnWith(e, e.filter(col("vec_id") < 10), 5, 2, cents)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
          r4(col("sim")).as("sim"))
    })

  val oracleSql: Map[String, String] = Map(

    "fn_regexp2" ->
      """WITH b AS (SELECT c_custkey,
        |  c_mktsegment || ' ' || c_name || ' id' || c_custkey AS m
        | FROM customer WHERE c_custkey <= 500)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(m, '[0-9]+')) AS BIGINT) AS rcount,
        |  regexp_matches(m, 'MACH|FURN') AS rlk,
        |  nullif(regexp_extract(m, '[A-Z]{4,}'), '') AS rsub,
        |  nullif(regexp_extract(m, 'zzz+'), '') AS rmiss,
        |  CAST(CASE WHEN regexp_matches(m, '[0-9]')
        |       THEN strpos(m, regexp_extract(m, '[0-9]')) ELSE 0 END AS BIGINT) AS rpos
        |FROM b""".stripMargin,

    "fn_array3" ->
      """WITH t AS (SELECT o_orderkey,
        |  [o_orderkey % 5, o_orderkey % 7, o_orderkey % 9] AS a,
        |  [o_orderkey % 5, o_orderkey % 3 + 10] AS b,
        |  o_orderkey % 11 AS x
        | FROM orders WHERE o_orderkey <= 1000)
        |SELECT o_orderkey,
        |  array_to_string(list_append(a, x), ',') AS app,
        |  array_to_string(list_prepend(x, a), ',') AS prep,
        |  array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS uni,
        |  coalesce(array_to_string(list_sort(list_filter(list_distinct(a),
        |    v -> NOT list_contains(b, v))), ','), '') AS exc,
        |  coalesce(array_to_string(list_sort(list_filter(list_distinct(a),
        |    v -> list_contains(b, v))), ','), '') AS inter,
        |  array_to_string(flatten([a, b]), ',') AS flat,
        |  array_to_string(range(1, o_orderkey % 4 + 2), ',') AS seqv,
        |  array_to_string(CASE WHEN len(a) >= 5 THEN a[1:5]
        |    ELSE list_concat(a, list_transform(range(5 - len(a)),
        |      i -> CAST(0 AS BIGINT))) END, ',') AS rsz5,
        |  array_to_string(CASE WHEN len(a) >= 2 THEN a[1:2]
        |    ELSE list_concat(a, list_transform(range(2 - len(a)),
        |      i -> CAST(0 AS BIGINT))) END, ',') AS rsz2
        |FROM t""".stripMargin,

    "text_quality_rep" ->
      """WITH ws AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c
        |       FROM (SELECT doc_id, unnest(ws) AS w FROM ws) GROUP BY doc_id, w),
        |wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    max(c) AS top_w, count(*) AS distinct_w FROM wc GROUP BY doc_id),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || '_' || ws[i+1])) AS b
        |  FROM ws),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        |bstats AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_b
        |           FROM bc GROUP BY doc_id)
        |SELECT w.doc_id, w.n_words,
        |  floor((top_w / n_words + 1.37e-8) * 1000000 + 0.5) / 1000000 AS top_word_frac,
        |  floor((distinct_w / n_words + 1.37e-8) * 1000000 + 0.5) / 1000000 AS distinct_ratio,
        |  floor((top_b / n_bigrams + 1.37e-8) * 1000000 + 0.5) / 1000000 AS top_bigram_frac
        |FROM wstats w JOIN bstats b ON w.doc_id = b.doc_id""".stripMargin,

    "text_scrub" ->
      s"""WITH p AS (SELECT doc_id, text || ' contact user' || doc_id
        |  || '@mail.example.org or call +1-555-'
        |  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |  || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) AS pii
        | FROM documents),
        |s AS (SELECT doc_id, pii,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
        |    '${TextFunctions.Ipv4Re}', '<IP>', 'g'),
        |    '${TextFunctions.PhoneRe}', '<PHONE>', 'g') AS scrubbed FROM p)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii, '${TextFunctions.EmailRe}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(pii, '${TextFunctions.Ipv4Re}')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(pii, '${TextFunctions.PhoneRe}')) AS BIGINT) AS n_phone,
        |  md5(scrubbed) AS scrub_md5,
        |  right(scrubbed, 40) AS tail
        |FROM s""".stripMargin,

    "embed_ann_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid FROM (
        |   SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |     floor((list_cosine_similarity(e.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |     c.cid) AS rn
        |   FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |c1 AS (SELECT cid, list(m ORDER BY i) AS cemb FROM (
        |   SELECT a1.cid, dims.i,
        |     floor((avg(e.emb[dims.i]) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS m
        |   FROM a1 JOIN e USING (vec_id) CROSS JOIN dims
        |   GROUP BY a1.cid, dims.i) GROUP BY cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |   SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |     floor((list_cosine_similarity(e.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |     c.cid) AS rn
        |   FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |c2 AS (SELECT cid, list(m ORDER BY i) AS cemb FROM (
        |   SELECT a2.cid, dims.i,
        |     floor((avg(e.emb[dims.i]) + 1.37e-8) * 1000000 + 0.5) / 1000000 AS m
        |   FROM a2 JOIN e USING (vec_id) CROSS JOIN dims
        |   GROUP BY a2.cid, dims.i) GROUP BY cid),
        |ca AS (SELECT nid, cid FROM (
        |   SELECT a.vec_id AS nid, c.cid, row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |     floor((list_cosine_similarity(a.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |     c.cid) AS rn
        |   FROM e a CROSS JOIN c2 c) WHERE rn = 1),
        |qa AS (SELECT qid, cid FROM (
        |   SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |     floor((list_cosine_similarity(q.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |     c.cid) AS rn
        |   FROM e q CROSS JOIN c2 c WHERE q.vec_id < 10) WHERE rn <= 2),
        |cand AS (SELECT DISTINCT qa.qid, ca.nid FROM qa JOIN ca USING (cid)
        |         WHERE qa.qid != ca.nid),
        |sims AS (SELECT cand.qid, cand.nid, list_cosine_similarity(eq.emb, en.emb) AS sim
        |         FROM cand JOIN e eq ON eq.vec_id = cand.qid
        |           JOIN e en ON en.vec_id = cand.nid),
        |ranked AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |    ORDER BY floor((sim + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC, nid) AS rank
        |  FROM sims)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, nid,
        | floor((sim + 1.37e-6) * 10000 + 0.5) / 10000 AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin
  )
}
