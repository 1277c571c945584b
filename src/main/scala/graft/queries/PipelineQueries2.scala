package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-4 training-pipeline batch: quality-weighted sampling, a unigram
  * language-model quality proxy, and source-mix rebalancing — the sampling
  * / scoring / mixing stages a 100 TB pretraining pipeline runs after
  * dedup. All deterministic (hash-threshold sampling, exact frequency
  * tables), so the DuckDB oracle replays them bit-for-bit.
  */
object PipelineQueries2 extends QuerySet {

  private val wordsCol = "filter(split(text, ' '), w -> w != '')"

  val queries: Map[String, QueryFn] = Map(

    // Quality-weighted sampling: keep each doc with probability w(doc)
    // using a per-doc uniform from md5(doc_id) compared against a hex
    // threshold — the deterministic per-row coin a distributed sampler
    // needs (no RNG state, no shuffle, reproducible across engines and
    // retries; same trick as sample_split). w = min(0.999, n_words/100):
    // longer docs are kept preferentially, mirroring quality-weighted
    // data curation.
    "pipeline_weighted_sample" -> { (s, dir) =>
      val w = least(lit(0.999), expr(s"size($wordsCol)") / lit(100.0))
      val u8 = substring(md5(concat(col("doc_id").cast("string"), lit("|qws"))), 1, 8)
      val thr = lower(lpad(hex(floor(w * lit(4294967296.0)).cast("long")), 8, "0"))
      t(s, dir, "documents")
        .withColumn("keep", u8 < thr)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast("long")).as("n_kept"),
          r4(avg(col("keep").cast("double"))).as("kept_frac"))
        .orderBy("source")
    },

    // Unigram-LM quality proxy (poor man's perplexity): score each doc by
    // the mean corpus log-probability of its tokens. One plan: an exact
    // corpus frequency table (one agg), the corpus total folded in as a
    // broadcast single-row aggregate (no separate driver-side count()
    // action — the total rides the same job), then a score join. Scale:
    // the vocabulary table is orders of magnitude smaller than the corpus
    // and broadcasts; the corpus is never shuffled (explode + broadcast
    // join + per-doc re-agg keyed by doc_id is map-side partial-aggregable
    // because words of one doc stay in its partition).
    "pipeline_unigram_logprob" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val words = docs.select(col("doc_id"),
        explode(expr(wordsCol)).as("w"))
      val freq = words.groupBy("w").agg(count(lit(1)).as("c"))
      val total = words.agg(count(lit(1)).cast("double").as("t"))
      val scored = words.join(broadcast(freq), "w")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg((sum(log(col("c") / col("t"))) / count(lit(1))).as("mean_lp"),
          count(lit(1)).as("n_toks"))
      scored.select(col("doc_id"), col("n_toks"), r4(col("mean_lp")).as("mean_lp"))
        .orderBy(col("doc_id")).limit(200)
    },

    // Source-mix rebalance: downsample every source to the size of the
    // smallest one (uniform target mix), picking a deterministic prefix
    // per source (ordered by doc_id) so the result is reproducible. The
    // window's per-source ordering is the only shuffle, keyed by source.
    "pipeline_mix_rebalance" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the smallest-source size is a broadcast single-row aggregate inside
      // the same plan (no .first() driver action / second job)
      val m = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .agg(min("n").as("m"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      docs.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(m))
        .filter(col("rk") <= col("m"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), max(col("doc_id")).as("max_kept_id"))
        .orderBy("source")
    })

  val oracleSql: Map[String, String] = Map(

    "pipeline_weighted_sample" ->
      """WITH b AS (
        |  SELECT source,
        |    least(0.999, len(list_filter(string_split(text, ' '), w -> w != '')) / 100.0) AS w,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '|qws'), 1, 8) AS u8
        |  FROM documents),
        |k AS (SELECT source,
        |        (u8 < lower(lpad(to_hex(CAST(floor(w * 4294967296.0) AS BIGINT)), 8, '0'))) AS keep,
        |        w
        |      FROM b)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  floor((avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END) + 1.37e-6) * 10000 + 0.5) / 10000 AS kept_frac
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_unigram_logprob" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        |total AS (SELECT count(*) AS t FROM words)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  floor((sum(ln(c / (SELECT CAST(t AS DOUBLE) FROM total))) / count(*) + 1.37e-6) * 10000 + 0.5) / 10000 AS mean_lp
        |FROM words JOIN freq USING (w)
        |GROUP BY doc_id ORDER BY doc_id LIMIT 200""".stripMargin,

    "pipeline_mix_rebalance" ->
      """WITH sized AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |m AS (SELECT min(n) AS m FROM sized),
        |rk AS (SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |       FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept, max(doc_id) AS max_kept_id
        |FROM rk WHERE rk <= (SELECT m FROM m)
        |GROUP BY source ORDER BY source""".stripMargin)
}
