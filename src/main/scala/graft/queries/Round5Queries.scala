package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Q._
import graft.plans.SqlUnparser

/** Round-5 additions exercised through the driver's oracle gate. */
object Round5Queries extends QuerySet {

  private def scratch(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_scratch/$name"

  /** Child session tuned so Spark's runtime bloom-filter injection
    * (InjectRuntimeFilter) actually fires at fixture scale: broadcast off
    * (the filter only pays on shuffle joins — with a broadcast there is
    * nothing to prune pre-shuffle) and the application-side size floor
    * dropped (defaults assume a 10 GB fact; the semantics under test are
    * size-independent). At 100 TB the DEFAULT thresholds make this same
    * plan transformation kick in without any tuning — this pins the
    * behavior so an engine upgrade can't silently lose it. */
  def runtimeFilterSession(s: SparkSession): SparkSession = childSession(s, "runtimeFilter")(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** The unparser surface (reference: datafusion/sql/src/unparser/ —
    * plan_to_sql) proven end-to-end under the DuckDB differential: build
    * q10's DataFrame plan, unparse the ANALYZED plan back to SQL text,
    * re-execute that text, and hand THAT result to the driver. Any
    * unparser bug (mis-scoped column, lost DISTINCT, reordered LIMIT)
    * surfaces as a hash mismatch against q10's own oracle. */
  val queries: Map[String, QueryFn] = Map(
    "unparse_roundtrip" -> ((s, dir) => {
      val df = TpchQueries.queries("q10_returns")(s, dir)
      df.sparkSession.sql(SqlUnparser.unparse(df))
    }),

    // The Substrait wire format proven the same way: emit q18's analyzed
    // plan to Substrait JSON, consume it back into a fresh DataFrame, and
    // hand THAT to the driver — any serde drift (field indices, literal
    // encodings, join types, aggregate splits) breaks the hash gate.
    "substrait_roundtrip" -> ((s, dir) => {
      val df = TpchQueries.queries("q18_bigorders")(s, dir)
      val ss = df.sparkSession
      graft.plans.SubstraitSerde.consumeJson(ss,
        graft.plans.SubstraitSerde.emitJson(df),
        n => if (graft.Tables.names.contains(n))
          Some(graft.Tables.load(ss, dir, n)) else Some(ss.table(n)))
    }),

    // Parquet column bloom filters (reference: the parquet reader's
    // bloom-filter row-group pruning, datafusion/datasource-parquet/src/
    // row_group_filter.rs): write a multi-row-group file with a bloom
    // filter on the point-lookup column, read back through the filter.
    // The file is written in ingest order (not sorted by l_partkey), so
    // row-group min/max stats cannot prune a point lookup — only the
    // bloom can skip groups. BloomFilterSpec asserts the footer carries
    // the filter and that groups are actually skippable; this entry pins
    // the read path's CORRECTNESS through the DuckDB differential.
    "source_bloom_parquet" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
      val path = scratch("lineitem_bloom")
      // dictionary off for the bloom column: parquet-mr omits the bloom
      // when every page is dictionary-encoded (the dictionary already
      // prunes exactly); at fixture scale the key dictionary fits in a
      // page, at 100 TB it overflows and the bloom takes over — this
      // pins the overflow-path behavior
      li.coalesce(1).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.enable.dictionary#l_partkey", "false")
        .option("parquet.block.size", (128 * 1024).toString)
        .parquet(path)
      s.read.parquet(path).filter(col("l_partkey") === 1)
        .agg(count(lit(1)).as("n"),
          r2(coalesce(sum(col("l_extendedprice")), lit(0.0))).as("amt"),
          coalesce(sum(col("l_quantity")), lit(0.0)).cast("long").as("qty"))
    },

    // Bucketed co-located join (Scale.writeBucketed under the oracle
    // gate): both sides persisted hash-bucketed on the join key, so the
    // join plans WITHOUT an exchange on either side — at 100 TB this is
    // the repeated-join layout that amortizes one shuffle into zero.
    // ScaleSpec asserts the no-shuffle plan; this entry pins the values.
    "join_bucketed" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val od = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.Scale.writeBucketed(li, "r5_bkt_lineitem", "l_orderkey", 8)
      graft.operators.Scale.writeBucketed(od, "r5_bkt_orders", "o_orderkey", 8)
      s.table("r5_bkt_lineitem")
        .join(s.table("r5_bkt_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_extendedprice"))).as("amt"),
          sum(col("l_quantity")).cast("long").as("qty"))
        .orderBy("o_orderpriority")
    },

    // Compressed sinks (COPY TO ... compression options): zstd parquet
    // and gzip CSV written and read back — the values must survive both
    // codecs byte-exactly.
    "sink_compression" -> { (s, dir) =>
      val od = t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val pqPath = scratch("orders_zstd_parquet")
      val csvPath = scratch("orders_gzip_csv")
      od.write.mode("overwrite").option("compression", "zstd").parquet(pqPath)
      od.write.mode("overwrite").option("compression", "gzip")
        .option("header", "true").csv(csvPath)
      val pq = s.read.parquet(pqPath)
        .agg(count(lit(1)).as("n_pq"), r2(sum(col("o_totalprice"))).as("total_pq"))
      val cs = s.read.schema(od.schema).option("header", "true").csv(csvPath)
        .agg(count(lit(1)).as("n_csv"), r2(sum(col("o_totalprice"))).as("total_csv"))
      pq.crossJoin(cs)
    },

    // Approximate heavy hitters over the token stream (Spark's freqItems =
    // single-pass Misra-Gries; the reference has no frequent-items sketch).
    // Oracle contract: the sketch's guarantee is ZERO false negatives for
    // any token with frequency > support×n — the query counts the exact
    // hot set (engine-comparable) and the guarantee violations (always 0),
    // all in one plan (no driver materialization of the sketch).
    "text_heavy_hitters" -> { (s, dir) =>
      val w = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
      val fi = w.stat.freqItems(Seq("w"), 0.02)
      val counts = w.groupBy("w").agg(count(lit(1)).as("cnt"))
      val tot = w.agg(count(lit(1)).as("n"))
      counts.crossJoin(tot).crossJoin(fi)
        .filter(col("cnt") > col("n") * 0.02)
        .agg(count(lit(1)).as("n_hot"),
          coalesce(sum(when(array_contains(col("w_freqItems"), col("w")), 0L)
            .otherwise(1L)), lit(0L)).as("missed"))
    },

    // Small-file compaction under the oracle gate: a 32-writer tiny-file
    // layout is compacted to ~target-size files and the read-back
    // aggregate must be unchanged (CompactionSpec asserts the file-count
    // and layout properties; this pins content).
    "sink_compacted" -> { (s, dir) =>
      val path = scratch("orders_compacted")
      t(s, dir, "orders").filter(col("o_orderkey") <= 4000)
        .repartition(32).write.mode("overwrite").parquet(path)
      graft.operators.Compaction.compactParquet(s, path,
        targetBytes = 8L * 1024 * 1024)
      s.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy("o_orderpriority")
    },

    // Runtime bloom-filter join pruning (reference: dynamic/sideways
    // filter pushdown through hash joins — physical-plan/src/joins/
    // hash_join.rs dynamic filters, dynamic_filter_pushdown_config.slt):
    // a selective dimension predicate is turned into a bloom filter
    // evaluated on the fact BEFORE its shuffle, so at scale only matching
    // fact rows are exchanged. RuntimeFilterSpec asserts the
    // might_contain(...) filter lands in the fact scan's plan; this entry
    // pins result equivalence under the injection.
    "join_runtime_filter" -> { (s, dir) =>
      val ss = runtimeFilterSession(s)
      graft.Tables.registerAll(ss, dir)
      ss.sql(
        """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(FLOOR((SUM(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS rev
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_size = 7 AND p_type = 'PROMO'
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    }
  )

  val oracleSql: Map[String, String] = Map(
    "unparse_roundtrip" -> TpchQueries.oracleSql("q10_returns"),
    "substrait_roundtrip" -> TpchQueries.oracleSql("q18_bigorders"),

    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(FLOOR((SUM(l_extendedprice) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS amt,
        |  CAST(SUM(l_quantity) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "text_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |  FROM documents),
        |c AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY w),
        |t AS (SELECT COUNT(*) AS n FROM w)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_hot, CAST(0 AS BIGINT) AS missed
        |FROM c, t WHERE cnt > n * 0.02""".stripMargin,

    "sink_compacted" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(FLOOR((SUM(o_totalprice) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS total
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "sink_compression" ->
      """SELECT count(*) AS n_pq,
        |  CAST(FLOOR((SUM(o_totalprice) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS total_pq,
        |  count(*) AS n_csv,
        |  CAST(FLOOR((SUM(o_totalprice) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS total_csv
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,

    "source_bloom_parquet" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR((COALESCE(SUM(l_extendedprice), 0) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS amt,
        |  CAST(COALESCE(SUM(l_quantity), 0) AS BIGINT) AS qty
        |FROM lineitem WHERE l_partkey = 1""".stripMargin,

    "join_runtime_filter" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(FLOOR((SUM(l_extendedprice * (1 - l_discount)) + 1.37e-4) * 100 + 0.5) AS DOUBLE) / 100 AS rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 7 AND p_type = 'PROMO'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin
  )
}
