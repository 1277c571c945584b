package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.InMemoryKmsClient

class Round4dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scratch(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_scratch/$name"

  // ------------------------------------------------------ encrypted parquet

  test("encrypted parquet write produces PARE-magic files and round-trips") {
    val path = scratch("enc_spec")
    val df = spark.range(0, 100).select(col("id"),
      (col("id") * 3).as("val"), concat(lit("row_"), col("id")).as("name"))
    val writeOpts = InMemoryKmsClient.cryptoOptions ++ Map(
      "parquet.encryption.footer.key" -> "footer_key",
      "parquet.encryption.column.keys" -> "col_key:val,name")
    df.write.mode("overwrite").options(writeOpts).parquet(path)

    // Encrypted-footer parquet replaces the PAR1 magic with PARE.
    val part = new java.io.File(path).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val head = java.nio.file.Files.newInputStream(part.toPath).readNBytes(4)
    assert(new String(head, "US-ASCII") == "PARE", "footer should be encrypted")

    val back = spark.read.options(InMemoryKmsClient.cryptoOptions).parquet(path)
    assert(back.orderBy("id").collect().map(_.toString).toSeq ==
      df.orderBy("id").collect().map(_.toString).toSeq)
  }

  test("encrypted parquet is unreadable without the keys") {
    val path = scratch("enc_spec")
    val e = intercept[Exception] {
      spark.read.parquet(path).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.toString +: messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("PARE") || m.toLowerCase.contains("encrypt") ||
        m.toLowerCase.contains("magic")),
      s"unexpected failure: $e")
  }

  // ------------------------------------------------------------ spill paths

  test("window, sort-merge join and hash agg stay correct under forced spill") {
    // Analogs of aggregate_memory_spill.slt / sort_merge_join_spill.slt /
    // ordered_aggregate_spill.slt: a child session with spill thresholds
    // floored to 1-2 rows and hash-agg forced into its sort-based fallback
    // must return byte-identical results to the default session.
    Tables.registerAll(spark, TestSpark.sfDir)
    // sums in integer cents: spill changes accumulation ORDER, which is
    // only byte-identical for order-independent (integer) arithmetic
    val windowQ =
      """SELECT o_custkey, o_orderkey,
        |  sum(CAST(o_totalprice * 100 AS BIGINT))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS run
        |FROM orders""".stripMargin
    val joinQ =
      """SELECT o_orderkey, c_name FROM orders JOIN customer
        |ON o_custkey = c_custkey WHERE o_totalprice > 100000""".stripMargin
    val aggQ =
      """SELECT o_orderstatus, count(*) AS n,
        |  sum(CAST(o_totalprice * 100 AS BIGINT)) AS s
        |FROM orders GROUP BY o_orderstatus""".stripMargin

    val expected = Seq(windowQ, joinQ, aggQ)
      .map(q => spark.sql(q).collect().map(_.toString).sorted.toSeq)

    val spilly = spark.newSession()
    Tables.registerAll(spilly, TestSpark.sfDir)
    spilly.conf.set("spark.sql.windowExec.buffer.spill.threshold", "2")
    spilly.conf.set("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "2")
    spilly.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spilly.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    // internal test hook Spark's own HashAggregationQuerySuite uses: force
    // the hash map to give up after 2 entries → sort-based fallback path
    spilly.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "2,3")

    val actual = Seq(windowQ, joinQ, aggQ)
      .map(q => spilly.sql(q).collect().map(_.toString).sorted.toSeq)
    assert(actual == expected)
  }

  // -------------------------------------------------------- SELECT * EXCLUDE

  test("EXCLUDE drops listed columns and keeps the rest in order") {
    Tables.registerAll(spark, TestSpark.sfDir)
    val ctx = DFContext(spark)
    val df = ctx.sql("SELECT * EXCLUDE (c_acctbal) FROM customer")
    assert(df.columns.toSeq == Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    assert(df.count() == spark.table("customer").count())
  }

  test("EXCEPT spelling and multi-column exclusion work") {
    Tables.registerAll(spark, TestSpark.sfDir)
    val ctx = DFContext(spark)
    val df = ctx.sql("SELECT * EXCEPT (c_acctbal, c_mktsegment) FROM customer")
    assert(df.columns.toSeq == Seq("c_custkey", "c_name", "c_nationkey"))
  }

  test("EXCLUDE works inside a subquery") {
    Tables.registerAll(spark, TestSpark.sfDir)
    val ctx = DFContext(spark)
    val df = ctx.sql(
      "SELECT count(*) AS n FROM (SELECT * EXCLUDE (n_regionkey) FROM nation)")
    assert(df.collect().head.getLong(0) == 25)
  }

  test("EXCLUDE of an unknown column fails analysis") {
    Tables.registerAll(spark, TestSpark.sfDir)
    val ctx = DFContext(spark)
    // like the reference's bind error (Spark's native `* EXCEPT`)
    intercept[org.apache.spark.sql.AnalysisException](
      ctx.sql("SELECT * EXCLUDE (no_such_col) FROM region"))
  }

  test("regex-column parsing stays off for plain queries") {
    Tables.registerAll(spark, TestSpark.sfDir)
    val ctx = DFContext(spark)
    // would explode if the parser treated backticks as regexes by default
    val df = ctx.sql("SELECT `n_name` FROM nation LIMIT 1")
    assert(df.columns.toSeq == Seq("n_name"))
    assert(spark.conf.getOption("spark.sql.parser.quotedRegexColumnNames")
      .forall(_ == "false"))
  }

  // ---------------------------------------------------------- semantic dedup

  test("semanticDedup drops the near-duplicate, keeps the min-id canonical") {
    import spark.implicits._
    // ids 0..3 are the centroid seeds (nCentroids=4); 10/11 identical,
    // 12 orthogonal-ish
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 1f)),
      (10L, Array(0.9f, 0.1f, 0f, 0f)), (11L, Array(0.9f, 0.1f, 0f, 0f)),
      (12L, Array(0f, 0.9f, 0.2f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    // tau above cos(id10, centroid-member id0) = 0.9939 — seeds live in the
    // corpus too, so only the exact twin crosses the line
    val out = Similarity.semanticDedup(df, 4, 0.995)
      .select("id", "dropped").as[(Long, Boolean)].collect().toMap
    assert(out(11L), "identical twin with higher id must be dropped")
    assert(!out(10L), "min-id member survives")
    assert(!out(12L), "distinct vector survives")
    assert(!out(0L) && !out(1L))
  }

  // ------------------------------------------------------------ float16 read

  test("Spark's native reader rejects FLOAT16; Float16Source widens it") {
    // documents WHY the custom source exists
    val e = intercept[Exception] {
      spark.read.parquet(queries.Round4dQueries.f16Fixture).collect()
    }
    assert(e.toString.toLowerCase.contains("parquet"), s"unexpected: $e")

    val df = graft.sources.Float16Source.readWidened(
      spark, queries.Round4dQueries.f16Fixture)
    val h = df.where(col("col_name") === "h").orderBy("row_index")
      .select("value").collect().map(_.getDouble(0))
    assert(h.toSeq == (0 until 100).map(i => (i % 97) / 64.0))
    val ids = df.where(col("col_name") === "id").orderBy("row_index")
      .select("value").collect().map(_.getDouble(0))
    assert(ids.toSeq == (0 until 100).map(_.toDouble))
  }

  test("halfToFloat decodes edge values exactly") {
    import graft.sources.Float16Source.halfToFloat
    assert(halfToFloat(0x0000) == 0.0f)
    assert(halfToFloat(0x8000) == -0.0f && (1 / halfToFloat(0x8000)).isNegInfinity)
    assert(halfToFloat(0x3c00) == 1.0f)
    assert(halfToFloat(0xc000) == -2.0f)
    assert(halfToFloat(0x7bff) == 65504.0f)   // max finite half
    assert(halfToFloat(0x0001) == 5.9604645e-8f) // min subnormal
    assert(halfToFloat(0x7c00).isPosInfinity)
    assert(halfToFloat(0xfc00).isNegInfinity)
    assert(halfToFloat(0x7e00).isNaN)
  }
}
