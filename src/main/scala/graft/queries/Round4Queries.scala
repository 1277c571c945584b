package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.DFContext
import Q._

/** Round-4 batch 1: crypto long tail (NIST vectors), parquet type
  * conventions (unsigned widening, TIME→µs), persistent views over a
  * multi-schema catalog, pipe-operator SQL.
  */
object Round4Queries extends QuerySet {

  /** Committed parquet fixtures for type-convention tests — written once by
    * pyarrow (unsigned logical types) / DuckDB (TIME, isAdjustedToUTC=false);
    * Spark cannot author either type itself, which is exactly why the read
    * convention needs pinning. */
  val fixturesDir = "/root/repo/src/test/resources/fixtures"

  /** µs-since-midnight of a TIME column via its canonical string form
    * (`HH:MM:SS[.ffffff]`) — the SURVEY §1.2 convention
    * (reference: common/src/scalar/mod.rs:358-475, Time32/64 → µs-long). */
  private def timeToMicros(c: Column): Column = {
    val parts = split(c.cast("string"), "[:.]")
    (get(parts, lit(0)).cast("long") * 3600000000L
      + get(parts, lit(1)).cast("long") * 60000000L
      + get(parts, lit(2)).cast("long") * 1000000L
      + coalesce(rpad(get(parts, lit(3)), 6, "0").cast("long"), lit(0L)))
  }

  val queries: Map[String, QueryFn] = Map(

    // Crypto long tail: sha224/384/512 (Spark sha2 bit-width dispatch — the
    // reference's digest(col, algo), functions/src/crypto/) + sha1, proven
    // against the published NIST test vectors, which the oracle carries as
    // literals (DuckDB has no sha224/384/512 to compute them with).
    "fn_crypto2" -> { (s, _) =>
      import s.implicits._
      Seq("abc", "", "The quick brown fox jumps over the lazy dog").toDF("s")
        .select(col("s"),
          sha2(col("s").cast("binary"), 224).as("sha224_hex"),
          sha2(col("s").cast("binary"), 384).as("sha384_hex"),
          sha2(col("s").cast("binary"), 512).as("sha512_hex"),
          sha1(col("s").cast("binary")).as("sha1_hex"),
          expr("lower(hex(digest(cast(s AS binary), 'md5')))").as("digest_md5"),
          expr("lower(hex(digest(cast(s AS binary), 'sha384')))").as("digest_sha384"))
    },

    // Unsigned-int parquet widening convention (SURVEY §1.2): UINT8→smallint,
    // UINT16→int, UINT32→bigint, UINT64→decimal(20,0); emitted re-narrowed to
    // signed types both engines share so the hash comparison pins the VALUES
    // across the full unsigned range (incl. > Int.MaxValue in u32).
    "type_unsigned" -> { (s, _) =>
      s.read.parquet(s"$fixturesDir/type_unsigned.parquet")
        .select(col("id"), col("u8"), col("u16"), col("u32"),
          col("u64").cast("long").as("u64"))
    },

    // TIME parquet convention: Time32/64 land as TIME(6) (behind
    // spark.sql.timeType.enabled) and are normalized to µs-since-midnight
    // BIGINT plus the canonical string form.
    "type_time" -> { (s, _) =>
      s.conf.set("spark.sql.timeType.enabled", "true")
      s.read.parquet(s"$fixturesDir/type_time.parquet")
        .select(col("id"),
          col("t64_us").cast("string").as("s64"),
          timeToMicros(col("t32_ms")).as("us32"),
          timeToMicros(col("t64_us")).as("us64"))
    },

    // Persistent views in a named schema (reference: catalog/src/view.rs:36,
    // catalog→schema→table hierarchy in catalog/src/memory/): CREATE
    // DATABASE + CREATE VIEW front-door, a view stacked on a view, queried
    // through the catalog path. Views are defined over the parquet path
    // (persistent views may not reference temp views).
    "catalog_view" -> { (s, dir) =>
      s.sql("CREATE DATABASE IF NOT EXISTS analytics")
      s.sql(s"""CREATE OR REPLACE VIEW analytics.big_orders AS
                SELECT o_custkey, o_orderstatus, o_totalprice
                FROM parquet.`$dir/orders.parquet` WHERE o_totalprice > 150000""")
      s.sql("""CREATE OR REPLACE VIEW analytics.big_orders_by_status AS
               SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
               FROM analytics.big_orders GROUP BY o_orderstatus""")
      s.sql("SELECT o_orderstatus, n, total FROM analytics.big_orders_by_status")
        .select(col("o_orderstatus"), col("n"), r2(col("total")).as("total"))
    },

    // Managed tables via CTAS in the same schema (reference: MemTable +
    // CREATE TABLE AS, catalog/src/memory/table.rs): materialize an
    // aggregate into the catalog, then query it back by qualified name.
    "catalog_ctas" -> { (s, dir) =>
      s.sql("CREATE DATABASE IF NOT EXISTS analytics")
      s.sql("DROP TABLE IF EXISTS analytics.brand_counts")
      // a previous SESSION may have left the managed location behind (the
      // fresh in-memory catalog doesn't know the table, so DROP alone
      // can't reclaim it) — purge the location before re-creating
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val loc = java.nio.file.Paths.get(wh, "analytics.db", "brand_counts")
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      s.sql(s"""CREATE TABLE analytics.brand_counts USING PARQUET AS
                SELECT p_brand, count(*) AS n
                FROM parquet.`$dir/part.parquet` GROUP BY p_brand""")
      s.sql("SELECT p_brand, n FROM analytics.brand_counts")
    },

    // Pipe-operator SQL (reference: sqllogictest/test_files/pipe_operator.slt)
    // through Spark 4.1's native |> parser: WHERE, AGGREGATE..GROUP BY, EXTEND,
    // post-aggregation WHERE, ORDER BY + LIMIT in one pipeline.
    "pipe_sql" -> { (s, dir) =>
      val ctx = DFContext(s)
      ctx.registerAll(dir)
      ctx.sql(
        "SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem " +
          "|> WHERE l_quantity < 30 " +
          "|> AGGREGATE count(*) AS n, sum(l_quantity) AS sum_qty GROUP BY l_returnflag " +
          "|> EXTEND sum_qty / n AS avg_qty " +
          "|> WHERE n > 10 " +
          "|> ORDER BY l_returnflag " +
          "|> LIMIT 5")
        .select(col("l_returnflag"), col("n"), r2(col("sum_qty")).as("sum_qty"),
          r4(col("avg_qty")).as("avg_qty"))
    })

  val oracleSql: Map[String, String] = Map(

    // NIST FIPS 180-2 test vectors as literals (DuckDB has no
    // sha224/384/512 to compute them with; digest_md5 it can compute,
    // digest_sha384 re-asserts the literal through the dispatch function).
    "fn_crypto2" ->
      """SELECT t.*, md5(s) AS digest_md5, sha384_hex AS digest_sha384
        |FROM (VALUES
        | ('abc',
        |  '23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7',
        |  'cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed8086072ba1e7cc2358baeca134c825a7',
        |  'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f',
        |  'a9993e364706816aba3e25717850c26c9cd0d89d'),
        | ('',
        |  'd14a028c2a3a2bc9476102bb288234c415a2b01f828ea62ac5b3e42f',
        |  '38b060a751ac96384cd9327eb1b1e36a21fdb71114be07434c0cc7bf63f6e1da274edebfe76f65fbd51ad2f14898b95b',
        |  'cf83e1357eefb8bdf1542850d66d8007d620e4050b5715dc83f4a921d36ce9ce47d0d13c5d85f2b0ff8318d2877eec2f63b931bd47417a81a538327af927da3e',
        |  'da39a3ee5e6b4b0d3255bfef95601890afd80709'),
        | ('The quick brown fox jumps over the lazy dog',
        |  '730e109bd7a8a32b1cb9d9a09aa2325d2430587ddbc0c38bad911525',
        |  'ca737f1014a48f4c0b6dd43cb177b0afd9e5169367544c494011e3317dbf9a509cb1e5dc1e85a941bbee3d7f2afbc9b1',
        |  '07e547d9586f6a73f73fbac0435ed76951218fb7d0c8d788a309d785436bbb642e93a252a954f23912547d1e8a3b5ed6e1bfd7097821233fa0538f3db854fee6',
        |  '2fd4e1c67a2d28fced849ee1bb76e7391b93eb12'))
        | AS t(s, sha224_hex, sha384_hex, sha512_hex, sha1_hex)""".stripMargin,

    "type_unsigned" ->
      """SELECT id, CAST(u8 AS SMALLINT) AS u8, CAST(u16 AS INTEGER) AS u16,
        | CAST(u32 AS BIGINT) AS u32, CAST(u64 AS BIGINT) AS u64
        |FROM '/root/repo/src/test/resources/fixtures/type_unsigned.parquet'""".stripMargin,

    "type_time" ->
      """SELECT id, CAST(t64_us AS VARCHAR) AS s64,
        | CAST(extract(hour FROM t32_ms)*3600000000 + extract(minute FROM t32_ms)*60000000
        |      + extract(microsecond FROM t32_ms) AS BIGINT) AS us32,
        | CAST(extract(hour FROM t64_us)*3600000000 + extract(minute FROM t64_us)*60000000
        |      + extract(microsecond FROM t64_us) AS BIGINT) AS us64
        |FROM '/root/repo/src/test/resources/fixtures/type_time.parquet'""".stripMargin,

    "catalog_view" ->
      """SELECT o_orderstatus, count(*) AS n,
        | floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS total
        |FROM orders WHERE o_totalprice > 150000
        |GROUP BY o_orderstatus""".stripMargin,

    "catalog_ctas" ->
      """SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand""",

    "pipe_sql" ->
      """SELECT l_returnflag, count(*) AS n,
        | floor((sum(l_quantity) + 1.37e-4) * 100 + 0.5) / 100 AS sum_qty,
        | floor((sum(l_quantity) / count(*) + 1.37e-6) * 10000 + 0.5) / 10000 AS avg_qty
        |FROM lineitem WHERE l_quantity < 30
        |GROUP BY l_returnflag HAVING count(*) > 10
        |ORDER BY l_returnflag LIMIT 5""".stripMargin)
}
