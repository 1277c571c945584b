package graft.queries

import org.apache.spark.sql.functions._
import graft.{DFContext, Tables}
import graft.operators.Similarity
import graft.plans.SubstraitSerde
import graft.sources.InMemoryKmsClient
import Q._

/** Round-4 batch 4: plan exchange (datafusion-proto / datafusion-substrait
  * analog), Parquet Modular Encryption (encrypted_parquet.slt), SemDeDup
  * semantic dedup, wildcard EXCLUDE (wildcard.slt), and the float16
  * widening convention (float16.slt).
  */
object Round4dQueries extends QuerySet {

  val f16Fixture = "/root/repo/src/test/resources/fixtures/type_f16/f16.parquet"

  private def scratch(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_scratch/$name"

  val queries: Map[String, QueryFn] = Map(

    // Plan exchange (reference: datafusion-substrait logical_plan/
    // producer and consumer): the query is built with the DataFrame API,
    // emitted as Substrait JSON, thrown away, and REBUILT from the JSON
    // against the session catalog — what executes is the consumed plan, so
    // the oracle checks consumer fidelity, not just the original query.
    "plan_serde_roundtrip" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val built = s.table("orders")
        .join(s.table("customer"), col("o_custkey") === col("c_custkey"), "inner")
        .where(col("o_orderstatus") === "F")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("sum_price"))
        .orderBy(col("c_mktsegment").asc)
      SubstraitSerde.consumeJson(s, SubstraitSerde.emitJson(built), n => Some(s.table(n)))
    },

    // Parquet Modular Encryption roundtrip (reference:
    // encrypted_parquet.slt, parquet/src/encryption.rs): footer +
    // two columns AES-GCM-encrypted under distinct master keys via the
    // parquet-mr envelope toolkit; write and read both run on executors.
    // The oracle computes the same aggregate from the PLAINTEXT source
    // table — green means decryption reproduced the data exactly.
    "source_encrypted_parquet" -> { (s, dir) =>
      val path = scratch("enc_supplier")
      val writeOpts = InMemoryKmsClient.cryptoOptions ++ Map(
        "parquet.encryption.footer.key" -> "footer_key",
        "parquet.encryption.column.keys" -> "col_key:s_name,s_acctbal")
      t(s, dir, "supplier").write.mode("overwrite").options(writeOpts).parquet(path)
      s.read.options(InMemoryKmsClient.cryptoOptions).parquet(path)
        .agg(count(lit(1)).as("n"), r2(sum(col("s_acctbal"))).as("sum_bal"),
          min(col("s_name")).as("min_name"), max(col("s_suppkey")).as("max_key"))
    },

    // Semantic dedup (SemDeDup): coarse k-clustering of the embedding
    // space, then within-cluster cosine against lower-id members; rows with
    // max similarity >= tau are marked dropped. Fully deterministic —
    // the DuckDB oracle replays clustering AND the pairwise step.
    "dedup_semantic" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.semanticDedup(e, 16, 0.8)
        .select(col("cid"), col("id"),
          r4(col("max_sim_lower")).as("max_sim_lower"), col("dropped"))
    },

    // Wildcard EXCLUDE (reference: wildcard.slt `SELECT * EXCLUDE(col)`):
    // the session's DialectParser reads it as Spark's native `* EXCEPT`.
    "select_exclude" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      DFContext(s).sql(
        "SELECT * EXCLUDE (c_acctbal, c_mktsegment) FROM customer ORDER BY c_custkey")
    },

    // float16 convention (reference: float16.slt; SURVEY §1.2 type
    // conventions): Spark's parquet reader REJECTS the FLOAT16 logical
    // type, so ingestion goes through graft.sources.Float16Source — an
    // executor-side page decoder that widens half → float losslessly.
    // Fixture values are multiples of 1/64 below 2, all exactly
    // representable in f16, so the oracle recomputes them arithmetically.
    "type_float16" -> { (s, _) =>
      graft.sources.Float16Source.readWidened(s, f16Fixture)
    })

  val oracleSql: Map[String, String] = Map(

    "plan_serde_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | floor((sum(o_totalprice) + 1.37e-4) * 100 + 0.5) / 100 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "source_encrypted_parquet" ->
      """SELECT count(*) AS n,
        | floor((sum(s_acctbal) + 1.37e-4) * 100 + 0.5) / 100 AS sum_bal,
        | min(s_name) AS min_name, max(s_suppkey) AS max_key
        |FROM supplier""".stripMargin,

    "dedup_semantic" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
        |assigned AS (SELECT id, cid, emb FROM (
        |   SELECT a.vec_id AS id, c.cid, a.emb,
        |     row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |       floor((list_cosine_similarity(a.emb, c.cemb) + 1.37e-8) * 1000000 + 0.5) / 1000000 DESC,
        |       c.cid) AS rn
        |   FROM e a CROSS JOIN cents c) WHERE rn = 1),
        |ms AS (SELECT a.cid, a.id,
        |    max(floor((list_cosine_similarity(a.emb, b.emb) + 1.37e-8) * 1000000 + 0.5) / 1000000) AS msl
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND b.id < a.id
        |  GROUP BY a.cid, a.id)
        |SELECT a.cid, a.id,
        | floor((coalesce(ms.msl, -1.0) + 1.37e-6) * 10000 + 0.5) / 10000 AS max_sim_lower,
        | coalesce(ms.msl, -1.0) >= 0.8 AS dropped
        |FROM assigned a LEFT JOIN ms ON ms.cid = a.cid AND ms.id = a.id""".stripMargin,

    "select_exclude" ->
      "SELECT * EXCLUDE (c_acctbal, c_mktsegment) FROM customer ORDER BY c_custkey",

    "type_float16" ->
      """SELECT 'f16.parquet' AS file_name, id AS row_index,
        | 'id' AS col_name, CAST(id AS DOUBLE) AS value FROM range(100) t(id)
        |UNION ALL
        |SELECT 'f16.parquet', id, 'h', CAST(id % 97 AS DOUBLE) / 64
        |FROM range(100) t(id)""".stripMargin)
}
