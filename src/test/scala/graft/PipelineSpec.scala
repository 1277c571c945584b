package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.functions.VectorFunctions._

/** Behavior tests for the sketch-based operators that have no SQL oracle
  * (SimHash, LSH ANN) plus invariants of the vector kernels. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  lazy val emb = Tables.load(spark, sfDir, "embeddings").cache()

  test("ngramWindows finds a planted cross-doc 20-gram; hashed mode agrees") {
    val s = spark; import s.implicits._
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"$shared delta"),
      (3L, "unrelated words only here")).toDF("doc_id", "text")
    def repeated(hashed: Boolean): Long =
      Dedup.ngramWindows(docs, "doc_id", "text", 20, hashed)
        .groupBy("win").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") > 1).count()
    assert(repeated(hashed = false) == 1) // exactly the planted window
    assert(repeated(hashed = true) == 1)  // 8-byte-key mode agrees
  }

  test("SQL-registered text surface agrees with the Column path") {
    val s = spark; import s.implicits._
    import graft.functions.TextFunctions
    val df = Seq((1L, "the cat and the hat is a cat"),
      (2L, "der hund ist ein hund und das haus")).toDF("id", "text")
    df.createOrReplaceTempView("tf_sql_t")
    val viaSql = s.sql(
      """SELECT id, lang_id(text) AS l, token_count(text) AS tc,
        |  doc_fingerprint(text) AS fp,
        |  concat_ws(',', minhash_sig(text, 4)) AS mh
        |FROM tf_sql_t ORDER BY id""".stripMargin).collect()
    val viaCol = df.select(col("id"),
        TextFunctions.langId(col("text")).as("l"),
        TextFunctions.tokenCount(col("text")).as("tc"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        concat_ws(",", org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.MinHashSig(
            org.apache.spark.sql.GraftSqlBridge.expressionEager(col("text")),
            4))).as("mh"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toString).sameElements(viaCol.map(_.toString)))
    assert(viaSql(0).getString(1) == "en" && viaSql(1).getString(1) == "de")

    // arity and foldable-k handling: wrong arity is a descriptive error
    // (not IndexOutOfBounds); CAST(4 AS INT) is accepted like a literal
    val e = intercept[Exception](s.sql("SELECT minhash_sig(text) FROM tf_sql_t"))
    assert(e.getMessage.contains("exactly 2 arguments"), e.getMessage)
    val cast = s.sql(
      "SELECT concat_ws(',', minhash_sig(text, CAST(4 AS INT))) AS mh " +
        "FROM tf_sql_t ORDER BY id").collect()
    assert(cast.map(_.getString(0)).sameElements(viaSql.map(_.getString(4))))
  }

  test("cutRepeatedSpans keeps one global occurrence, merges overlaps") {
    val s = spark; import s.implicits._
    // a 25-token shared run -> 6 overlapping repeated 20-windows that must
    // merge into ONE cut span in the non-keeper doc
    val run = (1 to 25).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $run gamma"),
      (2L, s"pre1 pre2 pre3 $run post"),
      (3L, "independent text with no duplication at all")).toDF("doc_id", "text")
    val out = Dedup.cutRepeatedSpans(docs, "doc_id", "text", 20)
      .orderBy("doc_id").collect()
    // doc 1 holds the global first occurrence of every repeated window
    assert(out(0).getString(1) == s"alpha beta $run gamma")
    assert(out(0).getLong(2) == out(0).getLong(3))
    // doc 2 loses exactly the 25-token run (one merged span)
    assert(out(1).getString(1) == "pre1 pre2 pre3 post")
    assert(out(1).getLong(2) - out(1).getLong(3) == 25)
    // untouched doc
    assert(out(2).getLong(2) == out(2).getLong(3))
  }

  test("vector kernels: self-similarity invariants") {
    val row = emb.limit(1)
      .select(
        inner_product(col("embedding"), col("embedding")).as("dot"),
        l2_distance(col("embedding"), col("embedding")).as("l2"),
        cosine_distance(col("embedding"), col("embedding")).as("cosd"))
      .collect().head
    assert(row.getDouble(0) > 0)
    assert(row.getDouble(1) == 0.0)
    assert(math.abs(row.getDouble(2)) < 1e-12)
  }

  test("vector kernels registered as SQL functions") {
    emb.createOrReplaceTempView("emb_t")
    val v = spark.sql(
      "SELECT inner_product(embedding, embedding) FROM emb_t LIMIT 1")
      .collect().head.getDouble(0)
    assert(v > 0)
  }

  test("LSH ANN recall vs brute force is reasonable") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(emb, queries, 5, 4, 64, nTables = 6)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 4 hyperplanes → 16 buckets over 50 vectors at sf0.001; same-bucket
    // probability for near neighbors is high but not 1 — loose bound.
    assert(recall > 0.4, s"recall=$recall")
    assert(approx.nonEmpty)
  }

  test("simhash: identical docs collide, different docs mostly differ") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark table scan join filter aggregate window sort"),
      (2L, "spark table scan join filter aggregate window sort"),
      (3L, "completely different words about bananas and weather patterns"))
      .toDF("doc_id", "text")
    val sims = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    assert(sims(1L) != sims(3L))
  }

  test("simhash pairs find the exact-dup pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark table scan join filter aggregate window sort"),
      (2L, "spark table scan join filter aggregate window sort"),
      (3L, "completely different words about bananas and weather patterns"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("exact dedup counts a synthetic duplicate") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb", "s1"), (2L, "aa bb", "s1"), (3L, "cc", "s1"))
      .toDF("doc_id", "text", "source")
    val row = Dedup.exactStats(docs, "text", "source").collect().head
    assert(row.getAs[Long]("n_docs") == 3 && row.getAs[Long]("n_unique") == 2
      && row.getAs[Long]("n_dups") == 1)
  }

  test("minhash: identical docs share all bands") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8"))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(docs, "doc_id", "text", 8), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("localTopKPerKey + global rank equals plain window rank (random data, dups)") {
    val s = spark
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(7L, 21L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.tabulate(4000) { _ =>
        val qid = rnd.nextInt(20).toLong
        val nid = rnd.nextInt(50).toLong
        // sim is a function of the pair, like a real distance — duplicates
        // of a (qid, nid) candidate always carry the same score
        (qid, nid, ((qid * 31 + nid * 7) % 40) / 10.0)
      }
      val df = s.createDataFrame(rows.map(r => (r._1, r._2, r._3)))
        .toDF("qid", "nid", "sim").repartition(16)
      val ord = Seq(col("sim").desc, col("nid").asc)
      val w = Window.partitionBy("qid").orderBy(ord: _*)
      val plain = df.dropDuplicates("qid", "nid")
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val reduced = Similarity.localTopKPerKey(df, "qid", ord, 5, dedupCols = Seq("nid"))
        .dropDuplicates("qid", "nid")
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reduced == plain, s"seed $seed")
    }
  }

  test("length band caps hot ngram buckets without losing same-size near-dups") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h", "web"),           // 8 words  -> band 3
      (2L, "a b c d e f g x", "web"),           // near-dup of 1, band 3
      (3L, "a b c", "web"),                     // 3 words  -> band 1
      (4L, ("w " * 40).trim, "web"))            // 40 words -> band 5
      .toDF("doc_id", "text", "source")
    val banded = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      concat_ws("|", col("source"), Dedup.lengthBand(col("text"))))
      .where(col("jaccard") > 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == Set((1L, 2L)))
    // and the hot bucket got split: docs 3 and 4 are no longer compared
    val allPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      concat_ws("|", col("source"), Dedup.lengthBand(col("text"))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!allPairs.contains((3L, 4L)))
  }

  test("ngram pairs skip NULL band rows on the plain and salted paths") {
    // ngramJaccardPairs takes a caller-supplied band column; a NULL band
    // never equi-joins, so its docs pair with nothing — and the bucket-size
    // gate must not fail on them.
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h", Option("web")),
      (2L, "a b c d e f g x", Option("web")),
      (3L, "a b c d e f g h", Option.empty[String]),
      (4L, "a b c d e f g x", Option.empty[String]))
      .toDF("doc_id", "text", "band")
    val capKey = "spark.graft.ngramPairs.bucketCap"
    for (cap <- Seq("4096", "1")) {
      spark.conf.set(capKey, cap)
      try {
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", col("band"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pairs == Set((1L, 2L)), s"cap=$cap")
      } finally spark.conf.unset(capKey)
    }
  }

  test("NgramWindows kernel is bit-identical to the transform/slice form") {
    // r14: the zero-copy window kernel replaced the per-window
    // slice+concat_ws expression inside Dedup.ngramWindows — compare
    // (doc_id, pos, win) over the real fixture for several n, including
    // the filter boundary (docs shorter than n are excluded upstream).
    val docs = Tables.load(spark, sfDir, "documents")
    for (n <- Seq(2, 3, 20)) {
      val old = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.words(col("text")).as("a"))
        .filter(size(col("a")) >= n)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(a) - $n), i -> concat_ws(' ', slice(a, i + 1, $n)))"))
          .as(Seq("pos", "win")))
        .collect().map(_.toString).toSet
      val neo = Dedup.ngramWindows(docs, "doc_id", "text", n)
        .collect().map(_.toString).toSet
      assert(neo == old, s"n=$n: ${old.size} vs ${neo.size} windows")
    }
  }

  test("triangle-split hot-bucket path emits exactly the plain path's pairs") {
    // r14: ngramJaccardPairs splits buckets above spark.graft.ngramPairs.
    // bucketCap into deterministic triangle cells. Force the salted path
    // with a tiny cap on the real fixture and require BIT-IDENTICAL pairs
    // (ids and jaccard) vs the plain single-cell join — every pair must
    // meet in exactly one cell, same-salt pairs filtered to their diagonal.
    val docs = Tables.load(spark, sfDir, "documents")
    val band = concat_ws("|", col("source"), col("lang"),
      Dedup.lengthBand(col("text")))
    def pairs(): Set[String] =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", band)
        .collect().map(_.toString).toSet
    val plain = pairs()
    val capKey = "spark.graft.ngramPairs.bucketCap"
    spark.conf.set(capKey, "3")
    try {
      val salted = pairs()
      assert(salted == plain,
        s"salted path diverged: ${salted.size} vs ${plain.size} pairs; " +
          s"missing=${(plain -- salted).take(3)} extra=${(salted -- plain).take(3)}")
    } finally spark.conf.unset(capKey)
  }

  test("fused MinHashSig kernel is bit-identical to the composed form") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    val composed = Dedup.minhashSignatures(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fused = Dedup.minhashSignatureArray(docs, "doc_id", "text", 8)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.col("sig")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(fused == composed)
  }

  test("fused band keys are bit-identical to the aggregated form") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    val old = Dedup.lshBands(Dedup.minhashSignatures(docs, "doc_id", "text", 8), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val fused = Dedup.lshBandsFromArray(
        Dedup.minhashSignatureArray(docs, "doc_id", "text", 8), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(fused == old)
  }

  test("connected components: chain forces multi-round propagation") {
    import spark.implicits._
    // 0-1-2-3-4-5 chain (diameter 5) plus a separate pair and a self-loop.
    val edges = Seq((1L, 0L), (1L, 2L), (3L, 2L), (3L, 4L), (5L, 4L),
      (10L, 11L), (20L, 20L)).toDF("ida", "idb")
    val got = Dedup.connectedComponents(edges, "ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 5L).forall(got(_) == 0L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L)
    assert(got.size == 9)
  }

  test("connected components: 200-node chain converges via path halving") {
    import spark.implicits._
    // O(diameter) propagation alone would need 199 rounds — far past
    // maxRounds; path halving must close it in O(log n).
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("ida", "idb")
    val got = Dedup.connectedComponents(edges, "ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("connected components: empty edge list yields empty result") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("ida", "idb")
    assert(Dedup.connectedComponents(edges, "ida", "idb").count() == 0)
  }
}
