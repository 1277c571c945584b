package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.BitmapJoin
import graft.plans.BroadcastAdvisor.ColStats

class BitmapJoinSpec extends AnyFunSuite {
  import TestSpark._

  /** Slot value of key `k` in a `bits`-wide map (0 = absent). */
  private def slot(words: Array[Long], bits: Int, k: Long): Long = {
    val perWord = 64 / bits
    val w = (k / perWord).toInt
    if (w >= words.length) 0L
    else (words(w) >>> ((k % perWord) * bits)) & ((1L << bits) - 1)
  }

  /** Error message chain: an executor-side failure arrives wrapped. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")

  test("build sets slots exactly for the input keys at bits 1, 2, 8") {
    import spark.implicits._
    val df = Seq((3L, 2), (64L, 1), (700L, 2), (0L, 1)).toDF("k", "v")
    val absent = Seq(1L, 2L, 63L, 65L, 699L, 701L, 10000L)
    for (bits <- Seq(1, 2, 8)) {
      val value = if (bits == 1) lit(1) else col("v")
      val m = BitmapJoin.build(df, "k", value, bits)
      for ((k, v) <- Seq(3L -> 2, 64L -> 1, 700L -> 2, 0L -> 1))
        assert(slot(m, bits, k) == (if (bits == 1) 1 else v), s"bits=$bits slot($k)")
      for (k <- absent) assert(slot(m, bits, k) == 0, s"bits=$bits !slot($k)")
    }
  }

  test("NULL build keys are skipped — no phantom bit for key 0") {
    import spark.implicits._
    val df = Seq((java.lang.Long.valueOf(3L), java.lang.Integer.valueOf(2)),
      (null.asInstanceOf[java.lang.Long], java.lang.Integer.valueOf(2)),
      (java.lang.Long.valueOf(5L), null.asInstanceOf[java.lang.Integer]))
      .toDF("k", "v")
    val m = BitmapJoin.build(df, "k", col("v"), 2)
    assert(slot(m, 2, 3L) == 2)
    assert(slot(m, 2, 0L) == 0, "NULL key must not occupy slot 0 (never equi-matches)")
    assert(slot(m, 2, 5L) == 0, "NULL value must not set a slot")
  }

  test("negative keys and out-of-range values fail the build") {
    import spark.implicits._
    val neg = intercept[Exception](
      BitmapJoin.build(Seq(-1L).toDF("k"), "k", lit(1), 1))
    assert(messages(neg).contains("negative key -1"), messages(neg))
    val big = intercept[Exception](
      BitmapJoin.build(Seq((1L, 4)).toDF("k", "v"), "k", col("v"), 2))
    assert(messages(big).contains("value 4 out of 1..3"), messages(big))
  }

  test("probe is tri-state: slot value for present keys, NULL else") {
    import spark.implicits._
    val df = Seq((5L, true), (9L, false)).toDF("k", "f")
    val probe = BitmapJoin.probe(
      BitmapJoin.build(df, "k", when(col("f"), 2).otherwise(1), 2), 2)
    val out = Seq(5L, 9L, 7L, -3L, 1L << 40).toDF("k")
      .select(col("k"), probe(col("k")).as("hi"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else java.lang.Integer.valueOf(r.getInt(1)))).toMap
    assert(out(5L) == 2)
    assert(out(9L) == 1)
    assert(out(7L) == null, "absent key probes NULL (inner-join drop)")
    assert(out(-3L) == null && out(1L << 40) == null, "out-of-range keys probe NULL")
  }

  test("empty build side probes everything NULL") {
    import spark.implicits._
    val df = Seq.empty[(Long, Boolean)].toDF("k", "f")
    val m = BitmapJoin.build(df, "k", lit(1), 1)
    assert(m.isEmpty)
    val probe = BitmapJoin.probe(m, 1)
    val out = Seq(1L, 100L).toDF("k").select(probe(col("k")).as("h"))
      .collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("duplicate keys: equal values merge, conflicting values fail") {
    // two partitions, one row each, so the duplicate meets in the merge;
    // one partition, so it meets inside the partition build
    for (parts <- Seq(1, 2)) {
      val dup = spark.range(0, 2, 1, parts).select(lit(3L).as("k"), col("id"))
      for (bits <- Seq(1, 2, 8))
        assert(slot(BitmapJoin.build(dup, "k", lit(1), bits), bits, 3L) == 1,
          s"parts=$parts bits=$bits: equal duplicate values must merge")
      for (bits <- Seq(2, 8)) {
        val e = intercept[Exception](BitmapJoin.build(dup, "k", col("id") + 1, bits))
        assert(messages(e).contains("duplicate build key 3 with conflicting values"),
          s"parts=$parts bits=$bits: ${messages(e)}")
      }
    }
  }

  test("gate: fits-threshold and non-negative keys required") {
    val small = Some(ColStats(8.0, Some(1L), Some(6000000L)))
    val huge = Some(ColStats(8.0, Some(1L), Some(Long.MaxValue / 2)))
    val negative = Some(ColStats(8.0, Some(-5L), Some(100L)))
    for (bits <- Seq(1, 2, 8)) {
      assert(BitmapJoin.gate(spark, small, bits), s"6M keys at $bits bits fits 64MB")
      assert(!BitmapJoin.gate(spark, huge, bits), "past-threshold map falls back")
      assert(!BitmapJoin.gate(spark, negative, bits), "negative keys fall back")
      assert(!BitmapJoin.gate(spark, None, bits), "no stats falls back")
    }
  }

  test("q12 bitmap plan equals the shuffle-join form at sf0.001") {
    val dir = sfDir
    val viaBitmap = SparkEntry.queries("q12_shipmode")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    graft.Tables.registerAll(spark, dir)
    val viaJoin = spark.sql(
      """SELECT l_linestatus,
        |  sum(CASE WHEN os.hi THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN os.hi THEN 0 ELSE 1 END) AS low_line_count
        |FROM lineitem,
        |  (SELECT o_orderkey,
        |     o_orderpriority IN ('1-URGENT', '2-HIGH') AS hi FROM orders) os
        |WHERE l_orderkey = os.o_orderkey
        |  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin)
      .collect().map(_.toString).sorted.toSeq
    assert(viaBitmap == viaJoin)
  }

  test("q9's dense key map build job carries its description") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val want = "BitmapJoin.build: dense key map on o_orderkey, 8-bit slots"
    spark.sparkContext.addSparkListener(listener)
    try {
      // building q9 runs the build eagerly; the description is restored after
      SparkEntry.queries("q9_profit")(spark, sfDir)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (!seen.contains(want) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(want), seen)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
