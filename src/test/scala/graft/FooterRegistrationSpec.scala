package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BroadcastAdvisor

/** Table registration reads parquet footers on the driver: no Spark job,
  * the schema Spark's own inference gives, and a partsupp shape from
  * supplier's footer statistics that the aggregate fallback agrees with. */
class FooterRegistrationSpec extends AnyFunSuite {
  import TestSpark._

  /** Spark jobs launched by `body` on this thread, counted after the
    * listener bus has delivered every event. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"footer-registration-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs counted by FooterRegistrationSpec")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("registration on a fresh session launches no Spark job") {
    assert(jobsIn(Tables.registerAll(spark.newSession(), sfDir)) == 0)
    val ctx = DFContext(spark.newSession())
    assert(jobsIn(ctx.registerAll(sfDir)) == 0)
    assert(ctx.sql("SELECT count(*) FROM partsupp").head().getLong(0) > 0)
  }

  test("building q3_join_topk on a fresh parent session launches no Spark job") {
    val parent = spark.newSession()
    assert(jobsIn(SparkEntry.queries("q3_join_topk")(parent, sfDir)) == 0)
  }

  test("footer schema equals Spark's inferred schema on every fixture table") {
    val root = new java.io.File(sfDir).getParentFile
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(new java.io.File(root, _)) :+
      new java.io.File("perfbench/data/sf0.01")
    val present = dirs.filter(d => Tables.names.forall(n => new java.io.File(d, s"$n.parquet").exists()))
    assume(present.nonEmpty, "no fixture directory present")
    // events.ts is TIMESTAMP(NANOS) in some fixture generations, which
    // Spark reads only as raw longs
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (d <- present; n <- Tables.names) {
      val p = s"${d.getPath}/$n.parquet"
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footerSchema(spark, p) == inferred, p)
      assert(Tables.readParquet(spark, p).schema == inferred, p)
    }
  }

  test("footer schema of a directory of parts; mergeSchema keeps Spark's inference") {
    val s = spark; import s.implicits._
    val two = Files.createTempDirectory("graft_footer_two").resolve("t.parquet").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5)).toDF("id", "s", "x")
      .repartition(2).write.parquet(two)
    assert(new java.io.File(two).listFiles().count(_.getName.endsWith(".parquet")) == 2)
    // the footer keeps the writer's non-null flags; the relation, like
    // Spark's, makes every column nullable
    assert(Tables.footerSchema(spark, two).map(f => f.name -> f.dataType) ==
      spark.read.parquet(two).schema.map(f => f.name -> f.dataType))
    var df: DataFrame = null
    assert(jobsIn { df = Tables.readParquet(spark, two) } == 0)
    assert(df.schema == spark.read.parquet(two).schema)
    assert(sorted(df) == sorted(spark.read.parquet(two)))

    // parts with different columns: without merging, both sides read the
    // first part in path order; with merging, both read every part
    val evolving = Files.createTempDirectory("graft_footer_evolving").resolve("t.parquet").toString
    Seq((1L, "a")).toDF("id", "a").write.parquet(evolving)
    Seq((2L, 2.0)).toDF("id", "b").write.mode("append").parquet(evolving)
    assert(Tables.readParquet(spark, evolving).schema == spark.read.parquet(evolving).schema)
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val merged = Tables.readParquet(merging, evolving).schema
    assert(merged.fieldNames.toSet == Set("id", "a", "b"))
    assert(merged == merging.read.parquet(evolving).schema)
  }

  test("partsupp rows agree on both sides of the footer-stats check") {
    val footer = Tables.footerSupplierShape(spark, sfDir)
    val scanned = Tables.scannedSupplierShape(spark, sfDir)
    assert(footer.contains(scanned))
    assert(scanned.dense, "the fixture's s_suppkey is 0..n-1")
    val viaFooter = sorted(Tables.derivePartsupp(spark, sfDir, footer.get))
    assert(viaFooter.nonEmpty)
    assert(viaFooter == sorted(Tables.derivePartsupp(spark, sfDir, scanned)))
    // and on both sides of the dense gate: the windowed rank gives the same rows
    assert(viaFooter ==
      sorted(Tables.derivePartsupp(spark, sfDir, scanned.copy(dense = false))))
  }

  /** A fixture dir holding the test part table and `supplier`. */
  private def fixtureWith(supplier: DataFrame): String = {
    val d = Files.createTempDirectory("graft_partsupp").toString
    supplier.write.parquet(s"$d/supplier.parquet")
    Tables.load(spark, sfDir, "part").write.parquet(s"$d/part.parquet")
    d
  }

  test("derived partsupp is empty when supplier is empty") {
    val d = fixtureWith(Tables.load(spark, sfDir, "supplier").limit(0))
    assert(Tables.footerSupplierShape(spark, d).contains(Tables.SupplierShape(0, dense = false)))
    assert(Tables.partsupp(spark.newSession(), d).collect().isEmpty)
    assert(Tables.derivePartsupp(spark, d, Tables.scannedSupplierShape(spark, d))
      .collect().isEmpty)
  }

  test("derived partsupp over all-NULL supplier keys takes the windowed rank") {
    val sup = Tables.load(spark, sfDir, "supplier")
    val keyType = sup.schema("s_suppkey").dataType
    val d = fixtureWith(sup.limit(3).withColumn("s_suppkey", lit(null).cast(keyType)))
    val shape = Tables.footerSupplierShape(spark, d)
    assert(shape.contains(Tables.SupplierShape(3, dense = false)))
    assert(shape.contains(Tables.scannedSupplierShape(spark, d)))
    val ps = Tables.partsupp(spark.newSession(), d)
    val parts = Tables.load(spark, sfDir, "part").count()
    assert(ps.count() == 4 * parts)
    assert(ps.where(col("ps_suppkey").isNotNull).count() == 0)
  }

  test("tableStats and the footer schema see the files a scan reads, whatever their names") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_stats_names").resolve("t.parquet")
    Seq(1L, 2L, 3L).toDF("k").coalesce(1).write.parquet(dir.toString)
    val part = dir.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dir.resolve("part-0"))
    assert(dir.toFile.listFiles().exists(_.getName == "_SUCCESS"))
    assert(spark.read.parquet(dir.toString).count() == 3)
    assert(BroadcastAdvisor.tableStats(spark, dir.toString).rows == 3)
    assert(Tables.footerSchema(spark, dir.toString).fieldNames.toSeq == Seq("k"))
  }

  test("tableStats reads a file rewritten at the same path again") {
    val dir = Files.createTempDirectory("graft_stats_rewrite")
    val file = dir.resolve("t.parquet")
    def writeKeys(lo: Long): Unit = {
      val out = dir.resolve(s"w$lo").toString
      spark.range(lo, lo + 100).selectExpr("id AS k").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    }
    def keyRange = {
      val k = BroadcastAdvisor.tableStats(spark, file.toString).cols("k")
      (k.minLong, k.maxLong, k.nulls)
    }
    writeKeys(0)
    assert(keyRange == (Some(0L), Some(99L), Some(0L)))
    writeKeys(1000)
    assert(keyRange == (Some(1000L), Some(1099L), Some(0L)))
  }
}
