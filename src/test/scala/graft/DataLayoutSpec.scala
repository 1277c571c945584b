package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Data-layout levers: at 100 TB the cheapest query is the one whose
  * layout already did the work. Two measurable properties:
  *
  *   1. bucketed + sorted tables join with NEITHER an exchange NOR a
  *      sort (the SMJ consumes the buckets' disk order) — the layout
  *      amortizes both the shuffle and the sort across every future join;
  *   2. range-sorted parquet turns a pushed range predicate into
  *      row-group pruning: the scan DECODES a fraction of the rows an
  *      unsorted layout decodes for the same query (the reference's
  *      row_group_filter story measured on the Spark side).
  */
class DataLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("bucketed+sorted tables: SMJ with no exchange and no sort") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    // Spark stopped trusting bucket sort order by default (SPARK-28173:
    // multi-file buckets concatenate, breaking the order). writeBucketed
    // guarantees ONE file per bucket, which is exactly the precondition
    // under which the legacy behavior is sound.
    ss.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val li = Tables.load(ss, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val od = Tables.load(ss, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.Scale.writeBucketed(li, "layout_bkt_li", "l_orderkey", 4)
    graft.operators.Scale.writeBucketed(od, "layout_bkt_od", "o_orderkey", 4)
    val j = ss.table("layout_bkt_li")
      .join(ss.table("layout_bkt_od"), col("l_orderkey") === col("o_orderkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"not an SMJ:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join still exchanges:\n$plan")
    assert(!plan.contains("Sort ["),
      s"bucketed SORTED join still sorts:\n$plan")
    assert(j.count() > 0)
  }

  test("range-sorted parquet prunes row groups for a pushed range predicate") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanOutput(path: String): (Long, Long) = {
      val df = spark.read.parquet(path)
        .filter(col("l_orderkey").between(100, 200))
        .agg(sum(col("l_quantity")).as("q"))
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case s: graft.plans.SmallInputExec => Seq(s.executed)
          case _ => p.children
        }
        self ++ kids.flatMap(scans)
      }
      val f = scans(df.queryExecution.executedPlan).head
      (f.metrics("numOutputRows").value,
        spark.read.parquet(path).count())
    }
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val base = System.getProperty("java.io.tmpdir")
    val sortedPath = s"$base/layout_sorted_li"
    val unsortedPath = s"$base/layout_unsorted_li"
    // identical content; one laid out by key range, one shuffled randomly.
    // small row groups so one file holds several prunable groups
    li.repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", (32 * 1024).toString).parquet(sortedPath)
    li.repartition(4, pmod(xxhash64(col("l_orderkey"), col("l_quantity")), lit(997)))
      .write.mode("overwrite")
      .option("parquet.block.size", (32 * 1024).toString).parquet(unsortedPath)
    val (sortedDecoded, total) = scanOutput(sortedPath)
    val (unsortedDecoded, _) = scanOutput(unsortedPath)
    info(s"decoded rows: sorted layout $sortedDecoded, unsorted $unsortedDecoded, table $total")
    assert(sortedDecoded * 3 < unsortedDecoded,
      s"sorted layout did not prune ($sortedDecoded vs $unsortedDecoded)")
  }
}
