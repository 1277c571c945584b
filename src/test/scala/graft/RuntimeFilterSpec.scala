package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The three scan/shuffle reducers a 100 TB join plan depends on:
  *
  *   1. runtime bloom-filter injection (InjectRuntimeFilter): a selective
  *      dim predicate becomes a might_contain() filter on the fact side,
  *      evaluated BEFORE the fact's exchange;
  *   2. parquet column bloom filters: point lookups skip row groups whose
  *      stats ranges overlap but whose bloom filter proves absence
  *      (reference: datafusion-parquet row_group_filter.rs);
  *   3. AQE skew-join splitting: a hot key's oversized partition is split
  *      at runtime instead of straggling on one task.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("runtime bloom filter is injected on the fact side of the shuffle join") {
    val df = graft.queries.Round5Queries.queries("join_runtime_filter")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"no runtime bloom filter in the optimized plan:\n$opt")
    assert(opt.contains("bloom_filter_agg"),
      s"no bloom filter creation aggregate in the optimized plan:\n$opt")
  }

  test("parquet bloom filter: footer metadata present, absent keys provably skippable") {
    // the inventory entry writes the file; run it once to materialize
    graft.queries.Round5Queries.queries("source_bloom_parquet")(spark, dir).collect()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_scratch/lineitem_bloom"
    val part = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      assert(blocks.size > 1,
        s"need multiple row groups for pruning to mean anything, got ${blocks.size}")
      val chunks = blocks.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "l_partkey").get)
      info(s"bloom offsets: ${chunks.map(_.getBloomFilterOffset).mkString(",")} " +
        s"all cols: ${blocks.head.getColumns.asScala.map(c => c.getPath.toDotString + "=" + c.getBloomFilterOffset).mkString(",")}")
      assert(chunks.forall(_.getBloomFilterOffset > 0),
        "l_partkey column chunks carry no bloom filter")
      // bloom semantics: a key present in the data must hit; a key far
      // outside the domain must miss in at least one group (zero false
      // negatives is the contract; near-zero false positives the design)
      val blooms = blocks.map(reader.getBloomFilterDataReader(_)
        .readBloomFilter(blocks.head.getColumns.asScala
          .find(_.getPath.toDotString == "l_partkey").get))
      val hit = blooms.zip(blocks).exists { case (b, blk) =>
        val c = blk.getColumns.asScala.find(_.getPath.toDotString == "l_partkey").get
        val bf = reader.getBloomFilterDataReader(blk).readBloomFilter(c)
        bf != null && bf.findHash(bf.hash(1L))
      }
      val missSomewhere = blocks.exists { blk =>
        val c = blk.getColumns.asScala.find(_.getPath.toDotString == "l_partkey").get
        val bf = reader.getBloomFilterDataReader(blk).readBloomFilter(c)
        bf != null && !bf.findHash(bf.hash(999999999L))
      }
      assert(hit, "bloom filter misses a key that IS in the file (false negative)")
      assert(missSomewhere,
        "bloom filter claims an absent key might be in every row group")
    } finally reader.close()
  }

  test("runtime bloom filter reduces the fact side's shuffled bytes") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def factShuffleBytes(ss: org.apache.spark.sql.SparkSession): Long = {
      graft.Tables.registerAll(ss, dir)
      val df = ss.sql(
        """SELECT p_brand, SUM(l_extendedprice) AS amt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_size = 7 AND p_type = 'PROMO'
          |GROUP BY p_brand""".stripMargin)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val root = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // under AQE, exchanges sit inside QueryStageExec wrappers whose plan
      // is an INNER child — plain collect() never reaches them
      def collectEx(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[ShuffleExchangeLike] = {
        val self = p match { case s: ShuffleExchangeLike => Seq(s); case _ => Nil }
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        self ++ kids.flatMap(collectEx)
      }
      val exchanges = collectEx(root)
      if (exchanges.isEmpty)
        info(s"no exchanges found in:\n${root.treeString.take(2000)}")
      // the LARGEST shuffle in the query is the fact side's
      exchanges.map { s =>
        s.metrics.get("shuffleBytesWritten").orElse(s.metrics.get("dataSize"))
          .map(_.value).getOrElse(0L)
      }.max
    }
    def session(rf: Boolean) = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", rf.toString)
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      ss
    }
    val withFilter = factShuffleBytes(session(rf = true))
    val without = factShuffleBytes(session(rf = false))
    info(s"fact shuffle bytes: with filter $withFilter, without $without")
    assert(withFilter > 0 && without > 0)
    assert(withFilter * 2 < without,
      s"runtime filter did not reduce the fact exchange ($withFilter vs $without)")
  }

  test("dynamic partition pruning reduces measured partitions read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("scan_dpp")(spark.newSession(), dir)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
      val kids = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: graft.plans.SmallInputExec => Seq(s.executed)
        case _ => p.children
      }
      self ++ kids.flatMap(scans)
    }
    // the fact scan is the one with a partition-pruning subquery filter
    val fact = scans(df.queryExecution.executedPlan)
      .find(_.partitionFilters.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])))
      .getOrElse(fail("no scan carries a DynamicPruningExpression"))
    info(s"fact scan metrics: ${fact.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(", ")}")
    val read = fact.metrics("numPartitions").value
    // the fixture has 25 nation partitions; ASIA selects 5
    assert(read > 0 && read <= 5,
      s"DPP read $read partitions — pruning did not engage")
  }

  test("AQE splits a skewed join partition instead of straggling") {
    val ss = spark.newSession()
    import ss.implicits._
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // one hot key carrying far more bytes than the median partition
    val left = ss.range(0, 60000).select(
      when($"id" % 3 === 0, lit(7L)).otherwise($"id").as("k"),
      rpad(concat(lit("x"), $"id".cast("string")), 200, "y").as("payload"))
    val right = ss.range(0, 200).select($"id".as("k"), lit(1L).as("w"))
    val joined = left.join(right, "k")
    // materialize THIS plan (AQE finalizes per-execution; a count() would
    // execute a different tree and leave this one unfinalized)
    assert(joined.collect().length > 0)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not mark the skewed join split:\n$finalPlan")
  }
}
