package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Results are materialized with a noop write (full plan execution, no
  * collect-to-driver cost). One warmup query amortizes JVM/codegen startup
  * so per-query numbers reflect steady-state throughput.
  */
object Bench {

  /** Representative slice of the inventory: scan-heavy agg, joins, top-k,
    * window, grouping sets, dedup (MinHash + n-gram + cluster resolution),
    * vector KNN, text analysis, unnest, sessionization, split/packing.
    * (Round 3 appended dedup_cluster, sample_split, pipeline_pack — compare
    * totals across rounds on the shared prefix.) */
  val headline: Seq[String] = Seq(
    "q1_agg", "q6_filter", "q3_join_topk", "q5_multijoin", "q10_returns",
    "q18_bigorders", "agg_rollup", "agg_stats", "win_topk_per_group",
    "win_running", "unnest_words", "events_sessionize",
    "text_stats", "dedup_exact", "dedup_minhash_stats", "dedup_ngram_topk",
    "embed_knn", "vector_math", "dedup_cluster", "sample_split",
    "pipeline_pack",
    // round 5 appended: the reference's remaining bench families
    // (external_aggr, ClickBench user x minute, sort_tpch) — totals remain
    // comparable across rounds on the shared prefix above
    "external_aggr_hicard", "cb_user_minute_matrix", "sort_tpch_wide",
    // round 5 (4th session): substring-level dedup sweep
    "text_repeated_ngrams")

  /** The full TPC-H 22 (r6): carried at matched scale every round so
    * regressions in the untuned shapes surface automatically (VERDICT r5
    * next-step #10). */
  val tpch22: Seq[String] = Seq(
    "q1_agg", "q2_mincost", "q3_join_topk", "q4_priority", "q5_multijoin",
    "q6_filter", "q7_volume", "q8_share", "q9_profit", "q10_returns",
    "q11_partsupp", "q12_shipmode", "q13_custdist", "q14_promo",
    "q15_topsupplier", "q16_suppcnt", "q17_smallqty", "q18_bigorders",
    "q19_disjunct", "q20_nested_in", "q21_waiting", "q22_global")

  /** The per-query JSON fields of one set of interleaved passes, from every
    * pass's time per query (-1.0 marks a failed pass): `queries`, each
    * query's fastest successful pass (-1.0 when none succeeded, written
    * with `fmt`); `pass_times`, every pass; `failed`, query → failed
    * passes for the queries with any. `total` sums the successful minima,
    * so a query that never succeeded is absent from it and shows in
    * `failed`. */
  private[graft] final case class PassSet(names: Seq[String],
      times: collection.Map[String, Vector[Double]]) {
    private def passes(n: String) = times.getOrElse(n, Vector.empty)
    private def json(fields: Seq[(String, Any)]) =
      fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    private def min(n: String): Double = {
      val ok = passes(n).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def total: Double = names.map(min).filter(_ >= 0).sum
    def queries(fmt: Double => Double): String = json(names.map(n => n -> fmt(min(n))))
    def passTimes: String =
      json(names.map(n => n -> passes(n).map(r3).mkString("[", ",", "]")))
    def failed: String =
      json(names.map(n => n -> passes(n).count(_ < 0)).filter(_._2 > 0))
  }

  private[graft] def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  /** What else the machine ran during one pass: the 1-minute load average
    * at its start and end, and the CPU steal ticks (all CPUs, the 8th
    * value of /proc/stat's `cpu` line) it spanned. A pass with high load or
    * steal measured the neighbours as well as the engine. */
  private[graft] final case class PassLoad(loadavgStart: Double, loadavgEnd: Double,
      stealTicks: Long) {
    def json: String =
      s"""{"loadavg_start":$loadavgStart,"loadavg_end":$loadavgEnd,"steal_ticks":$stealTicks}"""
  }

  private[graft] object PassLoad {
    def loadavg: Double = {
      val la = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.round(la * 100) / 100.0
    }

    /** Cumulative steal ticks; 0 where /proc/stat is unreadable. */
    def stealTicks(): Long = scala.util.Try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    }.getOrElse(0L)

    /** Runs one pass and reads the machine around it (outside any query's
      * timed region). */
    def around(pass: => Unit): PassLoad = {
      val (la0, st0) = (loadavg, stealTicks())
      pass
      PassLoad(la0, loadavg, stealTicks() - st0)
    }

    def json(passes: Seq[PassLoad]): String = passes.map(_.json).mkString("[", ",", "]")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated subset (e.g. matched-scale TPC-H runs)
    val selected = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headline)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // experiment knob: arbitrary session confs, "k=v;k2=v2" (e.g. force
    // spark.graft.broadcastReshape.threshold=1 to bench the past-threshold
    // shuffle fallback at scale, or spark.sql.adaptive.enabled=false to
    // measure AQE's latency tax)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    runOnce("q6_filter") // warmup: JVM + parquet footer cache

    // Steady-state, load-robust timing: N full interleaved passes over the
    // query list (not N back-to-back runs of one query), reporting each
    // query's minimum across passes. Interleaving means a transient ambient
    // load spike inflates at most one pass of each query rather than all
    // iterations of the queries that happened to run during it; the minimum
    // discards those spikes. The first pass additionally pays one-off
    // whole-stage-codegen/JIT, which the reference's bench harness also
    // excludes by iterating (benchmarks/bench.sh).
    // 8 passes for the suite too (was 3): the min-of-N statistic needs
    // enough passes that an ambient load spike can't touch all of them —
    // the same argument that set tpch22's default (r8 VERDICT nit #3)
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(8)
    def loadavg: Double = PassLoad.loadavg
    // bench hygiene (r10 verdict): numbers taken on a loaded box are
    // measurement noise. Warn always; wait for a quiet window (up to
    // SPARK_GRAFT_BENCH_WAIT_QUIET seconds, default 300) and then proceed
    // with whatever load remains — min-of-N absorbs residual spikes.
    // SPARK_GRAFT_BENCH_REQUIRE_QUIET=true instead refuses to run loaded.
    if (loadavg > 1.0) {
      System.err.println(
        f"[bench] WARNING: loadavg $loadavg%.2f > 1.0 — numbers will be noisy")
      val waitSecs = sys.env.get("SPARK_GRAFT_BENCH_WAIT_QUIET")
        .map(_.toInt).getOrElse(300)
      val deadline = System.nanoTime() + waitSecs * 1000000000L
      while (loadavg > 1.0 && System.nanoTime() < deadline) {
        System.err.println(f"[bench] waiting for quiet window (loadavg $loadavg%.2f)")
        Thread.sleep(15000)
      }
      if (loadavg > 1.0 &&
          sys.env.get("SPARK_GRAFT_BENCH_REQUIRE_QUIET").contains("true")) {
        System.err.println("[bench] refusing to run: loadavg still > 1.0")
        sys.exit(17)
      }
    }
    val loadBefore = loadavg
    // every pass is recorded (not just the minimum) so a loaded-machine
    // artifact — one pass 10× the others — is self-diagnosing in the JSON
    val all = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val suiteLoad = (1 to passes).map(_ => PassLoad.around {
      for (n <- selected) {
        val t = runOnce(n)
        all(n) = all.getOrElse(n, Vector.empty) :+ t
      }
    })
    val loadAfter = loadavg

    val suite = PassSet(selected, all)
    val qs = suite.queries(identity)
    val total = suite.total

    // Matched-scale full-22 TPC-H: self-contained (the SF1 fixture is
    // (re)built from the bench dir if absent — per-table, so a fixture
    // already generated by tools/gen_sf1.py is reused, never clobbered).
    // Runs when benching the sf0.1 driver fixture; opt out with
    // SPARK_GRAFT_TPCH22=false, opt in elsewhere with =true.
    val runT22 = sys.env.get("SPARK_GRAFT_TPCH22")
      .map(_.toBoolean).getOrElse(sfDir.contains("sf0.1"))
    val t22Json: (String, String) = if (!runT22) ("", "") else {
      val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
      ScaleFixture.ensure(spark, sfDir, sf1Dir)
      // ≥8 interleaved passes by default: the min-of-passes statistic is
      // only load-robust when ambient spikes can't touch every pass of a
      // query; 2-pass artifacts (r7) were dominated by machine noise.
      val t22Passes =
        sys.env.get("SPARK_GRAFT_TPCH22_PASSES").map(_.toInt).getOrElse(8)
      def runT(name: String): Double = {
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sf1Dir)
          .write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] tpch22 $name failed: ${e.getMessage}")
          return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }
      val t22All = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
      val t22Load = (1 to t22Passes).map(_ => PassLoad.around {
        for (nm <- tpch22) t22All(nm) = t22All.getOrElse(nm, Vector.empty) :+ runT(nm)
      })
      val t22 = PassSet(tpch22, t22All)
      val t22Qs = t22.queries(r3)
      (s""","tpch22_sf1":{"total":${r3(t22.total)},"queries":$t22Qs,"pass_times":${t22.passTimes},"pass_load":${PassLoad.json(t22Load)},"failed":${t22.failed},"passes":$t22Passes,"dir":"$sf1Dir"}""",
        s""","tpch22_sf1":{"total":${r3(t22.total)},"queries":$t22Qs,"failed":${t22.failed},"passes":$t22Passes,"dir":"$sf1Dir"}""")
    }

    // The BENCH_r08 driver artifact truncated to the stdout TAIL, cutting
    // off the suite block and the loadavg fields. Two-sink emission: the
    // COMPLETE record (incl. per-pass times) goes to a file; stdout gets a
    // compact one-liner (no pass_times) that fits any capture window.
    val common = s""""unit":"sec","sf":"$sfDir","passes":$passes,""" +
      s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter"""
    val fullJson =
      s"""{"metric":"total","value":$total,$common,"queries":$qs,"pass_times":${suite.passTimes},"pass_load":${PassLoad.json(suiteLoad)},"failed":${suite.failed}${t22Json._1}}"""
    // r14: default OUT is a non-repo path — the committed BENCH_FULL.json
    // artifact used to be clobbered by every driver/builder run (r13
    // verdict hygiene item); point SPARK_GRAFT_BENCH_OUT at the repo
    // explicitly when an artifact commit is intended.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      fullJson.getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,$common,"queries":$qs,"failed":${suite.failed},"full":"$outPath"${t22Json._2}}""")
    spark.stop()
  }
}
