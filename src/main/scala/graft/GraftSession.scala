package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the role of DataFusion's `SessionContext`
  * (reference: datafusion/core/src/execution/context/mod.rs:611) but delegates
  * everything to Spark: one `SparkSession` configured for deterministic,
  * oracle-comparable execution (UTC session time zone) and for local[N]
  * throughput (shuffle partitions = cores, AQE above the small-input bound).
  *
  * Below that bound — a query whose summed input bytes fit
  * `spark.sql.autoBroadcastJoinThreshold` — the `GraftExtensions` planner
  * runs the query statically with one shuffle partition instead
  * (`graft.plans.SmallInput`). At cluster scale the same settings hold: AQE
  * handles runtime coalescing / skew; shuffle partition count would be
  * tuned to cluster cores instead.
  */
object GraftSession {

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // custom optimizer rules + table functions (generate_series/range)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long at the source
      // (Tables.doLoad converts to µs). Set here once, not per-read.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Prefer shuffled-hash over sort-merge when no side broadcasts: a
      // hash join needs one build pass over the smaller side instead of
      // sorting both (the reference's partitioned hash join makes the same
      // choice — prefer_hash_join=true in its bench config). Spark's
      // shuffled-hash build spills, so it is cluster-safe.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // Split sizing: leave maxPartitionBytes at the 128 MB default and let
      // Spark's formula (min(maxPartitionBytes, max(openCost,
      // totalBytes/defaultParallelism))) right-size splits per input. On the
      // ~1-30 MB fixtures that formula already yields ~1-4 MB splits (full
      // parallelism); a 4 MB hardcode here was redundant there and actively
      // harmful at SF10, where it forced ~400 tiny scan tasks per query
      // instead of ~30 right-sized ones. Lower openCost so small fixture
      // files aren't rounded up to one task each.
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      // Cap splits at 24 MB instead of forcing minPartitionNum=2×cores.
      // Spark's split formula then lands in the right regime at every scale:
      // small inputs (bytesPerCore < 24 MB) get exactly one task wave —
      // scheduling latency dominates there, and forcing 2×cores tasks cost
      // a measured 358→219 ms on the SF1 q3 lineitem scan stage; big inputs
      // (bytesPerCore > 24 MB, e.g. SF10's 1.5 GB lineitem) split into 24 MB
      // tasks → ≥2 waves, keeping the work-stealing slack that the round-3
      // study measured as 2.6→1.4 s on SF10 q1 (one fat wave waits on its
      // slowest task).
      .config("spark.sql.files.maxPartitionBytes", (24 * 1024 * 1024).toString)
      // Dynamic partition pruning: Spark's default only prunes when the
      // pruning subquery can reuse the join's broadcast exchange, and that
      // reuse check fails whenever the dimension side is itself a join
      // (canonical plans diverge) — the filter silently degrades to
      // dynamicpruningexpression(true) and the fact scan reads EVERY
      // partition (found by measuring numPartitions on scan_dpp: 25/25
      // read). DPP only triggers when the dim side is broadcast-small, so
      // re-running it as a standalone subquery is bounded by construction —
      // at 100 TB that duplicate dim scan costs MBs and saves reading the
      // unpruned fact. RuntimeFilterSpec asserts partitions-read ≤ the
      // selected dim keys.
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      // Whole-stage-codegen source→class cache (static conf, default 100
      // entries). A mixed workload re-running tens of distinct queries
      // (the 22-query TPC-H loop alone compiles ~8 codegen units each)
      // evicts and re-janino-compiles every iteration — measured as the
      // gap between a 3-query interleave (q3 min 0.43 s) and the 22-query
      // interleave (q3 min 0.98 s) on identical plans. A compiled class is
      // a few KB; 5000 entries is still MB-scale driver memory.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")

  /** Local session with sane defaults; idempotent via getOrCreate. */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
