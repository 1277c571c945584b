package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, DFContext, GraftSession, SparkEntry, Tables}

/** One run of one benchmark workload: one JVM, one client thread issuing the
  * workload's queries in a closed loop against one local[4] session.
  *
  * A run sets up once (session, fixture check, table registration), timed
  * from JVM start, then runs passes. A pass runs every query of
  * the workload once, in an order shuffled by the seed and the pass number:
  * one cold pass that writes each result as parquet for the oracle compare,
  * [[WarmupPasses]] untimed passes, then timed passes to the noop sink until
  * the requested seconds have elapsed (at least [[MinTimedPasses]]). A query that throws is recorded
  * and the pass goes on.
  *
  * With tracing on, timed passes alternate traced and untraced, so tracing
  * overhead is measured inside the run; traced passes record spans and
  * Spark listener readings per query.
  *
  * Writes the raw record (set-ups, passes, executions, spans) as JSON to
  * `<work>/record.json`; `run.py` turns it into metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir>
  */
object Harness {
  val Cores = 4
  // After the cold pass the JIT keeps compiling on the cores the tasks use;
  // the first pass after it runs about a third slower than later ones.
  val WarmupPasses = 1
  val MinTimedPasses = 3

  final case class Workload(queries: Seq[String], sql: Boolean)

  /** The DSL workload builds each query with `SparkEntry.queries`; the SQL
    * workload sends the same TPC-H lines' SQL text through `DFContext.sql`. */
  val workloads: Map[String, Workload] = Map(
    "pipeline_sf0.01" -> Workload(Bench.headline, sql = false),
    "sql_sf0.01" -> Workload(Bench.tpch22, sql = true))

  final class Env(val spark: SparkSession, val dir: String,
      val ctx: Option[DFContext], val timing: Map[String, Double])

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Session, fixture check, table registration. `total_s` runs from JVM
    * start (the RuntimeMXBean start time) until the first query is ready. */
  def setUp(w: Workload, dir: String): Env = {
    val t0 = System.nanoTime()
    val jvmS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = GraftSession.local(Cores)
    val sessionS = secondsSince(t0)
    val missing = Tables.names.filterNot(t => new File(s"$dir/$t.parquet").exists())
    require(missing.isEmpty, s"fixture $dir lacks ${missing.mkString(", ")}")
    val t1 = System.nanoTime()
    val ctx =
      if (w.sql) {
        val c = DFContext(spark)
        c.registerAll(dir)
        Some(c)
      } else {
        Tables.registerAll(spark, dir)
        None
      }
    val registerS = secondsSince(t1)
    new Env(spark, dir, ctx, Map("session_s" -> sessionS, "register_s" -> registerS,
      "total_s" -> (jvmS + secondsSince(t0))))
  }

  /** Runs one query once and returns its execution record. */
  def execute(env: Env, w: Workload, q: String, qid: Int, sink: Option[String],
      tracer: Option[Tracer], passSpan: Int): Map[String, Any] = {
    val sc = env.spark.sparkContext
    // inside a span when traced; Spark jobs launched in `body` are its children
    def phase[T](name: String, parent: Int)(body: Int => T): T = tracer match {
      case None => body(0)
      case Some(t) => t.span(name, parent, qid) { id =>
        sc.setLocalProperty(Tracer.SpanKey, id.toString)
        try body(id) finally sc.setLocalProperty(Tracer.SpanKey, null)
      }
    }
    var buildS, actionS = 0.0
    var buildSpan, actionSpan = 0
    var df: DataFrame = null
    var error: String = null
    val t0 = System.nanoTime()
    val cpu0 = threads.getCurrentThreadCpuTime
    phase("query", passSpan) { qSpan =>
      try {
        val tb = System.nanoTime()
        df = phase(if (w.sql) "dfcontext.sql" else "queries.build", qSpan) { id =>
          buildSpan = id
          if (w.sql) env.ctx.get.sql(SparkEntry.oracleSql(q))
          else SparkEntry.queries(q)(env.spark, env.dir)
        }
        buildS = secondsSince(tb)
        tracer.foreach(_.watch(df.sparkSession))
        val ta = System.nanoTime()
        phase("action", qSpan) { id =>
          actionSpan = id
          sink match {
            case Some(out) => df.write.mode("overwrite").parquet(s"$out/$q")
            case None => df.write.mode("overwrite").format("noop").save()
          }
        }
        actionS = secondsSince(ta)
      } catch {
        case NonFatal(e) =>
          error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      tracer.foreach(_.drain(env.spark))
    }
    val wallS = secondsSince(t0)
    val base = Map[String, Any]("q" -> q, "wall_s" -> wallS, "build_s" -> buildS,
      "action_s" -> actionS, "error" -> error,
      "client_cpu_s" -> (threads.getCurrentThreadCpuTime - cpu0) / 1e9)
    tracer.fold(base)(t => base + ("layers" -> layers(t, df, buildSpan, actionSpan)))
  }

  /** Per-query layer readings of a traced execution. */
  private def layers(t: Tracer, df: DataFrame, buildSpan: Int,
      actionSpan: Int): Map[String, Double] = {
    val build = t.sumsOf(buildSpan).toMap
    val action = t.sumsOf(actionSpan).toMap
    val command = t.takeLastQe()
    val phases = (Option(df).map(d => Tracer.phasesMs(d.queryExecution)).toSeq ++
      command.map(Tracer.phasesMs)).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val plan = command.map(qe => Tracer.planCounts(qe.executedPlan))
      .getOrElse(Map("exchanges" -> 0L, "broadcasts" -> 0L, "graft_nodes" -> 0L))
    Map("build_jobs" -> build("jobs").toDouble,
      "action_jobs" -> action("jobs").toDouble,
      "action_stages" -> action("stages").toDouble,
      "action_tasks" -> action("tasks").toDouble,
      "action_task_run_ms" -> action("task_run_ms").toDouble) ++
      build.keys.map(k => s"exec_$k" -> (build(k) + action(k)).toDouble) ++
      Map("command_missing" -> (if (command.isEmpty) 1.0 else 0.0)) ++
      Seq("analysis", "optimization", "planning")
        .map(p => s"catalyst_${p}_ms" -> phases.getOrElse(p, 0.0)) ++
      plan.map { case (k, v) => s"plan_$k" -> v.toDouble }
  }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble

  /** Cumulative steal ticks of all CPUs (the 8th value of /proc/stat's cpu line). */
  private def stealTicks(): Long = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toLong else 0L
  }

  /** (compilations, summed compile ms) of whole-stage and expression codegen. */
  private def codegen(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU seconds used by the whole process so far (all threads). */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still in use after full collections: what the engine retains.
    * Spark frees some state asynchronously once it is unreachable (the
    * context cleaner drops broadcast and shuffle blocks, the listener bus
    * drains), so collect until the figure settles. */
  private def liveHeapMb(spark: SparkSession): Double = {
    def used() = {
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (last, now) = (Double.MaxValue, used())
    var rounds = 1
    while (rounds < 8 && now < last * 0.995) {
      Thread.sleep(200)
      last = now
      now = used()
      rounds += 1
    }
    now
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, data, work) = args
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = seedArg.toLong
    val tracer = if (traceArg == "1") Some(new Tracer) else None

    val env = tracer.fold(setUp(w, data))(_.span("setup", 0, 0)(_ => setUp(w, data)))
    tracer.foreach(_.attach(env.spark))

    val passes = ArrayBuffer[Map[String, Any]]()
    def pass(kind: String, sink: Option[String], traced: Boolean): Unit = {
      val index = passes.size
      val order = new Random(seed * 1000003L + index).shuffle(w.queries)
      val tr = if (traced) tracer else None
      val (load0, steal0, gc0) = (loadavg(), stealTicks(), gcMs())
      val (cgN0, cgMs0) = codegen()
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      // query id: pass number and position in the pass
      def run(ps: Int) = order.zipWithIndex.map { case (q, i) =>
        execute(env, w, q, index * 1000 + i, sink, tr, ps)
      }
      val execs = tr.fold(run(0))(_.span("pass", 0, 0)(run))
      val wallS = secondsSince(t0)
      val cpuS = processCpuS() - cpu0
      val (cgN1, cgMs1) = codegen()
      passes += Map("kind" -> kind, "traced" -> traced, "wall_s" -> wallS, "cpu_s" -> cpuS,
        "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
        "steal_ticks" -> (stealTicks() - steal0), "jvm_gc_ms" -> (gcMs() - gc0),
        "codegen_compiles" -> (cgN1 - cgN0), "codegen_ms" -> (cgMs1 - cgMs0),
        "execs" -> execs)
    }

    pass("cold", Some(s"$work/results"), traced = tracer.isDefined)
    // measured once every query has run, before the timed passes, whose
    // number varies with machine speed and would add their own job history
    val liveHeap = liveHeapMb(env.spark)
    for (_ <- 0 until WarmupPasses) pass("warmup", None, traced = tracer.isDefined)
    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    var timed = 0
    while (timed < MinTimedPasses || System.nanoTime() < deadline) {
      pass("timed", None, traced = tracer.isDefined && timed % 2 == 0)
      timed += 1
    }

    val record = Map(
      "workload" -> name, "seed" -> seed, "trace" -> tracer.isDefined,
      "queries" -> w.queries, "fixture_dir" -> env.dir,
      "oracle_sql" -> w.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      // the compile-time histogram keeps 1028 samples; past that its sum is a sample
      "codegen_samples_exact" -> (codegen()._1 <= 1028),
      "setup" -> env.timing, "passes" -> passes,
      "peak_rss_mb" -> peakRssMb(), "live_heap_mb" -> liveHeap,
      "spans" -> tracer.map(_.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "qid" -> s.qid, "start_ms" -> s.start, "end_ms" -> s.end)))
        .getOrElse(Nil))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(s"$work/record.json"), mapper.writeValueAsBytes(record))
    env.spark.stop()
  }
}
