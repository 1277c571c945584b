package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, in milliseconds since the tracer was created.
  * `parent` is 0 for the root; spans of one query execution share `qid`. */
final case class Span(id: Int, parent: Int, name: String, qid: Int,
    start: Double, end: Double)

/** Listener readings summed over every task of the jobs one span launched. */
final class TaskSums {
  var jobs, stages, tasks, failures = 0L
  var runMs, cpuNs, deserMs, schedMs, gcMs = 0L
  var inBytes, inRows, shWrite, shRead, spillBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> failures, "task_run_ms" -> runMs,
    "task_cpu_ns" -> cpuNs, "deser_ms" -> deserMs,
    "sched_delay_ms" -> schedMs, "gc_ms" -> gcMs, "scan_bytes" -> inBytes,
    "scan_rows" -> inRows, "shuffle_write_bytes" -> shWrite,
    "shuffle_read_bytes" -> shRead, "spill_bytes" -> spillBytes)
}

/** Spans plus Spark listener readings for a traced run, all kept in memory.
  *
  * The client opens spans around its own calls. Spark jobs and stages become
  * child spans of the client span that was open when the job was submitted:
  * the client names that span in the local property [[Tracer.SpanKey]],
  * which Spark copies into every job it launches from the thread. Task
  * metrics are summed per owning span. */
final class Tracer {
  import Tracer._

  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer[Span]()
  private val sums = mutable.HashMap[Int, TaskSums]()
  private val stageOwner = mutable.HashMap[Int, Int]()
  private val stageJob = mutable.HashMap[Int, Int]()
  // jobId -> (span id of the job, owner span id, start epoch ms)
  private val jobs = mutable.HashMap[Int, (Int, Int, Long)]()
  private val qidOf = mutable.HashMap[Int, Int]()
  private var nextId = 1
  private var lastQe: Option[QueryExecution] = None

  def nowMs: Double = (System.nanoTime() - baseNs) / 1e6
  private def epochToMs(t: Long): Double = (t - baseEpochMs).toDouble

  private def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  /** Runs `body` inside a span; the span is kept even if `body` throws. */
  def span[T](name: String, parent: Int, qid: Int)(body: Int => T): T = {
    val id = newId()
    synchronized(qidOf(id) = qid)
    val start = nowMs
    try body(id)
    finally synchronized { spans += Span(id, parent, name, qid, start, nowMs) }
  }

  def record(name: String, parent: Int, qid: Int, start: Double, end: Double): Unit =
    synchronized { spans += Span(newId(), parent, name, qid, start, end) }

  def sumsOf(owner: Int): TaskSums = synchronized(sums.getOrElseUpdate(owner, new TaskSums))

  /** The QueryExecution of the last command that finished on the session. */
  def takeLastQe(): Option[QueryExecution] = synchronized {
    val q = lastQe
    lastQe = None
    q
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def owner(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(0)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val own = owner(e.properties)
      val id = newId()
      jobs(e.jobId) = (id, own, e.time)
      e.stageIds.foreach { s => stageOwner(s) = own; stageJob(s) = id }
      sumsOf(own).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach { case (id, own, start) =>
        spans += Span(id, own, "spark.job", qidOf.getOrElse(own, 0), epochToMs(start),
          epochToMs(e.time))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        val own = stageOwner.getOrElse(info.stageId, 0)
        sumsOf(own).stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          record("spark.stage", stageJob.getOrElse(info.stageId, own),
            qidOf.getOrElse(own, 0), epochToMs(s), epochToMs(c))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = sumsOf(stageOwner.getOrElse(e.stageId, 0))
      val info = e.taskInfo
      s.tasks += 1
      if (e.reason != Success) s.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.diskBytesSpilled
        // the scheduler-delay formula of Spark's own UI
        val getting =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { lastQe = Some(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Tracer.this.synchronized { lastQe = Some(qe) }
  }

  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    watch(spark)
  }

  /** Captures the commands of `spark`. Some queries run on a session of
    * their own (derived from the main one), so each query's session is
    * watched before its action. */
  def watch(spark: SparkSession): Unit = synchronized {
    if (watched.add(spark)) spark.listenerManager.register(qeListener)
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Catalyst phase durations (ms) recorded by a QueryExecution's tracker. */
  def phasesMs(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  /** Counts over the final (post-adaptive) physical plan, subqueries
    * included: shuffle exchanges, broadcast exchanges, and plan nodes plus
    * expressions whose class lives in the engine's `graft` package. */
  def planCounts(plan: SparkPlan): Map[String, Long] = {
    var exchanges, broadcasts, graftNodes = 0L
    def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.")
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => exchanges += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case _ =>
      }
      if (isGraft(p)) graftNodes += 1
      p.expressions.foreach(_.foreach(e => if (isGraft(e)) graftNodes += 1))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    Map("exchanges" -> exchanges, "broadcasts" -> broadcasts, "graft_nodes" -> graftNodes)
  }
}
