package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One inventory object: its queries and the DuckDB SQL that checks them.
  * `SparkEntry` builds both inventory maps from one list of these, so an
  * object cannot be registered for one map and forgotten in the other. */
trait QuerySet {
  def queries: Map[String, Q.QueryFn]
  /** Oracle SQL per query name; omitted for non-SQL-expressible queries. */
  def oracleSql: Map[String, String]
}

/** Shared helpers for the oracle-checked query inventory.
  *
  * Conventions that make Spark results hash-comparable with the DuckDB
  * oracle (the driver sorts columns by name and hashes values):
  *   - every aggregate / computed column is aliased identically on both sides;
  *   - doubles that come out of non-associative aggregation are `round`ed the
  *     same way on both sides (FP sums depend on partition order);
  *   - integer sums are BIGINT on both sides (DuckDB sum(int) is HUGEINT →
  *     oracle casts);
  *   - timestamps in output are either cast to DATE (day precision) or
  *     formatted as strings (sub-day precision) to dodge ns/µs and tz
  *     representation drift;
  *   - every LIMIT is preceded by a total order with a unique tiebreaker.
  */
object Q {

  type QueryFn = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** One cached child session per (parent, profile): weak on the parent,
    * so it is collected with it; it shares the SparkContext, so executors
    * and caches are common and only the session conf differs.
    *
    * The child starts from the parent's CURRENT SQL conf (ANSI mode, time
    * zone, `spark.graft.*` gates set with `spark.conf.set`), then the
    * profile's settings go on top. A parent whose settings changed since
    * the child was built gets a new child; a child is never changed in
    * place, since a query running on it concurrently may be planning. */
  private val childSessions = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[String, (Map[String, String], SparkSession)]]()
  private def childSession(s: SparkSession, profile: String)(
      confs: (String, String)*): SparkSession = {
    val parentConf = s.sessionState.conf.getAllConfs
    childSessions.synchronized {
      val byProfile =
        childSessions.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
      byProfile.get(profile) match {
        case Some((built, child)) if built == parentConf => child
        case _ =>
          val ss = s.newSession()
          val c = ss.sessionState.conf
          (parentConf ++ confs).foreach { case (k, v) => c.setConfString(k, v) }
          byProfile(profile) = (parentConf, ss)
          ss
      }
    }
  }

  /** Fast-path session for short static-plan queries: AQE disabled.
    *
    * AQE's per-stage materialize→replan handoffs cost a measured ~70-80 ms
    * on a 3-4 stage query (SF1 q3/q5/q10 bench, AQE on vs off), which is
    * pure tax when the plan is already fully decided at planning time —
    * explicit broadcast hints, no data-dependent join choices, only
    * KB-scale exchanges left to coalesce. Adaptivity stays ON (the session
    * default) for everything with real shuffles, where runtime coalescing
    * and skew handling are the 100-TB-correct behavior. */
  def staticPlanSession(s: SparkSession): SparkSession = childSession(s, "static")(
    "spark.sql.adaptive.enabled" -> "false",
    // These queries' post-scan exchanges carry ≤4 MB; 32 final-agg tasks
    // are pure launch latency for that (measured 146→106 ms on the SF1 q3
    // final stage at 8). With AQE on, coalescePartitions reaches the same
    // shape at runtime — this is the static mirror of it. At cluster
    // scale these queries run on the default AQE session instead.
    "spark.sql.shuffle.partitions" -> "8",
    // Constraint propagation infers IsNotNull/transitive predicates from
    // join keys — useful inference for machine-generated plans, a pure
    // planning tax here where every filter is already explicit (measured
    // 59→41 ms/plan on the q3 shape; the reference has no equivalent
    // optimizer pass either). Scan pushdown of the explicit predicates is
    // unaffected.
    "spark.sql.constraintPropagation.enabled" -> "false")

  /** staticPlanSession variant that KEEPS the session's shuffle width
    * (32 = cores in the bench harness): for static 3-stage shapes whose
    * one real shuffle carries MBs and wants every core (q12's mid-size
    * partitioned hash join), where the 8-partition static session would
    * run the join on a quarter of the machine. AQE off for the same
    * reason as staticPlanSession — the plan is decided at planning time. */
  def staticWideSession(s: SparkSession): SparkSession = childSession(s, "wide")(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.constraintPropagation.enabled" -> "false")

  /** staticPlanSession variant with ONE shuffle partition, for queries
    * whose every exchange is provably tiny (a grouped aggregate over a
    * bounded key domain — partial aggregation caps each map task's output
    * at the group count, so the single reducer receives ≤ groups × tasks
    * rows at ANY input scale). Beyond the smaller final stage, a
    * single-partition child satisfies the Sort's required distribution, so
    * the ORDER BY's range exchange (and its sampling job) vanish — two
    * whole stages off a latency-bound query. */
  def tinyResultSession(s: SparkSession): SparkSession = childSession(s, "tiny")(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.constraintPropagation.enabled" -> "false",
    // r13 (OPTIMIZATION_r13.md, q22 variant G, min-of-8 interleave: shipped
    // 0.649 → excluded-rules 0.555): rules that CANNOT fire on the
    // tiny-result shapes routed here (explicit joins — no reorder; no
    // CSV/JSON exprs, decimals, object serialization, concats, repartitions
    // or windows) still walk the whole tree every plan. Plan-constant
    // shaving, scale-independent; results oracle-gated as always.
    "spark.sql.optimizer.excludedRules" -> Seq(
      "org.apache.spark.sql.catalyst.optimizer.CostBasedJoinReorder",
      "org.apache.spark.sql.catalyst.optimizer.ReorderJoin",
      "org.apache.spark.sql.catalyst.optimizer.OptimizeCsvJsonExprs",
      "org.apache.spark.sql.catalyst.optimizer.DecimalAggregates",
      "org.apache.spark.sql.catalyst.optimizer.ObjectSerializerPruning",
      "org.apache.spark.sql.catalyst.optimizer.EliminateSerialization",
      "org.apache.spark.sql.catalyst.optimizer.CombineConcats",
      "org.apache.spark.sql.catalyst.optimizer.OptimizeRepartition",
      "org.apache.spark.sql.catalyst.optimizer.TransposeWindow",
      "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit").mkString(","))

  /** Cross-engine-stable rounding.
    *
    * Two failure modes make naive `round` un-comparable across engines:
    * (1) Spark's `round` goes through BigDecimal.valueOf (shortest decimal
    * string) while DuckDB rounds the raw double — they disagree whenever the
    * true value sits at a decimal half boundary (54132.795 → .80 vs .79);
    * (2) aggregation order differs across engines (pairwise vs sequential
    * summation), so the doubles themselves drift by ~1e-13 relative — and
    * data-derived values (cents, integer quantities) CLUSTER exactly at
    * half boundaries, so drift flips the rounded digit.
    *
    * Fix: round as pure IEEE arithmetic (identical in both engines) and
    * shift the boundary by a non-decimal epsilon (1.37% of a bin) so no
    * data-clustered value sits near it:  floor((x + eps)·10^k + 0.5)/10^k.
    * The oracle SQL uses the same formula (see tools/roundconv.py).
    */
  private def rnd(c: Column, k: Int): Column = {
    val p = lit(math.pow(10, k))
    val eps = lit(1.37e-2 / math.pow(10, k))
    floor((c + eps) * p + lit(0.5)).cast("double") / p
  }

  /** Round for money-ish sums. */
  def r2(c: Column): Column = rnd(c, 2)
  /** Round for averages / ratios. */
  def r4(c: Column): Column = rnd(c, 4)
  def r6(c: Column): Column = rnd(c, 6)
}
