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
    * and caches are common and only the session conf differs. The engine's
    * one way to run a query under settings of its own.
    *
    * The child starts from the parent's CURRENT SQL conf (ANSI mode, time
    * zone, `spark.graft.*` gates set with `spark.conf.set`), then the
    * profile's settings go on top. A parent whose settings changed since
    * the child was built gets a new child; a child is never changed in
    * place, since a query running on it concurrently may be planning. */
  private val childSessions = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[String, (Map[String, String], SparkSession)]]()
  def childSession(s: SparkSession, profile: String)(
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
