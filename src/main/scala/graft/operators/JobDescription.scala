package graft.operators

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator launches on its own, outside the
  * query's action — dense key map builds, checkpoints, fixpoint rounds,
  * gate statistics. Each job carries `spark.job.description` =
  * "operator: purpose", so a listener, the UI or a trace can tell a
  * pre-pass job from the query's own. */
object JobDescription {

  /** Runs `body` with the description set on the calling thread, then
    * restores the previous description (or none). */
  def describe[T](spark: SparkSession, operator: String, purpose: String)(body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val previous = sc.getLocalProperty(key)
    sc.setLocalProperty(key, s"$operator: $purpose")
    try body finally sc.setLocalProperty(key, previous)
  }
}
