package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s), with
  * the engine's shipped config. */
object TestSpark {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.local(4)
}
