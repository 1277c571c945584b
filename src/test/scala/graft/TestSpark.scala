package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s), with
  * the engine's shipped config. */
object TestSpark {
  val sfDir = "/root/testdata/sf0.001"

  /** The fixture of another scale beside `sfDir` (e.g. "sf0.01"), for a
    * query whose result at sf0.001 is empty. */
  def fixtureDir(scale: String): String = s"${new java.io.File(sfDir).getParent}/$scale"

  lazy val spark: SparkSession = GraftSession.local(4)
}
