package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftWindowFunctions

/** Custom AggregateWindowFunction (pwavg): programmatic Column path must
  * agree with the SQL-registered path and with a hand-computed oracle. */
class WindowFnSpec extends AnyFunSuite {
  import TestSpark._

  test("pwavg programmatic path matches closed form") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0), (2L, 1, 5.0))
      .toDF("g", "i", "x")
    val out = df.select(col("g"), col("i"),
        GraftWindowFunctions.pwavg(col("x"), Seq(col("g")), Seq(col("i"))).as("p"))
      .orderBy("g", "i").collect().map(_.getDouble(2))
    // g=1: 10/1, (10+40)/3, (10+40+90)/6 ; g=2: 5
    assert(out.zip(Seq(10.0, 50.0 / 3, 140.0 / 6, 5.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-9
    })
  }

  test("pwavg SQL path agrees with programmatic path") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0)).toDF("g", "i", "x")
    df.createOrReplaceTempView("pw_t")
    val viaSql = s.sql(
      "SELECT pwavg(x) OVER (PARTITION BY g ORDER BY i) AS p FROM pw_t ORDER BY i")
      .collect().map(_.getDouble(0))
    val viaCol = df.select(
        GraftWindowFunctions.pwavg(col("x"), Seq(col("g")), Seq(col("i"))).as("p"), col("i"))
      .orderBy("i").collect().map(_.getDouble(0))
    assert(viaSql.sameElements(viaCol))
  }
}
