package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Codegen-differential fuzz: seeded random expression trees over the
  * fixture must produce IDENTICAL results under whole-stage codegen,
  * codegen-off, and interpreted expression evaluation
  * (spark.sql.codegen.factoryMode=NO_CODEGEN). This is the reference's
  * fuzz-suite idea pointed at the third execution axis the existing
  * DifferentialFuzzSpec doesn't cover — and it exercises this library's
  * custom codegen Expressions (gcd/lcm via MathExpressions, the dense-key
  * probe) on both their doGenCode and eval paths.
  *
  * Grammar stays in exactly-representable territory (integer arithmetic,
  * string ops, conditionals, date parts; no division/float accumulation
  * beyond per-row products) so any mismatch is a real eval divergence,
  * not FP noise.
  */
class CodegenFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private val longCols = Seq("l_orderkey", "l_partkey", "l_suppkey")
  private val strCols = Seq("l_returnflag", "l_linestatus")

  private def longExpr(r: Random, depth: Int): Column = {
    if (depth <= 0) {
      if (r.nextBoolean()) col(longCols(r.nextInt(longCols.size)))
      else lit(r.nextInt(1000).toLong + 1)
    } else r.nextInt(8) match {
      case 0 => longExpr(r, depth - 1) + longExpr(r, depth - 1)
      case 1 => longExpr(r, depth - 1) - longExpr(r, depth - 1)
      case 2 => pmod(longExpr(r, depth - 1), lit(r.nextInt(97).toLong + 3))
      case 3 => greatest(longExpr(r, depth - 1), longExpr(r, depth - 1))
      case 4 => least(longExpr(r, depth - 1), longExpr(r, depth - 1))
      case 5 => // custom codegen expressions, kept small via pmod
        expr(s"gcd(${pm(r)}, ${pm(r)})")
      case 6 => expr(s"lcm(${pm(r)}, ${pm(r)})")
      case 7 => when(boolExpr(r, depth - 1), longExpr(r, depth - 1))
        .otherwise(longExpr(r, depth - 1))
    }
  }

  /** Dense-key probe over a random map at every slot width: hits, empty
    * slots, and negative / past-the-end keys (NULL). Drawn from its own
    * generator so the other columns' trees stay seed-stable. */
  private def probeExpr(r: Random): Column = {
    val bits = Seq(1, 2, 8)(r.nextInt(3))
    val words = Array.fill(r.nextInt(4) + 1)(r.nextLong())
    graft.operators.BitmapJoin.probe(words, bits)(longExpr(r, 2))
  }
  private def pm(r: Random): String =
    s"pmod(${longCols(r.nextInt(longCols.size))}, ${r.nextInt(50) + 2})"

  private def strExpr(r: Random, depth: Int): Column = {
    if (depth <= 0) col(strCols(r.nextInt(strCols.size)))
    else r.nextInt(4) match {
      case 0 => concat(strExpr(r, depth - 1), lit("_"), strExpr(r, depth - 1))
      case 1 => upper(strExpr(r, depth - 1))
      case 2 => substring(concat(strExpr(r, depth - 1), lit("xy")), 1, 2)
      case 3 => when(boolExpr(r, depth - 1), strExpr(r, depth - 1))
        .otherwise(lit("z"))
    }
  }

  // predicates keep a COLUMN on the left — a literal-vs-literal compare
  // folds to a constant and starves the corpus of rows
  private def boolExpr(r: Random, depth: Int): Column = r.nextInt(4) match {
    case 0 => col(longCols(r.nextInt(longCols.size))) > lit(r.nextInt(500).toLong)
    case 1 => strExpr(r, 0) === lit(Seq("A", "N", "R", "O", "F")(r.nextInt(5)))
    case 2 => pmod(col(longCols(r.nextInt(longCols.size))), lit(7L)) <=
      lit(r.nextInt(6).toLong + 1)
    case 3 => longExpr(r, 0).isNotNull
  }

  private def randomQuery(seed: Int)(df: DataFrame): DataFrame = {
    val r = new Random(seed)
    val proj = df
      .withColumn("e1", longExpr(r, 3))
      .withColumn("e2", strExpr(r, 2))
      .withColumn("e3", year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
      .withColumn("e4", probeExpr(new Random(seed + 1000)))
      .filter(boolExpr(r, 2))
    val key = if (r.nextBoolean()) col("l_returnflag")
              else pmod(col("l_suppkey"), lit(r.nextInt(5).toLong + 2)).cast("string")
    proj.groupBy(key.as("k"))
      .agg(count(lit(1)).as("n"), sum(col("e1")).as("s1"),
        max(col("e2")).as("m2"), min(col("e3")).as("m3"),
        sum(col("e4")).as("s4"), count(col("e4")).as("n4"))
  }

  test("random expression trees agree across codegen modes (40 seeds)") {
    val li = Tables.load(spark, dir, "lineitem")
    val modes = Seq(
      ("codegen", Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK")),
      ("no-wholestage", Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "FALLBACK")),
      ("interpreted", Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
    val sessions = modes.map { case (name, confs) =>
      val ss = spark.newSession()
      confs.foreach { case (k, v) => ss.conf.set(k, v) }
      (name, Tables.load(ss, dir, "lineitem"))
    }
    var nonEmpty = 0
    var probed = 0
    for (seed <- 1 to 40) {
      val results = sessions.map { case (name, df) =>
        name -> randomQuery(seed)(df).collect().map(_.mkString("|")).sorted.toSeq
      }
      val (refName, ref) = results.head
      for ((name, rows) <- results.tail)
        assert(rows == ref,
          s"seed $seed: $name differs from $refName")
      if (ref.nonEmpty) nonEmpty += 1
      if (ref.exists(!_.endsWith("|0"))) probed += 1 // some non-NULL probe (n4 > 0)
    }
    // a random filter may legitimately select nothing; most must not,
    // or the corpus isn't testing anything
    assert(nonEmpty >= 30, s"only $nonEmpty/40 seeds produced rows")
    assert(probed >= 15, s"only $probed/40 seeds hit a dense-key probe slot")
  }
}
