package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{DataFusionProto, DataFusionProtoPhysical}

/** Differential fuzz over BOTH datafusion-proto wires — the analog of the
  * reference's roundtrip tests
  * (proto/tests/cases/roundtrip_logical_plan.rs, roundtrip_physical_plan.rs):
  * generate seeded random small plans over the fixture tables (join type ×
  * aggregate × filter × sort × limit × arithmetic grid), emit → consume →
  * execute, and assert the round-tripped plan returns exactly the original
  * plan's rows. Any mismatch prints the plan index, the shape description,
  * and the wire bytes in hex so the case replays by hand.
  */
class ProtoFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private val PLANS = 60 // × 2 wires = 120 round-trips

  private def tbl(name: String): DataFrame = Tables.load(spark, sfDir, name)
  private def resolver: String => Option[DataFrame] =
    n => if (Tables.names.contains(n)) Some(tbl(n)) else None

  /** (base table, its int key col, its numeric col, a string col, and the
    * fk → (dim table, dim key) join edge). */
  private val bases = Seq(
    ("supplier", "s_suppkey", "s_acctbal", "s_name",
      ("s_nationkey", "nation", "n_nationkey")),
    ("customer", "c_custkey", "c_acctbal", "c_mktsegment",
      ("c_nationkey", "nation", "n_nationkey")),
    ("nation", "n_nationkey", "n_regionkey", "n_name",
      ("n_regionkey", "region", "r_regionkey")))

  private val joinTypes =
    Seq("inner", "left", "right", "full", "left_semi", "left_anti")

  /** One seeded random plan plus a human-readable shape tag. */
  private def genPlan(rnd: scala.util.Random): (DataFrame, String) = {
    val (bn, key, num, str, (fk, dimName, dimKey)) =
      bases(rnd.nextInt(bases.size))
    var df = tbl(bn)
    val shape = new StringBuilder(bn)

    if (rnd.nextBoolean()) {
      val lim = rnd.nextInt(40)
      df = if (rnd.nextBoolean()) df.filter(col(key) % 7 >= lim % 7)
      else df.filter(col(key) < lit(lim * 25))
      shape ++= s"|filter($lim)"
    }

    val joined = rnd.nextInt(3) != 0
    var dimCol: Option[String] = None
    if (joined) {
      val jt = joinTypes(rnd.nextInt(joinTypes.size))
      val dim = tbl(dimName)
      df = df.join(dim, col(fk) === dim(dimKey), jt)
      if (jt != "left_semi" && jt != "left_anti") dimCol = Some(dimKey)
      shape ++= s"|join($dimName,$jt)"
    }

    rnd.nextInt(3) match {
      case 0 => // aggregate
        val gcol = if (rnd.nextBoolean()) fk else str
        val af = rnd.nextInt(5) match {
          case 0 => sum(col(num)); case 1 => min(col(num))
          case 2 => max(col(num)); case 3 => count(lit(1))
          case _ => avg(col(num))
        }
        df = df.groupBy(col(gcol)).agg(af.as("aggv"))
        shape ++= s"|agg($gcol)"
      case 1 => // arithmetic projection
        val cols = Seq(col(key), (col(key) + lit(3)).as("kplus"),
          (col(num) * lit(2)).as("ndbl")) ++ dimCol.map(col)
        df = df.select(cols: _*)
        shape ++= "|proj"
      case _ => // passthrough projection of a column subset
        val cols = Seq(col(key), col(num)) ++ dimCol.map(col)
        df = df.select(cols: _*)
        shape ++= "|subset"
    }

    if (rnd.nextBoolean()) {
      df = df.orderBy(df.columns.map(col).toIndexedSeq: _*)
        .limit(5 + rnd.nextInt(20))
      shape ++= "|topk"
    }
    (df, shape.toString)
  }

  /** Distinct shape `kind` over a seeded random base table and filter:
    * count(DISTINCT …) over one or two columns, sum/avg(DISTINCT …), SELECT
    * DISTINCT, or GROUP BY without an aggregate. Drawn from its own seed,
    * so [[genPlan]]'s grid is unchanged. */
  private def genDistinctPlan(rnd: scala.util.Random, kind: Int): (DataFrame, String) = {
    val (bn, key, num, str, (fk, _, _)) = bases(rnd.nextInt(bases.size))
    val m = rnd.nextInt(4) // 3: unfiltered
    val df = if (m < 3) tbl(bn).filter(col(key) % 3 =!= lit(m)) else tbl(bn)
    val grouped = df.groupBy(col(fk))
    val (tag, out) = kind match {
      case 0 => ("count_distinct", grouped.agg(count_distinct(col(str)).as("aggv")))
      case 1 => ("count_distinct2", grouped.agg(count_distinct(col(str), col(num)).as("aggv")))
      case 2 => ("sum_distinct", grouped.agg(sum_distinct(col(num)).as("aggv")))
      case 3 => ("avg_distinct", grouped.agg(expr(s"avg(DISTINCT $num)").as("aggv")))
      case 4 => ("select_distinct", df.select(col(fk), col(str)).distinct())
      case _ => ("group_only", grouped.agg(Map.empty[String, String]))
    }
    (out, s"$bn|filter($m)|$tag")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case d: Double => f"$d%.6f"
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def hex(b: Array[Byte]): String =
    b.take(400).map(x => f"$x%02x").mkString

  test(s"$PLANS random plans round-trip the LOGICAL wire byte-exact on results") {
    val rnd = new scala.util.Random(1313)
    for (i <- 0 until PLANS) {
      val (df, shape) = genPlan(rnd)
      val expected = rows(df)
      val bytes = DataFusionProto.emit(df)
      val back = DataFusionProto.consume(spark, bytes, resolver)
      val got = rows(back)
      assert(got == expected,
        s"logical #$i [$shape]: ${got.size} vs ${expected.size} rows\n" +
          s"bytes=${hex(bytes)}\nfirst got=${got.take(3)}\nfirst exp=${expected.take(3)}")
    }
  }

  test(s"$PLANS random plans round-trip the PHYSICAL wire byte-exact on results") {
    val rnd = new scala.util.Random(1313) // same seed → same plan set
    for (i <- 0 until PLANS) {
      val (df, shape) = genPlan(rnd)
      val expected = rows(df)
      val bytes = DataFusionProtoPhysical.emit(df)
      val back = DataFusionProtoPhysical.consume(spark, bytes, resolver)
      val got = rows(back)
      assert(got == expected,
        s"physical #$i [$shape]: ${got.size} vs ${expected.size} rows\n" +
          s"bytes=${hex(bytes)}\nfirst got=${got.take(3)}\nfirst exp=${expected.take(3)}")
    }
  }

  test("each distinct-shaped plan round-trips both proto wires") {
    val rnd = new scala.util.Random(1515)
    for (i <- 0 until 6) {
      val (df, shape) = genDistinctPlan(rnd, i)
      val expected = rows(df)
      for ((wire, bytes, back) <- Seq(
          ("logical", DataFusionProto.emit(df),
            (b: Array[Byte]) => DataFusionProto.consume(spark, b, resolver)),
          ("physical", DataFusionProtoPhysical.emit(df),
            (b: Array[Byte]) => DataFusionProtoPhysical.consume(spark, b, resolver)))) {
        val got = rows(back(bytes))
        assert(got == expected,
          s"$wire distinct #$i [$shape]: ${got.size} vs ${expected.size} rows\n" +
            s"bytes=${hex(bytes)}\nfirst got=${got.take(3)}\nfirst exp=${expected.take(3)}")
      }
    }
  }
}
