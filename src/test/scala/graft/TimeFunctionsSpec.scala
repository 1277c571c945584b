package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The TIME-of-day / timestamp-precision convention layer (SURVEY §1.2:
  * TIME is a µs-of-day long; sub-µs truncates). Property-style checks run
  * the catalyst trees distributed over a generated frame — the same code
  * path the fn_time oracle entry exercises, here at randomized breadth. */
class TimeFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(n: Int) = {
    spark.range(n).selectExpr(
      "cast(id % 24 as int) as h",
      "cast((id * 7) % 60 as int) as m",
      "cast((id * 13) % 60 as double) + cast((id * 131071) % 1000000 as double) / 1e6 as s")
  }

  test("make_time / time_format / to_time round-trip on 10k random times") {
    val df = frame(10000).selectExpr(
      "make_time(h, m, s) as us",
      "to_time(time_format(make_time(h, m, s))) as us2")
    val bad = df.filter(col("us") =!= col("us2")).count()
    assert(bad == 0, s"$bad round-trip mismatches")
  }

  test("time_part components reassemble the µs value") {
    val df = frame(10000).selectExpr(
      "make_time(h, m, s) as us", "h", "m", "s").selectExpr(
      "us",
      """cast(time_part('hour', us) * 3600000000 +
             time_part('minute', us) * 60000000 +
             round(time_part('second', us) * 1e6) as bigint) as re""")
    val bad = df.filter(col("us") =!= col("re")).count()
    assert(bad == 0, s"$bad component mismatches")
  }

  test("to_timestamp_nanos truncates to the µs convention") {
    val df = spark.range(5000).selectExpr(
      "id * 1000000007 + 999 as ns").selectExpr(
      "unix_micros(to_timestamp_nanos(ns)) as got",
      "cast(ns / 1000 as bigint) - cast((ns % 1000 != 0 and ns < 0) as int) as want0",
      "ns div 1000 as want")
    val bad = df.filter(col("got") =!= col("want")).count()
    assert(bad == 0, s"$bad truncation mismatches")
  }

  test("to_time rejects out-of-range components; keeps labeled walls") {
    val r = spark.sql(
      """SELECT to_time('24:01:02') a, to_time('12:99:00') b,
          to_time('2024-03-20T09:15:30-07:00') c,
          time_format(to_time('2024-03-20T09:15:30-07:00')) cs""").head
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getString(3) == "09:15:30") // the LABELED wall, never converted
  }

  test("ns TIME-of-day parse/format and ns binning (r9)") {
    val r = spark.sql(
      """SELECT graft_time_ns_format(graft_time_ns('08:09:10.123456789')) a,
                graft_time_ns_format(graft_time_ns('13:14:15')) b,
                graft_time_ns_format(graft_ns_bin(10,
                  graft_time_ns('14:38:50.000000016'),
                  graft_time_ns('00:00:00'))) c,
                graft_ns_text(graft_ns_bin(10,
                  graft_ns_epoch('2022-08-03 14:38:50.000000016'), 0)) d""").head
    assert(r.getString(0) == "08:09:10.123456789")
    assert(r.getString(1) == "13:14:15")
    assert(r.getString(2) == "14:38:50.000000010")
    assert(r.getString(3) == "2022-08-03T14:38:50.000000010")
  }

  test("MonthDayNano interval parse/arith/render at ns precision (r9)") {
    def one(sql: String): String = spark.sql(sql).head.getString(0)
    def sub(a: String, b: String): String = one(
      s"""SELECT graft_iv_text(x.months - y.months, x.days - y.days, x.ns - y.ns)
         |FROM (SELECT graft_iv_parse('$a') x, graft_iv_parse('$b') y)""".stripMargin)
    def add(a: String, b: String): String = one(
      s"""SELECT graft_iv_text(x.months + y.months, x.days + y.days, x.ns + y.ns)
         |FROM (SELECT graft_iv_parse('$a') x, graft_iv_parse('$b') y)""".stripMargin)
    assert(sub("1 day", "2 days") == "-1 days")
    assert(sub("2 months", "13 days") == "2 mons -13 days")
    assert(sub("1 day 3 hours", "4 minutes") == "1 days 2 hours 56 mins")
    assert(sub("1 day 7 nanoseconds", "4 seconds") == "1 days -3.999999993 secs")
    assert(add("1 day", "2 days") == "3 days")
    assert(add("2 months", "13 days") == "2 mons 13 days")
    assert(add("1 day 3 hours", "4 minutes") == "1 days 3 hours 4 mins")
    assert(add("1 day 7 nanoseconds", "4 seconds") == "1 days 4.000000007 secs")
  }

  test("duration render and ns timestamp shift (r9)") {
    def one(sql: String): String = spark.sql(sql).head.getString(0)
    assert(one("""SELECT graft_dur_render(
        graft_ns_epoch('2023-03-15T15:00:20.000000123') -
        graft_ns_epoch('2023-01-20T23:00:00.000000099'))""") ==
      "53 days 16 hours 0 mins 20.000000024 secs")
    assert(one("""SELECT graft_dur_render(
        graft_ns_epoch('2003-07-11T01:31:15.000123456') -
        graft_ns_epoch('2045-04-11T15:00:00.000000001'))""") ==
      "-15250 days -13 hours -28 mins -44.999876545 secs")
    assert(one("SELECT graft_dur_render(0)") ==
      "0 days 0 hours 0 mins 0.000000000 secs")
    // ts - '1 day'
    assert(one("SELECT graft_ns_shift('2023-03-15T15:00:20.000000123', 0, 1, 0, -1)") ==
      "2023-03-14T15:00:20.000000123")
    // ts - '1 day 7 nanoseconds' (ns-exact)
    assert(one("SELECT graft_ns_shift('2003-07-11T01:31:15.000123456', 0, 1, 7, -1)") ==
      "2003-07-10T01:31:15.000123449")
    // ts + '2 months' (calendar month add)
    assert(one("SELECT graft_ns_shift('2023-02-28T12:01:55.000123456', 2, 0, 0, 1)") ==
      "2023-04-28T12:01:55.000123456")
    // fractional-second interval parse: '0.000000010 seconds' = 10 ns
    assert(spark.sql("SELECT graft_iv_parse('0.000000010 seconds').ns").head.getLong(0) == 10L)
  }

  test("to_local_time strips the zone label, keeps the wall") {
    val r = spark.sql(
      """SELECT cast(to_local_time('2024-04-01T00:00:20+05:00') as string) a,
                cast(to_local_time(timestamp'2024-04-01 07:08:09') as string) b""").head
    assert(r.getString(0) == "2024-04-01 00:00:20")
    assert(r.getString(1) == "2024-04-01 07:08:09")
  }
}
