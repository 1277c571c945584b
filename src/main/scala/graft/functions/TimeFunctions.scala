package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The reference's timestamp-precision family and the TIME-of-day
  * convention layer (SURVEY §1.2: Spark timestamps are µs; TIME-of-day is
  * a µs-of-day LongType).
  *
  * - `to_timestamp_{seconds,millis,micros,nanos}(x)` (reference:
  *   functions/src/datetime/to_timestamp.rs): integer input = epoch count
  *   in that unit; string/timestamp/date input = parse then TRUNCATE to
  *   the unit. Nanos truncate to µs — the engine's declared convention.
  * - `to_unixtime(x)` (to_unixtime.rs): epoch seconds as BIGINT.
  * - `to_local_time(x)` (to_local_time.rs): strip the timezone — the same
  *   instant as session-zone wall time without tz (TIMESTAMP_NTZ).
  * - `make_time(h, m, s)` (make_time.rs): µs-of-day long; `time_format`
  *   renders it HH:MM:SS[.ffffff]; `time_part('hour'|'minute'|'second',
  *   t)` extracts components.
  *
  * Everything is a pure catalyst tree (codegen'd, no UDFs). The
  * integer-vs-datetime dispatch normalizes through a string cast and a
  * TRY_CAST probe, which keeps one registry builder type-agnostic (the
  * registry resolves before input types are known).
  */
object TimeFunctions {

  private def tryLong(e: Expression): Expression =
    Cast(e, LongType, None, EvalMode.TRY)
  private def asTs(e: Expression): Expression = Cast(e, TimestampType)

  /** numeric-epoch vs datetime-string dispatch. Longs probe first (exact
    * for epoch-nanos magnitudes beyond 2^53), then doubles (CAST(1.0 AS
    * TIMESTAMP(0)) is epoch-seconds in the reference), then datetime
    * parse. */
  private def dispatch(e: Expression, numeric: Expression => Expression,
      datetime: Expression => Expression): Expression = {
    val s = Cast(e, StringType)
    val nL = tryLong(s)
    val nD = Cast(s, DoubleType, None, EvalMode.TRY)
    If(IsNotNull(nL), numeric(nL),
      If(IsNotNull(nD), numeric(Cast(nD, LongType)), datetime(asTs(s))))
  }

  def toTimestampSeconds(e: Expression): Expression =
    dispatch(e, SecondsToTimestamp, ts => TruncTimestamp(Literal("second"), ts))
  def toTimestampMillis(e: Expression): Expression =
    dispatch(e, MillisToTimestamp,
      ts => TruncTimestamp(Literal("millisecond"), ts))
  def toTimestampMicros(e: Expression): Expression =
    dispatch(e, MicrosToTimestamp, identity)
  def toTimestampNanos(e: Expression): Expression =
    dispatch(e, n => MicrosToTimestamp(IntegralDivide(n, Literal(1000L))),
      identity)
  def toUnixtime(e: Expression): Expression =
    dispatch(e, identity, ts => Cast(ts, LongType))
  /** to_local_time: strip the timezone LABEL, keep the wall clock
    * (reference to_local_time.rs: the value never converts). Extracted
    * textually so zone-labeled display strings ('…T00:00:20+05:00') keep
    * their labeled wall; plain timestamps render (and keep) their
    * session-zone wall. */
  def toLocalTime(e: Expression): Expression = {
    val s = Cast(e, StringType)
    val wall = RegExpExtract(s, Literal(
      "^([0-9]{1,5}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(?:\\.[0-9]+)?)"),
      Literal(1))
    val dateOnly = RegExpExtract(s,
      Literal("^([0-9]{1,5}-[0-9]{2}-[0-9]{2})"), Literal(1))
    val best = If(Not(EqualTo(wall, Literal(""))), wall,
      If(Not(EqualTo(dateOnly, Literal(""))),
        Concat(Seq(dateOnly, Literal(" 00:00:00"))),
        Literal.create(null, StringType)))
    Cast(best, TimestampNTZType, None, EvalMode.TRY)
  }

  /** to_time(x) → µs of day: the WALL-clock time component, extracted
    * textually (timestamps render their session wall; zone-labeled strings
    * keep the labeled wall — reference to_local_time.rs/to_time semantics:
    * the label never converts the value). µs truncation per the
    * convention; out-of-range components yield NULL. */
  def toTimeUs(e: Expression): Expression = {
    val s = Cast(e, StringType)
    def ex(p: String) = RegExpExtract(s, Literal(p), Literal(1))
    def lng(x: Expression) = Cast(x, LongType, None, EvalMode.TRY)
    val h = lng(ex("(?:^|[ T])([0-9]{1,2}):[0-9]{2}"))
    val m = lng(ex("(?:^|[ T])[0-9]{1,2}:([0-9]{2})"))
    val si = lng(ex("(?:^|[ T])[0-9]{1,2}:[0-9]{2}:([0-9]{2})"))
    // fraction parsed TEXTUALLY (first ≤6 digits, right-padded) — exact
    // µs truncation, no float round-trip error
    val frUs = Coalesce(Seq(lng(StringRPad(
      ex("(?:^|[ T])[0-9]{1,2}:[0-9]{2}:[0-9]{2}\\.([0-9]{1,6})"),
      Literal(6), Literal("0"))), Literal(0L)))
    val sec = Coalesce(Seq(si, Literal(0L)))
    val valid = And(And(
      And(GreaterThanOrEqual(h, Literal(0L)), LessThan(h, Literal(24L))),
      LessThan(m, Literal(60L))), LessThan(sec, Literal(60L)))
    val us = Add(
      Add(Multiply(h, Literal(3600000000L)),
        Multiply(m, Literal(60000000L))),
      Add(Multiply(sec, Literal(1000000L)), frUs))
    If(valid, us, Literal.create(null, LongType))
  }

  /** make_time(h, m, s) → µs of day (s may be fractional; rounded to µs
    * so binary-double representation error never shifts the value). */
  def makeTime(h: Expression, m: Expression, s: Expression): Expression =
    Add(
      Add(Multiply(Cast(h, LongType), Literal(3600000000L)),
        Multiply(Cast(m, LongType), Literal(60000000L))),
      Cast(Round(Multiply(Cast(s, DoubleType), Literal(1000000.0d)),
        Literal(0)), LongType))

  /** µs-of-day → 'HH:MM:SS[.ffffff]' (fraction trimmed, reference/DuckDB
    * TIME rendering). */
  def timeFormat(us: Expression): Expression = {
    val t = Cast(us, LongType)
    val h = IntegralDivide(t, Literal(3600000000L))
    val m = Pmod(IntegralDivide(t, Literal(60000000L)), Literal(60L))
    val sec = Pmod(IntegralDivide(t, Literal(1000000L)), Literal(60L))
    val frac = Pmod(t, Literal(1000000L))
    val base = FormatString(Literal("%02d:%02d:%02d"), h, m, sec)
    val fracStr = RegExpReplace(
      StringLPad(Cast(frac, StringType), Literal(6), Literal("0")),
      Literal("0+$"), Literal(""))
    If(EqualTo(frac, Literal(0L)), base,
      Concat(Seq(base, Literal("."), fracStr)))
  }

  // ---------------------------------------------------------------- ns
  // Epoch-nanosecond convention (SURVEY §1.2 addendum): Spark timestamps
  // are µs, so values needing the reference's full Timestamp(Nanosecond)
  // precision are carried as BIGINT epoch-ns + rendered by the functions
  // below — the exact mirror of the µs-long TIME-of-day layer.
  // Reference: common/src/scalar/mod.rs:358-475 (ns scalar semantics),
  // functions/src/datetime/to_timestamp.rs (ns parse truncation).

  /** Parse a datetime string (or anything rendering as one) to BIGINT
    * epoch-nanoseconds: wall clock read as UTC (the raw stored value of a
    * NAIVE Arrow Timestamp(ns)), fraction truncated at 9 digits — the
    * reference's `'…'::timestamp::bigint`. Zone-independent (pure date
    * arithmetic, no session-zone cast). */
  def toEpochNanos(e: Expression): Expression = {
    val s = Cast(e, StringType)
    def ex(p: String) = RegExpExtract(s, Literal(p), Literal(1))
    def lng(x: Expression) = Cast(x, LongType, None, EvalMode.TRY)
    val days = Cast(
      UnixDate(Cast(ex("^([0-9]{1,5}-[0-9]{2}-[0-9]{2})"), DateType,
        None, EvalMode.TRY)), LongType)
    def zero(x: Expression) = Coalesce(Seq(x, Literal(0L)))
    val h = zero(lng(ex("[T ]([0-9]{1,2}):[0-9]{2}")))
    val m = zero(lng(ex("[T ][0-9]{1,2}:([0-9]{2})")))
    val sec = zero(lng(ex("[T ][0-9]{1,2}:[0-9]{2}:([0-9]{2})")))
    // fraction TEXTUALLY truncated to 9 digits then right-padded — exact
    // ns semantics, no float roundtrip
    val fracNs = zero(lng(StringRPad(
      ex("[T ][0-9]{1,2}:[0-9]{2}:[0-9]{2}\\.([0-9]{1,9})"),
      Literal(9), Literal("0"))))
    val secs = Add(Multiply(days, Literal(86400L)),
      Add(Add(Multiply(h, Literal(3600L)), Multiply(m, Literal(60L))), sec))
    If(IsNull(days), Literal.create(null, LongType),
      Add(Multiply(secs, Literal(1000000000L)), fracNs))
  }

  /** Arrow-style fraction text for a nonneg sub-second ns count: trailing
    * zeros trimmed in 3-digit groups (.432 / .123450 / .011375885), empty
    * when zero. */
  private def nsFracText(frac: Expression): Expression = {
    def padded(v: Expression, w: Int) =
      StringLPad(Cast(v, StringType), Literal(w), Literal("0"))
    def dot(x: Expression) = Concat(Seq(Literal("."), x))
    CaseWhen(Seq(
      (EqualTo(frac, Literal(0L)), Literal("")),
      (EqualTo(Pmod(frac, Literal(1000000L)), Literal(0L)),
        dot(padded(IntegralDivide(frac, Literal(1000000L)), 3))),
      (EqualTo(Pmod(frac, Literal(1000L)), Literal(0L)),
        dot(padded(IntegralDivide(frac, Literal(1000L)), 6)))),
      dot(padded(frac, 9)))
  }

  private def nsParts(e: Expression): (Expression, Expression, Expression) = {
    val ns = Cast(e, LongType)
    val frac = Pmod(ns, Literal(1000000000L)) // nonneg, floor-mod
    // floor division WITHOUT the `ns - frac` subtraction (which underflows
    // at Long.MinValue): truncating div adjusted down for negative
    // non-exact operands
    val truncDiv = IntegralDivide(ns, Literal(1000000000L))
    val rem = Remainder(ns, Literal(1000000000L))
    val secs = If(And(LessThan(ns, Literal(0L)), Not(EqualTo(rem, Literal(0L)))),
      Subtract(truncDiv, Literal(1L)), truncDiv)
    (ns, secs, frac)
  }

  /** Render BIGINT epoch-ns as the reference's NAIVE Timestamp(ns) text:
    * UTC wall, 'T' separator, group-trimmed fraction. */
  def nanosText(e: Expression): Expression = {
    val (ns, secs, frac) = nsParts(e)
    val base = DateFormatClass(SecondsToTimestamp(secs),
      Literal("yyyy-MM-dd'T'HH:mm:ss"), Some("UTC"))
    If(IsNull(ns), Literal.create(null, StringType),
      Concat(Seq(base, nsFracText(frac))))
  }

  /** Render BIGINT epoch-ns as a zone-tagged Timestamp(ns, tz): wall at
    * `zone`, group-trimmed fraction, offset suffix ('Z' at UTC). */
  def nanosTextTz(e: Expression, zone: String): Expression = {
    val (ns, secs, frac) = nsParts(e)
    val ts = SecondsToTimestamp(secs)
    val base = DateFormatClass(ts,
      Literal("yyyy-MM-dd'T'HH:mm:ss"), Some(zone))
    val suffix = DateFormatClass(ts, Literal("XXX"), Some(zone))
    If(IsNull(ns), Literal.create(null, StringType),
      Concat(Seq(base, nsFracText(frac), suffix)))
  }

  /** Full ns-precision render with numeric-vs-datetime dispatch (the
    * shape of [[toTimestampNanos]], minus the µs truncation): integers of
    * any width are epoch-ns counts, fractional numerics truncate toward
    * zero to a ns count (the reference's numeric→Timestamp(ns) cast), and
    * datetime-ish operands (strings, timestamps — probed through a string
    * render) parse at full ns precision. */
  def nsDisplay(e: Expression): Expression = {
    val s = Cast(e, StringType)
    val nL = tryLong(s)
    val nD = Cast(s, DoubleType, None, EvalMode.TRY)
    If(IsNotNull(nL), nanosText(nL),
      If(IsNotNull(nD), nanosText(Cast(nD, LongType)),
        nanosText(toEpochNanos(s))))
  }

  /** [[nsDisplay]] with a zone tag. A NUMERIC operand is raw epoch-ns
    * storage → rendered at `zone` with its offset. A DATETIME operand's
    * WALL is preserved and the zone's offset suffixed — the reference's
    * naive→tz cast reads the wall in the target zone (its display shows
    * the same wall; arrow_typeof.slt:330-338). */
  def nsDisplayTz(e: Expression, zone: String): Expression = {
    val s = Cast(e, StringType)
    val nL = tryLong(s)
    val nD = Cast(s, DoubleType, None, EvalMode.TRY)
    If(IsNotNull(nL), nanosTextTz(nL, zone),
      If(IsNotNull(nD), nanosTextTz(Cast(nD, LongType), zone),
        nsWallTagged(s, zone)))
  }

  /** Wall-preserving zone tag: the datetime text's wall stays as-is; the
    * suffix is `zone`'s offset at that wall ('Z' at UTC). */
  private def nsWallTagged(s: Expression, zone: String): Expression = {
    val txt = nanosText(toEpochNanos(s))
    // instant whose wall-in-zone equals the text's wall (µs-truncated —
    // only the offset is derived from it)
    val ntz = Cast(Cast(txt, TimestampNTZType, None, EvalMode.TRY),
      TimestampType)
    val instant = ToUTCTimestamp(ntz, Literal(zone))
    val suffix = DateFormatClass(instant, Literal("XXX"), Some(zone))
    If(IsNull(txt), Literal.create(null, StringType),
      Concat(Seq(txt, Coalesce(Seq(suffix, Literal(""))))))
  }

  /** [[nsDisplay]] plus the SESSION zone's offset suffix at that wall —
    * the render of the reference's to_timestamp_nanos under `SET TIME
    * ZONE` (its to_timestamp_* family yields session-tagged values, while
    * a None-tz arrow_cast stays naive). Under UTC the suffix is 'Z'. */
  def nsDisplaySessionTagged(e: Expression): Expression = {
    val txt = nsDisplay(e)
    // offset at the wall: parse the wall (µs-truncated — only the offset
    // is derived from it) in the session zone, format its offset
    val wallTs = Cast(Cast(txt, TimestampNTZType, None, EvalMode.TRY),
      TimestampType)
    val suffix = DateFormatClass(wallTs, Literal("XXX"), None)
    If(IsNull(txt), Literal.create(null, StringType),
      Concat(Seq(txt, Coalesce(Seq(suffix, Literal(""))))))
  }

  // ------------------------------------------------- ns TIME-of-day (r9)
  // Time64(Nanosecond) mirror of the µs-of-day anchor: ns-of-day BIGINT +
  // canonical HH:MM:SS[.fffffffff] render. Reference:
  // common/src/scalar/mod.rs:358-475 (Time64 variants).

  /** Parse a time-of-day text (or a datetime whose wall carries one) to
    * BIGINT ns-of-day; fraction truncated textually at 9 digits. */
  def toTimeNs(e: Expression): Expression = {
    val s = Cast(e, StringType)
    def ex(p: String) = RegExpExtract(s, Literal(p), Literal(1))
    def lng(x: Expression) = Cast(x, LongType, None, EvalMode.TRY)
    val h = lng(ex("(?:^|[ T])([0-9]{1,2}):[0-9]{2}"))
    val m = lng(ex("(?:^|[ T])[0-9]{1,2}:([0-9]{2})"))
    val si = lng(ex("(?:^|[ T])[0-9]{1,2}:[0-9]{2}:([0-9]{2})"))
    val frNs = Coalesce(Seq(lng(StringRPad(
      ex("(?:^|[ T])[0-9]{1,2}:[0-9]{2}:[0-9]{2}\\.([0-9]{1,9})"),
      Literal(9), Literal("0"))), Literal(0L)))
    val sec = Coalesce(Seq(si, Literal(0L)))
    val valid = And(And(
      And(GreaterThanOrEqual(h, Literal(0L)), LessThan(h, Literal(24L))),
      LessThan(m, Literal(60L))), LessThan(sec, Literal(60L)))
    val ns = Add(
      Add(Multiply(h, Literal(3600000000000L)),
        Multiply(m, Literal(60000000000L))),
      Add(Multiply(sec, Literal(1000000000L)), frNs))
    If(valid, ns, Literal.create(null, LongType))
  }

  /** ns-of-day → 'HH:MM:SS[.fffffffff]' (group-trimmed fraction, the
    * arrow Time64 display). */
  def timeNsFormat(e: Expression): Expression = {
    val t = Cast(e, LongType)
    val h = IntegralDivide(t, Literal(3600000000000L))
    val m = Pmod(IntegralDivide(t, Literal(60000000000L)), Literal(60L))
    val sec = Pmod(IntegralDivide(t, Literal(1000000000L)), Literal(60L))
    val frac = Pmod(t, Literal(1000000000L))
    val base = FormatString(Literal("%02d:%02d:%02d"), h, m, sec)
    If(IsNull(t), Literal.create(null, StringType),
      Concat(Seq(base, nsFracText(frac))))
  }

  /** date_bin at ns precision over BIGINT ns counts (epoch-ns or
    * ns-of-day): origin-aligned floor binning, the same arithmetic the
    * µs date_bin shim uses. Pmod is floor-mod, so bins align toward
    * -infinity exactly like the reference's date_bin. */
  def nsBin(stride: Expression, x: Expression, origin: Expression): Expression = {
    val xs = Cast(x, LongType)
    val o = Cast(origin, LongType)
    def neg(e: Expression) = LessThan(e, Literal(0L))
    val diff = Subtract(xs, o)
    // x−origin beyond i64 wraps in non-ANSI mode — the reference clamps
    // date_bin overflow to NULL (date_bin_errors.slt), mirror that
    val diffOverflow = And(Not(EqualTo(neg(xs), neg(o))),
      Not(EqualTo(neg(diff), neg(xs))))
    val res = Subtract(xs, Pmod(diff, Cast(stride, LongType)))
    val resOverflow = And(neg(xs), GreaterThan(res, Literal(0L)))
    If(Or(diffOverflow, resOverflow),
      Literal.create(null, LongType), res)
  }

  // ------------------------------------------- ns intervals (r9)
  // MonthDayNano intervals carried as struct<months,days,ns BIGINT> with
  // ns-exact arithmetic + the reference's display formats. Reference:
  // common/src/scalar/mod.rs (IntervalMonthDayNano), arrow's
  // Duration/Interval Display impls.

  /** Parse an interval TEXT ('1 day 3 hours', '1 day 7 nanoseconds',
    * '0.000000010 seconds') to struct(months, days, ns) with ns-exact
    * fractional seconds (textual fraction, no float roundtrip). */
  def ivParse(e: Expression): Expression = {
    val s = Lower(Cast(e, StringType))
    def ex(p: String) = RegExpExtract(s, Literal(p), Literal(1))
    def lng(x: Expression) = Coalesce(Seq(
      Cast(x, LongType, None, EvalMode.TRY), Literal(0L)))
    def unit(p: String) = lng(ex(s"([-+]?[0-9]+)\\s*$p"))
    val years = unit("years?\\b")
    val months = unit("(?:months?|mons?)\\b")
    val days = unit("days?\\b")
    val hours = unit("hours?\\b")
    val mins = unit("(?:minutes?|mins?)\\b")
    // seconds: integer part and a textual ≤9-digit fraction, the fraction
    // signed with the integer part's sign
    val secsInt = lng(ex("([-+]?[0-9]+)(?:\\.[0-9]+)?\\s*(?:seconds?|secs?)\\b"))
    val secFracNs = lng(StringRPad(
      ex("[-+]?[0-9]+\\.([0-9]{1,9})[0-9]*\\s*(?:seconds?|secs?)\\b"),
      Literal(9), Literal("0")))
    val secNeg = EqualTo(
      ex("([-])[0-9]+(?:\\.[0-9]+)?\\s*(?:seconds?|secs?)\\b"), Literal("-"))
    val signedFrac = If(secNeg, UnaryMinus(secFracNs), secFracNs)
    val millis = unit("milliseconds?\\b")
    val micros = unit("microseconds?\\b")
    val nanos = unit("nanoseconds?\\b")
    val ns = Add(
      Add(
        Add(Multiply(hours, Literal(3600000000000L)),
          Multiply(mins, Literal(60000000000L))),
        Add(Multiply(secsInt, Literal(1000000000L)), signedFrac)),
      Add(Add(Multiply(millis, Literal(1000000L)),
        Multiply(micros, Literal(1000L))), nanos))
    CreateNamedStruct(Seq(
      Literal("months"), Add(Multiply(years, Literal(12L)), months),
      Literal("days"), days,
      Literal("ns"), ns))
  }

  /** Signed '<int>.<9-digit frac>' seconds text for a ns count (sign kept
    * even when the integer part is zero). */
  private def signedSecsText(ns: Expression): Expression = {
    val neg = LessThan(ns, Literal(0L))
    val a = Abs(ns)
    val whole = IntegralDivide(a, Literal(1000000000L))
    val frac = Pmod(a, Literal(1000000000L))
    Concat(Seq(
      If(neg, Literal("-"), Literal("")),
      Cast(whole, StringType), Literal("."),
      StringLPad(Cast(frac, StringType), Literal(9), Literal("0"))))
  }

  /** MonthDayNano display: "X mons Y days H hours M mins S.fffffffff
    * secs", zero components omitted (arrow's IntervalMonthDayNano
    * formatter — matches the runner's CalendarInterval render, at ns
    * precision). */
  def ivText(monthsE: Expression, daysE: Expression, nsE: Expression): Expression = {
    val months = Cast(monthsE, LongType)
    val days = Cast(daysE, LongType)
    val ns = Cast(nsE, LongType)
    // IntegralDivide/Remainder truncate toward zero — the per-component
    // sign convention of the arrow formatter
    val hours = IntegralDivide(ns, Literal(3600000000000L))
    val minsL = Remainder(IntegralDivide(ns, Literal(60000000000L)), Literal(60L))
    val secNs = Remainder(ns, Literal(60000000000L))
    def part(cond: Expression, text: Expression) =
      If(cond, text, Literal(""))
    val allZero = And(And(EqualTo(months, Literal(0L)), EqualTo(days, Literal(0L))),
      EqualTo(ns, Literal(0L)))
    val pieces = Seq(
      part(Not(EqualTo(months, Literal(0L))),
        Concat(Seq(Cast(months, StringType), Literal(" mons ")))),
      part(Not(EqualTo(days, Literal(0L))),
        Concat(Seq(Cast(days, StringType), Literal(" days ")))),
      part(Not(EqualTo(hours, Literal(0L))),
        Concat(Seq(Cast(hours, StringType), Literal(" hours ")))),
      part(Not(EqualTo(minsL, Literal(0L))),
        Concat(Seq(Cast(minsL, StringType), Literal(" mins ")))),
      part(Or(Not(EqualTo(secNs, Literal(0L))), allZero),
        Concat(Seq(signedSecsText(secNs), Literal(" secs ")))))
    StringTrimRight(Concat(pieces))
  }

  /** Arrow Duration(ns) display: always all four components, per-component
    * sign, 9-digit fraction ("-15250 days -13 hours -28 mins
    * -44.999876545 secs"). */
  def durRender(e: Expression): Expression = {
    val ns = Cast(e, LongType)
    val sign = If(LessThan(ns, Literal(0L)), Literal("-"), Literal(""))
    val n = Abs(ns)
    val days = IntegralDivide(n, Literal(86400000000000L))
    val hours = Pmod(IntegralDivide(n, Literal(3600000000000L)), Literal(24L))
    val mins = Pmod(IntegralDivide(n, Literal(60000000000L)), Literal(60L))
    val secs = Pmod(IntegralDivide(n, Literal(1000000000L)), Literal(60L))
    val frac = Pmod(n, Literal(1000000000L))
    If(IsNull(ns), Literal.create(null, StringType), Concat(Seq(
      sign, Cast(days, StringType), Literal(" days "),
      sign, Cast(hours, StringType), Literal(" hours "),
      sign, Cast(mins, StringType), Literal(" mins "),
      sign, Cast(secs, StringType), Literal("."),
      StringLPad(Cast(frac, StringType), Literal(9), Literal("0")),
      Literal(" secs"))))
  }

  /** Arrow Duration(ns) ARRAY-formatter display: all four components,
    * fraction group-trimmed and dropped when zero ("0 days 0 hours 0 mins
    * 1 secs", "… 0.002 secs") — the form arrow uses for Duration COLUMN
    * values (scalar timestamp differences render via [[durRender]]'s
    * fixed-9 form instead). */
  def durTrim(e: Expression): Expression = {
    val ns = Cast(e, LongType)
    val sign = If(LessThan(ns, Literal(0L)), Literal("-"), Literal(""))
    val n = Abs(ns)
    val days = IntegralDivide(n, Literal(86400000000000L))
    val hours = Pmod(IntegralDivide(n, Literal(3600000000000L)), Literal(24L))
    val mins = Pmod(IntegralDivide(n, Literal(60000000000L)), Literal(60L))
    val secs = Pmod(IntegralDivide(n, Literal(1000000000L)), Literal(60L))
    val frac = Pmod(n, Literal(1000000000L))
    If(IsNull(ns), Literal.create(null, StringType), Concat(Seq(
      sign, Cast(days, StringType), Literal(" days "),
      sign, Cast(hours, StringType), Literal(" hours "),
      sign, Cast(mins, StringType), Literal(" mins "),
      sign, Cast(secs, StringType), nsFracText(frac),
      Literal(" secs"))))
  }

  /** Epoch-ns timestamp ± MonthDayNano interval at full ns precision:
    * months apply on the (zone-free) date part via AddMonths, days and
    * sub-day ns as fixed counts — the reference's Timestamp(ns) ±
    * Interval(MonthDayNano) arithmetic. Returns the canonical naive ns
    * TEXT (the convention's display form). */
  def nsShift(ts: Expression, monthsE: Expression, daysE: Expression,
      nsE: Expression, signE: Expression): Expression = {
    val base = toEpochNanos(ts)
    val sign = Cast(signE, LongType)
    val frac = Pmod(base, Literal(1000000000L))
    val secs = IntegralDivide(Subtract(base, frac), Literal(1000000000L))
    val daysBase = IntegralDivide(Subtract(secs, Pmod(secs, Literal(86400L))),
      Literal(86400L))
    val todSecs = Pmod(secs, Literal(86400L))
    val months = Multiply(Cast(monthsE, LongType), sign)
    val epochDate = Literal.create(0, DateType) // 1970-01-01
    val shiftedDate = AddMonths(
      DateAdd(epochDate, Cast(daysBase, IntegerType)),
      Cast(months, IntegerType))
    val newDays = Cast(UnixDate(shiftedDate), LongType)
    val newSecs = Add(Multiply(newDays, Literal(86400L)), todSecs)
    val shiftedNs = Add(Multiply(newSecs, Literal(1000000000L)), frac)
    val fixed = Multiply(sign,
      Add(Multiply(Cast(daysE, LongType), Literal(86400000000000L)),
        Cast(nsE, LongType)))
    nanosText(Add(shiftedNs, fixed))
  }

  /** time_part('hour'|'minute'|'second', µs-of-day). */
  def timePart(field: String, us: Expression): Expression = {
    val t = Cast(us, LongType)
    field.toLowerCase match {
      case "hour" => IntegralDivide(t, Literal(3600000000L))
      case "minute" => Pmod(IntegralDivide(t, Literal(60000000L)), Literal(60L))
      case "second" => // fractional seconds, like EXTRACT(SECOND)
        Divide(Cast(Pmod(t, Literal(60000000L)), DoubleType), Literal(1e6))
      case other => throw new IllegalArgumentException(
        s"time_part: unsupported field '$other' (hour/minute/second)")
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def one(name: String)(f: Expression => Expression):
        (String, Seq[Expression] => Expression) =
      name -> { es =>
        if (es.size != 1) throw new IllegalArgumentException(
          s"$name takes exactly 1 argument, got ${es.size}")
        f(es.head)
      }
    Seq(
      one("to_timestamp_seconds")(toTimestampSeconds),
      one("to_timestamp_millis")(toTimestampMillis),
      one("to_timestamp_micros")(toTimestampMicros),
      one("to_timestamp_nanos")(toTimestampNanos),
      one("to_unixtime")(toUnixtime),
      one("to_local_time")(toLocalTime),
      one("to_time")(toTimeUs),
      "make_time" -> { es =>
        if (es.size != 3) throw new IllegalArgumentException(
          s"make_time(h, m, s) takes 3 arguments, got ${es.size}")
        makeTime(es(0), es(1), es(2))
      },
      one("time_format")(timeFormat),
      one("graft_ns_epoch")(toEpochNanos),
      one("graft_ns_text")(nanosText),
      one("graft_ns_display")(nsDisplay),
      one("graft_time_ns")(toTimeNs),
      one("graft_time_ns_format")(timeNsFormat),
      one("graft_iv_parse")(ivParse),
      one("graft_dur_render")(durRender),
      one("graft_dur_trim")(durTrim),
      // Duration carrier tag: identity BIGINT-ns; the textual marker lets
      // the slt CREATE recorder identify duration columns positionally
      one("graft_dur_ns")(e => Cast(e, LongType)),
      "graft_ns_bin" -> { es =>
        if (es.size != 3) throw new IllegalArgumentException(
          s"graft_ns_bin(stride, x, origin) takes 3 arguments, got ${es.size}")
        nsBin(es(0), es(1), es(2))
      },
      "graft_iv_text" -> { es =>
        if (es.size != 3) throw new IllegalArgumentException(
          s"graft_iv_text(months, days, ns) takes 3 arguments, got ${es.size}")
        ivText(es(0), es(1), es(2))
      },
      "graft_ns_shift" -> { es =>
        if (es.size != 5) throw new IllegalArgumentException(
          s"graft_ns_shift(ts, months, days, ns, sign) takes 5 arguments, got ${es.size}")
        nsShift(es(0), es(1), es(2), es(3), es(4))
      },
      "graft_ns_display_tz" -> { es =>
        if (es.size != 2) throw new IllegalArgumentException(
          s"graft_ns_display_tz(x, zone) takes 2 arguments, got ${es.size}")
        val zone = es(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"graft_ns_display_tz: zone must be a string literal, got ${other.sql}")
        }
        nsDisplayTz(es.head, zone)
      },
      "graft_ns_text_tz" -> { es =>
        if (es.size != 2) throw new IllegalArgumentException(
          s"graft_ns_text_tz(ns, zone) takes 2 arguments, got ${es.size}")
        val zone = es(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"graft_ns_text_tz: zone must be a string literal, got ${other.sql}")
        }
        nanosTextTz(es.head, zone)
      },
      "time_part" -> { es =>
        if (es.size != 2) throw new IllegalArgumentException(
          s"time_part(field, t) takes 2 arguments, got ${es.size}")
        val field = es.head match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"time_part: field must be a string literal, got ${other.sql}")
        }
        timePart(field, es(1))
      })
  }
}
