package graft.functions

import java.util.regex.{Matcher, Pattern}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.udf

/** The reference's regex function dialect (functions/src/regex/ — Postgres
  * conventions): optional `flags` argument ('i','s','m','x'; 'g' only for
  * replace), 1-based CHARACTER (code point) start positions, occurrence
  * selection, and regexp_replace that replaces the FIRST match unless 'g'.
  * A pattern the engine cannot compile behaves as "no match" (the
  * reference's look-around fallback), it does not error.
  *
  * Registered by the slt runner only: Spark's OWN regexp_* functions keep
  * their native semantics everywhere else ('g'-less replace-all etc.), so
  * the oracle inventory is unaffected.
  */
object RegexpCompat {

  private def compile(pattern: String, flags: String): Option[Pattern] = {
    // Rust-regex classes (\w, \d, \b, case folding) are Unicode-aware by
    // default; Java's default is ASCII — match the reference's semantics
    var f = Pattern.UNICODE_CHARACTER_CLASS
    if (flags != null) flags.foreach {
      case 'i' => f |= Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
      case 's' => f |= Pattern.DOTALL
      case 'm' => f |= Pattern.MULTILINE
      case 'x' => f |= Pattern.COMMENTS
      case 'g' => // handled by replace; ignored elsewhere
      case c   => throw new IllegalArgumentException(
        s"regexp: invalid flag '$c' (the reference errors on unknown flags too)")
    }
    // Rust-regex property spellings Java writes differently: long
    // general-category names and bare script names
    val javaPattern = pattern
      .replace("\\p{Letter}", "\\p{L}")
      .replaceAll("""\\p\{(Arabic|Greek|Cyrillic|Han|Hebrew|Latin|Hiragana|Katakana)\}""", """\\p{Is$1}""")
    try Some(Pattern.compile(javaPattern, f)) catch {
      case e: java.util.regex.PatternSyntaxException
          // silent no-match ONLY for the Rust-regex constructs Java cannot
          // compile the same way (the conformance files probe these);
          // anything else is a genuinely bad pattern → error like the
          // reference, never a silently-passing false result
          if pattern.contains("(?<") || pattern.contains("(?=") ||
             pattern.contains("(?!") || pattern.contains("\\p{") => None
      case e: java.util.regex.PatternSyntaxException =>
        throw new IllegalArgumentException(s"regexp: invalid pattern: ${e.getMessage}")
    }
  }

  /** char (code point) index → UTF-16 offset; None when past end+1. */
  private def cpOffset(s: String, oneBased: Int): Option[Int] = {
    require(oneBased >= 1, "start must be 1-based")
    val cpCount = s.codePointCount(0, s.length)
    if (oneBased > cpCount + 1) None
    else Some(s.offsetByCodePoints(0, math.min(oneBased - 1, cpCount)))
  }

  private def like(s: String, p: String, f: String): java.lang.Boolean =
    // the reference treats NULL flags as "no flags", not a NULL result
    if (s == null || p == null) null
    else compile(p, if (f == null) "" else f) match {
      case Some(pat) => pat.matcher(s).find()
      case None      => false
    }

  private def matchFn(s: String, p: String, f: String): Array[String] =
    if (s == null || p == null) null
    else compile(p, if (f == null) "" else f) match {
      case Some(pat) =>
        val m = pat.matcher(s)
        if (!m.find()) null
        else if (m.groupCount() == 0) Array(m.group(0))
        else (1 to m.groupCount()).map(m.group).toArray
      case None => null
    }

  private def count(s: String, p: String, start: Int, f: String): java.lang.Long =
    // the reference's regexp_count maps NULL str/pattern to 0, and NULL
    // flags to "no flags"; `start` slices the haystack, so ^ anchors at
    // the slice start (Java: anchoring region bounds, set ONCE — a
    // continuing find() does not re-anchor, matching Rust's find_iter)
    if (s == null || p == null) 0L
    else compile(p, if (f == null) "" else f) match {
      case Some(pat) =>
        cpOffset(s, start) match {
          case None => 0L
          case Some(off) =>
            val m = pat.matcher(s)
            m.region(off, s.length)
            var n = 0L
            while (m.find()) n += 1
            n
        }
      case None => 0L
    }

  private def instr(s: String, p: String, start: Int, occ: Int, f: String,
      subexpr: Int): java.lang.Long =
    if (s == null || p == null) null
    else compile(p, if (f == null) "" else f) match {
      case Some(pat) =>
        require(occ >= 1, "occurrence must be >= 1")
        cpOffset(s, start) match {
          case None => 0L
          case Some(off) =>
            val m = pat.matcher(s)
            m.region(off, s.length) // ^ anchors at the slice start
            var found = 0
            while (found < occ && m.find()) found += 1
            if (found < occ) 0L
            else {
              val idx = if (subexpr > 0) m.start(subexpr) else m.start()
              if (idx < 0) 0L
              else s.codePointCount(0, idx) + 1L
            }
        }
      case None => 0L
    }

  /** \N backrefs → Java's $N; literal $ escaped. */
  private def javaReplacement(r: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      r(i) match {
        case '$' => sb.append("\\$")
        // doubled backslash before a digit is still a backref spelling
        case '\\' if i + 2 < r.length && r(i + 1) == '\\' && r(i + 2).isDigit =>
          sb.append('$').append(r(i + 2)); i += 2
        case '\\' if i + 1 < r.length && r(i + 1).isDigit =>
          sb.append('$').append(r(i + 1)); i += 1
        case '\\' if i + 1 < r.length && r(i + 1) == '\\' =>
          sb.append("\\\\"); i += 1
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def replace(s: String, p: String, r: String, f: String): String =
    // regexp_replace is the ONE member where the reference propagates a
    // NULL flags argument to a NULL result (regexp_replace.slt:86,121)
    if (s == null || p == null || r == null || f == null) null
    else compile(p, f) match {
      case Some(pat) =>
        val m = pat.matcher(s)
        val repl = javaReplacement(r)
        if (f != null && f.contains('g')) m.replaceAll(repl)
        else m.replaceFirst(repl)
      case None => s
    }

  /** The engine surface holds ONLY the operator-rewrite target, under a
    * graft-prefixed name: DialectParser's `~`/`~*` splice calls
    * graft_regexp_like, leaving Spark's native regexp_* functions untouched
    * (the dialect overrides in [[register]] are opt-in per session). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    GraftSqlBridge.udfBuilder("graft_regexp_like",
      udf((s: String, p: String, f: String) => like(s, p, f))))

  /** The slt dialect: temp functions that override Spark's own
    * regexp_like/regexp_count/regexp_instr/regexp_replace, and add
    * regexp_match, in ONE session. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("regexp_like",
      (s: String, p: String, f: String) => like(s, p, f))
    spark.udf.register("regexp_match",
      (s: String, p: String, f: String) => matchFn(s, p, f))
    spark.udf.register("regexp_count",
      (s: String, p: String, start: Integer, f: String) =>
        if (start == null) null else count(s, p, start, f))
    spark.udf.register("regexp_instr",
      (s: String, p: String, start: Integer, occ: Integer, f: String, sub: Integer) =>
        if (start == null || occ == null) null
        else instr(s, p, start, occ, f, if (sub == null) 0 else sub.intValue()))
    spark.udf.register("regexp_replace",
      (s: String, p: String, r: String, f: String) => replace(s, p, r, f))
  }
}
