package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines: tokenization,
  * quality scoring, language-ID heuristic, document fingerprinting.
  *
  * All pure Column expressions (codegen'd, no UDFs) so they vectorize over
  * 100 TB the same way builtin functions do. Each has a DuckDB-expressible
  * twin for the oracle (see PipelineQueries).
  */
object TextFunctions {

  /** Non-empty whitespace tokens. */
  def words(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  def tokenCount(text: Column): Column = size(words(text)).cast("long")

  /** Tokens after lowercasing and stripping non-alphanumerics. */
  def normWords(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " "), w => w =!= "")

  /** Stopword lists for the langid heuristic (tiny, deterministic). */
  val EnStop = Seq("the", "and", "of", "is", "a", "to", "in")
  val DeStop = Seq("der", "die", "und", "das", "ist", "ein")
  val FrStop = Seq("le", "la", "et", "les", "des", "un")
  val EsStop = Seq("el", "los", "y", "una", "que", "en")

  private def hits(ws: Column, stop: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(stop))).cast("long")

  /** n-gram/stopword language-ID heuristic: argmax of per-language stopword
    * hit counts with a fixed priority order; 'und' when nothing matches. */
  def langId(text: Column): Column = {
    val ws = words(lower(text))
    val en = hits(ws, EnStop); val de = hits(ws, DeStop)
    val fr = hits(ws, FrStop); val es = hits(ws, EsStop)
    val mx = greatest(en, de, fr, es)
    when(mx === 0, "und")
      .when(en === mx, "en")
      .when(de === mx, "de")
      .when(fr === mx, "fr")
      .otherwise("es")
  }

  /** Quality score in [0,1]: blend of token count saturation, stopword
    * ratio, alphanumeric ratio and mean word length band — the standard
    * cheap heuristics for corpus filtering. */
  def qualityScore(text: Column): Column = {
    val ws = words(text)
    val n = size(ws).cast("double")
    val lenScore = least(n / 100.0, lit(1.0))
    val stopRatio = hits(ws, EnStop).cast("double") / greatest(n, lit(1.0))
    val alnum = length(regexp_replace(text, "[^a-zA-Z0-9]", "")).cast("double")
    val alnumRatio = alnum / greatest(length(text).cast("double"), lit(1.0))
    val meanLen = alnum / greatest(n, lit(1.0))
    val lenBand = when(meanLen >= 3 && meanLen <= 10, 1.0).otherwise(0.5)
    (lenScore * 0.3 + least(stopRatio * 3.0, lit(1.0)) * 0.2 +
      alnumRatio * 0.3 + lenBand * 0.2)
  }

  /** OpenRefine-style fingerprint: md5 of the sorted distinct normalized
    * token set — collapses reorderings/duplications of the same content. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(normWords(text)))).cast("binary"))

  /** PII patterns for corpus scrubbing. Written to the common subset of
    * Java regex and RE2 (no lookaround, no backrefs) so the DuckDB oracle
    * runs the identical pattern. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,6}"

  /** Redact emails, IPv4 addresses and phone numbers. Order matters: emails
    * first (an address can embed digit runs), then IPs (dotted digits would
    * otherwise half-match the phone rule), then phones. */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** 3-word shingles; whole text when shorter than the shingle width. */
  def shingles3(text: Column): Column = {
    val ws = words(text)
    when(size(ws) < 3, array(concat_ws(" ", ws)))
      .otherwise(transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ",
          element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
  }

  /** SQL names for the text-pipeline surface, so a pure-SQL user (spark.sql,
    * the Repl, the slt front door) can run the corpus operators without the
    * Column API: tokens / token_count / lang_id / quality_score /
    * doc_fingerprint / scrub_pii / shingles3, plus minhash_sig(text, k)
    * over the fused one-pass kernel (it shingles internally). Each
    * resolves to the same expressions the operators use — no UDF layer.
    * (name, expression-builder) pairs, injected by GraftExtensions. */
  def builders: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expressionEager}
    def one(f: Seq[Column] => Column):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression =
      es => expressionEager(f(es.map(column)))
    type B = Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression
    Seq[(String, B)](
      "tokens" -> one(cs => words(cs.head)),
      "token_count" -> one(cs => tokenCount(cs.head)),
      "lang_id" -> one(cs => langId(cs.head)),
      "quality_score" -> one(cs => qualityScore(cs.head)),
      "doc_fingerprint" -> one(cs => fingerprint(cs.head)),
      "scrub_pii" -> one(cs => scrubPii(cs.head)),
      "shingles3" -> one(cs => shingles3(cs.head)),
      "minhash_sig" -> { es =>
        if (es.size != 2) throw new IllegalArgumentException(
          s"minhash_sig(text, k) takes exactly 2 arguments, got ${es.size}")
        // Accept any foldable int expression (literal, CAST(4 AS INT), ...)
        val kExpr = es(1)
        val k =
          if (kExpr.foldable && kExpr.dataType == org.apache.spark.sql.types.IntegerType)
            kExpr.eval() match {
              case i: Int => i
              case _ => throw new IllegalArgumentException(
                "minhash_sig(text, k): k must not be NULL")
            }
          else throw new IllegalArgumentException(
            s"minhash_sig(text, k): k must be a foldable integer, got ${kExpr.sql}")
        MinHashSig(es.head, k)
      },
      // the dense-key probe's wire spelling (see DenseKeyProbe): SQL text
      // and Substrait round-trips of the q4/q9/q12/q21 plans rebuild the
      // exact codegen expression
      DenseKeyProbe.Name -> DenseKeyProbe.fromArgs)
  }
}
