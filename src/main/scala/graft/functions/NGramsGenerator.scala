package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, Literal, UnaryExpression}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** User-facing table function (UDTF) as a native Catalyst `Generator` —
  * the Spark counterpart of the reference's `TableFunctionImpl`
  * (datafusion/catalog/src/table.rs table functions; SURVEY §2.10): one
  * input row expands to N output rows inside GenerateExec, composable with
  * LATERAL VIEW / select-list generator syntax exactly like explode.
  *
  * `ngrams_explode(text, n)`: word n-grams (single-space tokenization,
  * empties dropped — same convention as TextFunctions.words); rows for a
  * text shorter than n words: none.
  */
case class NGramsExplode(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, "ngrams_explode: n >= 1")
  override def prettyName: String = "ngrams_explode"
  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else {
      val ws = t.asInstanceOf[UTF8String].toString.split(" ", -1).filter(_.nonEmpty)
      if (ws.length < n) Nil
      else (0 to ws.length - n).map { i =>
        InternalRow(UTF8String.fromString(ws.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NGramsExplode {
  /** SQL builder: `ngrams_explode(text, 2)` — n must be a literal. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ngrams_explode" -> { es =>
      val n = es(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"ngrams_explode: n must be an INT literal, got $other")
      }
      NGramsExplode(es.head, n)
    })
}
