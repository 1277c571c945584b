package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

/** Base64 codec for a long array (little-endian words) — the wire form of
  * a [[DenseKeyProbe]] payload. */
object ProbePayloadCodec {
  def encodeLongs(a: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(a.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(a)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
  def decodeLongs(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    require(bytes.length % 8 == 0, "probe payload must be 8-byte aligned")
    val lb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val out = new Array[Long](bytes.length / 8)
    lb.get(out)
    out
  }
}

/** Lookup probe over a dense key map (`BitmapJoin.build`): key `k` owns
  * the `bits`-wide slot at bit offset `(k mod 64/bits)·bits` of word
  * `k / (64/bits)`. Yields the slot value as an INT, or NULL for a NULL,
  * negative or out-of-range key and for an empty slot (0 = absent, which
  * callers drop — the inner/semi-join semantics).
  *
  * A whole-stage-codegen expression rather than a Scala-closure UDF: the
  * lookup inlines into the scan stage (no per-row boxing or dispatch), and
  * the generated Java specializes on the constant `bits`, so `bits = 1` is
  * one shift-and-mask bit test. The map rides the expression as a
  * referenced object, which Spark ships once per stage in the broadcast
  * task binary — the same distribution cost an explicit broadcast pays. */
case class DenseKeyProbe(child: Expression, bits: Int, words: Array[Long])
    extends UnaryExpression {
  require(bits == 1 || bits == 2 || bits == 8, s"dense_key_probe: bits must be 1, 2 or 8")

  private val shift = Integer.numberOfTrailingZeros(64 / bits) // log2(slots per word)
  private val mask = (1L << bits) - 1

  override def prettyName: String = DenseKeyProbe.Name
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("dense_key_probe key must be BIGINT")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val k = v.asInstanceOf[Long]
      if (k < 0 || (k >>> shift) >= words.length) null
      else {
        val slot = (words((k >>> shift).toInt) >>> ((k & (64 / bits - 1)) * bits)) & mask
        if (slot == 0L) null else java.lang.Integer.valueOf(slot.toInt)
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("words", words, "long[]")
    val c = child.genCode(ctx)
    val w = ctx.freshName("w")
    val off = if (bits == 1) s"${c.value}" else s"((${c.value} & ${64 / bits - 1}L) * $bits)"
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        int ${ev.value} = 0;
        if (!${c.isNull} && ${c.value} >= 0L) {
          final long $w = ${c.value} >>> $shift;
          if ($w < $arr.length) {
            ${ev.value} = (int) (($arr[(int) $w] >>> $off) & ${mask}L);
            ${ev.isNull} = ${ev.value} == 0;
          }
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Wire spelling `dense_key_probe(key, bits, '<base64 longs>')`: the map
  * rides SQL text and Substrait as a string literal and re-parses to the
  * exact expression (TextFunctions.builders registers the name in every
  * session), so the optimized q4/q9/q12/q21 plans cross the unparser and
  * the Substrait sweep. Payloads are small by construction — the
  * broadcast-threshold gate that admits the probe bounds maxKey. */
object DenseKeyProbe {
  val Name = "dense_key_probe"

  /** The call's arguments: the key, `bits` and the encoded payload. */
  def wireArgs(p: DenseKeyProbe): Seq[Expression] =
    Seq(p.child, Literal(p.bits), Literal(ProbePayloadCodec.encodeLongs(p.words)))

  /** Rebuild the probe from resolved call arguments (key, bits, payload). */
  def fromArgs(args: Seq[Expression]): DenseKeyProbe = {
    require(args.size == 3, s"$Name(key, bits, payload) takes 3 arguments, got ${args.size}")
    def literal(e: Expression, what: String): Any =
      Option(if (e.foldable) e.eval() else null).getOrElse(throw new IllegalArgumentException(
        s"$Name: $what must be a non-NULL literal, got ${e.sql}"))
    require(args(1).dataType == IntegerType && args(2).dataType == StringType,
      s"$Name(key, bits INT, payload STRING): got ${args.map(_.dataType.sql).mkString(", ")}")
    DenseKeyProbe(args.head, literal(args(1), "bits").asInstanceOf[Int],
      ProbePayloadCodec.decodeLongs(literal(args(2), "payload").toString))
  }
}
