package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Md5, Sha1, Sha2}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `digest(expr, 'algorithm')` — the reference's algorithm-dispatch crypto
  * entry point (functions/src/crypto/digest.rs), registered as a SQL
  * function that resolves at plan time to the corresponding native
  * (codegen'd) Spark expression: md5 / sha1 / sha2(bits). The algorithm
  * must be a string literal, exactly as in the reference (its DigestFunc
  * errors on non-literal algorithms too). */
object CryptoFunctions {

  private def build(es: Seq[Expression]): Expression = {
    require(es.length == 2, "digest(expr, 'algorithm') takes two arguments")
    val algo = es(1) match {
      case Literal(s: UTF8String, StringType) => s.toString.toLowerCase
      case _ => throw new IllegalArgumentException(
        "digest: algorithm must be a string literal (md5|sha1|sha224|sha256|sha384|sha512)")
    }
    // the reference's digest returns BINARY (functions/src/crypto/digest.rs
    // → Vec<u8>); Spark's md5/sha* return hex strings, so unhex back
    val hexStr = algo match {
      case "md5"            => Md5(es.head)
      case "sha1" | "sha"   => Sha1(es.head)
      case "sha224"         => Sha2(es.head, Literal(224))
      case "sha256"         => Sha2(es.head, Literal(256))
      case "sha384"         => Sha2(es.head, Literal(384))
      case "sha512"         => Sha2(es.head, Literal(512))
      case other => throw new IllegalArgumentException(s"digest: unknown algorithm '$other'")
    }
    org.apache.spark.sql.catalyst.expressions.Unhex(hexStr)
  }

  /** SQL builders. Besides `digest`, the reference exposes each SHA-2
    * width as a standalone function (functions/src/crypto/sha224.rs …
    * sha512.rs) whose binary digest renders as lowercase hex — exactly
    * Spark's `sha2(x, N)` string, so each name resolves to the native
    * codegen'd Sha2. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    ("digest" -> (build _)) +: Seq("sha224" -> 224, "sha256" -> 256,
      "sha384" -> 384, "sha512" -> 512).map { case (name, bits) =>
        name -> ((es: Seq[Expression]) => Sha2(es.head, Literal(bits)))
      }
}
