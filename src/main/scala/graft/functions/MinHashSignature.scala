package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `numHashes`-value MinHash signature of a
  * token array over its 3-gram word shingles, as `array<string>` of 32-char
  * lowercase md5 hex strings — `mh_k = min over shingles s of
  * md5(k ++ ":" ++ s)`, the exact value
  * [[graft.extensions.Dedup.minhashSignaturesFromShingles]] aggregates
  * (same md5 bytes; lexicographic order on lowercase hex equals unsigned
  * byte order on the digest, so the min is compared on raw digests and only
  * the `numHashes` winners are hex-encoded).
  *
  * A signature of one document is a strictly per-row statistic, so it
  * belongs in the scan (the TrigramBuckets doctrine). The aggregate form it
  * replaces in the hot paths was a SortAggregate — `min` over a string
  * column has no fixed-width mutable buffer, so Spark cannot hash-aggregate
  * it: the corpus-shingle relation was SORTED by doc on both sides of a
  * full exchange, per consumer. Here the scan emits finished signatures:
  * no exchange, no sort, no per-shingle row × numHashes fan-out.
  *
  * The md5 input bytes are streamed straight from the token UTF-8 bytes
  * (`"k:"` prefix, tok_i, ' ', tok_{i+1}, ' ', tok_{i+2}) — no shingle
  * string is ever allocated.
  *
  * Null array → null; fewer than 3 tokens → null (no shingle is defined,
  * matching the aggregate form where such docs simply have no rows —
  * callers filter nulls to reproduce that absence); null ELEMENT → null
  * (tokenizers never produce them — the HashedBigramBuckets convention).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= 64,
    s"numHashes must be in [1, 64], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires array<string>, got $t")
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.MinHashSignature.compute($a, $numHashes)"))
}

object MinHashSignature {
  private val space = Array[Byte](' ')
  private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")
  // "0:", "1:", … — one prefix byte array per hash index, shared across rows
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(64)(k => s"$k:".getBytes("US-ASCII"))

  def compute(arr: ArrayData, numHashes: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n < 3) return null
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val best = new Array[Array[Byte]](numHashes)
    val md = java.security.MessageDigest.getInstance("MD5")
    i = 0
    while (i <= n - 3) {
      var k = 0
      while (k < numHashes) {
        md.update(prefixes(k))
        md.update(toks(i)); md.update(space)
        md.update(toks(i + 1)); md.update(space)
        md.update(toks(i + 2))
        val d = md.digest() // digest() resets the instance
        if (best(k) == null ||
            java.util.Arrays.compareUnsigned(d, best(k)) < 0) best(k) = d
        k += 1
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var k = 0
    while (k < numHashes) {
      val d = best(k)
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexDigits((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = hexDigits(d(j) & 0xf)
        j += 1
      }
      out(k) = UTF8String.fromBytes(hex)
      k += 1
    }
    new GenericArrayData(out)
  }
}
