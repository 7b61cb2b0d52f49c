package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the SORTED DISTINCT hashed-bigram feature
  * bucket set of a token array, with the bias bucket `nBuckets` appended —
  * [[graft.extensions.Classifier]]'s featurization (`js`) as one codegen'd
  * call per row. Bucket of bigram `tok_i ++ " " ++ tok_{i+1}` = first 16
  * bits of its md5 mod `nBuckets` (the engine-portable
  * `conv(substring(md5(bg),1,4),16,10) % n` device on raw digest bytes).
  *
  * Replaces the four-deep interpreted HOF chain
  * `concat(array_sort(array_distinct(transform(shingles2(toks), md5-hash))),
  * array(bias))` — shingles2 itself another interpreted transform over
  * zipped slices — with one pass: md5 per adjacent token pair (digest
  * updated with `tok_i`, `' '`, `tok_{i+1}` — no bigram string is ever
  * allocated), sort, dedupe, append bias. Bit-identical buckets (same md5
  * bytes, same mod; the h116/h121 oracles and ClassifierSpec's driver
  * replay pin them).
  *
  * Null array → null (callers filter `size >= 2` first); < 2 tokens →
  * just the bias bucket (shingles2 yields an empty array there); null
  * ELEMENTS → null (tokenizers never produce them — the MaxRunLength
  * convention).
  */
case class HashedBigramBuckets(child: Expression, nBuckets: Int)
    extends UnaryExpression {
  require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hashed_bigram_buckets requires array<string>, got $t")
  }
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hashed_bigram_buckets"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): HashedBigramBuckets = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    HashedBigramBuckets.compute(input.asInstanceOf[ArrayData], nBuckets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.HashedBigramBuckets.compute($a, $nBuckets)"))
}

object HashedBigramBuckets {
  private val space = Array[Byte](' ')

  /** Null on null elements (mirrors the retired HOF chain's null
    * propagation); otherwise the sorted distinct bucket set + bias.
    */
  def compute(arr: ArrayData, nBuckets: Int): GenericArrayData = {
    val n = arr.numElements()
    val m = math.max(n - 1, 0)
    val buckets = new Array[Int](m)
    if (m > 0) {
      val md = java.security.MessageDigest.getInstance("MD5")
      var prev: UTF8String = null
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        val cur = arr.getUTF8String(i)
        if (i > 0) {
          md.update(prev.getBytes)
          md.update(space)
          md.update(cur.getBytes)
          val d = md.digest()
          buckets(i - 1) = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % nBuckets
        }
        prev = cur
        i += 1
      }
      java.util.Arrays.sort(buckets)
    }
    var distinct = if (m > 0) 1 else 0
    var i = 1
    while (i < m) { if (buckets(i) != buckets(i - 1)) distinct += 1; i += 1 }
    val out = new Array[Int](distinct + 1)
    var o = 0
    i = 0
    while (i < m) {
      if (i == 0 || buckets(i) != buckets(i - 1)) { out(o) = buckets(i); o += 1 }
      i += 1
    }
    out(o) = nBuckets // bias bucket, greater than every hashed bucket
    new GenericArrayData(out)
  }
}
