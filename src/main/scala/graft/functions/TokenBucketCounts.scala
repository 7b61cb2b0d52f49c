package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: the hashed-UNIGRAM bucket histogram of a
  * token array as `array<struct<b:int, cnt:long>>`, sorted by bucket — one
  * row per DISTINCT bucket with its occurrence count. Bucket of a token =
  * its md5's first 3 hex digits (12 bits, 4096 values), read off the raw
  * digest bytes — the integer image of the engine-portable
  * `substr(md5(term), 1, 3)` device (bijective with the hex string, so
  * every grouping/join keyed on it is isomorphic).
  *
  * This is [[graft.extensions.Mixing.dsirWeights]]'s per-document feature
  * histogram (h55/h60). A histogram of one document is a strictly per-row
  * statistic, so it belongs in the scan (the TrigramBuckets / SimHashLong
  * doctrine): the previous formulation exploded one row per corpus TOKEN
  * and paid a corpus-token-sized partial-aggregate exchange for
  * `groupBy(doc, bucket).count()` — and dsirWeights' three consumers
  * (per-bucket LM counts, totals, per-doc weights) re-ran that
  * explode+aggregate chain per consumer. One codegen'd call per row md5s
  * each token (no hex detour, no per-token row), sorts the bucket ids, and
  * run-length-encodes them. `Σ cnt` = the doc's token count, so callers
  * read `n_tokens` off the same pass.
  *
  * Null array → null (SQL null propagation, matching
  * `explode(tokens(text))` emitting nothing for null text — callers treat
  * both as document-absent); empty array → empty histogram (explode yields
  * no rows, same absence); null ELEMENT → null (tokenizers never produce
  * them — the HashedBigramBuckets convention).
  */
case class TokenBucketCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_bucket_counts requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("b", IntegerType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "token_bucket_counts"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): TokenBucketCounts = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    TokenBucketCounts.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.TokenBucketCounts.compute($a)"))
}

object TokenBucketCounts {
  /** md5 per token → first-12-bit bucket, sort, run-length-encode. */
  def compute(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val buckets = new Array[Int](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.update(arr.getUTF8String(i).getBytes)
      val d = md.digest() // digest() resets the instance for the next update
      // first 3 hex digits = high nibbles of d(0), d(0) low, d(1) high
      buckets(i) = ((d(0) & 0xff) << 4) | ((d(1) & 0xff) >>> 4)
      i += 1
    }
    java.util.Arrays.sort(buckets)
    var distinct = 1
    i = 1
    while (i < n) { if (buckets(i) != buckets(i - 1)) distinct += 1; i += 1 }
    val rows = new Array[Any](distinct)
    var out = 0
    var runStart = 0
    i = 1
    while (i <= n) {
      if (i == n || buckets(i) != buckets(runStart)) {
        rows(out) = InternalRow(buckets(runStart), (i - runStart).toLong)
        out += 1
        runStart = i
      }
      i += 1
    }
    new GenericArrayData(rows)
  }
}
