package graft.functions

import org.apache.commons.codec.digest.DigestUtils

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: md5-hex each element of an `array<string>`,
  * slide a width-`w` window over the hashes, and return the DISTINCT
  * full-window minima in first-occurrence order — the winnowing fingerprint
  * SET of the row. Minima are `min` under binary UTF8 ordering (the same
  * ordering as Spark's `min` over StringType and DuckDB's `min` over
  * VARCHAR); with `n` input elements there are `max(0, n-w+1)` windows.
  *
  * This is the per-document kernel of winnowing fingerprints (Schleimer,
  * Wilkerson, Aiken 2003, "Winnowing: Local Algorithms for Document
  * Fingerprinting" — the title says it: the scheme is LOCAL to a document).
  * The relational alternatives all lose:
  *
  *   - a windowed aggregation (`min(h) OVER (PARTITION BY doc ORDER BY pos
  *     ROWS w-1 FOLLOWING)` after a posexplode) pays a full hash-partition
  *     exchange plus a per-partition sort — plus a second exchange for the
  *     distinct — just to reassemble rows that started adjacent in the
  *     SAME document row;
  *   - `transform(shingles, s -> md5(s))` + `array_distinct` keeps the
  *     plan exchange-free but goes INTERPRETED: higher-order lambdas and
  *     `array_distinct` over strings are CodegenFallback expressions, and
  *     a fallback node evaluates its whole subtree interpreted — measured
  *     SLOWER than the windowed form at sf0.1.
  *
  * Fusing hash + window-min + dedup into one codegen'd loop keeps the
  * per-element cost at the `DigestUtils.md5Hex` call itself — the identical
  * call Spark's `Md5` expression generates, so hash values (lowercase hex
  * of the UTF-8 bytes) are bit-identical to `md5(cast(shingle AS BINARY))`
  * in both engines. The window scan is O(n·w) — for fingerprint windows
  * (w≈4) the constant beats a deque-based O(n) with its per-element
  * allocation — and the dedup is one JDK HashSet over at most n-w+1
  * already-computed hashes.
  *
  * Null semantics: null array → null; any null ELEMENT → null (shingle
  * pipelines never produce null entries — a null element means the caller
  * passed the wrong column; mirrors [[MaxRunLength]]). Fewer elements than
  * `w` → empty array, matching the "full windows only" contract of the
  * windowed form's `lead(h, w-1) IS NOT NULL` guard.
  */
case class WinnowMins(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, "window width must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_mins requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_mins"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): WinnowMins = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    WinnowMins.compute(input.asInstanceOf[ArrayData], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.WinnowMins.compute($a, $w)"))
}

object WinnowMins {
  def compute(arr: ArrayData, w: Int): GenericArrayData = {
    val n = arr.numElements()
    val hashes = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      hashes(i) = UTF8String.fromString(
        DigestUtils.md5Hex(arr.getUTF8String(i).getBytes))
      i += 1
    }
    val m = math.max(0, n - w + 1)
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[AnyRef]()
    i = 0
    while (i < m) {
      var mn: UTF8String = hashes(i)
      var j = i + 1
      while (j < i + w) {
        if (hashes(j).compareTo(mn) < 0) mn = hashes(j)
        j += 1
      }
      if (seen.add(mn)) out.add(mn): Unit
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}
