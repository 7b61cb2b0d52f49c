package graft.functions

import org.apache.commons.codec.digest.DigestUtils

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the `bits`-bit SimHash signature of a token
  * array as a LONG. THE canonical home of the SimHash vote formula (one
  * copy on the Spark side — `Dedup.simhashLongs` and `Dedup.simhashesN`
  * both derive from it; the DuckDB oracle mirrors it in SQL):
  *
  *   - vote `j` (1-based, `j ≤ bits ≤ 32`) of a token is +1 when the j-th
  *     hex nibble of the token's md5 has its high bit set (hex digit
  *     `8…f`), −1 otherwise;
  *   - per-position votes sum over ALL tokens (duplicates keep their
  *     multiplicity — integer sums, order-independent, engine-identical);
  *   - signature bit `j` (weight `2^(bits−j)`) is set iff the summed vote
  *     is ≥ 0.
  *
  * A SimHash is a PER-DOCUMENT statistic, so it belongs in the scan stage:
  * the previous formulation exploded (doc, token) rows, md5'd each row,
  * and summed `bits` CASE columns through a two-level hash aggregate — a
  * corpus-token-sized shuffle per signature build, paid by every consumer
  * of the SimHash family (h7, the near-dup pair graph, its four graph
  * analytics). This expression computes the same integer votes in one
  * loop per row: md5 straight to raw digest bytes (nibble high-bit = one
  * shift-and-mask — no hex string, no per-nibble substring), votes in one
  * int array, ZERO exchanges.
  *
  * Null semantics: null array → null; EMPTY array → null — a doc with no
  * tokens has no signature, mirroring the explode+aggregate form where
  * such docs produce no token rows and therefore no output group (callers
  * filter `isNotNull`, reproducing the old absence semantics exactly);
  * any null ELEMENT → null (tokenizers never produce null tokens; mirrors
  * [[MaxRunLength]]).
  */
case class SimHashLong(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 32, "md5 supplies at most 32 hex nibbles")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_long requires array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_long"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): SimHashLong = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    SimHashLong.compute(input.asInstanceOf[ArrayData], bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.SimHashLong.compute($a, $bits)"))
}

object SimHashLong {
  def compute(arr: ArrayData, bits: Int): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val d = DigestUtils.md5(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < bits) {
        // high bit of hex nibble j+1: top of the byte for even j, bit 3 for odd
        val hi = (d(j >> 1) >> (if ((j & 1) == 0) 7 else 3)) & 1
        votes(j) += (if (hi == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) >= 0) sig |= 1L << (bits - 1 - j)
      j += 1
    }
    sig
  }
}
