package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native Catalyst expression: length of the longest run of consecutive
  * equal elements in an `array<string>`. Over a SORTED array (equal values
  * adjacent — `sort_array` is the canonical producer) this is the maximum
  * multiplicity of any value, i.e. the per-row `max(count)` of a value
  * histogram — without building the histogram.
  *
  * This is the scan-side kernel behind the per-document `top_count` of the
  * Gopher repetition metrics (reference delegates quality filtering to its
  * warehouse, `ReadMe.md:85-94`; the metric itself is Rae et al. 2021
  * §A1.1). The alternatives both lose at scale: an explode → groupBy(doc,
  * token) → max(count) pipeline shuffles a (doc, token) pair stream two
  * aggregation levels deep, and a higher-order `aggregate` lambda is
  * interpreted per element (no doGenCode). This expression is one loop
  * called from inside WholeStageCodegen, so the whole metric family stays
  * in the scan stage.
  *
  * Null semantics: null array → null; any null ELEMENT → null (tokenizers
  * never produce null tokens, so a null element means the caller passed the
  * wrong column — propagating null is the defensive choice, mirroring
  * [[CosineSimilarity]]). Empty array → 0.
  */
case class MaxRunLength(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"max_run_length requires array<string>, got $t")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "max_run_length"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): MaxRunLength = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    MaxRunLength.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.MaxRunLength.compute($a)"))
}

object MaxRunLength {
  def compute(arr: ArrayData): java.lang.Integer = {
    val n = arr.numElements()
    if (n == 0) return 0
    if (arr.isNullAt(0)) return null
    var prev = arr.getUTF8String(0)
    var run = 1
    var best = 1
    var i = 1
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val cur = arr.getUTF8String(i)
      if (cur.equals(prev)) run += 1 else run = 1
      if (run > best) best = run
      prev = cur
      i += 1
    }
    best
  }
}
