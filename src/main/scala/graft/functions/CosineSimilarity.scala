package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two `array<float>`
  * columns, with whole-stage codegen.
  *
  * Replaces the higher-order-function composition
  * `aggregate(zip_with(a,b,*), 0.0, +) / (sqrt(aggregate(a,0.0,+x²)) * ...)`
  * on the similarity hot paths: HOF lambdas are interpreted (no doGenCode)
  * and allocate an intermediate product array per row, where this expression
  * is one fused loop, called from inside WholeStageCodegen. Numeric
  * semantics are IDENTICAL to the HOF form (and to the DuckDB oracle's
  * `list_aggregate('sum')`): per-index double promotion, strictly sequential
  * index-order accumulation of dot/norm sums, then dot/(√na·√nb) — so
  * oracle hashes are unchanged (asserted bit-for-bit in SimilaritySpec).
  *
  * Null semantics: null array → null; mismatched lengths, a null element, or
  * a zero-norm (or empty) input vector → null. The zero-norm guard is a
  * deliberate improvement over the HOF form, whose IEEE 0.0/0.0 yields NaN —
  * and Spark orders NaN above every real double, so a zero vector would rank
  * first in every top-k and pass every `>= threshold` filter. Degenerate
  * input has no defined cosine; null propagates instead of poisoning ranks.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => Kernels.callCode(ctx, ev,
      s"graft.functions.CosineSimilarity.compute($a, $b)"))
}

object CosineSimilarity {
  /** The one cosine implementation — the retired HOF form's op order:
    * per-index double promotion, strictly sequential accumulation,
    * dot/(√na·√nb). Composite expressions ([[ArgMaxCosine]]) reuse it
    * instead of copying the arithmetic. Returns null on length mismatch,
    * null element, or zero-norm input.
    */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
