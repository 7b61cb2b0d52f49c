package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: `Σ_{j ∈ js} weights(j)` — the binary-feature
  * dot product at the heart of every [[graft.extensions.Classifier]]
  * gradient step and scoring pass (`z_q` against the broadcast weight
  * vector). Replaces the interpreted `aggregate(js, 0L, acc +
  * element_at(w, j+1))` fold (higher-order functions are CodegenFallback —
  * a per-element lambda dispatch per document per step) with one codegen'd
  * loop over the int bucket array.
  *
  * The weight array rides the plan as a REFERENCE OBJECT, exactly like the
  * retired ArrayType literal, so the generated source is identical across
  * gradient steps (only the referenced array differs) and the codegen
  * cache hits from step 2 on. Bit-identical sums (same longs, same
  * order-independent addition; ClassifierSpec's driver replay and the
  * h116/h121/h123 oracles pin them).
  *
  * Null array or null element → null, as the fold gave (featurized rows
  * never carry either); elements index 0-based into `weights` and are in
  * range by construction (the featurizer emits `% nBuckets` plus the bias
  * bucket `nBuckets`, and `weights` has `nBuckets + 1` entries).
  */
case class DotWeights(child: Expression, weights: Array[Long])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dot_weights requires array<int>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_weights"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): DotWeights = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    DotWeights.compute(input.asInstanceOf[ArrayData], weights)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("dotWeights", weights, "long[]")
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.DotWeights.compute($a, $wRef)"))
  }

  // Array-valued case-class field: default equals/canonicalization compare
  // arrays by reference, which is correct here — each training step's
  // weights are a distinct model state, and no two DotWeights nodes with
  // different arrays may ever be deduplicated into one.
}

object DotWeights {
  def compute(arr: ArrayData, weights: Array[Long]): java.lang.Long = {
    val n = arr.numElements()
    var z = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      z += weights(arr.getInt(i))
      i += 1
    }
    z
  }
}
