package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the id of the candidate vector with the
  * HIGHEST cosine similarity to `left` — `left` an `array<float>` vector,
  * `right` an `array<struct<cid:long, centroid:array<float>>>` candidate
  * list (the caller sorts it by cid ascending). Ties and strictness follow
  * the retired aggregate exactly: a candidate replaces the incumbent only
  * when its cosine is STRICTLY greater, so the smallest cid wins ties —
  * `max_by(cid, struct(acos, -cid))` semantics. Candidates whose cosine is
  * null (length mismatch, null element, zero norm) are skipped like
  * `max_by` skips null ordering keys; if no candidate has a cosine (or the
  * list is empty), the result is null. In particular a zero-norm `left`
  * gives every candidate a null cosine, so its result is null, not the
  * first cid.
  *
  * This is the nearest-centroid assignment of every IVF/k-means path
  * (h15/h56/h64/h94/h104/h108/h110): an argmax over a BOUNDED candidate set
  * (nCentroids ≈ 16) is strictly per-row work, so it belongs in the scan.
  * The retired form joined every vector against the broadcast centroid
  * relation (a nCentroids× row fan-out) and re-assembled per-vector rows
  * with `max_by(cid, struct(acos, -cid))` + `first(payload)` — and neither
  * max_by-over-struct nor first-over-array has a fixed-width mutable
  * buffer, so that aggregate was a SortAggregate: the fanned-out relation
  * sorted on both sides of a full exchange. Here the scan emits the
  * finished cid: no fan-out, no exchange, no sort. The cosine arithmetic is
  * [[CosineSimilarity.compute]] itself (one shared implementation), so
  * scores are bit-identical to the retired form and the oracle replay.
  */
case class ArgMaxCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(FloatType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "argmax_cosine requires (array<float>, " +
          s"array<struct<cid:long, centroid:array<float>>>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "argmax_cosine"
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgMaxCosine =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    ArgMaxCosine.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => Kernels.callCode(ctx, ev,
      s"graft.functions.ArgMaxCosine.compute($a, $b)"))
}

object ArgMaxCosine {
  /** Candidate-order scan, strictly-greater replacement (ties → the
    * earliest candidate, i.e. the smallest cid when the caller sorts by
    * cid).
    */
  def compute(vec: ArrayData, cents: ArrayData): java.lang.Long = {
    val k = cents.numElements()
    var best: java.lang.Long = null
    var bestCos = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      if (!cents.isNullAt(i)) {
        val row = cents.getStruct(i, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val c = CosineSimilarity.compute(vec, row.getArray(1))
          if (c != null && (best == null || c.doubleValue() > bestCos)) {
            best = row.getLong(0)
            bestCos = c.doubleValue()
          }
        }
      }
      i += 1
    }
    best
  }
}
