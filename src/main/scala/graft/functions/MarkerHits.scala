package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: marker-word hit counts of a token array
  * against `markerSets` word lists — `counts(k)` = how many tokens (with
  * multiplicity) appear in `markerSets(k)`. THE per-row marker-counting
  * device of the language-ID heuristic (h10) and the stopword-ratio
  * quality signal (h11/h22): one hash lookup per token yields every set's
  * count in a single pass, where the two previous formulations each paid
  * more —
  *
  *   - the explode+groupBy form ([[graft.extensions.TextAnalysis.langId]]
  *     pre-round-21) shuffled a corpus-TOKEN-sized relation to compute a
  *     strictly per-document statistic (the SimHashLong lesson: per-doc
  *     work belongs in the scan, zero exchanges at any corpus size);
  *   - the higher-order-function form (`size(filter(toks, isin(words)))`)
  *     is scan-side but interpreted (HOFs are CodegenFallback), re-walking
  *     the token array once per set with a per-element lambda dispatch.
  *
  * A token appearing in several sets counts toward each (the word lists
  * overlap: "la" is an es AND fr marker) — the lookup returns a bitmask
  * over sets, decoded bit-by-bit.
  *
  * Null semantics, mirroring both retired forms: null array → null (the
  * caller supplies the zero-hit fallback, exactly like the explode_outer
  * row of the aggregate form); null ELEMENTS count as no-hit (isin(null)
  * is null → filtered; tokenizers never produce null tokens).
  */
case class MarkerHits(child: Expression, markerSets: Seq[Seq[String]])
    extends UnaryExpression {
  require(markerSets.nonEmpty && markerSets.size <= 30,
    s"need 1..30 marker sets, got ${markerSets.size}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"marker_hits requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "marker_hits"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): MarkerHits = copy(child = newChild)

  /** token → bitmask of the sets containing it (bit k = markerSets(k)). */
  @transient private lazy val masks: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    markerSets.zipWithIndex.foreach { case (words, k) =>
      words.foreach { w =>
        val u = UTF8String.fromString(w)
        val prev = m.get(u)
        m.put(u, Integer.valueOf(
          (if (prev == null) 0 else prev.intValue()) | (1 << k)))
      }
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    MarkerHits.compute(input.asInstanceOf[ArrayData], masks, markerSets.size)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("markerMasks", masks,
      classOf[java.util.HashMap[UTF8String, Integer]].getName)
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.MarkerHits.compute($a, $mapRef, ${markerSets.size})"))
  }
}

object MarkerHits {
  /** Per-set hit counts of `arr` against `masks` (token → bitmask over the
    * `nSets` sets).
    */
  def compute(arr: ArrayData, masks: java.util.HashMap[UTF8String, Integer],
      nSets: Int): GenericArrayData = {
    val n = arr.numElements()
    val counts = new Array[Int](nSets)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val m = masks.get(arr.getUTF8String(i))
        if (m != null) {
          var mask = m.intValue()
          while (mask != 0) {
            counts(java.lang.Integer.numberOfTrailingZeros(mask)) += 1
            mask &= mask - 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}
