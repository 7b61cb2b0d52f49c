package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd random-hyperplane LSH signature: the `nPlanes`-bit
  * bucket string of a float vector under LSH table `table`.
  *
  * Bit p is sign(Σᵢ s(table, p, i) · qᵢ) where
  *   - s(t, p, i) ∈ {+1, −1} is a Rademacher hyperplane component — the
  *     high bit of the first md5 nibble of "t:p:i" (sign random projections
  *     with ±1 components are a standard cosine-LSH family, and md5 nibbles
  *     are the repo's engine-portable pseudo-randomness: DuckDB replays the
  *     exact construction in SQL, giving h9 a hard oracle);
  *   - qᵢ = floor(vᵢ·10⁶ + 0.5) is the micro-unit fixed-point quantization
  *     (same as the IVF k-means step) — the dot is EXACT integer arithmetic,
  *     so the sign is independent of accumulation order across engines and
  *     partitionings, where a double fold could flip near-zero bits.
  *
  * Sign rows are md5-derived once per (table, plane) and cached process-wide
  * ([[HyperplaneSignature.signRow]]); per row the loop is one quantization
  * pass plus nPlanes exact integer dots — no hashing in the hot loop, no
  * interpreted lambdas.
  *
  * Scale note: signatures are computed scan-side (map-only); only
  * (id, bucket) pairs shuffle for the LSH bucket join.
  */
case class HyperplaneSignature(child: Expression, table: Int, nPlanes: Int)
    extends UnaryExpression {

  require(nPlanes > 0 && nPlanes <= 64, s"nPlanes must be in [1,64], got $nPlanes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig requires array<float>, got $t")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "hyperplane_sig"
  override def nullable: Boolean = true // a null element gives null
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSignature.compute(input.asInstanceOf[ArrayData], table, nPlanes)

  // `table` is read off the referenced expression, not spliced, so every
  // LSH table shares one generated class
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val self = ctx.addReferenceObj("hyperplaneSig", this,
        classOf[HyperplaneSignature].getName)
      Kernels.callCode(ctx, ev,
        s"graft.functions.HyperplaneSignature.compute($v, $self.table(), $nPlanes)")
    })
}

object HyperplaneSignature {

  def compute(v: ArrayData, table: Int, nPlanes: Int): UTF8String = {
    val n = v.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      q(i) = math.floor(v.getFloat(i).toDouble * 1e6 + 0.5).toLong
      i += 1
    }
    val bits = new Array[Char](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val r = signRow(table, p, n)
      var dot = 0L
      var j = 0
      while (j < n) { dot += r(j) * q(j); j += 1 }
      bits(p) = if (dot >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromString(new String(bits))
  }

  // (table, plane) -> ±1 component row, grown in powers of two on demand.
  // md5 is only ever computed here — once per component per process.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Byte]]()

  /** The ±1 Rademacher row of hyperplane (`table`, `plane`), length ≥
    * `minLen`: component d is +1 iff the first hex nibble of
    * md5("table:plane:d") has its high bit set (nibble in '8'..'f').
    */
  def signRow(table: Int, plane: Int, minLen: Int): Array[Byte] = {
    val key = (table, plane)
    val cur = cache.get(key)
    if (cur != null && cur.length >= minLen) cur
    else {
      val n = math.max(64, java.lang.Integer.highestOneBit(
        math.max(1, minLen - 1)) * 2)
      val md = java.security.MessageDigest.getInstance("MD5")
      val fresh = Array.tabulate[Byte](n) { d =>
        md.reset()
        val h = md.digest(s"$table:$plane:$d".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1 else -1
      }
      cache.put(key, fresh)
      fresh
    }
  }
}
