package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the hashed character-trigram histogram of a
  * string as `array<struct<b:int, cnt:long>>`, sorted by bucket — one row
  * per DISTINCT bucket with its occurrence count. Bucket of a trigram =
  * first 16 bits of `md5(trigram)` mod `nBuckets` (the engine-portable
  * `conv(substring(md5(x),1,4),16,10) % n` device, computed on the raw
  * digest bytes).
  *
  * This is [[graft.extensions.TextAnalysis.nbLangId]]'s per-document
  * feature histogram. A histogram of a single document is a strictly
  * per-row statistic, so it belongs in the scan (the SimHashLong /
  * MarkerHits doctrine): the previous formulation exploded one row per
  * trigram through an interpreted `transform(sequence(...))` lambda whose
  * body ran the md5 → 32-char hex encode → substring → base-16 parse chain
  * per trigram, then paid a corpus-TRIGRAM-sized exchange for the
  * `groupBy(doc, b).count()` — both removed here: one codegen'd call per
  * row walks the UTF-8 bytes once (md5 over byte slices, no hex detour, no
  * per-trigram string allocation), sorts the ~(chars−2) bucket ids, and
  * run-length-encodes them. Output rows = the old aggregate's rows
  * bit-for-bit (same md5, same mod — the h117 oracle pins them).
  *
  * Trigram positions are CODE-POINT indexed (i, i+1, i+2 for i = 1 ..
  * numChars−2), exactly like `substr(t, i, 3)`; multi-byte characters
  * hash their full UTF-8 byte sequence, identical to
  * `md5(t.substr(i, 3))`.
  *
  * Null string → null; fewer than 3 code points → empty array (the
  * caller's `length(t) >= 3` filter makes it unreachable in nbLangId).
  */
case class TrigramBuckets(child: Expression, nBuckets: Int)
    extends UnaryExpression {
  require(nBuckets >= 2 && nBuckets <= 65536,
    s"nBuckets must be in [2, 65536] (16 md5 bits), got $nBuckets")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"trigram_buckets requires string, got $t")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("b", IntegerType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "trigram_buckets"
  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): TrigramBuckets = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    TrigramBuckets.compute(input.asInstanceOf[UTF8String], nBuckets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernels.callCode(ctx, ev,
      s"graft.functions.TrigramBuckets.compute($a, $nBuckets)"))
}

object TrigramBuckets {
  /** One pass over the UTF-8 bytes: code-point boundary offsets, md5 per
    * 3-code-point byte slice, sort + run-length-encode the bucket ids.
    */
  def compute(t: UTF8String, nBuckets: Int): GenericArrayData = {
    val bytes = t.getBytes
    // code-point start offsets (ASCII fast path: offsets(i) = i)
    val nb = bytes.length
    val offsets = new Array[Int](nb + 1)
    var nChars = 0
    var off = 0
    while (off < nb) {
      offsets(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    offsets(nChars) = nb
    val m = nChars - 2
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val buckets = new Array[Int](m)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < m) {
      val s = offsets(i)
      md.update(bytes, s, offsets(i + 3) - s)
      val d = md.digest() // digest() resets the instance for the next update
      buckets(i) = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % nBuckets
      i += 1
    }
    java.util.Arrays.sort(buckets)
    // run-length encode into (b, cnt) struct rows
    var distinct = 1
    i = 1
    while (i < m) { if (buckets(i) != buckets(i - 1)) distinct += 1; i += 1 }
    val rows = new Array[Any](distinct)
    var out = 0
    var runStart = 0
    i = 1
    while (i <= m) {
      if (i == m || buckets(i) != buckets(runStart)) {
        rows(out) = InternalRow(buckets(runStart), (i - runStart).toLong)
        out += 1
        runStart = i
      }
      i += 1
    }
    new GenericArrayData(rows)
  }
}
