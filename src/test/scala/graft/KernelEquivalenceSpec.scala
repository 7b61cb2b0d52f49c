package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions._

/** Two-mode equivalence pin for every native kernel in `graft.functions`.
  * Each kernel runs over the same in-memory rows twice: projected straight
  * over the local relation, where the optimizer folds the projection with
  * interpreted `eval`, and behind `repartition(2)`, where the projection runs
  * inside WholeStageCodegen with codegen fallback switched off (a generated
  * class that fails to compile fails the test instead of silently running
  * interpreted). Both runs must agree value for value.
  *
  * The local relation is built from external `Row`s, so the interpreted run
  * reads `GenericArrayData` while the codegen run reads the shuffle's
  * `UnsafeArrayData`: both `ArrayData` layouts are exercised. Inputs cover
  * null arrays, empty arrays, null elements, multi-byte UTF-8 and each
  * kernel's degenerate input (zero-norm vectors, fewer elements than the
  * window, fewer than 3 tokens for MinHash, an empty candidate list).
  */
class KernelEquivalenceSpec extends SparkSpec {

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def x(name: String): Expression = GraftColumnBridge.expression(col(name))

  private val tokens = frame(
    StructType(Seq(StructField("id", LongType), StructField("x", ArrayType(StringType)))),
    Row(1L, null),
    Row(2L, Seq.empty[String]),
    Row(3L, Seq("a")),
    Row(4L, Seq("a", "b")),
    Row(5L, Seq("a", null, "c", "d")),
    Row(6L, Seq(null, "a")),
    Row(7L, Seq("héllo", "wörld", "naïve", "café", "日本語", "😀")),
    Row(8L, Seq("a", "a", "b", "b", "b", "c")),
    Row(9L, Seq("the", "quick", "la", "the", "der", "und", "le", "the")))

  private val text = frame(
    StructType(Seq(StructField("id", LongType), StructField("x", StringType))),
    Row(1L, null),
    Row(2L, ""),
    Row(3L, "ab"),
    Row(4L, "abc"),
    Row(5L, "héllo wörld"),
    Row(6L, "日本語テキスト😀😀"),
    Row(7L, "aaaaaa aaaaaa"))

  private val buckets = frame(
    StructType(Seq(StructField("id", LongType), StructField("x", ArrayType(IntegerType)))),
    Row(1L, null),
    Row(2L, Seq.empty[Int]),
    Row(3L, Seq(0, 1, 2, 3, 4)),
    Row(4L, Seq(4, 4, 4)),
    Row(5L, Seq(1, null, 2)))

  private val weights = Array(10L, -3L, 7L, 100L, 1L << 40)

  private val floats = ArrayType(FloatType)
  private val candidate = StructType(Seq(
    StructField("cid", LongType), StructField("centroid", floats)))
  private def v(xs: java.lang.Float*): Seq[java.lang.Float] = xs
  private val cands2 = Seq(Row(1L, v(1f, 0f)), Row(2L, v(0f, 1f)))
  private val vectors = frame(
    StructType(Seq(StructField("id", LongType), StructField("a", floats),
      StructField("b", floats), StructField("c", ArrayType(candidate)))),
    Row(1L, null, v(1f, 2f), cands2),                           // null array
    Row(2L, v(), v(), Seq.empty[Row]),                          // empty; no candidates
    Row(3L, v(0f, 0f), v(1f, 0f), cands2),                      // zero-norm vector
    Row(4L, v(1f, 2f, 3f), v(1f, 2f), cands2),                  // length mismatch
    Row(5L, v(0.1f, -0.2f, 0.3f), v(0.5f, 0.25f, -0.125f),
      Seq(Row(1L, v(1f, 0f, 0f)), Row(2L, v(0f, 0.5f, 1f)))),
    Row(6L, v(1f, null), v(1f, null), cands2),                  // null element
    Row(7L, v(1f, 1f), v(-1f, -1f),                             // null candidate
      Seq(null, Row(null, v(1f, 1f)), Row(3L, null),            // and fields;
        Row(4L, v(0f, 1f)), Row(5L, v(1f, 0f)))),               // tie → cid 4
    Row(8L, v(1e-7f, -3.5e3f), v(2.5f, 2.5f), null))            // null candidates

  // a non-nullable input column: codegen must not lean on the child's null flag
  private val dense = frame(
    StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(FloatType, containsNull = false), nullable = false))),
    Row(1L, v()),
    Row(2L, v(0f, 0f)),
    Row(3L, v(0.1f, -0.2f, 0.3f)))

  private val markerSets = Seq(
    Seq("the", "la", "le"), Seq("la", "der", "und"), Seq("wörld", "日本語", "😀"))

  /** (test label, input, kernel over the input's columns). */
  private val kernels: Seq[(String, DataFrame, Expression)] = Seq(
    ("cosine_sim", vectors, CosineSimilarity(x("a"), x("b"))),
    ("argmax_cosine", vectors, ArgMaxCosine(x("a"), x("c"))),
    ("dot_weights", buckets, DotWeights(x("x"), weights)),
    ("hashed_bigram_buckets", tokens, HashedBigramBuckets(x("x"), 8)),
    ("hyperplane_sig", vectors, HyperplaneSignature(x("a"), 3, 16)),
    ("hyperplane_sig non-nullable input", dense, HyperplaneSignature(x("a"), 3, 16)),
    ("marker_hits", tokens, MarkerHits(x("x"), markerSets)),
    ("max_run_length", tokens, MaxRunLength(x("x"))),
    ("minhash_signature", tokens, MinHashSignature(x("x"), 4)),
    ("simhash_long bits=32", tokens, SimHashLong(x("x"), 32)),
    ("simhash_long bits=5", tokens, SimHashLong(x("x"), 5)),
    ("token_bucket_counts", tokens, TokenBucketCounts(x("x"))),
    ("trigram_buckets", text, TrigramBuckets(x("x"), 16)),
    ("winnow_mins", tokens, WinnowMins(x("x"), 3)))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, value) => spark.conf.set(k, value) }
    try body
    finally old.foreach {
      case (k, Some(value)) => spark.conf.set(k, value)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The kernel's `(id, out)` rows by id: interpreted, then codegen'd. */
  private def bothModes(input: DataFrame, kernel: Expression): (Seq[Row], Seq[Row]) = {
    val name = kernel.prettyName
    def run(df: DataFrame): (Seq[Row], String) = {
      val q = df.select(col("id"), GraftColumnBridge.column(kernel).as("out"))
      (q.collect().sortBy(_.getLong(0)).toSeq, q.queryExecution.executedPlan.toString)
    }
    val (interpreted, localPlan) = run(input)
    val (codegen, shuffledPlan) = withConf(
        "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      run(input.repartition(2))
    }
    // the optimizer evaluated the kernel while folding the local relation
    assert(!localPlan.contains(name), localPlan)
    // `*(n)`: the kernel's projection ran fused into WholeStageCodegen
    assert(shuffledPlan.linesIterator.exists(l => l.contains(name) && l.contains("*(")),
      shuffledPlan)
    (interpreted, codegen)
  }

  for ((label, input, kernel) <- kernels)
    test(s"$label: interpreted eval ≡ whole-stage codegen") {
      val (interpreted, codegen) = bothModes(input, kernel)
      assert(interpreted.exists(!_.isNullAt(1)), "every output null: the pin shows nothing")
      assert(interpreted === codegen)
    }

  test("dot_weights: a null bucket gives null in both modes, not weights(0)") {
    val expected = Seq(null, 0L, 114L + (1L << 40), 3 * (1L << 40), null)
    val (interpreted, codegen) = bothModes(buckets, DotWeights(x("x"), weights))
    assert(interpreted.map(_.get(1)) === expected)
    assert(codegen.map(_.get(1)) === expected)
  }
}
