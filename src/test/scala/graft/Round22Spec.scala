package graft

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.functions.TokenBucketCounts

/** Round-22 optimization pins — same posture as Round21Spec: every native
  * expression / restructured operator introduced this round is held
  * bit-for-bit against the exact formulation it replaced, rebuilt here
  * verbatim, on adversarial inputs the fixture oracles don't reach.
  */
class Round22Spec extends SparkSpec {
  import spark.implicits._

  test("TokenBucketCounts ≡ retired explode+substr(md5,1,3)+groupBy, incl. dups") {
    val data = Seq(
      (1L, Seq("the", "quick", "brown", "fox", "the", "the")), // dup buckets
      (2L, Seq("a")),                                          // single token
      (3L, Seq.empty[String]),                                 // empty array
      (4L, Seq("héllo", "wörld", "naïve", "café"))             // multi-byte UTF-8
    ).toDF("id", "toks")
    val native = data.select(col("id"),
      explode(GraftColumnBridge.column(TokenBucketCounts(
        GraftColumnBridge.expression(col("toks"))))).as("e"))
      .select(col("id"), col("e.b"), col("e.cnt"))
    val retired = data.select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"), substring(md5(col("tok")), 1, 3).as("hex"))
      .groupBy("id", "hex").agg(count(lit(1)).as("cnt"))
      // the native bucket is the integer image of the 3-hex-char prefix
      .select(col("id"), conv(col("hex"), 16, 10).cast("int").as("b"), col("cnt"))
    val n = native.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val r = retired.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(n === r)
    assert(n.exists { case ((id, _), cnt) => id == 1L && cnt >= 3L },
      "duplicate tokens RLE into cnt >= 3")
    assert(!n.keys.exists(_._1 == 3L), "empty array explodes to no rows")
    // Σcnt per doc = token count (n_tokens rides the same pass)
    assert(n.filter(_._1._1 == 1L).values.sum === 6L)
  }

  test("minhashSignaturesFromTokens ≡ aggregate FromShingles reference") {
    import graft.extensions.{Dedup, TextOps}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "a b"),                                          // <3 tokens: no signature
      (4L, "héllo wörld naïve café déjà vu"),               // multi-byte
      (5L, "x y z"),                                        // exactly one shingle
      (6L, null: String),                                   // null text
      (7L, "  ")                                            // whitespace only
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val native = Dedup.minhashSignaturesFromTokens(toks, "doc_id", "toks")
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getString)).toMap
    val agg = Dedup.minhashSignaturesFromShingles(
        Dedup.shingleRows(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getString)).toMap
    assert(native === agg)
    assert(native.keySet === Set(1L, 2L, 4L, 5L), "<3-token/null docs absent")
    assert(native(1L) === native(2L), "identical docs, identical signatures")
  }

  test("MinHashSignature: null element → null signature") {
    import graft.functions.MinHashSignature
    val df = Seq(Tuple1(Seq("a", null, "c", "d"))).toDF("toks")
    val out = df.select(GraftColumnBridge.column(MinHashSignature(
      GraftColumnBridge.expression(col("toks")), 16)).as("s"))
      .head()
    assert(out.isNullAt(0))
  }

  test("TokenBucketCounts: null array → null; null element → null") {
    val df = Seq((1L, null: Seq[String]), (2L, Seq("a", null, "b")))
      .toDF("id", "toks")
    val out = df.select(col("id"),
      GraftColumnBridge.column(TokenBucketCounts(
        GraftColumnBridge.expression(col("toks")))).as("h"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) && out(2L))
  }

  test("ArgMaxCosine: every candidate cosine null (zero norm) → null") {
    import graft.functions.ArgMaxCosine
    val cands = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
    val df = Seq(
      (1L, Seq(0f, 0f), cands),                              // zero-norm vector
      (2L, Seq(1f, 1f), Seq((1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)))), // zero-norm candidates
      (3L, Seq(1f, 1f, 1f), cands),                          // length mismatch
      (4L, Seq(1f, 1f), Seq((1L, Seq(0f, 0f)), (2L, Seq(0f, 1f)))), // one scorable candidate
      (5L, Seq(1f, 1f), Seq.empty[(Long, Seq[Float])])       // no candidates
    ).toDF("id", "v", "c")
    val argmax = GraftColumnBridge.column(ArgMaxCosine(
      GraftColumnBridge.expression(col("v")), GraftColumnBridge.expression(col("c"))))
    // over the local relation the optimizer evaluates the projection
    // interpreted; behind a shuffle it runs whole-stage codegen'd
    for ((input, mode) <- Seq(df -> "interpreted", df.repartition(2) -> "codegen")) {
      val out = input.select(col("id"), argmax.as("cid")).collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(out === Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some(2L), 5L -> None), mode)
    }
  }
}
