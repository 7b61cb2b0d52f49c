package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED quality classification — the gate every production LLM data
  * pipeline runs that the heuristic scores ([[Quality]], [[LmScore]]) only
  * approximate: a fastText-style linear classifier over hashed bag-of-bigram
  * features (Joulin et al. 2017's model family), trained IN-ENGINE with a
  * fixed number of full-batch gradient-descent steps so the whole training
  * run — not just the final scores — is deterministic and oracle-replayable.
  *
  * Determinism doctrine (the [[graft.queries.Q]] float rules, applied to a
  * trainer): weights live in fixed-point micro-units (longs), the logistic
  * link is the HARD sigmoid `clamp(z/4 + 1/2, 0, 1)` (integer shifts and
  * clamps — no transcendental whose last ulp could differ between engines),
  * per-step gradients are exact integer sums (partition-order independent),
  * and the weight update divides integers with explicit truncate-toward-zero
  * semantics. Every quantity in every step is therefore bit-reproducible in
  * DuckDB, which unrolls the steps as MATERIALIZED CTEs (the
  * [[TextAnalysis.bpeLearn]] multi-round-trainer pattern, h114).
  *
  * Labels come from a deterministic SEED RULE over the documents themselves
  * (weak supervision — the standard bootstrap when no labeled quality set
  * exists; the caller supplies the rule as a Column over the token array),
  * so no external data is needed and the oracle can replay the labels too.
  *
  * 100 TB posture: the featurized corpus `(id, y, feature-bucket array)` is
  * built in ONE scan (tokenize → bigrams → md5-hash → distinct buckets, all
  * codegen'd except the final dedup) and checkpointed; each gradient step is
  * then ONE pass over it — per-row score/error computed scan-side against
  * the BROADCAST weight vector (a (nBuckets+1)-element literal array — the
  * model is tiny by construction, that is the point of feature hashing),
  * followed by a feature-keyed aggregate that partial-aggregates to at most
  * nBuckets+1 rows per partition before a single tiny exchange, and a
  * (nBuckets+1)-row driver collect for the update (the
  * [[Dedup.connectedComponents]] / bpeLearn driver-argmax posture: driver
  * traffic is model-sized, never corpus-sized). No per-doc shuffle exists
  * anywhere in the loop.
  */
object Classifier {

  /** Micro-unit scale: probabilities and weights carry 10⁻⁶ resolution. */
  private val Micro = 1000000L

  /** Hard sigmoid in micro-units: `clamp((z_q + 2·10⁶) div 4, 0, 10⁶)` —
    * the piecewise-linear logistic link `clip(z/4 + 1/2, 0, 1)`. The
    * truncate-vs-floor ambiguity of integer division on negatives is
    * unreachable: every negative intermediate clamps to 0 either way.
    */
  private def hardSigmoidQ(zq: Column): Column =
    least(lit(Micro), greatest(lit(0L),
      floor((zq + lit(2L * Micro)).cast("double") / 4.0).cast("long")))

  /** The featurized corpus: one row per document with ≥ 2 tokens —
    * `(idCol, y:int, js:array<int>)` where `js` is the SORTED distinct set
    * of hashed-bigram feature buckets (binary features: presence, not
    * count — bounds every |z| by nBuckets·|w|max and measured better-
    * conditioned than raw counts at this lr) plus the bias bucket
    * `nBuckets`. Bucket = first 16 bits of `md5(tok_i ++ " " ++ tok_i+1)`
    * mod nBuckets — the [[Sketches]] engine-portable hash device.
    */
  private[graft] def hashedBigramRows(docs: DataFrame, idCol: String,
      textCol: String, seedRule: Column => Column,
      nBuckets: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        seedRule(col("__toks")).cast("int").as("y"),
        bigramBuckets(col("__toks"), nBuckets).as("js"))
  }

  /** The featurizer's bucket-set column — the native codegen'd
    * [[graft.functions.HashedBigramBuckets]] (one md5-per-bigram pass,
    * sort, dedupe, bias append, all inside the row), replacing the
    * interpreted `concat(array_sort(array_distinct(transform(shingles2,
    * md5-hash))), bias)` HOF chain. ONE definition for the single- and
    * multi-head featurizers.
    */
  private def bigramBuckets(toks: Column, nBuckets: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.HashedBigramBuckets(
        org.apache.spark.sql.GraftColumnBridge.expression(toks), nBuckets))

  /** Train `steps` full-batch gradient steps from zero weights and return
    * (final weights in micro-units, the featurized doc relation, N). The
    * update is `w_j ← w_j − truncDiv(g_j, 2N)` with
    * `g_j = Σ_docs∋j (p_q − y·10⁶)` — learning rate 1/2 over the mean
    * gradient, in micro-units.
    */
  private[graft] def trainState(docs: DataFrame, idCol: String,
      textCol: String, seedRule: Column => Column, nBuckets: Int,
      steps: Int): (Array[Long], DataFrame, Long) = {
    require(nBuckets >= 2 && steps >= 1,
      s"need nBuckets >= 2 and steps >= 1, got $nBuckets/$steps")
    // widened BEFORE the featurize projection: the md5-per-bigram work and
    // every gradient pass over the checkpointed rows keep its layout
    val rows = hashedBigramRows(Parallelism.widen(docs), idCol, textCol,
        seedRule, nBuckets)
      .localCheckpoint(eager = false)
    val n = rows.count()
    // the physical scan over the checkpointed rows, built ONCE and reused
    // by every gradient step (schema ordinals: 0 = id, 1 = y, 2 = js)
    val rdd = rows.queryExecution.toRdd
    val w = Array.fill(nBuckets + 1)(0L)
    if (n > 0) {
      for (_ <- 1 to steps) {
        val g = gradient(rdd, w)
        val d = 2L * n
        var j = 0
        while (j < w.length) {
          val gj = g(j)
          // truncate-toward-zero on both signs — matches the oracle's
          // sign-split `//` (floor ambiguity only exists on negatives)
          w(j) -= (if (gj >= 0) gj / d else -((-gj) / d))
          j += 1
        }
      }
    }
    (w, rows, n)
  }

  /** One step's gradient vector in ONE STAGE: a per-partition partial
    * gradient array via `RDD.aggregate` over the checkpointed featurized
    * rows, partials merged as task results stream to the driver. The
    * round-20 formulation ran each step as a two-stage SQL job (project →
    * explode → partial agg → (nBuckets+1)-row exchange → final agg →
    * collect) — correct, but a gradient step's output is model-sized BY
    * CONSTRUCTION, so the exchange and the second stage bought nothing at
    * any scale: per step this pays exactly one task wave and moves
    * (nBuckets+1) longs per task to the driver (the
    * h114/bpeLearn model-sized-driver-traffic posture; at extreme executor
    * counts swap in `treeAggregate(depth = 2)` — one line — to cap
    * simultaneous driver fan-in). The arithmetic is the SAME exact
    * integer math (hard sigmoid = clamped floorDiv, error sums are
    * order-independent longs), so the trained weights are bit-identical —
    * pinned by ClassifierSpec's driver replay and the h116/h121/h122/h123
    * oracles.
    */
  private def gradient(rdd: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow],
      w: Array[Long]): Array[Long] = {
    val wCur = w.clone() // pin this step's model state for the closure
    val len = wCur.length
    val micro = Micro
    rdd.aggregate(new Array[Long](len))(
      (g, row) => {
        val js = row.getArray(2)
        val m = js.numElements()
        var z = 0L
        var i = 0
        while (i < m) { z += wCur(js.getInt(i)); i += 1 }
        // hard sigmoid: clamp((z + 2·10⁶) div 4, 0, 10⁶) — floorDiv equals
        // the SQL floor-of-double-division everywhere the clamps don't
        // already decide (|z + 2·10⁶| < 4·10⁶ is exactly representable)
        val p = math.min(micro,
          math.max(0L, Math.floorDiv(z + 2L * micro, 4L)))
        val err = p - row.getInt(1).toLong * micro
        i = 0
        while (i < m) { g(js.getInt(i)) += err; i += 1 }
        g
      },
      (a, b) => {
        var j = 0
        while (j < len) { a(j) += b(j); j += 1 }
        a
      })
  }

  /** `z_q = Σ_{j ∈ js} w_q[j]` — a scan-side loop over the bucket set
    * against the weight array (binary features, so no multiply), as the
    * native codegen'd [[graft.functions.DotWeights]]. The weights ride the
    * plan as a reference object (like the ArrayType literal of the retired
    * `aggregate(js, 0L, acc + element_at(w, j+1))` fold — but that fold
    * was an interpreted HOF, a per-element lambda dispatch per document
    * per gradient step), so the generated source is identical across steps
    * and the codegen cache hits from step 2 on. `w.clone()` decouples the
    * plan from [[trainState]]'s in-place weight updates — each step's
    * expression must pin that step's model state.
    */
  private def zQ(w: Array[Long]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.DotWeights(
        org.apache.spark.sql.GraftColumnBridge.expression(col("js")),
        w.clone()))

  /** The h116 operator: train a hashed-bigram logistic (hard-sigmoid)
    * quality classifier with `steps` full-batch gradient steps against the
    * `seedRule` labels, then score every trainable document (≥ 2 tokens)
    * with the learned weights.
    *
    * Output: `idCol, y:int, score_q:long, pred:int` — `score_q` the
    * micro-unit hard-sigmoid probability of the positive class, `pred` its
    * 0.5 threshold. ClassifierSpec pins convergence (training loss falls,
    * accuracy beats the majority class) and the decision boundary against
    * a driver-side Scala replay; the h116 oracle replays all `steps`
    * gradient steps bit-for-bit in DuckDB.
    */
  def qualityLrScores(docs: DataFrame, idCol: String, textCol: String,
      seedRule: Column => Column, nBuckets: Int = 256,
      steps: Int = 12): DataFrame = {
    val (w, rows, _) = trainState(docs, idCol, textCol, seedRule, nBuckets, steps)
    rows.select(col(idCol), col("y"),
        hardSigmoidQ(zQ(w)).as("score_q"))
      .withColumn("pred", (col("score_q") >= lit(Micro / 2)).cast("int"))
  }

  /** The h123 operator — CALIBRATION / operating-point selection for the
    * trained gate: [[qualityLrScores]] emits scores and a fixed 0.5
    * threshold, but a production gate picks its threshold from a measured
    * precision/recall trade. Train exactly as [[qualityLrScores]] (same
    * featurize, same steps — the calibration describes THE deployed model,
    * not a retrained cousin), then emit the integer confusion table
    * (tp/fp/fn/tn) of the rule `pred = score_q >= thr` at `thresholds + 1`
    * evenly spaced micro-unit cutoffs `thr_q = i · (10⁶ / thresholds)`,
    * i = 0..thresholds, against the seed labels, plus micro-unit
    * precision/recall/F1 and a `best` flag on the F1-argmax row (ties
    * toward the SMALLEST threshold — the more permissive gate).
    *
    * Determinism: everything after training is integer arithmetic —
    * counts, truncating micro-unit ratios (`(tp·10⁶) div (tp+fp)`), and an
    * integer-compare argmax — so the oracle replays it exactly. Edge
    * conventions (documented, any deterministic choice works): an empty
    * prediction set has precision 10⁶ (no false positives — the vacuous
    * truth), an empty positive class has recall 10⁶, and F1 is 0 when
    * `2·tp + fp + fn = 0`.
    *
    * 100 TB posture: ONE corpus scan past training — the score and its
    * threshold-INDEX bucket (`score_q div step`, so `pred(i) ⇔ bucket ≥ i`
    * — integer floor-div monotonicity) are computed scan-side, then a
    * partial-aggregated groupBy collapses the corpus to ≤ thresholds+1
    * (bucket, pos, neg) rows. Everything downstream — the ≥-join that
    * unfolds buckets into cumulative confusion cells, the totals
    * broadcast, the best-row window — runs on that threshold-count-sized
    * relation, so the single-partition window costs nothing and no
    * per-doc data crosses a second exchange.
    *
    * Output: `thr_q:long, tp, fp, fn, tn, prec_q, rec_q, f1_q, best:int`.
    */
  def calibrate(docs: DataFrame, idCol: String, textCol: String,
      seedRule: Column => Column, nBuckets: Int = 256, steps: Int = 12,
      thresholds: Int = 20): DataFrame = {
    require(thresholds >= 1 && Micro % thresholds == 0,
      s"thresholds must divide $Micro evenly, got $thresholds")
    val stepQ = Micro / thresholds
    val (w, rows, _) = trainState(docs, idCol, textCol, seedRule, nBuckets, steps)
    val hist = rows
      .select(col("y").cast("long").as("y"),
        hardSigmoidQ(zQ(w)).as("score_q"))
      .groupBy(expr(s"score_q div $stepQ").as("b"))
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val totals = hist.agg(sum(col("pos")).as("__p"), sum(col("neg")).as("__n"))
    val idx = docs.sparkSession.range(0L, thresholds + 1L).toDF("i")
    val conf = idx
      .join(hist, col("b") >= col("i"), "left")
      .groupBy("i")
      .agg(coalesce(sum(col("pos")), lit(0L)).as("tp"),
        coalesce(sum(col("neg")), lit(0L)).as("fp"))
      .crossJoin(broadcast(totals))
      .select(
        (col("i") * stepQ).as("thr_q"),
        col("tp"), col("fp"),
        (col("__p") - col("tp")).as("fn"),
        (col("__n") - col("fp")).as("tn"))
      .select(col("thr_q"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0, lit(Micro))
          .otherwise(expr(s"(tp * $Micro) div (tp + fp)")).as("prec_q"),
        when(col("tp") + col("fn") === 0, lit(Micro))
          .otherwise(expr(s"(tp * $Micro) div (tp + fn)")).as("rec_q"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(0L))
          .otherwise(expr(s"(2 * tp * $Micro) div (2 * tp + fp + fn)"))
          .as("f1_q"))
    // best-F1 operating point over the (thresholds+1)-row relation — the
    // single-partition window is threshold-count-sized by construction
    val byF1 = org.apache.spark.sql.expressions.Window
      .orderBy(col("f1_q").desc, col("thr_q"))
    conf.withColumn("best",
        (row_number().over(byF1) === 1).cast("int"))
  }

  /** Score documents with FROZEN weights — the serving-side half of
    * [[qualityLrScores]], for data the trainer never saw: a streaming
    * micro-batch, a fresh crawl slice ([[graft.streaming.StreamClassify]]
    * wires this into `foreachBatch` behind the idempotent epoch sink).
    * Same featurization, same hard sigmoid, no training pass; docs with
    * < 2 tokens are excluded exactly as in training.
    *
    * Output: `idCol, score_q:long, pred:int`.
    */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Long], nBuckets: Int): DataFrame = {
    require(weights.length == nBuckets + 1,
      s"weights must be nBuckets+1 = ${nBuckets + 1} long, got ${weights.length}")
    hashedBigramRows(docs, idCol, textCol, _ => lit(0), nBuckets)
      .select(col(idCol), hardSigmoidQ(zQ(weights)).as("score_q"))
      .withColumn("pred", (col("score_q") >= lit(Micro / 2)).cast("int"))
  }

  /** The multi-head featurized corpus: one row per document with ≥ 2
    * tokens — `(idCol, ys:array<int>, js:array<int>)` where `ys(k)` is the
    * k-th seed rule's label and `js` is the SAME hashed-bigram bucket set
    * as [[hashedBigramRows]] (features are shared across heads — the
    * one-scan point of the multi-head form).
    */
  private[graft] def hashedBigramRowsMulti(docs: DataFrame, idCol: String,
      textCol: String, seedRules: Seq[Column => Column],
      nBuckets: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        array(seedRules.map(r => r(col("__toks")).cast("int")): _*).as("ys"),
        bigramBuckets(col("__toks"), nBuckets).as("js"))
  }

  /** Train K heads in the [[trainState]] loop structure, ONE corpus scan
    * per step for ALL heads: the per-row error of every head is computed
    * in one projection against K broadcast weight literals, the bucket set
    * explodes once, and a single feature-keyed aggregate carries K error
    * sums per bucket — the gradient aggregate keyed by (head, bucket),
    * laid out as K columns so the exchange stays (nBuckets+1)-row-sized.
    * Each head's arithmetic is EXACTLY [[trainState]]'s (same featurize,
    * same hard sigmoid, same truncating update over the same N), so head k
    * of the multi-head training equals an independent single-rule training
    * bit-for-bit (ClassifierSpec pins it).
    */
  private[graft] def trainStateMulti(docs: DataFrame, idCol: String,
      textCol: String, seedRules: Seq[Column => Column], nBuckets: Int,
      steps: Int): (Array[Array[Long]], DataFrame, Long) = {
    require(seedRules.nonEmpty, "need at least one head")
    require(nBuckets >= 2 && steps >= 1,
      s"need nBuckets >= 2 and steps >= 1, got $nBuckets/$steps")
    // widened before the featurize projection, as in trainState
    val rows = hashedBigramRowsMulti(Parallelism.widen(docs), idCol, textCol,
        seedRules, nBuckets)
      .localCheckpoint(eager = false)
    val n = rows.count()
    // ordinals: 0 = id, 1 = ys (array<int>, one label per head), 2 = js
    val rdd = rows.queryExecution.toRdd
    val k = seedRules.size
    val w = Array.fill(k)(Array.fill(nBuckets + 1)(0L))
    if (n > 0) {
      for (_ <- 1 to steps) {
        val g = gradientMulti(rdd, w)
        val d = 2L * n
        var h = 0
        while (h < k) {
          var j = 0
          while (j < w(h).length) {
            val gj = g(h)(j)
            w(h)(j) -= (if (gj >= 0) gj / d else -((-gj) / d))
            j += 1
          }
          h += 1
        }
      }
    }
    (w, rows, n)
  }

  /** One step's K gradient vectors in ONE STAGE — [[gradient]]'s
    * RDD.aggregate shape with K partial arrays per partition (the bucket
    * set is walked once per head against that head's pinned weights; K
    * error terms accumulate into K arrays). Task results are K·(nBuckets+1)
    * longs — still model-sized driver traffic. Bit-identical to K
    * independent single-head steps (ClassifierSpec pins it).
    */
  private def gradientMulti(rdd: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow],
      w: Array[Array[Long]]): Array[Array[Long]] = {
    val k = w.length
    val len = w(0).length
    val wCur = w.map(_.clone())
    val micro = Micro
    rdd.aggregate(Array.fill(k)(new Array[Long](len)))(
      (g, row) => {
        val ys = row.getArray(1)
        val js = row.getArray(2)
        val m = js.numElements()
        var h = 0
        while (h < k) {
          val wh = wCur(h)
          var z = 0L
          var i = 0
          while (i < m) { z += wh(js.getInt(i)); i += 1 }
          val p = math.min(micro,
            math.max(0L, Math.floorDiv(z + 2L * micro, 4L)))
          val err = p - ys.getInt(h).toLong * micro
          val gh = g(h)
          i = 0
          while (i < m) { gh(js.getInt(i)) += err; i += 1 }
          h += 1
        }
        g
      },
      (a, b) => {
        var h = 0
        while (h < k) {
          val ah = a(h); val bh = b(h)
          var j = 0
          while (j < len) { ah(j) += bh(j); j += 1 }
          h += 1
        }
        a
      })
  }

  /** The h121 operator — a ONE-VS-REST policy filter bank from the same
    * trainer machinery: K deterministic seed rules (quality, topicality,
    * formality — whatever policies the pipeline gates on) train K weight
    * vectors over SHARED hashed-bigram features in one pass structure, and
    * scoring runs all K heads in one scan with an argmax routing decision —
    * the multi-policy gate a real pipeline runs as ONE corpus pass instead
    * of K.
    *
    * Output: `idCol`, then per head `y_<name>:int` and
    * `score_q_<name>:long`, then `pred_head` — the argmax head by
    * hard-sigmoid score, ties toward the alphabetically-first head name
    * (implemented as array_sort over (−score, name) structs — integer
    * fields, so the tie-break is engine-exact).
    */
  def multiPolicyScores(docs: DataFrame, idCol: String, textCol: String,
      heads: Seq[(String, Column => Column)], nBuckets: Int = 256,
      steps: Int = 8): DataFrame = {
    require(heads.map(_._1).distinct.size == heads.size,
      "head names must be distinct")
    val (w, rows, _) =
      trainStateMulti(docs, idCol, textCol, heads.map(_._2), nBuckets, steps)
    val k = heads.size
    val scored = rows.select(
      col(idCol) +: col("ys") +:
        (0 until k).map(h => hardSigmoidQ(zQ(w(h))).as(s"__s$h")): _*)
    val cand = array((0 until k).map(h =>
      struct((-col(s"__s$h")).as("ns"), lit(heads(h)._1).as("h"))): _*)
    scored
      .withColumn("pred_head", element_at(array_sort(cand), 1).getField("h"))
      .select(
        col(idCol) +:
          ((0 until k).map(h =>
            element_at(col("ys"), h + 1).as(s"y_${heads(h)._1}")) ++
           (0 until k).map(h => col(s"__s$h").as(s"score_q_${heads(h)._1}")) :+
           col("pred_head")): _*)
  }
}
