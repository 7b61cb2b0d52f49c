package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-validation harness (dev tool): times the dedup/ANN headliners on
  * sf0.1 and on a 10× blow-up of it, to check the 100 TB posture claims
  * empirically — near-linear growth, no super-linear candidate explosion
  * (the failure mode the pre-fix h41 had).
  *
  * The blow-up keeps the workload distribution honest: each of the 10
  * document copies gets a per-copy token prefix, so copy vocabularies are
  * DISJOINT — near-dup structure within a copy mirrors the original corpus
  * and no artificial cross-copy duplicates exist (a verbatim 10× copy would
  * make every doc a 10-way duplicate and measure the combinatorics of the
  * fixture, not the engine). Embeddings are rotated per copy for the same
  * reason. Usage: Test/runMain graft.tools.ScaleBench [sfDir] [mode] where
  * mode is `<N>x` (per-query-build dedup pillars at N×, e.g. 30x, 100x),
  * `<N>xmat` (materialize-once steady-state at N×), `<N>xmatbkt` (same,
  * but the shared constructions persist as bucketed parquet tables —
  * exchange-count evidence in the JSON), `tail<N>x` (the steady-state
  * tail: blocked fuzzy linkage, novelty, column profile, decontamination,
  * bigram LM, basket lift, novelty curve, PPS sampling, budget fill at N×), `hub<N>k` (adversarial-skew triangle
  * enumeration, hub degree N·1000), `chain<N>k` (adversarial-diameter
  * connected components, N·1000-node path), `stream<B>` (B×100k-event
  * micro-batches through the stateful streaming operators — throughput +
  * state-row series), `skewjoin` / `skewagg` (salted-vs-plain head-to-head
  * under a 50%-one-key distribution), `video<N>x` (AVI decode + frame
  * sampling over real containers at 1× vs N× — byte-linearity evidence),
  * `mjpeg<N>x` (same harness over MJPG containers — the ImageIO JPEG
  * frame-decode branch), `audio<N>x` (WAV decode + 2:1 resample + sample
  * sums at 1× vs N× — the audio member of the per-modality series),
  * `margin<N>x` (h104's exact vs IVF-fed margin-mining scorers at 1× vs
  * N× embeddings — the swap-the-scorer-at-scale evidence), `ivfdrift<N>x`
  * (frozen-centroid append vs rebuild: per-batch recall, cost, and the
  * ivfStaleness profile as N−1 rotated batches accumulate — the
  * rebuild-cadence crossover evidence), `skewband<N>x` (budgetFill's
  * two-level scan under a degenerate all-equal score distribution:
  * balanced vs one-band-degenerate vs tie-split, timed at 1× and N×);
  * no mode = the 10× suite. Blow-ups are written under `target/` of the
  * working directory.
  */
object ScaleBench {

  private val scaleDir = "target/scale10"
  private def scaleNDir(copies: Int) = s"target/scale$copies"

  // executed-plan shuffle walk — promoted to main (round 11) so Round11Spec
  // can pin record ceilings against the same measurement ScaleBench reports
  private def collectShuffles(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
    graft.plans.ShuffleMetrics.collectShuffles(p)

  /** N disjoint-vocabulary copies of the documents table (per-copy token
    * prefix c$k — see the object scaladoc for why verbatim copies would
    * measure fixture combinatorics, not the engine).
    */
  private def buildDocsNx(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docsN = (0 until copies).map { k =>
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      docs.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(lit(s"c$k"), regexp_replace(norm, " ", s" c$k")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    docsN.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
  }

  private def build10x(spark: SparkSession, sfDir: String): Unit = {
    buildDocsNx(spark, sfDir, scaleDir, 10)
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val embs10 = (0 until 10).map { k =>
      embs.select(
        (col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embs10.repartition(8).write.mode("overwrite")
      .parquet(s"$scaleDir/embeddings.parquet")
  }

  /** 10× transactional star, scaled the way each operator's input grows:
    * fact keys (orderkey) and ranked-entity keys (custkey, partkey,
    * user_id) shift per copy — 10× orders/lineitem/events AND 10× distinct
    * customers/parts/users (the two-phase ranking inputs) — while
    * l_suppkey stays put so the supplier/nation dim joins stay intact
    * (concentration's per-group output is dim-sized by design). Referential
    * integrity holds within each copy (orderkey shifts match on both
    * sides).
    */
  private def buildStar10x(spark: SparkSession, sfDir: String): Unit = {
    def blow(table: String, shifts: Map[String, Long]): Unit = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val out = (0 until 10).map { k =>
        shifts.foldLeft(base) { case (df, (c, step)) =>
          df.withColumn(c, col(c) + lit(k * step)) }
      }.reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite")
        .parquet(s"$scaleDir/$table.parquet")
    }
    blow("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    blow("lineitem", Map("l_orderkey" -> 10000000L, "l_partkey" -> 1000000L))
    blow("events", Map("event_id" -> 100000000L, "user_id" -> 1000000L))
    blow("customer", Map("c_custkey" -> 1000000L))
    // dims ride along verbatim (joins by unshifted keys)
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$scaleDir/$t.parquet")
    }
  }

  /** Beyond-first-decade mode (`runMain … ScaleBench <sfDir> <N>x`, e.g.
    * `30x`, `100x`): times the data-bound dedup composites — h16
    * (end-to-end corpus dedup) and h23 (transitive clusters), the two worst
    * growers at ~4-5× per 10×, plus h41 (SimHash banding) and h6 (exact
    * Jaccard verify), the other two pillars whose cost grows with the
    * corpus — on an N× disjoint-vocabulary corpus, to confirm the
    * O(n log n)-ish trajectory holds decade over decade (a candidate-pair
    * or CC-round blow-up would bend these superlinear well before 100 TB).
    */
  private def runNx(spark: SparkSession, sfDir: String, copies: Int): Unit = {
    val dir = scaleNDir(copies)
    if (!new java.io.File(s"$dir/documents.parquet").exists())
      buildDocsNx(spark, sfDir, dir, copies)
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("count(*)").collect()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val js = Seq("h16_dedup_corpus_keep", "h23_dedup_clusters",
      "h41_simhash_near_dup", "h6_ngram_jaccard").map { n =>
      def once(d: String): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, d)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t1 = math.min(once(sfDir), once(sfDir))
      val tN = math.min(once(dir), once(dir))
      println(s"[scale] $n sf0.1=${f3(t1)}s ${copies}x=${f3(tN)}s ratio=${f3(tN / t1)}")
      s""""${n.takeWhile(_ != '_')}":{"base":${f3(t1)},"x$copies":${f3(tN)},"ratio":${f3(tN / t1)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale$copies","queries":$js}""")
  }

  /** Margin-mining scale mode (`… ScaleBench <sfDir> margin<N>x`, e.g.
    * `margin10x`): times h104's two scorer paths on 1× and N× embeddings
    * (per-copy component rotation — disjoint geometry, same distribution,
    * the build10x trick generalized to N copies): the EXACT brute-force
    * [[graft.extensions.Similarity.marginMining]], whose compute is
    * |src|·|tgt| by design (the recall baseline), and the IVF-fed
    * [[graft.extensions.Similarity.marginMiningFromTopK]] with
    * √N-scaled centroid counts, whose candidate scans touch only
    * nProbe/nCentroids of the corpus — the measured pair is the "swap the
    * exact scorer for the ANN candidate generator at scale" claim: the
    * exact ratio must grow toward N² while the IVF-fed ratio stays far
    * below it.
    */
  private def runMarginNx(spark: SparkSession, sfDir: String, copies: Int): Unit = {
    import graft.extensions.Similarity
    val dir = scaleNDir(copies)
    val embPath = s"$dir/embeddings.parquet"
    if (!new java.io.File(embPath).exists()) {
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dim = embs.select(size(col("embedding"))).head().getInt(0)
      val embsN = (0 until copies).map { k =>
        val r = k % dim
        val rotated = if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        embs.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          rotated.as("embedding"), col("label"))
      }.reduce(_ unionByName _)
      embsN.repartition(8).write.mode("overwrite").parquet(embPath)
    }
    spark.read.parquet(embPath).selectExpr("count(*)").collect()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def time(body: => org.apache.spark.sql.DataFrame): Double = {
      def once = {
        val t0 = System.nanoTime()
        body.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    // beyond the second decade the exact scorer is only re-measuring a
    // proven quadratic (30x already took 300 s; 100x would be ~3,000 s of
    // scheduled waste) — the third-decade point measures the IVF-fed path
    // alone against the shared 1x baseline
    val withExact = copies <= 30
    def run(path: String, nCentroids: Int): (Double, Double) = {
      val embs = spark.read.parquet(path)
      val src = embs.filter(col("label") % 2 === 0)
      val tgt = embs.filter(col("label") % 2 === 1)
      val exact = if (withExact)
        time(Similarity.marginMining(src, tgt, "vec_id", "embedding", k = 4))
      else 0.0
      def roles(df: org.apache.spark.sql.DataFrame, qAs: String, nAs: String) =
        df.select(col("query_id").as(qAs), col("neighbor_id").as(nAs),
          col("rank"), col("cos"))
      val ivf = time(Similarity.marginMiningFromTopK(
        roles(Similarity.ivfTopK(tgt, src, "vec_id", "embedding", 4,
          nCentroids = nCentroids), "src_id", "tgt_id"),
        roles(Similarity.ivfTopK(src, tgt, "vec_id", "embedding", 4,
          nCentroids = nCentroids), "tgt_id", "src_id")))
      (exact, ivf)
    }
    val (e1, i1) = run(s"$sfDir/embeddings.parquet", 16)
    val nN = math.max(16, (16 * math.sqrt(copies.toDouble)).toInt)
    val (eN, iN) = run(embPath, nN)
    if (withExact)
      println(s"[scale] margin exact sf0.1=${f3(e1)}s ${copies}x=${f3(eN)}s ratio=${f3(eN / e1)}")
    else
      println(s"[scale] margin exact SKIPPED at ${copies}x (proven quadratic; see margin30x)")
    println(s"[scale] margin ivf-fed sf0.1=${f3(i1)}s ${copies}x=${f3(iN)}s ratio=${f3(iN / i1)} (centroids 16->$nN)")
    val exactJs = if (withExact)
      s""""exact":{"base":${f3(e1)},"xN":${f3(eN)},"ratio":${f3(eN / e1)}},"""
    else """"exact":"skipped (proven quadratic at 30x)","""
    println(s"""{"metric":"margin$copies",$exactJs""" +
      s""""ivf":{"base":${f3(i1)},"xN":${f3(iN)},"ratio":${f3(iN / i1)}}}""")
  }

  /** Rebuild-vs-append crossover mode (`… ScaleBench <sfDir> ivfdrift<N>x`):
    * build the IVF index once on the base sf vectors, then append N−1
    * ROTATED batches (the margin-mode generator — geometrically shifted
    * mass the frozen centroids never saw, the honest worst case for
    * frozen-centroid maintenance). After EVERY append, measure the three
    * signals the maintenance decision needs:
    *
    *   - recall@10 of the appended (frozen-centroid) index vs a
    *     freshly-REBUILT index on the same corpus, against brute-force
    *     ground truth over a fixed 16-query panel (with nProbe scaled the
    *     same for both — the structural comparison, not a tuning contest);
    *   - append cost (batch-proportional) vs rebuild cost
    *     (corpus-proportional) at that corpus size;
    *   - the [[graft.extensions.Similarity.ivfStaleness]] headline numbers
    *     (would-move migration rate, min frozen-vs-refreshed centroid
    *     cosine) — the cheap profile a maintainer reads INSTEAD of paying
    *     ground-truth recall.
    *
    * The crossover statement this produces: the batch index at which
    * appended-index recall falls materially under the rebuilt index's, and
    * whether the staleness profile flagged it first (it must — that is the
    * diagnostic's job). Emits one JSON line with the per-batch series.
    */
  private def runIvfDriftNx(spark: SparkSession, sfDir: String,
      copies: Int): Unit = {
    import graft.extensions.Similarity
    require(copies >= 2, s"ivfdrift needs N >= 2, got $copies")
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embs.selectExpr("count(*)").collect()
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    def batch(k: Int): DataFrame = {
      val r = (k * 7) % dim // spread rotations across the dimension ring
      val rotated = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      embs.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }
    val qs = embs.filter(col("vec_id") < 16)
    def recall(corpus: DataFrame, ct: String, at: String): Double = {
      val exact = Similarity.bruteForceTopK(corpus, qs, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.ivfTopKFromIndex(spark, ct, at, qs,
          "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val ((ct, at), buildSec) = time(
      Similarity.buildIvfIndex(embs, "vec_id", "embedding", "graft_ivfdrift"))
    // third arm (round 17): a twin of the frozen-appended index that gets a
    // WARM-START refresh (Similarity.refreshIvfIndex — one k-means step +
    // one re-assignment from the index's own current state) after every
    // append, against the cold rank-seeded rebuild's cost/recall
    val ((ctF, atF), _) = time(
      Similarity.buildIvfIndex(embs, "vec_id", "embedding", "graft_ivfdrift_rf"))
    println(s"[scale] ivfdrift base index built in ${f3(buildSec)}s")
    var corpus = embs
    val rows = (1 until copies).map { k =>
      val b = batch(k)
      val (_, appendSec) = time(
        Similarity.appendToIvfIndex(b, "vec_id", "embedding", ct, at))
      Similarity.appendToIvfIndex(b, "vec_id", "embedding", ctF, atF)
      val (_, refreshSec) = time(
        Similarity.refreshIvfIndex(spark, ctF, atF))
      corpus = corpus.unionByName(b)
      val ((ctR, atR), rebuildSec) = time(Similarity.buildIvfIndex(
        corpus, "vec_id", "embedding", "graft_ivfdrift_rb"))
      val recAppended = recall(corpus, ct, at)
      val recRefreshed = recall(corpus, ctF, atF)
      val recRebuilt = recall(corpus, ctR, atR)
      val prof = Similarity.ivfStaleness(spark, ct, at).collect()
      val n = prof.map(_.getLong(1)).sum
      val mv = prof.map(_.getLong(2)).sum
      val minCq = prof.map(_.getLong(6)).min
      val maxN = prof.map(_.getLong(1)).max
      println(s"[scale] ivfdrift batch $k: recall appended=${f3(recAppended)} " +
        s"refreshed=${f3(recRefreshed)} rebuilt=${f3(recRebuilt)} " +
        s"append=${f3(appendSec)}s refresh=${f3(refreshSec)}s rebuild=${f3(rebuildSec)}s " +
        s"would_move=$mv/$n min_centroid_cos_q=$minCq max_cluster=$maxN")
      s"""{"batch":$k,"recall_appended":${f3(recAppended)},"recall_refreshed":${f3(recRefreshed)},""" +
        s""""recall_rebuilt":${f3(recRebuilt)},"append_sec":${f3(appendSec)},""" +
        s""""refresh_sec":${f3(refreshSec)},"rebuild_sec":${f3(rebuildSec)},""" +
        s""""would_move":$mv,"n":$n,"min_centroid_cos_q":$minCq,"max_cluster":$maxN}"""
    }
    println(s"""{"metric":"ivfdrift$copies","build_sec":${f3(buildSec)},""" +
      s""""batches":[${rows.mkString(",")}]}""")
  }

  /** Refresh-at-the-trip mode (`… ScaleBench <sfDir> ivftrip<N>x`) — the
    * question the per-batch refresh arm of `ivfdrift<N>x` cannot answer
    * fairly: at the moment the staleness profile TRIPS (here: after N−1
    * appended drift batches, the ~crossover the drift mode measured), is a
    * warm refresh a substitute for the cold rebuild? Per-batch refreshing
    * compounds drift-chasing (each step re-aims at a moving blend); the
    * real maintenance policy refreshes ONCE at the trip point. Three
    * identical frozen-append twins take the same N−1 batches; at the trip:
    * twin A stays frozen (control), twin B refreshes once, twin C
    * refreshes twice (does a second step close the gap?), and a cold
    * rebuild runs beside them — recall@10 of all four against brute-force
    * ground truth on the 16-query panel, with the refresh/rebuild costs
    * and the staleness profile before and after twin B's refresh.
    */
  private def runIvfTripNx(spark: SparkSession, sfDir: String,
      copies: Int): Unit = {
    import graft.extensions.Similarity
    require(copies >= 2, s"ivftrip needs N >= 2, got $copies")
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embs.selectExpr("count(*)").collect()
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    def batch(k: Int): DataFrame = {
      val r = (k * 7) % dim
      val rotated = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      embs.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }
    val qs = embs.filter(col("vec_id") < 16)
    def recall(corpus: DataFrame, ct: String, at: String): Double = {
      val exact = Similarity.bruteForceTopK(corpus, qs, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Similarity.ivfTopKFromIndex(spark, ct, at, qs,
          "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val twins = Seq("fr", "r1", "r2").map(s =>
      Similarity.buildIvfIndex(embs, "vec_id", "embedding", s"graft_ivftrip_$s"))
    var corpus = embs
    for (k <- 1 until copies) {
      val b = batch(k)
      twins.foreach { case (ct, at) =>
        Similarity.appendToIvfIndex(b, "vec_id", "embedding", ct, at) }
      corpus = corpus.unionByName(b)
    }
    val Seq((ctF, atF), (ct1, at1), (ct2, at2)) = twins
    def profHead(ct: String, at: String): (Long, Long, Long) = {
      val prof = Similarity.ivfStaleness(spark, ct, at).collect()
      (prof.map(_.getLong(2)).sum, prof.map(_.getLong(1)).sum,
        prof.map(_.getLong(6)).min)
    }
    val (mv0, n0, cq0) = profHead(ctF, atF)
    println(s"[scale] ivftrip at trip: would_move=$mv0/$n0 min_centroid_cos_q=$cq0")
    val (_, refresh1Sec) = time(Similarity.refreshIvfIndex(spark, ct1, at1))
    val (_, refresh2aSec) = time(Similarity.refreshIvfIndex(spark, ct2, at2))
    val (_, refresh2bSec) = time(Similarity.refreshIvfIndex(spark, ct2, at2))
    val ((ctR, atR), rebuildSec) = time(Similarity.buildIvfIndex(
      corpus, "vec_id", "embedding", "graft_ivftrip_rb"))
    val recFrozen = recall(corpus, ctF, atF)
    val recR1 = recall(corpus, ct1, at1)
    val recR2 = recall(corpus, ct2, at2)
    val recRebuilt = recall(corpus, ctR, atR)
    val (mv1, n1, cq1) = profHead(ct1, at1)
    println(s"[scale] ivftrip$copies: frozen=${f3(recFrozen)} refresh1=${f3(recR1)} " +
      s"(${f3(refresh1Sec)}s) refresh2=${f3(recR2)} (${f3(refresh2aSec + refresh2bSec)}s) " +
      s"rebuilt=${f3(recRebuilt)} (${f3(rebuildSec)}s); profile after refresh1: " +
      s"would_move=$mv1/$n1 min_cos_q=$cq1")
    println(s"""{"metric":"ivftrip$copies","recall_frozen":${f3(recFrozen)},""" +
      s""""recall_refresh1":${f3(recR1)},"refresh1_sec":${f3(refresh1Sec)},""" +
      s""""recall_refresh2":${f3(recR2)},"refresh2_sec":${f3(refresh2aSec + refresh2bSec)},""" +
      s""""recall_rebuilt":${f3(recRebuilt)},"rebuild_sec":${f3(rebuildSec)},""" +
      s""""would_move_at_trip":$mv0,"n":$n0,"min_centroid_cos_q_at_trip":$cq0,""" +
      s""""would_move_after_refresh":$mv1,"min_centroid_cos_q_after_refresh":$cq1}""")
  }

  /** Degenerate-tie stress for the two-level prefix scan
    * (`… ScaleBench <sfDir> skewband<N>x`): [[graft.extensions.Splits
    * .budgetFill]]'s band partitioning concentrates when scores TIE — the
    * worst case (every score identical) puts the whole corpus in one band
    * and its within-band window serializes through one task, the exact
    * failure the two-level decomposition exists to avoid. Three variants
    * timed at 1× and N× docs:
    *
    *   - `balanced` — md5-uniform scores, bandWidth 100 (the h107 shape;
    *     the healthy reference);
    *   - `degenerate` — all-equal scores, bandWidth 1, NO tie split (one
    *     band = the corpus; expected to scale with the single task's sort);
    *   - `tiesplit`  — all-equal scores, bandWidth 1, tieWidth 4096 (exact-
    *     score bands subdivided by id range — output-identical to
    *     `degenerate`, PropertySpec-pinned, but partition count scales with
    *     the corpus again).
    *
    * The statement this measures: the tie-split keeps the degenerate
    * distribution at the balanced variant's scaling while the plain path
    * degrades, and the knob costs nothing when unused.
    */
  private def runSkewBandNx(spark: SparkSession, sfDir: String,
      copies: Int): Unit = {
    import graft.extensions.{Splits, TextOps}
    val dir = s"target/scaleskewband$copies"
    if (!new java.io.File(s"$dir/documents.parquet").exists())
      buildDocsNx(spark, sfDir, dir, copies)
    spark.read.parquet(s"$dir/documents.parquet").selectExpr("count(*)").collect()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def time(body: => DataFrame): Double = {
      def once = {
        val t0 = System.nanoTime()
        body.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    // md5-uniform 4-dp score — scan-side, engine-agnostic, ~uniform [0,1]
    def uniformScore = (expr("conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10)")
      .cast("long") % 10000).cast("double") / 10000.0
    def fill(path: String, score: org.apache.spark.sql.Column,
        bandWidth: Int, tieWidth: Long): DataFrame =
      Splits.budgetFill(spark.read.parquet(s"$path/documents.parquet"),
        "doc_id", size(TextOps.tokens(col("text"))), score,
        budget = Long.MaxValue / 4, bandWidth = bandWidth, tieWidth = tieWidth)
    def suite(path: String): (Double, Double, Double) = (
      time(fill(path, uniformScore, 100, 0L)),
      time(fill(path, lit(0.5), 1, 0L)),
      time(fill(path, lit(0.5), 1, 4096L)))
    val (b1, d1, t1) = suite(sfDir)
    val (bN, dN, tN) = suite(dir)
    println(s"[scale] skewband balanced   sf0.1=${f3(b1)}s ${copies}x=${f3(bN)}s ratio=${f3(bN / b1)}")
    println(s"[scale] skewband degenerate sf0.1=${f3(d1)}s ${copies}x=${f3(dN)}s ratio=${f3(dN / d1)}")
    println(s"[scale] skewband tiesplit   sf0.1=${f3(t1)}s ${copies}x=${f3(tN)}s ratio=${f3(tN / t1)}")
    println(s"""{"metric":"skewband$copies",""" +
      s""""balanced":{"base":${f3(b1)},"xN":${f3(bN)},"ratio":${f3(bN / b1)}},""" +
      s""""degenerate":{"base":${f3(d1)},"xN":${f3(dN)},"ratio":${f3(dN / d1)}},""" +
      s""""tiesplit":{"base":${f3(t1)},"xN":${f3(tN)},"ratio":${f3(tN / t1)}}}""")
  }

  /** Steady-state-tail mode (`… ScaleBench <sfDir> tail<N>x`, e.g.
    * `tail10x`, `tail30x`): the steady-state-tail queries whose scale
    * stories were plan-read but never measured — h74 blocked fuzzy linkage
    * (Σ|block|²), h62 n-gram novelty (shingle-df join-back), h38 column
    * profile (stack generator → partial agg), h28 decontamination
    * (containment verify), h47 bigram LM (bigram explode), h80 basket lift
    * (Σ|basket|² self-join). Inputs scale the way each operator's real
    * input grows, into a self-contained `target/scaletail<N>` dir:
    * documents via the disjoint-vocabulary blow-up; part with p_partkey AND
    * p_size shifted per copy — N× parts arrive as NEW (p_type, p_size)
    * blocks at base density, mirroring how a growing catalog adds
    * type/size combinations (a verbatim blow-up would grow every block N×
    * and measure the fixture's Σ|block|² quadratic, the knob h71 exists to
    * profile — same honesty argument as the disjoint vocabularies);
    * lineitem with shifted orderkey/partkey (N× baskets at base basket
    * size); events with shifted ids.
    */
  /** Verbatim RE-CRAWL blow-up for the composed pipeline (h122,
    * `pipe<N>x`): N copies of the documents table with shifted ids and
    * UNCHANGED text — "N crawls of the same web". The disjoint-vocabulary
    * blow-up the other tails use poisons the pipeline's own CLEAN stage
    * (the c$k interleave halves the stopword/alpha ratios, so stage 1
    * rejects the blown corpus and every downstream stage measures an
    * empty relation — tail10x read 0.18× for exactly that reason);
    * verbatim copies keep stage-1 semantics intact and make the dedup
    * stages do their production work: clean and the exact-fingerprint
    * collapse scan N× docs (the linear pre-collapse stages), exact_dedup
    * keeps ~1/N (every doc is an N-way exact dup), and the near-dup /
    * trainer / export stages run at base size — the honest cost law of
    * curating a re-crawl. The 1× and N× audit ledgers print alongside the
    * times so the stage populations document the shape.
    */
  private def runPipeNx(spark: SparkSession, sfDir: String, copies: Int): Unit = {
    val dir = s"target/scalepipe$copies"
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until copies).map { k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("count(*)").collect()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def once(d: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("h122_curation_pipeline")(spark, d)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val t1 = math.min(once(sfDir), once(sfDir))
    val tN = math.min(once(dir), once(dir))
    println(s"[scale] h122_curation_pipeline sf0.1=${f3(t1)}s " +
      s"${copies}x=${f3(tN)}s ratio=${f3(tN / t1)}")
    for (d <- Seq(sfDir, dir)) {
      val rows = graft.SparkEntry.queries("h122_curation_pipeline")(spark, d)
        .orderBy("stage_idx").collect()
      println(s"[scale] ledger@$d: " + rows.map(r =>
        s"${r.getString(1)}=${r.getLong(2)}->${r.getLong(3)}").mkString(" "))
    }
  }

  private def runTailNx(spark: SparkSession, sfDir: String, copies: Int): Unit = {
    val dir = s"target/scaletail$copies"
    def blow(table: String, shifts: Map[String, Long]): Unit = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val out = (0 until copies).map { k =>
        shifts.foldLeft(base) { case (df, (c, step)) =>
          df.withColumn(c,
            (col(c) + lit(k * step)).cast(base.schema(c).dataType)) }
      }.reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite")
        .parquet(s"$dir/$table.parquet")
    }
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      buildDocsNx(spark, sfDir, dir, copies)
      blow("part", Map("p_partkey" -> 1000000L, "p_size" -> 1000L))
      blow("events", Map("event_id" -> 100000000L, "user_id" -> 1000000L))
      blow("lineitem", Map("l_orderkey" -> 10000000L, "l_partkey" -> 1000000L))
    }
    spark.read.parquet(s"$dir/documents.parquet").selectExpr("count(*)").collect()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val names = Seq("h74_blocked_fuzzy_match", "h62_ngram_novelty",
      "h38_column_profile", "h28_benchmark_decontamination",
      "h47_bigram_lm_score", "h80_basket_lift",
      // round 14: the three new document-table operators — novelty curve
      // (two shingle-keyed aggregates), PPS sampling and budget fill (the
      // two-level prefix scan) — join the measured-tail set so their
      // docs-linear claims carry wall-clock evidence, not just the
      // Round11Spec record ceilings
      "h105_novelty_curve", "h106_pps_sample", "h107_budget_fill",
      // round 16: variable-length substring dedup — its anchor relation is
      // corpus-TOKEN-sized by construction (stride-1 16-gram fingerprints),
      // the steepest scaling story in the tail set; everything downstream
      // is duplicate-mass-sized (the disjoint-vocabulary blow-up keeps
      // per-copy duplicate structure at base density)
      "h109_substring_dedup",
      // round 17: the split repair (CC over dup-mass-sized pairs — per-copy
      // dup structure at base density keeps the graph linear in copies),
      // the line-df boilerplate pass (line-proportional), and the BPE
      // learning loop (vocabulary-sized rounds — the disjoint vocabularies
      // grow the vocab linearly, the honest trainer-state growth)
      "h112_split_repair", "h113_boilerplate_lines", "h114_bpe_merge_learning",
      // h115 = h114's rounds + one corpus token join: the fertility profile
      // should track h114's latency-bound curve plus a linear join term
      "h115_bpe_fertility",
      // round 18: the two trained models and the serving-side ops — the LR
      // trainer's steps are corpus-scan-bound (featurize linear, 12 fixed
      // steps each one pass + a model-sized exchange), the NB trainer is
      // trigram-explode linear with a broadcast-sized model grid, the epoch
      // shuffle is one rank exchange, and the newline boilerplate pass is
      // line-proportional like h113
      "h116_quality_classifier", "h117_langid_nb", "h118_epoch_shuffle",
      "h119_boilerplate_newlines",
      // round 19: the manifest composes packing + epoch order (sequence-
      // rank sub-linear, doc→order join linear) and the policy bank is the
      // h116 trainer shape × K heads over shared features
      "h120_export_manifest", "h121_policy_bank",
      // round 20: the composed curation pipeline (every stage an
      // already-measured operator — the chain's growth law is the max of
      // its stages': trainer corpus-scan linear, pair table dup-mass
      // linear under the disjoint-vocabulary blow-up, manifest
      // sequence-rank sub-linear; the fixed CC/gradient round-trip
      // latency amortizes with scale), the calibration (one h116 training
      // + one threshold-bucketed corpus aggregate), the LSH planner
      // (31 band rows/doc across 5 bandings over one signature build),
      // and the incremental re-export (two manifest chains + a
      // shard-count diff)
      "h122_curation_pipeline", "h123_gate_calibration",
      "h124_lsh_planner", "h125_incremental_export",
      // h126: corpus-independent past the one groupBy(domain) aggregate
      // (81 shuffled records at every scale point) — the tail reading
      // documents the flat law empirically
      "h126_epoch_capped_mix")
    // dev filter (like Bench's SPARK_GRAFT_BENCH_ONLY): measure just the
    // named tail queries — a deep-decade (100x) sweep of the FULL list
    // costs an hour of wall-clock when only a few operators are new
    val only = sys.env.get("SPARK_GRAFT_TAIL_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val js = names.filter(n => only.forall(f =>
      f.contains(n) || f.contains(n.takeWhile(_ != '_')))).map { n =>
      def once(d: String): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, d)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t1 = math.min(once(sfDir), once(sfDir))
      val tN = math.min(once(dir), once(dir))
      println(s"[scale] $n sf0.1=${f3(t1)}s ${copies}x=${f3(tN)}s ratio=${f3(tN / t1)}")
      // h109's scale claim is about its ANCHOR RELATION (corpus-token-sized
      // fingerprint exchange, the suffix-array input equivalent) — measure
      // the executed shuffle records at both scales alongside wall-clock so
      // the BASELINE row carries volume evidence, not just time
      val vol =
        if (n.startsWith("h109")) {
          val v1 = graft.plans.ShuffleMetrics.measure(
            graft.SparkEntry.queries(n)(spark, sfDir))
          val vN = graft.plans.ShuffleMetrics.measure(
            graft.SparkEntry.queries(n)(spark, dir))
          println(s"[scale] $n shuffled records sf0.1=${v1.records} " +
            s"${copies}x=${vN.records} ratio=${f3(vN.records.toDouble / v1.records)}")
          s""","records_base":${v1.records},"records_x$copies":${vN.records}"""
        } else ""
      s""""${n.takeWhile(_ != '_')}":{"base":${f3(t1)},"x$copies":${f3(tN)},"ratio":${f3(tN / t1)}$vol}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scaletail$copies","queries":$js}""")
  }

  /** Materialized-construction beyond-first-decade mode (`… ScaleBench
    * <sfDir> <N>xmat`, e.g. `30xmat`, `100xmat`): the steady-state number a
    * real cluster sees. The N× per-query-build points (runNx) charge every
    * consumer the full corpus scan + signature/banding build; a production
    * pipeline materializes those constructions ONCE per corpus and runs all
    * downstream analytics over the tables. This mode does exactly that —
    * DupGraph materialization on, each shared construction prebuilt under
    * its own timing against the N× corpus, then the consumers timed
    * steady-state: keep-list (h16), clustering (h23), the four graph
    * analytics (h65/h66/h67/h78), incremental dedup (h61), MinHash banding
    * (h5) and exact Jaccard (h6). Emits one JSON line with BOTH the
    * one-time prebuild cost and the per-consumer steady-state times, so the
    * artifact carries the full accounting.
    */
  private def runNxMat(spark: SparkSession, sfDir: String, copies: Int,
      bucketed: Boolean = false): Unit = {
    val dir = scaleNDir(copies)
    if (!new java.io.File(s"$dir/documents.parquet").exists())
      buildDocsNx(spark, sfDir, dir, copies)
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("count(*)").collect()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    import graft.queries.DupGraph
    DupGraph.reset()
    def mat(label: String)(dfs: => Seq[DataFrame]): (String, Double) = {
      val t0 = System.nanoTime()
      dfs.foreach(_.write.mode("overwrite").format("noop").save())
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"[scale] prebuild $label ${f3(sec)}s")
      (label, sec)
    }
    // bucketed: persist shingle_rows/pairs/verified_pairs AND the four h61
    // corpus-index tables as bucketed parquet tables (the 100 TB layout —
    // bucket metadata carries each table's hash partitioning into every
    // consumer plan) instead of localCheckpoint blocks
    val pre =
      if (bucketed) {
        val t = DupGraph.materializeBucketed(spark, dir, buckets = 32)
        t.foreach { case (l, s) => println(s"[scale] prebuild(bucketed) $l ${f3(s)}s") }
        t
      } else {
        DupGraph.enableMaterialization()
        Seq(
          mat("pairs")(Seq(DupGraph.pairs(spark, dir))),
          mat("verified_pairs")(Seq(DupGraph.verifiedPairs(spark, dir))),
          mat("h61_corpus_index") {
            val idx = DupGraph.h61CorpusIndex(spark, dir)
            Seq(idx.fingerprints, idx.bandRows, idx.shingles, idx.sizes)
          },
          mat("shingle_rows")(Seq(DupGraph.shingleRows(spark, dir))),
          mat("token_rows")(Seq(DupGraph.tokenRows(spark, dir))))
      }
    val names = Seq("h16_dedup_corpus_keep", "h23_dedup_clusters",
      "h65_dup_graph_pagerank", "h66_label_propagation",
      "h67_dup_graph_triangles", "h78_weighted_pagerank",
      "h61_incremental_dedup", "h5_minhash_lsh_pairs", "h6_ngram_jaccard",
      "h41_simhash_near_dup",
      // round 17: h109 consumes the shared token relation — its
      // steady-state over the materialized (or bucketed) token table is
      // the 100 TB posture task 6's sharing claim names
      "h109_substring_dedup")
    val rows = names.map { n =>
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t = math.min(once(), once())
      println(s"[scale] $n ${copies}x_mat${if (bucketed) "_bkt" else ""}=${f3(t)}s")
      (n, t)
    }
    // shuffle-exchange evidence over the shingle-relation consumers — the
    // bucketed layout's plan-shape proof (HashPartitioning(doc_id) from
    // the bucket metadata satisfies the per-doc aggregate / distinct
    // distributions, so these drop vs the checkpoint path). Round 10:
    // count alone is a misleading proxy — a plan can trade ONE corpus-sized
    // exchange for several pair-sized ones and win (the h61 per-branch
    // verify split does exactly that) — so each query is re-executed and
    // the EXECUTED plan's shuffle metrics are summed: records and
    // serialized bytes actually written to shuffles, the quantity that
    // scales with the corpus. Reused exchanges are skipped (one physical
    // shuffle, however many consumers).
    val exch = Seq("h5_minhash_lsh_pairs", "h6_ngram_jaccard",
      "h16_dedup_corpus_keep", "h23_dedup_clusters",
      "h61_incremental_dedup").map { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ()) // execute → metrics populate
      val sh = collectShuffles(df.queryExecution.executedPlan)
      val recs = sh.map(_.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)).sum
      val bytes = sh.map(_.metrics.get("dataSize").map(_.value).getOrElse(0L)).sum
      println(s"[scale] $n shuffle_exchanges=${sh.size} " +
        s"shuffle_records=$recs shuffle_mb=${bytes / 1000000}")
      (n.takeWhile(_ != '_'), sh.size, recs, bytes)
    }
    DupGraph.reset()
    val preJs = pre.map { case (l, s) => s""""$l":${f3(s)}""" }
      .mkString("{", ",", "}")
    val qJs = rows.map { case (n, t) =>
      s""""${n.takeWhile(_ != '_')}":${f3(t)}""" }.mkString("{", ",", "}")
    val exJs = exch.map { case (n, c, r, b) =>
      s""""$n":{"n":$c,"records":$r,"mb":${b / 1000000}}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale${copies}mat${if (bucketed) "bkt" else ""}","prebuild_sec":${
      f3(pre.map(_._2).sum)},"prebuild":$preJs,"queries":$qJs,"exchanges":$exJs}""")
  }

  /** Adversarial-skew triangle mode (`… ScaleBench <ignored> hub<N>k`):
    * wall-clock evidence for the degree-ordered orientation's worst case —
    * a LOW-id hub of degree H = N·1000 (the boilerplate-farm shape the
    * 100 TB posture names) with a path along the spokes, so every
    * consecutive spoke pair closes a triangle through the hub. Closed
    * forms make it self-checking: H−1 triangles total, all through the
    * hub. The retired id-ordered enumeration roots both hub edges of a
    * wedge at id 0 and does C(H,2) ≈ H²/2 wedge work; the shipped
    * orientation roots every hub edge at its degree-≤3 spoke, hub
    * out-degree 0, linear work. Emits both times and the wedge counts in
    * one JSON line; run at two N for the trajectory (quadratic vs linear).
    */
  private def runHubNk(spark: SparkSession, thousands: Int): Unit = {
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val h = thousands * 1000L
    // hub 0 — the minimal id, the id-ordering's adversarial placement
    val spokes = spark.range(1L, h + 1)
      .select(lit(0L).as("a"), col("id").as("b"))
    val path = spark.range(1L, h)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val edges = spokes.union(path)
      .repartition(32).localCheckpoint(true)
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // shipped operator: degree-ordered orientation (Graph.triangleStats)
    val (oriStats, tOri) = time {
      graft.extensions.Graph.triangleStats(
          edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .agg(sum("triangles").cast("long"), max("triangles").cast("long"))
        .head()
    }
    require(oriStats.getLong(0) == 3 * (h - 1) && oriStats.getLong(1) == h - 1,
      s"closed-form triangle check failed: $oriStats (expect ${3 * (h - 1)}, ${h - 1})")
    val oriWedges = orientedWedgeCount(edges)
    // retired enumeration: wedges root at the LOW id — the hub pairs every
    // two of its H out-edges, Σ deg_hi² work
    val (idTri, tId) = time {
      val w = edges.as("e1").join(edges.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
        .select(col("e1.b").as("v"), col("e2.b").as("w"))
      w.join(edges, col("v") === col("a") && col("w") === col("b")).count()
    }
    require(idTri == h - 1, s"id-ordered close found $idTri triangles, expect ${h - 1}")
    // closed form — the hub's C(H,2) out-pairs are the only shared-low-id
    // wedges in this graph (each spoke roots at most one edge)
    val idWedges = h * (h - 1) / 2
    println(s"[scale] hub${thousands}k oriented=${f3(tOri)}s (wedges=$oriWedges) " +
      s"id_ordered=${f3(tId)}s (wedges=$idWedges)")
    println(s"""{"metric":"trihub${thousands}k","hub_degree":$h,""" +
      s""""oriented_sec":${f3(tOri)},"oriented_wedges":$oriWedges,""" +
      s""""id_ordered_sec":${f3(tId)},"id_ordered_wedges":$idWedges}""")
  }

  /** Adversarial-basket mode (`… ScaleBench <ignored> hubbasket<N>k`):
    * wall-clock evidence for [[graft.extensions.Baskets.pairLift]]'s
    * heavy-basket block decomposition — ONE pathological basket of
    * H = N·1000 items (the crawler-session / batch-import shape the h71
    * profile exists to catch) among H order-shaped 4-item baskets over the
    * same catalog. The hub basket's C(H,2) pairs serialize through a
    * single join task on the plain path (the threshold is lifted above H
    * to force it); the decomposed path spreads them over ~nblk²/2 cells.
    * Self-checking: both arms must return the identical top-30 rows (the
    * h80 oracle's bit-for-bit contract at adversarial scale), and the
    * pair-count closed form is asserted on the cheap arm. Run at two N for
    * the trajectory (the plain arm grows ~H², the blocked arm ~H²/cells
    * per task — flat wall-clock until cells saturate the cores).
    */
  private def runHubBasketNk(spark: SparkSession, thousands: Int): Unit = {
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val h = thousands * 1000L
    val hub = spark.range(h).select(lit(0L).as("basket"), col("id").as("item"))
    val light = spark.range(1L, h + 1).select(col("id").as("basket"),
        explode(sequence(col("id") % h, col("id") % h + 3)).as("item0"))
      .select(col("basket"), pmod(col("item0"), lit(h)).as("item"))
    val df = hub.union(light).repartition(32).localCheckpoint(true)
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def run(heavyBasket: Int) = graft.extensions.Baskets.pairLift(
        df.toDF("basket", "item"), "basket", "item", 30,
        heavyBasket = heavyBasket)
      .collect().map(_.toSeq).toSeq
    // plain arm first (cold-start lands on the arm being beaten)
    val (plain, tPlain) = time(run(heavyBasket = Int.MaxValue))
    println(s"[scale] hubbasket${thousands}k plain arm done: ${f3(tPlain)}s")
    // static arm at a threshold that actually FIRES on this hub (round-19
    // fix: the r18 arm passed 32,768 against 4k/8k hubs — below threshold,
    // so both r18 arms ran the identical plain plan and the recorded
    // separation was environmental; BASELINE.md round-19 correction)
    val (blocked, tBlocked) = time(run(heavyBasket = math.max(2, (h / 2).toInt)))
    println(s"[scale] hubbasket${thousands}k blocked arm done: ${f3(tBlocked)}s")
    // round 19: the SELF-TUNED default (heavyBasket = 0) must pick the hub
    // by itself and land at the blocked arm's cost — the auto-trigger
    // choosing decomposition exactly when it pays
    val (auto, tAuto) = time(run(heavyBasket = 0))
    println(s"[scale] hubbasket${thousands}k auto arm done: ${f3(tAuto)}s")
    require(blocked == plain,
      "block-decomposed top-30 diverged from the plain enumeration")
    require(auto == plain,
      "self-tuned top-30 diverged from the plain enumeration")
    // top pair is hub-dominated: every hub pair has pair_cnt >= 1; light
    // baskets add at most 4 incidences per item — the top row's count is
    // small but the ROWS must match exactly, which the require above pins
    println(s"[scale] hubbasket${thousands}k plain=${f3(tPlain)}s " +
      s"blocked=${f3(tBlocked)}s auto=${f3(tAuto)}s speedup=${f3(tPlain / tBlocked)}")
    println(s"""{"metric":"hubbasket${thousands}k","hub_items":$h,""" +
      s""""plain_sec":${f3(tPlain)},"blocked_sec":${f3(tBlocked)},""" +
      s""""auto_sec":${f3(tAuto)},"speedup":${f3(tPlain / tBlocked)}}""")
  }

  private def orientedWedgeCount(edges: DataFrame): Long = {
    import graft.extensions.Graph
    val canon = edges.select(col("a"), col("b"))
    Graph.orientedWedges(Graph.orientByDegree(canon, Graph.degrees(canon))).count()
  }

  /** Streaming throughput & state-boundedness mode (`… ScaleBench <ignored>
    * stream<B>`, e.g. `stream10`, `stream40`): B MemoryStream micro-batches
    * of 100k synthetic events each through the three stateful streaming
    * operators — tumbling windowed aggregation, watermarked key dedup, and
    * the flatMapGroupsWithState sessionizer. Event time advances 10 minutes
    * per batch, so the watermark sweeps forward and closed windows / expired
    * keys / finalized sessions EVICT. Emits per-operator wall-clock,
    * rows/sec, and the state-row series (first / middle / last batch): the
    * 100 TB claim that state is bounded by (watermark horizon × active-key
    * cardinality) — never by stream history — made empirical. Comparing two
    * B values shows rows/sec roughly flat and the state plateau identical
    * while total events scale, i.e. unbounded-stream safety.
    */
  private def runStreamB(spark: SparkSession, batches: Int): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQuery
    import java.sql.Timestamp
    import graft.streaming.{SessEvent, StreamDedup, StreamSessionize, StreamWindows}
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val perBatch = 100000
    val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val types = Array("click", "view", "cart", "purchase", "refund")
    def stateRows(q: StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    def report(label: String, sec: Double, st: Seq[Long]): String = {
      val (a, b, c) = (st.headOption.getOrElse(0L),
        st.lift(st.size / 2).getOrElse(0L), st.lastOption.getOrElse(0L))
      val rps = (batches.toLong * perBatch / sec).toLong
      println(s"[scale] stream$batches $label ${f3(sec)}s $rps rows/s " +
        s"state first/mid/last = $a/$b/$c")
      s""""$label":{"sec":${f3(sec)},"rows_per_sec":$rps,""" +
        s""""state_first":$a,"state_mid":$b,"state_last":$c}"""
    }

    // 1. tumbling windowed aggregation (5-minute windows, 10-minute watermark)
    val mem1 = MemoryStream[(Timestamp, String, Double)]
    val q1 = StreamWindows.tumblingTypeStats(
        mem1.toDF.toDF("ts", "event_type", "value"), "10 minutes", "5 minutes")
      .writeStream.format("noop").outputMode("append").start()
    val st1 = scala.collection.mutable.ArrayBuffer[Long]()
    val t1 = System.nanoTime()
    (0 until batches).foreach { k =>
      val b = base + k * 600000L
      mem1.addData((0 until perBatch).map { i =>
        (new Timestamp(b + (i % 600) * 1000L), types(i % 5), (i % 100) / 10.0)
      }: _*)
      q1.processAllAvailable()
      st1 += stateRows(q1)
    }
    val sec1 = (System.nanoTime() - t1) / 1e9
    q1.stop()
    val js1 = report("tumbling_agg", sec1, st1.toSeq)

    // 2. watermarked first-per-key dedup (per user/type/minute; 10-min horizon)
    val mem2 = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val q2 = StreamDedup.firstPerKeyStream(
        mem2.toDF.toDF("user_id", "event_id", "ts", "event_type", "value"),
        "10 minutes")
      .writeStream.format("noop").outputMode("append").start()
    val st2 = scala.collection.mutable.ArrayBuffer[Long]()
    val t2 = System.nanoTime()
    (0 until batches).foreach { k =>
      val b = base + k * 600000L
      mem2.addData((0 until perBatch).map { i =>
        ((i % 2000).toLong, k.toLong * perBatch + i,
          new Timestamp(b + (i % 600) * 1000L), types(i % 5), 1.0)
      }: _*)
      q2.processAllAvailable()
      st2 += stateRows(q2)
    }
    val sec2 = (System.nanoTime() - t2) / 1e9
    q2.stop()
    val js2 = report("dedup_throttle", sec2, st2.toSeq)

    // 3. flatMapGroupsWithState sessionizer (10-min gap, rotating user pool
    // — users leave after 2 batches so sessions finalize and state evicts)
    val mem3 = MemoryStream[SessEvent]
    val q3 = StreamSessionize.sessions(
        mem3.toDS.withWatermark("ts", "10 minutes"), 600L)
      .writeStream.format("noop").outputMode("append").start()
    val st3 = scala.collection.mutable.ArrayBuffer[Long]()
    val t3 = System.nanoTime()
    (0 until batches).foreach { k =>
      val b = base + k * 600000L
      mem3.addData((0 until perBatch).map { i =>
        SessEvent(k.toLong * 500 + (i % 1000),
          k.toLong * perBatch + i,
          new Timestamp(b + (i / 1000) * 6000L), 1.0)
      }: _*)
      q3.processAllAvailable()
      st3 += stateRows(q3)
    }
    val sec3 = (System.nanoTime() - t3) / 1e9
    q3.stop()
    val js3 = report("sessionize", sec3, st3.toSeq)

    // 3b. the SAME sessionizer feed with the round-10 counter TTL
    // (gap 600 + ttl 1200 → a departed user's counter row evicts 1800 s of
    // event time after last activity ≈ 3 batches): the default mode's
    // one-counter-row-per-user-ever growth — the documented session_n-
    // continuity trade, measured 15,500 rows at stream30 — must PLATEAU at
    // (eviction horizon × user turnover) regardless of batches processed
    val mem3b = MemoryStream[SessEvent]
    val q3b = StreamSessionize.sessions(
        mem3b.toDS.withWatermark("ts", "10 minutes"), 600L,
        counterTtlSeconds = Some(1200L))
      .writeStream.format("noop").outputMode("append").start()
    val st3b = scala.collection.mutable.ArrayBuffer[Long]()
    val t3b = System.nanoTime()
    (0 until batches).foreach { k =>
      val b = base + k * 600000L
      mem3b.addData((0 until perBatch).map { i =>
        SessEvent(k.toLong * 500 + (i % 1000),
          k.toLong * perBatch + i,
          new Timestamp(b + (i / 1000) * 6000L), 1.0)
      }: _*)
      q3b.processAllAvailable()
      st3b += stateRows(q3b)
    }
    val sec3b = (System.nanoTime() - t3b) / 1e9
    q3b.stop()
    val js3b = report("sessionize_ttl", sec3b, st3b.toSeq)

    // 4. stream-stream interval join (both sides watermarked 20 min, 10-min
    // attribution window — join state buffers only the match horizon)
    val memC = MemoryStream[(Long, Long, Timestamp)]
    val memP = MemoryStream[(Long, Long, Timestamp)]
    val q4 = graft.streaming.StreamJoins.clickPurchaseAttribution(
        memC.toDF.toDF("user_id", "event_id", "ts"),
        memP.toDF.toDF("user_id", "event_id", "ts"),
        "20 minutes", "10 minutes")
      .writeStream.format("noop").outputMode("append").start()
    val st4 = scala.collection.mutable.ArrayBuffer[Long]()
    val t4 = System.nanoTime()
    val half = perBatch / 2
    (0 until batches).foreach { k =>
      val b = base + k * 600000L
      memC.addData((0 until half).map { i =>
        ((i % 5000).toLong, k.toLong * perBatch + i,
          new Timestamp(b + (i % 600) * 1000L))
      }: _*)
      memP.addData((0 until half).map { i =>
        ((i % 5000).toLong, k.toLong * perBatch + half + i,
          new Timestamp(b + (i % 600) * 1000L))
      }: _*)
      q4.processAllAvailable()
      st4 += stateRows(q4)
    }
    val sec4 = (System.nanoTime() - t4) / 1e9
    q4.stop()
    val js4 = report("stream_join", sec4, st4.toSeq)

    println(s"""{"metric":"stream$batches","events_per_op":${batches * perBatch},""" +
      s"$js1,$js2,$js3,$js3b,$js4}")
  }

  /** Adversarial-diameter connected-components mode (`… ScaleBench
    * <ignored> chain<N>k`): one path of N·1000 nodes — graph diameter
    * N·1000, the shape where naive min-label propagation needs DIAMETER
    * rounds (a 1M-node chain would be 1M shuffle rounds — unrunnable).
    * The alternating large-star/small-star formulation claims O(log n)
    * rounds; completing in seconds IS the evidence, and the closed-form
    * check (every node roots to component 0, one component) keeps it
    * honest. Run at two N for the trajectory (time should grow ~linearly
    * in edges × log n, never in diameter).
    */
  private def runChainNk(spark: SparkSession, thousands: Int): Unit = {
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val n = thousands * 1000L
    val edges = spark.range(0L, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
      .repartition(32).localCheckpoint(true)
    val t0 = System.nanoTime()
    val cc = graft.extensions.Dedup.connectedComponents(edges, "id_a", "id_b")
    val agg = cc.agg(count(lit(1)), count_distinct(col("comp")), max(col("comp"))).head()
    val sec = (System.nanoTime() - t0) / 1e9
    require(agg.getLong(0) == n && agg.getLong(1) == 1L && agg.getLong(2) == 0L,
      s"chain CC wrong: $agg (expect $n nodes, 1 component rooted at 0)")
    println(s"[scale] chain${thousands}k nodes=$n cc=${f3(sec)}s (diameter=$n)")
    println(s"""{"metric":"ccchain${thousands}k","nodes":$n,"cc_sec":${f3(sec)}}""")
  }

  /** Skew-join head-to-head (`… ScaleBench <ignored> skewjoin`): an honest
    * measurement of the [[graft.extensions.Skew.saltedJoin]] scaladoc's
    * claim boundary. Probe: 80M rows, HALF on one hot key (the 640 MB hot
    * shuffle partition crosses AQE's 256 MB skewedPartitionThreshold, so
    * its skew-join split actually fires — at 20M/160 MB it silently does
    * not, and all four variants measure equal). Rest uniform over 8M keys.
    * Build: one row per key, 8M rows (~128 MB — far above the broadcast
    * threshold, so the plain join is a shuffle join); output is 1:1 with
    * the probe. Times three plans
    * over the same inputs: plain join with AQE skew handling ON (the
    * Spark-4 default the Skew scaladoc defers to), plain join with AQE
    * OFF (the naive straggler), and saltedJoin (AQE on). Whatever the
    * numbers say gets recorded — the operator's value proposition is
    * exactly the gap between the three.
    */
  private def runSkewJoin(spark: SparkSession): Unit = {
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    import graft.extensions.Skew
    val probe = spark.range(80000000L)
      .select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 8000000L).as("key"),
        col("id").as("v"))
      .repartition(32).localCheckpoint(true)
    val build = spark.range(8000000L)
      .select(col("id").as("key"), (col("id") * 7L).as("payload"))
      .repartition(32).localCheckpoint(true)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def run(df: => org.apache.spark.sql.DataFrame): Double = {
      val t = time(df.write.mode("overwrite").format("noop").save())
      val t2 = time(df.write.mode("overwrite").format("noop").save())
      math.min(t, t2)
    }
    val expected = probe.join(build, Seq("key")).count()
    def plain = probe.join(build, Seq("key"))
    def salted = Skew.saltedJoin(probe, build, Seq("key"), buckets = 8)
    require(salted.count() == expected, "salted join row count diverged")
    val tAqe = run(plain)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val tNoAqe = run(plain)
    val tSaltedNoAqe = run(salted)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val tSalted = run(salted)
    println(s"[scale] skewjoin rows=$expected plain_aqe=${f3(tAqe)}s " +
      s"plain_noaqe=${f3(tNoAqe)}s salted_aqe=${f3(tSalted)}s " +
      s"salted_noaqe=${f3(tSaltedNoAqe)}s")
    println(s"""{"metric":"skewjoin","out_rows":$expected,""" +
      s""""plain_aqe_sec":${f3(tAqe)},"plain_noaqe_sec":${f3(tNoAqe)},""" +
      s""""salted_aqe_sec":${f3(tSalted)},"salted_noaqe_sec":${f3(tSaltedNoAqe)}}""")
  }

  /** Skewed-aggregation head-to-head (`… ScaleBench <ignored> skewagg`):
    * the [[graft.extensions.Skew.saltedSumCount]] companion to `skewjoin`.
    * 80M rows, half on one hot group key, rest uniform over 8M groups;
    * plain groupBy-sum/count vs the two-stage salted form, AQE on.
    * Hypothesis under test: hash aggregation's MAP-SIDE PARTIAL step
    * already collapses the hot group to one row per map partition before
    * the shuffle, so group-key skew — unlike join skew — never serializes
    * into one reducer for partial-aggregable functions, and the salted
    * form's second shuffle stage is pure overhead at any skew. Whatever
    * the numbers say gets recorded.
    */
  private def runSkewAgg(spark: SparkSession): Unit = {
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    import graft.extensions.Skew
    val rows = spark.range(80000000L)
      .select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 8000000L).as("key"),
        (col("id") % 1000L).as("v"))
      .repartition(32).localCheckpoint(true)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def run(df: => org.apache.spark.sql.DataFrame): Double = {
      val t = time(df.write.mode("overwrite").format("noop").save())
      val t2 = time(df.write.mode("overwrite").format("noop").save())
      math.min(t, t2)
    }
    def plain = rows.groupBy("key")
      .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("count_rows"))
    def salted = Skew.saltedSumCount(rows, Seq("key"), "v")
    // equivalence spot-check on the hot group before timing
    val ph = plain.filter(col("key") === 0L).head()
    val sh = salted.filter(col("key") === 0L).head()
    require(ph.getLong(1) == sh.getLong(1) && ph.getLong(2) == sh.getLong(2),
      s"salted/plain hot-group mismatch: $ph vs $sh")
    val tPlain = run(plain)
    val tSalted = run(salted)
    println(s"[scale] skewagg plain=${f3(tPlain)}s salted=${f3(tSalted)}s")
    println(s"""{"metric":"skewagg","plain_sec":${f3(tPlain)},"salted_sec":${f3(tSalted)}}""")
  }

  /** Shared 1×-vs-N× media linearity harness behind the `video<N>x` /
    * `mjpeg<N>x` / `audio<N>x` modes: build REAL media tables at 1× and N×
    * via `toMedia` (per-copy-shifted ids, so every payload is distinct),
    * persist both as parquet binary columns (the production shape), then
    * time `timedPass` best-of-2 over each. Every timed pass is scan-side
    * mapPartitions whose only exchange (if any) is result-row-sized, so
    * time must grow ~linearly in total payload bytes once the
    * stage-latency floor amortizes; the JSON carries rows, MB, and ratio.
    */
  private def runMediaNx(spark: SparkSession, sfDir: String, copies: Int,
      label: String,
      toMedia: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[graft.extensions.MediaRow],
      timedPass: org.apache.spark.sql.Dataset[graft.extensions.MediaRow] =>
        org.apache.spark.sql.DataFrame): Unit = {
    import graft.extensions.MediaRow
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def build(c: Int, out: String): Unit = {
      // cache key carries the sf tag (below) so another sfDir can't reuse a
      // stale fixture; _SUCCESS (not bare directory existence) gates reuse
      // so a crashed partial write rebuilds instead of persisting forever
      if (new java.io.File(s"$out/_SUCCESS").exists()) return
      val ids = (0 until c).map(k =>
        docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id")))
        .reduce(_ unionByName _)
      toMedia(ids).toDF()
        .repartition(32).write.mode("overwrite").parquet(out)
    }
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"target/scale${label}_${sfTag}_1/media.parquet"
    val big = s"target/scale${label}_${sfTag}_$copies/media.parquet"
    build(1, base); build(copies, big)
    def stats(path: String): (Long, Long) = {
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), sum(octet_length(col("payload")))).head()
      (r.getLong(0), r.getLong(1))
    }
    def time(path: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        timedPass(spark.read.parquet(path).as[MediaRow])
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    val (n1, b1) = stats(base); val (nN, bN) = stats(big)
    val t1 = time(base); val tN = time(big)
    println(s"[scale] $label 1x: rows=$n1 mb=${b1 / 1000000} t=${f3(t1)}s " +
      s"${copies}x: rows=$nN mb=${bN / 1000000} t=${f3(tN)}s ratio=${f3(tN / t1)}")
    println(s"""{"metric":"$label$copies","rows_1x":$n1,"mb_1x":${b1 / 1000000},""" +
      s""""sec_1x":${f3(t1)},"rows_${copies}x":$nN,"mb_${copies}x":${bN / 1000000},""" +
      s""""sec_${copies}x":${f3(tN)},"ratio":${f3(tN / t1)}}""")
  }

  /** `video<N>x` / `mjpeg<N>x`: AVI decode + every-2nd-frame sampling over
    * real containers ([[runMediaNx]]). mjpeg=true swaps the raw-DIB fixture
    * for MJPG containers (ImageIO JPEG frames — h102's codec path): same
    * harness, but the decode cost profile is per-frame JPEG entropy decode
    * instead of a stride walk, so the two series bound both branches of
    * `Avi.framePlane`.
    */
  private def runVideoNx(spark: SparkSession, sfDir: String, copies: Int,
      mjpeg: Boolean = false): Unit = {
    import graft.extensions.Multimodal
    runMediaNx(spark, sfDir, copies, if (mjpeg) "mjpeg" else "video",
      ids => if (mjpeg) Multimodal.toMjpegMedia(ids, "doc_id")
             else Multimodal.toAviMedia(ids, "doc_id"),
      m => Multimodal.videoStats(m, frameStride = 2).toDF())
  }

  /** `audio<N>x`: WAV decode + nearest-frame 2:1 resample (8k→4k) +
    * sign-extended sample sums over real mono PCM16 clips — the audio
    * member of the per-modality linearity series ([[runMediaNx]]).
    */
  private def runAudioNx(spark: SparkSession, sfDir: String, copies: Int): Unit = {
    import graft.extensions.Multimodal
    runMediaNx(spark, sfDir, copies, "audio",
      ids => Multimodal.toWavMedia(ids, "doc_id"),
      m => Multimodal.audioStats(
        Multimodal.resampleAudio(m, targetRate = 4000)).toDF())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores)
    val NxMatBkt = """(\d+)xmatbkt""".r
    val NxMat = """(\d+)xmat""".r
    val Nx = """(\d+)x""".r
    // mode regex accepts any digit string — reject 0 (and 0xmat etc.) with
    // a clear message instead of crashing on an empty reduce deep inside
    // the corpus build
    def copies(n: String): Int = {
      val c = n.toInt
      require(c >= 1, s"scale mode needs N >= 1 copies, got ${c}x")
      c
    }
    val TailNx = """tail(\d+)x""".r
    val PipeNx = """pipe(\d+)x""".r
    val MarginNx = """margin(\d+)x""".r
    val IvfDriftNx = """ivfdrift(\d+)x""".r
    val IvfTripNx = """ivftrip(\d+)x""".r
    val SkewBandNx = """skewband(\d+)x""".r
    val HubNk = """hub(\d+)k""".r
    val HubBasketNk = """hubbasket(\d+)k""".r
    val ChainNk = """chain(\d+)k""".r
    val StreamB = """stream(\d+)""".r
    val VideoNx = """video(\d+)x""".r
    val MjpegNx = """mjpeg(\d+)x""".r
    val AudioNx = """audio(\d+)x""".r
    args.lift(1) match {
      case Some(VideoNx(n)) =>
        runVideoNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(MjpegNx(n)) =>
        runVideoNx(spark, sfDir, copies(n), mjpeg = true); spark.stop(); return
      case Some(AudioNx(n)) =>
        runAudioNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(HubBasketNk(n)) =>
        runHubBasketNk(spark, copies(n)); spark.stop(); return
      case Some(HubNk(n)) =>
        runHubNk(spark, copies(n)); spark.stop(); return
      case Some(StreamB(n)) =>
        runStreamB(spark, copies(n)); spark.stop(); return
      case Some("skewjoin") =>
        runSkewJoin(spark); spark.stop(); return
      case Some("skewagg") =>
        runSkewAgg(spark); spark.stop(); return
      case Some(ChainNk(n)) =>
        runChainNk(spark, copies(n)); spark.stop(); return
      case Some(TailNx(n)) =>
        runTailNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(PipeNx(n)) =>
        runPipeNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(MarginNx(n)) =>
        runMarginNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(IvfDriftNx(n)) =>
        runIvfDriftNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(IvfTripNx(n)) =>
        runIvfTripNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(SkewBandNx(n)) =>
        runSkewBandNx(spark, sfDir, copies(n)); spark.stop(); return
      case Some(NxMatBkt(n)) =>
        runNxMat(spark, sfDir, copies(n), bucketed = true); spark.stop(); return
      case Some(NxMat(n)) =>
        runNxMat(spark, sfDir, copies(n)); spark.stop(); return
      case Some(Nx(n)) =>
        runNx(spark, sfDir, copies(n)); spark.stop(); return
      case _ =>
    }
    if (!new java.io.File(s"$scaleDir/documents.parquet").exists())
      build10x(spark, sfDir)
    if (!new java.io.File(s"$scaleDir/lineitem.parquet").exists())
      buildStar10x(spark, sfDir)
    spark.read.parquet(s"$scaleDir/documents.parquet").selectExpr("count(*)").collect()
    spark.range(100000).selectExpr("sum(id % 7)").collect()

    val names = Seq("h5_minhash_lsh_pairs", "h6_ngram_jaccard",
      "h16_dedup_corpus_keep", "h23_dedup_clusters", "h41_simhash_near_dup",
      "h15_ivf_ann_topk",
      // round-5 composites: DSIR (explode→bucket LM→broadcast-back) and
      // SemDeDup (k-means + within-cluster pairs — the Σ|cluster|² check)
      "h55_dsir_weights", "h56_semdedup",
      // round-6 graph analytics over the near-dup pairs: propagation rounds
      // (join+vote per round) and the wedge-join triangle enumeration (the
      // Σ deg² check — the one shape here with a super-linear failure mode)
      "h66_label_propagation", "h67_dup_graph_triangles",
      // round-6 batch: two-phase global ranking (10× ranked entities —
      // RFM over customers, ABC over parts), per-nation concentration
      // (10× fact rows into fixed dims), single-scan DQ rules over the
      // 10× fact join, banded attribution join over 10× users, and the
      // TPC-H Q3 top-10 star
      "h89_rfm_segments", "h90_pareto_abc", "h91_concentration",
      "h92_dq_expectations", "h93_touch_attribution", "e15_topn_join_agg",
      // final batch: union+descending-window forward as-of over 10× events,
      // scan-stage tokenized join over 10× orders, top-100-bounded Zipf fit
      // over the 10× corpus
      "h97_next_conversion", "h98_pseudonymized_join", "h96_zipf_slope")
    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val rows = names.map { n =>
      val t1 = time(n, sfDir)
      val t10 = time(n, scaleDir)
      println(s"[scale] $n sf0.1=${f3(t1)}s 10x=${f3(t10)}s ratio=${f3(t10 / t1)}")
      (n, t1, t10)
    }
    // BM25 separately: the 10× blow-up prefixes every token with its copy
    // tag (c0…c9), so the declared query's terms match nothing there —
    // time the operator with per-copy-prefixed query terms instead (same
    // per-term df as the base corpus, drawn from three different copies)
    def bm25(dir: String, terms: Seq[String]): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.extensions.Retrieval.bm25TopK(
            spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
            terms, k = 20)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    val b1 = bm25(sfDir, Seq("spark", "join", "window"))
    val b10 = bm25(scaleDir, Seq("c3spark", "c5join", "c7window"))
    println(s"[scale] h51_bm25_topk sf0.1=${f3(b1)}s 10x=${f3(b10)}s ratio=${f3(b10 / b1)}")

    val all = rows :+ (("h51_bm25_topk", b1, b10))
    val js = all.map { case (n, t1, t10) =>
      s""""${n.takeWhile(_ != '_')}":{"base":${f3(t1)},"x10":${f3(t10)},"ratio":${f3(t10 / t1)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale10","queries":$js}""")
    spark.stop()
  }
}
