package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The COMPOSED end-to-end LLM corpus-curation pipeline (h122) — the
  * LLM-layer analog of the reference's master flow
  * (`/root/reference/flows.py:285-384`, which chains six star-schema stages
  * into one deployable unit; `Lakehouse.runAll` mirrors that for the
  * reference's own tables). The per-operator surface (h1–h121) proves each
  * stage; THIS operator proves the chain: clean → exact dedup → near dedup
  * → split → leakage repair → trained quality gate → mixing weights →
  * train-split selection → pack + epoch order + export manifest, emitting
  * ONE AUDIT ROW PER STAGE (doc and token counts in/out plus a per-stage
  * detail scalar) so every document and token is accounted for end to end —
  * the conservation ledger a production curation run ships with its
  * artifacts.
  *
  * Shared constructions (the composition's whole point at 100 TB):
  *   - the verified near-dup PAIR TABLE is built ONCE at the permissive
  *     leakage threshold ([[Dedup.verifiedNearDupScores]], `jacc_q`
  *     carried) and consumed twice — the dedup keep-list re-filters it at
  *     the strict `dedupJaccQ`, the leakage repair reads it whole — instead
  *     of paying the LSH+verify chain per stage;
  *   - each stage's survivor relation is persisted once and read by every
  *     downstream consumer (counts, joins, featurize) — in production these
  *     are bucketed tables between stages, here `persist()` handles the
  *     caller-owned cache lifecycle exactly like [[Dedup.dedupCorpus]]'s
  *     `persistIntermediate` contract;
  *   - the audit rows are 1-row exact-integer aggregates over those
  *     persisted relations, collected driver-side and emitted as a literal
  *     10-row relation — driver traffic is ledger-sized, never a corpus
  *     join (see the in-body note for why the lazy crossJoin formulation
  *     lost).
  *
  * Stage semantics (each IS the cited per-operator query, parameterized):
  *   0 `input`      — the raw corpus (docs_in = docs_out, ledger anchor).
  *   1 `clean`      — h22's C4-style gate ([[TextAnalysis.cleanCorpus]]):
  *                    keep allowed-language, quality ≥ 0.5, 10..100k-token
  *                    docs.
  *   2 `exact_dedup`— h1/h16's exact collapse: min-id representative per
  *                    normalized-content fingerprint AMONG CLEAN DOCS (rep
  *                    selection after cleaning — the full-corpus rep may
  *                    itself have been dirty).
  *   3 `near_dedup` — h16's greedy keep-list over pairs with
  *                    `jacc_q ≥ dedupJaccQ`; detail = verified pair count
  *                    at that threshold.
  *   4 `split`      — h21's deterministic hash split labels
  *                    ([[Splits.splitLabel]]); docs pass through; detail =
  *                    raw train-split count.
  *   5 `leak_repair`— h112's move-to-train component closure
  *                    ([[Dedup.splitRepair]]) over the SHARED pair table
  *                    restricted to surviving docs (all pairs ≥ the
  *                    permissive `leakJaccQ`; pairs at ≥ dedupJaccQ lost
  *                    their id_b in stage 3, so what remains is the
  *                    below-dedup-threshold near-dup mass — exactly the
  *                    leakage channel dedup does NOT close); detail =
  *                    moved docs. Labels change, membership does not.
  *   6 `quality_gate`— h116's trained classifier
  *                    ([[Classifier.qualityLrScores]]): train on the
  *                    surviving corpus against `seedRule`, keep `pred = 1`.
  *   7 `mix_weights`— h57's domain mixture ([[Mixing.domainMixture]]) over
  *                    the gated corpus; docs pass through; detail = number
  *                    of domains.
  *   8 `train_select`— keep docs whose EFFECTIVE split (hash label
  *                    overridden by stage-5 moves) is 'train' — eval splits
  *                    leave the training-export path here.
  *   9 `export`     — h43 + h118 + h120 ([[Chunking.exportManifest]]):
  *                    pack, epoch-order, shard; docs_out/tokens_out are the
  *                    manifest's own sums (the ledger closes against the
  *                    shipped artifact, not against an intermediate);
  *                    detail = output shard count.
  *
  * Output: `stage_idx:int, stage, docs_in, docs_out, tokens_in,
  * tokens_out, detail` — ordered by stage_idx; docs_in(k) = docs_out(k−1)
  * for every k ≥ 1 by construction (Round20Spec pins the ledger chain,
  * repartition-stability, artifact/ledger agreement, and the
  * stage-equivalence against the standalone operators; the repair's own
  * idempotence-under-effective-labels pin lives with
  * [[Dedup.splitRepair]] in PropertySpec).
  */
object Pipeline {

  /** Everything a curation run produces, beyond the audit: the artifacts a
    * production consumer writes to tables. All relations sit on the run's
    * stage-boundary checkpoints (stable handles — re-reading them does not
    * re-run a stage), EXCEPT `manifest` and `mix`, which are cheap
    * aggregates over those checkpoints re-evaluated per action.
    *
    *   - `audit`     — the 10-row per-stage ledger (what [[curateCorpus]]
    *                   returns; the h122 gate surface)
    *   - `trainDocs` — the curated effective-train corpus (id, text,
    *                   domain), the pack/export input
    *   - `splits`    — every surviving doc's EFFECTIVE split (hash label
    *                   overridden by the leakage-repair moves)
    *   - `mix`       — h57's per-domain mixture weights over the gated
    *                   corpus
    *   - `manifest`  — h120's per-shard export manifest over `trainDocs`
    */
  final case class CurationResult(audit: DataFrame, trainDocs: DataFrame,
    splits: DataFrame, mix: DataFrame, manifest: DataFrame)

  /** The h122 gate surface: [[curate]]'s audit ledger alone. */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, seedRule: Column => Column,
      dedupJaccQ: Long = 8000L, leakJaccQ: Long = 5000L,
      nBuckets: Int = 256, steps: Int = 8,
      epochSeed: Long = 29L, budget: Int = 256, shardSize: Long = 4L,
      shards: Int = 16): DataFrame =
    curate(docs, idCol, textCol, domainCol, seedRule, dedupJaccQ,
      leakJaccQ, nBuckets, steps, epochSeed, budget, shardSize, shards)
      .audit

  def curate(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, seedRule: Column => Column,
      dedupJaccQ: Long = 8000L, leakJaccQ: Long = 5000L,
      nBuckets: Int = 256, steps: Int = 8,
      epochSeed: Long = 29L, budget: Int = 256, shardSize: Long = 4L,
      shards: Int = 16): CurationResult = {
    require(dedupJaccQ >= leakJaccQ,
      "the shared pair table is built at leakJaccQ; dedupJaccQ must not be below it")
    // the ledger's token count is computed ONCE here and carried through
    // every stage checkpoint — each stat is then a sum over a cached int
    // column instead of a fresh regex-tokenize pass per stage (six corpus
    // scans of the most expensive scan-side op, for numbers that cannot
    // change after this projection)
    // Stage-0 relation: widen a narrow input FIRST ([[Parallelism.widen]]
    // — every scan-side signal is per-row work), then compute the carried
    // token count AND the stage-1 keep verdict in one layered projection
    // pass ([[TextAnalysis.withCleanKeep]] — the same signal builders as the
    // h22 audit relation, so the gate cannot drift), and checkpoint it. The checkpoint is load-bearing twice:
    // it stops Catalyst from pushing the keep filter back below the
    // repartition onto the single-partition scan, and stage 1 plus the
    // sIn ledger cell read the materialized rows instead of re-running
    // the tokenizer. The pre-round-21 form paid a corpus-token aggregate
    // exchange (the old langId), a corpus self-join (langId ⋈ quality),
    // and a third corpus join (base ⋈ keep-ids) — three exchanges for a
    // per-row predicate (guide §2.4).
    val base = TextAnalysis.withCleanKeep(
      Parallelism.widen(docs).select(col(idCol), col(textCol), col(domainCol),
        coalesce(size(TextOps.tokens(col(textCol))), lit(0)).cast("long")
          .as("__ntok")),
      textCol, "__keep").localCheckpoint(eager = false)

    // 1 — clean: a cheap filter over the checkpointed stage-0 rows (every
    // signal was computed there, once per document)
    val cleanDocs = base.filter(col("__keep")).drop("__keep")

    // 2 — exact collapse among clean docs (Dedup.exactReps' plan, carrying
    // the domain column through)
    val repIds = cleanDocs
      .select(col(idCol), md5(TextOps.normalized(col(textCol))).as("__fp"))
      .groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val repDocs = cleanDocs.join(repIds, idCol).persist()

    // the SHARED pair table: one LSH+verify build at the permissive
    // threshold, two consumers (stages 3 and 5). localCheckpoint (not
    // persist) at every multi-consumer stage boundary from here down: the
    // data is stored identically (block manager, like persist), but the
    // LINEAGE is truncated — without it, every downstream plan (the
    // manifest chain especially) drags the whole pipeline's logical tree
    // (LSH verify, classifier literals, CC output) through analysis,
    // canonicalization, and per-AQE-stage re-planning even though the
    // bytes are cached: measured 18 s of pure driver plan-work on the
    // manifest aggregate at sf0.001, ~0.5 s with the lineage cut. The
    // production analog is writing each stage to a bucketed table; a
    // long-lived cluster job would swap in reliable checkpointing (the
    // [[Dedup.connectedComponents]] note).
    val pairs = Dedup.verifiedNearDupScores(
      repDocs.select(col(idCol), col(textCol)), idCol, textCol,
      minJaccardQ = leakJaccQ).localCheckpoint(eager = false)

    // 3 — near-dup keep-list at the strict threshold
    val keptDocs = repDocs
      .join(pairs.filter(col("jacc_q") >= dedupJaccQ)
        .select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
    val keptIds = keptDocs.select(col(idCol))

    // 4 — deterministic hash split labels (scan-side)
    val rawSplit = keptIds
      .withColumn("split", Splits.splitLabel(col(idCol)))

    // 5 — leakage repair over the shared pairs among survivors
    val leakPairs = pairs
      .join(keptIds.toDF("id_a"), "id_a")
      .join(keptIds.toDF("id_b"), "id_b")
      .select("id_a", "id_b")
    val moves = Dedup.splitRepair(leakPairs, policy = "move_to_train")
      .localCheckpoint(eager = false)
    val effSplit = rawSplit
      .join(moves.select(col("doc_id").as(idCol), col("split_new")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("split_new"), col("split")).as("split"))

    // 6 — trained quality gate (train + score in one featurize)
    val gatedIds = Classifier.qualityLrScores(keptDocs, idCol, textCol,
        seedRule, nBuckets, steps)
      .filter(col("pred") === 1)
      .select(col(idCol))
    val gatedDocs = keptDocs.join(gatedIds, idCol)
      .localCheckpoint(eager = false)

    // 7 — domain mixing weights (docs pass through)
    val mix = Mixing.domainMixture(gatedDocs, domainCol, textCol)

    // 8 — effective-train selection
    val trainDocs = gatedDocs
      .join(effSplit.filter(col("split") === "train").select(col(idCol)),
        idCol)
      .localCheckpoint(eager = false)

    // 9 — pack + epoch order + export manifest. The ledger needs only the
    // manifest's totals + shard count, so the chain runs ONCE inside one
    // aggregate — no persist, no second pass.
    val manifest = Chunking.exportManifest(trainDocs, idCol, textCol,
      epochSeed, budget, shardSize, shards)

    // ---- the audit ledger, assembled DRIVER-SIDE ------------------------
    // Every ledger cell is a 1-row exact-integer aggregate (the h114/h116
    // model-sized-driver-traffic posture — here it is TEN rows total), so
    // each is collected once over its persisted stage relation and reused
    // across every row that references it. The first cut expressed the
    // ledger as a 10-arm union of crossJoined aggregate subqueries — ~25
    // separate aggregate subtrees plus 20 broadcast-NLJ exchanges, each
    // its own job+codegen unit: measured 38 s of pure scheduling/codegen
    // overhead at sf0.001 on data that fits in one page. Collecting the
    // same ten 1-row aggregates sequentially and emitting a literal
    // relation produces bit-identical output with one job per cell.
    def stat(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(col("__ntok")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // The manifest aggregate runs FIRST and alone: it is the deepest chain,
    // and its one action pins every still-lazy stage checkpoint (trainDocs
    // ← gatedDocs ← effSplit ← moves) so the ledger cells that follow read
    // pinned blocks instead of racing to materialize shared lineage.
    val mRow = manifest.agg(
      coalesce(sum(col("n_docs")), lit(0L)),
      coalesce(sum(col("n_tokens")), lit(0L)),
      count(lit(1))).head()
    val sManifest = (mRow.getLong(0), mRow.getLong(1))
    val dShards = mRow.getLong(2)
    // The remaining ten cells are INDEPENDENT tiny aggregates over pinned
    // relations — submitted concurrently from a bounded pool (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially; each next job's tasks back-fill the previous job's
    // straggler tail). Results are exact integer aggregates, so submission
    // order cannot change a single bit of the ledger.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fIn = Future(stat(base))
      val fClean = Future(stat(cleanDocs))
      val fReps = Future(stat(repDocs))
      val fKept = Future(stat(keptDocs))
      val fGated = Future(stat(gatedDocs))
      val fTrain = Future(stat(trainDocs))
      val fPairs = Future(pairs.filter(col("jacc_q") >= dedupJaccQ).count())
      val fTrainRaw = Future(rawSplit.filter(col("split") === "train").count())
      val fMoves = Future(moves.count())
      val fDomains = Future(mix.count())
      val sIn = Await.result(fIn, Duration.Inf)
      val sClean = Await.result(fClean, Duration.Inf)
      val sReps = Await.result(fReps, Duration.Inf)
      val sKept = Await.result(fKept, Duration.Inf)
      val sGated = Await.result(fGated, Duration.Inf)
      val sTrain = Await.result(fTrain, Duration.Inf)
      val dPairs = Await.result(fPairs, Duration.Inf)
      val dTrainRaw = Await.result(fTrainRaw, Duration.Inf)
      val dMoves = Await.result(fMoves, Duration.Inf)
      val dDomains = Await.result(fDomains, Duration.Inf)

      // every ledger cell is now collected — release the persisted stage
      // relation so a long-lived session (Bench runs 179 queries in one
      // JVM) does not carry this pipeline's caches forward; the checkpointed
      // stage RDDs (base included) are reclaimed by the ContextCleaner once
      // this method's references drop
      repDocs.unpersist(blocking = false)

      val rows = Seq(
        (0, "input", sIn, sIn, 0L),
        (1, "clean", sIn, sClean, 0L),
        (2, "exact_dedup", sClean, sReps, 0L),
        (3, "near_dedup", sReps, sKept, dPairs),
        (4, "split", sKept, sKept, dTrainRaw),
        (5, "leak_repair", sKept, sKept, dMoves),
        (6, "quality_gate", sKept, sGated, 0L),
        (7, "mix_weights", sGated, sGated, dDomains),
        (8, "train_select", sGated, sTrain, 0L),
        (9, "export", sTrain, sManifest, dShards))
      val sp = docs.sparkSession
      import sp.implicits._
      val audit = rows.map { case (i, name, in, out, detail) =>
        (i, name, in._1, out._1, in._2, out._2, detail)
      }.toDF("stage_idx", "stage", "docs_in", "docs_out", "tokens_in",
        "tokens_out", "detail")
      CurationResult(audit, trainDocs.drop("__ntok"), effSplit, mix, manifest)
    } finally pool.shutdown()
  }
}
