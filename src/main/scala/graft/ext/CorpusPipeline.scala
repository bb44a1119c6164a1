package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus preparation — the training-data north star as ONE
  * composable call: language gate → quality gate → exact dedup →
  * near-dup (MinHash+LSH) dedup → optional SEMANTIC dedup (SemDeDup
  * over a doc-aligned embedding frame) → optional D4 DIVERSIFY
  * ([[Similarity.prototypePrune]] over the same assignment) → split
  * assignment. Every stage is an existing gated operator; this is the
  * composition a user of the engine actually runs before
  * tokenization, and it is itself oracle-gated end-to-end
  * (q_corpus_prepare replays all five stages in SQL;
  * q_corpus_prepare_semantic adds the embedding stage,
  * q_corpus_prepare_d4 the prune on top).
  *
  * Stage ORDER is the 100 TB design:
  *  1. row-local gates first (lang-ID + quality are zero-shuffle
  *     projections — they drop the junk fraction before anything
  *     shuffles);
  *  2. exact dedup second (one digest shuffle over survivors; web
  *     corpora are 30-50% byte-identical, so this collapses the
  *     input to the expensive stage);
  *  3. near-dup LSH third (band equi-join over what remains);
  *  4. semantic dedup (opt-in) fourth: paraphrase-grade duplicates
  *     share no shingles, so they pass every text stage — SemDeDup's
  *     cell-scoped cosine clumps catch them, and running it LAST
  *     among the dedups means the cell self-join sees only text-stage
  *     survivors (the smallest frame of the run);
  *  5. split LAST, so train/valid/test membership is stable under
  *     re-preparation — the split key is the document id, not
  *     anything the earlier stages computed.
  *
  * Keeping the near-dup rep = the CLUSTER MIN ID (the
  * [[Dedup.nearDupClusters]] label) makes the survivor set
  * deterministic and layout-independent — re-running preparation on a
  * grown corpus keeps the same representatives wherever clusters
  * didn't change. The opt-in [[SurvivorPolicy.Ranked]] policy instead
  * keeps each neighborhood's [[GraphRank.pagerankMicro]] local maxima
  * — the documents the neighborhood clusters around — at the cost of
  * the rank iteration's 2-shuffles-per-round; only the survivor
  * CHOICE moves, never which documents count as near-duplicates
  * (spec-pinned in CorpusPipelineSpec).
  */
object CorpusPipeline {

  /** Which document survives a near-dup neighborhood. */
  sealed trait SurvivorPolicy
  object SurvivorPolicy {
    /** Each connected cluster keeps its MIN-ID member (the
      * [[Dedup.nearDupClusters]] label) — one survivor per cluster,
      * zero extra passes. The default.
      */
    case object MinId extends SurvivorPolicy
    /** Each neighborhood keeps its [[GraphRank.pagerankSurvivors]]
      * local rank maxima — graph-centrality canonicals (a cluster
      * with several dense cores keeps one per core).
      */
    case object Ranked extends SurvivorPolicy
  }

  /** The row-local scoring pass [[prepare]] and [[prepareFunnel]]
    * share: lang-ID + quality + whitespace token count, computed for
    * every input row (Catalyst pushes the gates' filters below the
    * projection, so unfiltered rows never evaluate the extra columns
    * in the prepare-only path; the funnel caches this frame ONCE and
    * feeds every stage aggregation from it).
    */
  private def scoredFrame(df: DataFrame, textCol: String): DataFrame = {
    // all three gate columns are fields of ONE ScoredTextExpr walk
    // (guide §4): the pushed-down gate filter evaluates the expression
    // at most twice per row (lang_pred + quality) and the projection
    // once (codegen CSE), vs ~30 interpreted split+filter lambdas in
    // the composed langId/qualityScore/size(tokens) form
    val st = graft.functions.LangScoreFunctions.scored_text(col(textCol))
    df.withColumn("lang_pred", st.getField("lang_pred"))
      .withColumn("quality", st.getField("quality"))
      .withColumn("n_tokens", st.getField("n_tokens"))
  }

  /** The pipeline's internal frames: per-rep attributes (id,
    * lang_pred, quality, n_tokens for every exact-dedup winner), the
    * near-dup survivor ids, and — when a semantic stage is configured
    * — the post-semantic survivor ids, plus the post-diversify ids
    * when the D4 prune is also opted in.
    */
  private final case class Frames(repAttrs: DataFrame, nearReps: DataFrame,
      semanticReps: Option[DataFrame], diversifiedReps: Option[DataFrame])

  private def pipelineFrames(scored: DataFrame, idCol: String,
      textCol: String, allowedLangs: Seq[String], minQuality: Double,
      survivorPolicy: SurvivorPolicy,
      semanticVectors: Option[DataFrame], semanticTau: Double,
      semanticCells: Int, diversifyPermille: Int,
      vecIdCol: String, vecCol: String,
      semanticIndex: Option[(DataFrame, Array[Array[Double]])]): Frames = {
    // stage 1: row-local gates (no shuffle) — the survivor attributes
    // (lang, quality, token count) are ALSO row-local, computed in the
    // shared scoring pass and carried through the collapse join rather
    // than re-derived from a second corpus scan at the end
    val kept = scored.filter(col("lang_pred").isin(allowedLangs: _*) &&
      col("quality") >= minQuality)
    // stages 2+3 fused over ONE digest+shingle scan: the exact-dedup
    // winners ARE the collapse representatives (min id per distinct
    // text), and the near-dup stage consumes exactly those documents'
    // shingle sets — round 5 paid the md5 scan twice, once in
    // exactDedupSurvivors and again inside minhashDedupEdges' own
    // collapse. Mode is Always (not Auto): exact-dup removal is this
    // pipeline's CONTRACT, not a performance heuristic, so the
    // collapse must run even when duplicates are rare. The carry
    // makes the collapse's cached join the ONLY pass over the text:
    // every downstream frame (pairs, clusters, final projection)
    // reads the cache, never the corpus.
    val collapse = Dedup.collapsedShingleSets(kept, idCol, textCol,
      HashDefs.ShingleN, Dedup.CollapseMode.Always,
      carry = Seq("lang_pred", "quality", "n_tokens"))
    // stage 3: near-dup survivors over exact survivors — both
    // policies consume the SAME pair graph (only the survivor choice
    // differs): min-id keeps each cluster's label member, ranked
    // keeps each neighborhood's integer-PageRank local maxima.
    // Duplicate-cluster star edges are unnecessary here: the members
    // they would connect are exactly the losers stage 2 removes.
    val pairs = Dedup.minhashRepPairs(collapse.repSets, minJaccard = 0.5)
      .select("id_a", "id_b")
    val bareReps = survivorPolicy match {
      case SurvivorPolicy.MinId =>
        Dedup.nearDupClusters(collapse.repSets.select(col("id")), pairs)
          .filter(col("id") === col("cluster"))
          .select("id")
      case SurvivorPolicy.Ranked =>
        GraphRank.pagerankSurvivors(collapse.repSets.select(col("id")), pairs)
          .select("id")
    }
    // with a semantic stage configured, reps feeds TWO jobs — the
    // restricted vector/assignment materialization and the final
    // survivor anti-join — and recomputing it re-runs the pair join +
    // clustering chain (the collapse cache shields only the text
    // scan). One narrow id column, same lineage-backed LRU discipline
    // as the other pipeline caches; without a semantic stage reps is
    // consumed once and the cache would be pure overhead.
    val reps =
      if (semanticVectors.nonEmpty || semanticIndex.nonEmpty) bareReps.cache()
      else bareReps
    // stage 4 (opt-in): SEMANTIC dedup over the text-stage survivors'
    // embeddings — paraphrase-grade duplicates share no shingles and
    // pass stages 2-3, but clump in embedding space. SemDeDup
    // ([[Similarity.semDedupSurvivors]]) restricted to the survivor
    // set: a doc is dropped only when its OWN vector loses a clump
    // (cos ≥ semanticTau to a same-cell neighbor strictly closer to
    // the centroid); docs WITHOUT an embedding row cannot be judged
    // and always survive. The restriction means the cell self-join
    // runs over the smallest frame of the pipeline, and the centroid
    // pick is hash-deterministic over the survivor set, so the whole
    // stage replays in the oracle.
    // the semantic stage's two sources share one tail: `vectored` is
    // the id set the stage can judge (everything else survives
    // unconditionally — vectorless docs cannot lose a clump), and
    // `semSurvivorIds` the ids SemDeDup keeps among them
    val semanticFrames: Option[(DataFrame, Option[DataFrame])] =
      (semanticVectors, semanticIndex) match {
        case (Some(vecs), _) =>
          // IN-PLAN face: centroid pick + encode run over the
          // survivor-restricted embedding frame per preparation run.
          // cached: the restricted frame feeds the auto-sizing count,
          // the centroid pick, the assignment pass, AND the loser
          // anti-join — uncached, each would re-run the embeddings
          // scan + survivor semi-join (same lineage-backed LRU
          // discipline as the collapse caches)
          val repVecs = vecs.select(col(vecIdCol).as("id"), col(vecCol))
            .join(reps, Seq("id"), "left_semi")
            .cache()
          val semBare = Similarity.semDedupSurvivors(repVecs, semanticCells,
            semanticTau, "id", vecCol)
          Some(semanticTail(reps, repVecs.select("id"), semBare,
            diversifyPermille))
        case (None, Some((assigned, cents))) =>
          // STORE-SERVED face: the persisted (id, cell, vec, norm)
          // inverted file restricted to the text-stage survivors by
          // one left-semi on id, deduped within the STORE's cells
          // via [[Similarity.semDedupFromIndex]] — the run pays
          // neither the centroid pick nor the cell assignment. Both
          // faces score the centroid-cosine the same way, so that is
          // all it saves, and it is not a speed claim: at √n cells
          // the standalone served face measured slower than in-plan
          // (3.4-8.9 s vs 1.8-3.9 s warm at 20k vectors on a 4-core
          // VM, SCALE.md §"SemDeDup from the persisted store").
          // Deliberate semantic distinction from the
          // in-plan face, documented on [[prepare]]: cells come from
          // the CORPUS-trained quantizer (the one every other store
          // consumer shares), not from a survivor-restricted re-pick
          // — the "one quantizer, many consumers" production shape.
          // cached AND eagerly materialized: the restricted
          // assignment feeds BOTH semDedupFromIndex (whose internal
          // slim cache materializes off it) and the vectoredIds
          // anti-join in the tail. A lazy cache is not enough here —
          // the whole prepare output is ONE action, and a cold cache
          // referenced from parallel branches of that job re-executes
          // the store read ⋈ the whole text-stage pipeline per branch
          // (the in-plan face is shielded by accident: its centroid
          // pick COLLECTS at plan-build time, warming repVecs before
          // the output job runs). Measured at f10: uncached 14.2 s,
          // lazy cache 13.1 s, eager 8.1 s vs in-plan's 11.5 s — the
          // standalone A/B's win restored. The count is the same
          // collect-barrier pattern as the centroid pick (M2).
          val repAsgn = assigned.join(reps, Seq("id"), "left_semi")
            .cache()
          repAsgn.count()
          val semBare = Similarity.semDedupFromIndex(repAsgn, cents,
            semanticTau)
          Some(semanticTail(reps, repAsgn.select("id"), semBare,
            diversifyPermille))
        case (None, None) => None
      }
    Frames(collapse.repAttrs.get, reps,
      semanticFrames.map(_._1), semanticFrames.flatMap(_._2))
  }

  /** The shared stage-4/4b tail over either semantic source:
    * survivors = reps minus the vectored docs whose id lost a clump
    * (vectorless docs always survive), and — when D4 is opted in —
    * the prototype prune over the SAME (id, cell, centroid_cos)
    * assignment `semBare` produced (no re-encode; the
    * [[Similarity.prototypePrune]] composition).
    */
  private def semanticTail(reps: DataFrame, vectoredIds: DataFrame,
      semBare: DataFrame, diversifyPermille: Int)
      : (DataFrame, Option[DataFrame]) = {
    // with the D4 stage on, TWO consumers read the SemDeDup
    // survivors (the semantic losers anti-join AND the prune) —
    // semDedupTail caches only the assignment, so uncached each
    // would re-run the quadratic within-cell self-join; same lazy
    // lineage-backed discipline as the collapse caches
    // (deterministic either way — this is purely the
    // one-self-join-execution claim)
    val semFull =
      if (diversifyPermille > 0) semBare.cache() else semBare
    def minusVecLosers(keptVecIds: DataFrame): DataFrame =
      reps.join(
        vectoredIds.join(keptVecIds, Seq("id"), "left_anti"),
        Seq("id"), "left_anti")
    // stage 4b (opt-in on top of 4): D4 prototype pruning over the
    // SAME survivor assignment SemDeDup just produced — the clumps
    // collapsed, now each cell sheds its most-prototypical permille
    val diversified =
      if (diversifyPermille > 0)
        Some(minusVecLosers(
          Similarity.prototypePrune(semFull, diversifyPermille)
            .select("id")))
      else None
    (minusVecLosers(semFull.select("id")), diversified)
  }

  /** Prepare `df` for training: returns one row per SURVIVING document
    * — (id, lang_pred, quality, n_tokens, split_bucket, split).
    * `semanticVectors` (doc-aligned `(vecIdCol, vecCol)` rows) opts in
    * the embedding-space dedup stage; `semanticCells = 0` sizes cells
    * with [[Similarity.ivfCellsFor]], an explicit count pins a layout.
    * `diversifyPermille > 0` opts in the D4 prototype prune on top of
    * the semantic stage (each cell sheds its most-prototypical
    * permille of the SemDeDup survivors — requires a semantic source:
    * prototypicality is centroid-cosine, there is nothing to rank
    * without the assignment).
    *
    * `semanticIndex` is the PERSISTED alternative to
    * `semanticVectors` (pass exactly one): the stored (id, cell,
    * vec, norm) inverted file + quantizer
    * ([[graft.io.IndexStore.readIvfAssigned]] /
    * `readAnnCentroids`), restricted to the text-stage survivors by
    * one left-semi — the nightly e2e run then pays neither the
    * centroid pick nor the per-row cell assignment the in-plan stage
    * re-pays per run. Semantics note (deliberate, spec-pinned both
    * ways): the in-plan stage picks centroids FROM the survivor set,
    * the store stage dedups within the CORPUS-trained quantizer's
    * cells — the assignment every other store consumer (search,
    * triplets, D4) already shares. A store built over exactly the
    * survivor-restricted vectors reproduces the in-plan output
    * bit-for-bit (CorpusPipelineSpec); the full-corpus store is the
    * production shape and carries its own oracle
    * (q_corpus_prepare_semantic_persisted). Vectorless docs always
    * survive under either source — a doc with no row in the
    * inverted file cannot be judged.
    */
  def prepare(df: DataFrame, idCol: String, textCol: String,
      allowedLangs: Seq[String], minQuality: Double,
      survivorPolicy: SurvivorPolicy = SurvivorPolicy.MinId,
      semanticVectors: Option[DataFrame] = None,
      semanticTau: Double = 0.45, semanticCells: Int = 0,
      diversifyPermille: Int = 0,
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      semanticIndex: Option[(DataFrame, Array[Array[Double]])] = None)
      : DataFrame = {
    require(semanticVectors.isEmpty || semanticIndex.isEmpty,
      "pass semanticVectors OR semanticIndex, not both")
    require(diversifyPermille == 0 ||
      semanticVectors.nonEmpty || semanticIndex.nonEmpty,
      "diversifyPermille needs the semantic stage: pass semanticVectors " +
        "or semanticIndex")
    val f = pipelineFrames(scoredFrame(df, textCol), idCol, textCol,
      allowedLangs, minQuality, survivorPolicy,
      semanticVectors, semanticTau, semanticCells, diversifyPermille,
      vecIdCol, vecCol, semanticIndex)
    val survivors = f.repAttrs
      .join(f.diversifiedReps.orElse(f.semanticReps).getOrElse(f.nearReps),
        Seq("id"), "left_semi")
    // final stage: stable hash split on the id
    TrainingData.withSplit(survivors, col("id"))
      .select(col("id").as(idCol), col("lang_pred"), col("quality"),
        col("n_tokens"), col("split_bucket"), col("split"))
  }

  /** Stage-by-stage FUNNEL accounting of [[prepare]] — the report a
    * corpus-construction run publishes next to its output: documents
    * and whitespace tokens surviving each stage (input → lang gate →
    * quality gate → exact dedup → near-dup survivors → semantic
    * survivors when the stage is configured), as exact integer counts
    * so the report itself is oracle-checkable. This is the number the
    * data team actually argues about ("the near-dup stage ate 12% of
    * our tokens — at which threshold?"). Cost: ONE cached scoring
    * pass feeds the input/lang/quality/exact stage aggregations AND
    * the pipeline itself (prepare's gates read the same cached frame
    * — the corpus is lang/quality-scored exactly once per funnel
    * run), plus the near-dup graph the survivors need anyway. The
    * 5-or-6-row report is materialized eagerly so the scoring cache
    * is released before returning.
    * The exact-dedup stage keeps the min-id winner per digest — the
    * same rule [[prepare]]'s collapse applies — so funnel counts
    * match what prepare ships.
    */
  def prepareFunnel(df: DataFrame, idCol: String, textCol: String,
      allowedLangs: Seq[String], minQuality: Double,
      survivorPolicy: SurvivorPolicy = SurvivorPolicy.MinId,
      semanticVectors: Option[DataFrame] = None,
      semanticTau: Double = 0.45, semanticCells: Int = 0,
      diversifyPermille: Int = 0,
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      semanticIndex: Option[(DataFrame, Array[Array[Double]])] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(semanticVectors.isEmpty || semanticIndex.isEmpty,
      "pass semanticVectors OR semanticIndex, not both")
    require(diversifyPermille == 0 ||
      semanticVectors.nonEmpty || semanticIndex.nonEmpty,
      "diversifyPermille needs the semantic stage: pass semanticVectors " +
        "or semanticIndex")
    val text: Column = col(textCol)
    // cached: the lang-ID + quality scoring chain is the expensive
    // row-local half; every gate-stage aggregation AND the pipeline's
    // own gates read this one materialization
    val scored = scoredFrame(df, textCol).cache()
    val langKept = scored.filter(col("lang_pred").isin(allowedLangs: _*))
    val kept = langKept.filter(col("quality") >= minQuality)
    val exact = kept
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(text)).orderBy(col(idCol))))
      .filter(col("__rn") === 1)
    val f = pipelineFrames(scored, idCol, textCol, allowedLangs,
      minQuality, survivorPolicy, semanticVectors, semanticTau,
      semanticCells, diversifyPermille, vecIdCol, vecCol, semanticIndex)
    val nt = col("n_tokens").cast("long")
    def stat(stage: String, ord: Int, fr: DataFrame): DataFrame =
      fr.agg(count(lit(1)).as("docs"),
          coalesce(sum(nt), lit(0L)).as("tokens"))
        .select(lit(stage).as("stage"), lit(ord).as("stage_order"),
          col("docs"), col("tokens"))
    val nearSurv = f.repAttrs.join(f.nearReps, Seq("id"), "left_semi")
    val base = stat("input", 0, scored)
      .unionByName(stat("lang_gate", 1, langKept))
      .unionByName(stat("quality_gate", 2, kept))
      .unionByName(stat("exact_dedup", 3, exact))
      .unionByName(stat("near_dup", 4, nearSurv))
    val withSem = f.semanticReps
      .map(sr => base.unionByName(stat("semantic_dedup", 5,
        f.repAttrs.join(sr, Seq("id"), "left_semi"))))
      .getOrElse(base)
    val out = f.diversifiedReps
      .map(dr => withSem.unionByName(stat("diversify", 6,
        f.repAttrs.join(dr, Seq("id"), "left_semi"))))
      .getOrElse(withSem)
      .localCheckpoint()
    scored.unpersist()
    out
  }
}
