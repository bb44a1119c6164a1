package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKFunctions

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  * - [[bruteForceTopK]] — exact cosine top-k, the correctness
  *   baseline. Query-set × corpus join; fine when the query set is
  *   small or the corpus is broadcastable.
  * - [[lshTopK]] — random-hyperplane LSH bucketing: vectors only meet
  *   inside a bucket (equi-join on the bucket signature), which is the
  *   scale path: corpus shuffles once on bucket id instead of
  *   cross-joining.
  *
  * All math is double (floats widened first): `zip_with` + `aggregate`
  * are codegen'd higher-order functions, no UDF.
  */
object Similarity {
  import graft.functions.VectorFunctions.{vec_dot, vec_norm}

  /** Dot product in double, index order — the codegen'd
    * [[graft.functions.VectorDot]] (floats widened per element,
    * bit-identical to a double fold).
    */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  /** L2 norm. */
  def norm(v: Column): Column = vec_norm(v)

  /** Attach the vector's norm (computed once per row — pairwise
    * consumers then only pay one dot product per pair).
    */
  def withNorm(df: DataFrame, vecCol: String = "vec"): DataFrame =
    df.withColumn("norm", norm(col(vecCol)))

  /** Cosine from precomputed norms. A zero-norm vector has no defined
    * cosine — emit null (ANSI mode would otherwise kill the job with
    * DIVIDE_BY_ZERO on the first zero embedding in a 100 TB corpus):
    * null ranks LAST under the `cos desc` window ordering and fails
    * every `cos >= τ` threshold, which is exactly the semantic a
    * zero/padding embedding should have.
    */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb =!= 0.0, dot(a, b) / (na * nb))

  /** Default scored-pair bound of the brute all-pairs faces
    * ([[trainingTriplets]], [[mineBitext]],
    * [[graft.ext.Dedup.embeddingNearDupPairs]]): past it they fail loud
    * naming their scale twin instead of OOMing an executor hours in.
    */
  val MaxScoredPairs: Long = 200_000_000L

  /** The one ranking primitive of every top-k face: per `key`, the `k`
    * best rows of `scored` under (`score` desc, `id` asc) — the
    * deterministic tie-break contract the oracles replay — as (key,
    * rank, id, score[, payload]). Up to [[TopKFunctions.MaxK]] it is
    * the aggregate top-k, not a row_number window (guide §2.3): the
    * window shuffles EVERY scored candidate to its key's partition and
    * sorts the whole relation; the k-slot aggregate combines map-side,
    * so the exchange carries |keys|·k entries and nothing is sorted.
    * Rank = array position (the aggregate returns rows in the window's
    * exact total order, nulls included). Past the cap (a caller ranking
    * "everything") the k-slot buffer would degenerate toward a
    * per-group sort, so the window form is the honest plan.
    */
  private def topK(scored: DataFrame, key: String, score: String,
      id: String, k: Int, payload: Option[String] = None): DataFrame =
    if (k > TopKFunctions.MaxK)
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(key).orderBy(col(score).desc, col(id).asc)))
        .filter(col("rank") <= k)
        .select((Seq(key, "rank", id, score) ++ payload).map(col): _*)
    else
      scored.groupBy(key)
        .agg(TopKFunctions.topk_score_min_id(col(score), col(id), k,
          payload.map(col).toSeq: _*).as("__top"))
        .select(col(key), posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(Seq(col(key), (col("__pos") + 1).as("rank"),
          col("__e.id").as(id), col("__e.score").as(score)) ++
          payload.map(col("__e.p0").as(_)): _*)

  /** [[topK]] over (query_id, id, cos) in the neighbor output shape. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored, "query_id", "cos", "id", k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"))

  /** Corpus side with norms: (id, vec, norm). */
  private def corpusSide(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    withNorm(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")))

  /** Query side with norms, renamed for the scored join. */
  private def querySide(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    withNorm(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")), "qvec")
      .withColumnRenamed("norm", "qnorm")

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ranked by (cosine desc, id asc).
    * The query side is broadcast — the corpus is scanned exactly once,
    * no shuffle of the corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(bruteScored(corpus, queries, idCol, vecCol), k)

  /** The exact-cosine scored frame every brute face ranks or filters:
    * one corpus scan against the broadcast query side.
    */
  private def bruteScored(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val c = Dedup.scanParallelized(corpusSide(corpus, idCol, vecCol))
    val q = querySide(queries, idCol, vecCol)
    c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("cos",
        cosineFromNorms(col("qvec"), col("vec"), col("qnorm"), col("norm")))
  }

  /** Contrastive TRAINING TRIPLETS (anchor, positive, hard negative)
    * — the assembled end product the near-dup and hard-negative
    * machinery exists to feed: per anchor, the highest-cosine corpus
    * vector AT/ABOVE `posFloor` (the near-dup "same thing" bar) as
    * the positive, and the highest-cosine vector BELOW `negCeiling`
    * as the negative ([[hardNegatives]] rank 1 — hard by
    * construction, false-negative-guarded by the ceiling). Anchors
    * with no qualifying positive emit nothing: a triplet loss needs
    * all three legs. One scored frame feeds both argmaxes — a single
    * corpus scan, broadcast anchors, two row-local window ranks.
    *
    * This is the BRUTE face — the exact-scoring oracle baseline for
    * [[trainingTripletsFromIndex]], O(|anchors|·|corpus|) scored
    * pairs. It fails LOUD (instead of an executor OOM hours in) when
    * that product exceeds `maxScoredPairs`: the guard pays two count
    * jobs — trivially cheap next to the scoring pass they gate — and
    * routes real corpora to the index-served twin, whose probed-cell
    * serve is the scale shape (measured FLAT f10→f30 where this face
    * OOMs a 128 GiB heap, SCALE.md). Raise the bound only for a
    * deliberately provisioned exact-baseline run.
    */
  def trainingTriplets(corpus: DataFrame, anchors: DataFrame,
      posFloor: Double = 0.45, negCeiling: Double = 0.45,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxScoredPairs: Long = MaxScoredPairs): DataFrame = {
    // BigInt: a Long product wraps negative past 2^63 — at exactly the
    // corpus sizes the guard exists to reject — and would slip through.
    // corpus-as-anchors (the registry face and the pretraining-loop
    // shape) passes the SAME frame twice: one count job, not two.
    val cn = BigInt(corpus.count())
    val pairs = cn * (if (anchors eq corpus) cn else BigInt(anchors.count()))
    require(pairs <= maxScoredPairs,
      s"trainingTriplets (brute): $pairs scored pairs exceeds " +
        s"maxScoredPairs=$maxScoredPairs — use trainingTripletsFromIndex " +
        "(the persisted-IVF serve scores nProbe/nCells of the corpus per " +
        "anchor) or raise the bound for a provisioned exact baseline")
    // corpus-as-anchors: cosine is symmetric BIT-exactly here —
    // dot(a,b) multiplies the same element pairs in the same index
    // order as dot(b,a) (IEEE multiply commutes) and the norm product
    // commutes — so score only the id > query_id half of the cross
    // product and mirror each scored row locally (inline of the two
    // orientations): half the dot products and half the
    // BroadcastNestedLoopJoin output for the identical scored frame.
    val scored =
      if (anchors eq corpus) {
        val c = Dedup.scanParallelized(corpusSide(corpus, idCol, vecCol))
        val q = querySide(corpus, idCol, vecCol)
        c.join(broadcast(q), col("id") > col("query_id"))
          .withColumn("cos",
            cosineFromNorms(col("qvec"), col("vec"), col("qnorm"), col("norm")))
          .select(inline(array(
            struct(col("query_id"), col("id"), col("cos")),
            struct(col("id").as("query_id"), col("query_id").as("id"),
              col("cos")))))
      } else bruteScored(corpus, anchors, idCol, vecCol)
    tripletArgmax(scored, posFloor, negCeiling)
  }

  /** [[trainingTriplets]] served from the PERSISTED inverted file —
    * the scale shape for mining triplets over EVERY document (the
    * contrastive-pretraining loop): candidates per anchor come from
    * the anchor's `nProbe` probed cells of the cell-partitioned
    * `ivf_assigned` table (the [[hardNegativesFromIndex]] DPP plan),
    * so the exact-cosine pass scores nProbe/nCells of the corpus per
    * anchor instead of all of it — the brute face's O(|anchors|·n)
    * scoring (O(n²) with corpus-as-anchors) becomes
    * O(|anchors|·n·nProbe/nCells), and the probe equi-join prunes
    * whole cell directories' BYTES, not just rows. Both triplet legs
    * read the one probed-candidate frame: the positive is by
    * construction a near-dup (same cell as its anchor with
    * overwhelming probability — that is what a coarse quantizer
    * means), and a hard negative is a near-top-scoring survivor, so
    * the cells a probe reads are exactly where both legs live; a
    * low-cosine "easy" negative outside the probed cells is one a
    * triplet loss gains nothing from. Anchors are broadcast per call
    * (the serve contract): mine a huge anchor set in batches — the
    * shape contrastive training consumes anyway (one mining pass per
    * epoch shard), each batch a DPP-pruned index serve.
    */
  def trainingTripletsFromIndex(assigned: DataFrame,
      cents: Array[Array[Double]], anchors: DataFrame,
      posFloor: Double = 0.45, negCeiling: Double = 0.45, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    tripletArgmax(ivfScoredFromIndex(assigned, cents, anchors, nProbe,
      idCol, vecCol), posFloor, negCeiling)

  /** The triplet-assembly tail the brute and FromIndex faces share:
    * both argmaxes in ONE map-side-combinable aggregation over one
    * pass of the scored frame — a window per leg re-ran the whole
    * anchors×corpus scoring twice and shuffled the scored rows
    * (measured 5.0 s → 3.2 s at sf0.1 on the corpus-as-anchors brute
    * face; the remainder is the scoring pass itself).
    * [[graft.functions.ArgMaxScoreMinId]] = highest cos, ties to MIN
    * id — exactly rankTopK's (cos desc, id asc) contract, and (unlike
    * the max-of-(cos, −id)-structs form it replaced) a flat-primitive
    * buffer that keeps the aggregation on the HashAggregate path: the
    * struct buffer forced SortAggregate, which sorted all |anchors|·n
    * scored rows before the partial pass (measured 3.82 → 2.48 s
    * min-of-4 at sf0.1 on the corpus-as-anchors brute face, r18 — the
    * remainder is the scoring pass itself). Anchors with
    * no qualifying positive (or no negative) emit nothing: a triplet
    * loss needs all three legs.
    */
  private def tripletArgmax(scored: DataFrame, posFloor: Double,
      negCeiling: Double): DataFrame = {
    def arg1(cond: Column) =
      graft.functions.ArgMaxFunctions.argmax_min_id(
        when(cond, col("cos")), col("id"))
    scored.groupBy("query_id")
      .agg(arg1(col("cos") >= posFloor).as("p"),
        arg1(col("cos") < negCeiling).as("g"))
      .filter(col("p").isNotNull && col("g").isNotNull)
      .select(col("query_id").as("anchor_id"),
        col("p.id").as("pos_id"), col("g.id").as("neg_id"),
        round(col("p.score"), 6).as("pos_cos"),
        round(col("g.score"), 6).as("neg_cos"))
  }

  /** Margin-based parallel-pair (bitext) mining — Artetxe & Schwenk
    * 2019, "Margin-based Parallel Corpus Mining with Multilingual
    * Sentence Embeddings": raw cosine is a poor mining criterion
    * because hub vectors score high against EVERYTHING, so each
    * pair's cosine is normalized by the mean cosine of both
    * endpoints' k-nearest neighborhoods (the "ratio" margin,
    * `margin(x,y) = cos(x,y) / ((nbr_fwd(x) + nbr_bwd(y)) / 2)`) and
    * each source vector keeps its best-margin target iff the margin
    * clears `marginFloor` (the paper's "max" strategy — one candidate
    * pair per source, thresholded). The mined pairs are the training
    * data for translation / cross-lingual alignment; the same margin
    * is the standard hub-corrected retrieval score (CSLS).
    *
    * Determinism contract (what lets DuckDB replay this exactly):
    * neighborhood means average the 6-dp-ROUNDED cosines as exact
    * decimals — a k-element DOUBLE mean depends on summation order
    * under a shuffle, a decimal sum does not — so every margin is a
    * pure function of per-pair doubles both engines compute
    * identically. Ranking ties break by id throughout.
    *
    * This is the BRUTE face — the exact-scoring oracle baseline for
    * [[mineBitextFromIndex]], O(|src|·|tgt|) scored pairs, guarded
    * like [[trainingTriplets]]: fail loud past `maxScoredPairs`
    * instead of an executor OOM hours in.
    *
    * Eager: besides the guard's two counts, building the returned
    * frame runs one Spark job, the `localCheckpoint` of the scored
    * candidate frame in the margin tail. Its blocks stay cached until
    * the returned frame is garbage-collected.
    */
  def mineBitext(src: DataFrame, tgt: DataFrame, k: Int = 4,
      marginFloor: Double = 1.02,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxScoredPairs: Long = MaxScoredPairs): DataFrame = {
    // BigInt for the same overflow reason as [[trainingTriplets]]
    val pairs = BigInt(src.count()) * BigInt(tgt.count())
    require(pairs <= maxScoredPairs,
      s"mineBitext (brute): $pairs scored pairs exceeds " +
        s"maxScoredPairs=$maxScoredPairs — use mineBitextFromIndex " +
        "(probed-cell candidates per side from the persisted IVF store) " +
        "or raise the bound for a provisioned exact baseline")
    val scored = bitextScored(src, tgt, idCol, vecCol)
    bitextMarginTail(scored, scored, k, marginFloor)
  }

  /** [[mineBitext]] served from the PERSISTED inverted file — the
    * scale shape for corpus×corpus mining where BOTH sides are large:
    * forward candidates come from the source queries' probed cells of
    * the target-side inverted file and backward candidates from the
    * target queries' probes of the source side, so each direction
    * scores nProbe/nCells of the other corpus instead of all of it
    * (the [[ivfTopKFromIndex]] DPP byte-pruning plan, twice). A
    * shared quantizer works: pass the same store's `assigned` table
    * filtered to each side (multilingual embedding spaces are aligned
    * by construction — that is what makes bitext mining possible at
    * all). Forward pairs whose target has no backward candidates are
    * dropped (no neighborhood estimate → no margin), mirroring the
    * paper's mutual-neighborhood requirement.
    *
    * Eager like [[mineBitext]]: building the returned frame runs one
    * Spark job (the forward candidates' `localCheckpoint`), whose
    * blocks stay cached until the returned frame is garbage-collected.
    */
  def mineBitextFromIndex(assignedSrc: DataFrame, assignedTgt: DataFrame,
      cents: Array[Array[Double]], src: DataFrame, tgt: DataFrame,
      k: Int = 4, marginFloor: Double = 1.02, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val fwd = ivfScoredFromIndex(assignedTgt, cents, src, nProbe,
        idCol, vecCol)
      .select(col("query_id").as("src_id"), col("id").as("tgt_id"),
        col("cos"))
    val bwd = ivfScoredFromIndex(assignedSrc, cents, tgt, nProbe,
        idCol, vecCol)
      .select(col("id").as("src_id"), col("query_id").as("tgt_id"),
        col("cos"))
    bitextMarginTail(fwd, bwd, k, marginFloor)
  }

  /** All src×tgt cosines — [[bruteScored]] with tgt as the scanned
    * corpus and src as the broadcast query side (ONE brute scorer: the
    * self-pair guard, zero-norm handling, and broadcast choice live in
    * one place), renamed to the bitext column contract.
    */
  private def bitextScored(src: DataFrame, tgt: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    bruteScored(tgt, src, idCol, vecCol)
      .select(col("query_id").as("src_id"), col("id").as("tgt_id"),
        col("cos"))

  /** The margin-scoring tail brute and FromIndex share. `fwdScored`
    * carries the candidate pairs (src_id, tgt_id, cos); `bwdScored`
    * supplies the target-side neighborhoods (the same frame in the
    * brute face, the reverse-direction probe serve in the index
    * face). Joins to the per-key neighborhood means are left to the
    * planner: at registry scale both sides broadcast, at corpus scale
    * they are shuffle joins on the id — the scored frame is candidate-
    * bounded in the index face, which is what makes that acceptable.
    * The final per-source argmax is ONE map-side-combinable
    * aggregation (the [[tripletArgmax]] struct-max shape), not a
    * window re-shuffle.
    */
  private def bitextMarginTail(fwdScored0: DataFrame, bwdScored: DataFrame,
      k: Int, marginFloor: Double): DataFrame = {
    // the forward scored frame is consumed TWICE (its neighborhood
    // mean + the final margin join), and in the brute face the SAME
    // frame is also the backward side — uncheckpointed, each consumer
    // re-ran the full scoring join (measured: three ~0.9-1.8 s scoring
    // jobs inside one q_bitext_mine run; the means broadcast at
    // registry scale, so no exchange reuse shields the branches).
    // Materialize the candidate frame ONCE; it is candidate-bounded in
    // the index face and maxScoredPairs-guarded in the brute face, so
    // the checkpoint is bounded too.
    val fwdScored = fwdScored0.localCheckpoint()
    val bwdShared = if (bwdScored eq fwdScored0) fwdScored else bwdScored
    def nbrMean(scored: DataFrame, keyCol: String, otherCol: String,
        out: String): DataFrame =
      // each side's neighborhood is its [[topK]] rows (≤ k tiny rows
      // per key, partitioning preserved — no new exchange), so the
      // mean is computed by the SAME sum/count expressions as the
      // window form, decimal-exact and null-counting alike
      topK(scored, keyCol, "cos", otherCol, k)
        .groupBy(keyCol)
        .agg((sum(round(col("cos"), 6).cast("decimal(12,6)")).cast("double")
          / count(lit(1))).as(out))
    val fwd = nbrMean(fwdScored, "src_id", "tgt_id", "nbr_fwd")
    val bwd = nbrMean(bwdShared, "tgt_id", "src_id", "nbr_bwd")
    fwdScored
      .join(fwd, Seq("src_id")).join(bwd, Seq("tgt_id"))
      .withColumn("margin", round(col("cos"), 6)
        / greatest((col("nbr_fwd") + col("nbr_bwd")) / 2, lit(1e-6)))
      .groupBy("src_id")
      // ArgMaxScoreMinId ≡ max(struct(margin, −tgt_id, cos)) here —
      // (src_id, tgt_id) is unique per candidate row so the cos field
      // never decided a tie — but its flat-primitive buffer keeps the
      // aggregation on the HashAggregate path (the struct buffer
      // forced SortAggregate over every candidate row, r18)
      .agg(graft.functions.ArgMaxFunctions.argmax_min_id(
        col("margin"), col("tgt_id"), col("cos")).as("b"))
      .filter(col("b.score") >= marginFloor)
      .select(col("src_id"), col("b.id").as("tgt_id"),
        round(col("b.p0"), 6).as("cos"),
        round(col("b.score"), 6).as("margin"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space, then deduplicate ONLY within clusters — the
    * all-pairs semantic near-dup scan restricted to cells, which is
    * the paper's point (k-means cells make web-scale pairwise cosine
    * tractable) and exactly the IVF machinery this engine already
    * persists. Deterministic adaptation: clusters = the hash-picked
    * [[ivfCentroids]] cells (SQL-replayable, unlike k-means); within
    * each cell, a document is DROPPED when some same-cell neighbor
    * with pair cosine ≥ `tau` sits FARTHER from the shared centroid
    * (strictly lower centroid-cosine survives; ties keep the lower
    * id) — the paper's "keep the member farthest from the centroid"
    * rule, which preserves the diverse outlier of each duplicate
    * clump rather than its most generic member. Survivors =
    * per-clump local minima of centroid-cosine, isolated docs always
    * survive. Returns (id, cell, centroid_cos).
    *
    * Scale shape: assignment is the row-local codegen'd
    * [[graft.functions.IvfCells]] pass and the centroid-cosine one
    * dot per row against the broadcast centroids
    * ([[withCentroidCos]]); the only shuffle join is the within-cell
    * self-join, quadratic in CELL occupancy, not corpus size — `nCells = 0` (the default) sizes cells with
    * [[ivfCellsFor]] from one cheap `count()` so the per-cell work
    * stays bounded as the corpus grows (the lshNearDupPairs occupancy
    * discipline); pass an explicit cell count to pin a layout (the
    * registry face pins 16 so its oracle replays at every SF).
    * Zero-norm vectors have null cosines: they never drop anything
    * and are never dropped.
    */
  def semDedupSurvivors(corpus: DataFrame, nCells: Int = 0,
      tau: Double = 0.45,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.IvfFunctions.ivf_cells
    val cells = if (nCells > 0) nCells else ivfCellsFor(corpus.count())
    val cents = ivfCentroids(corpus, cells, idCol, vecCol)
    val assigned = corpusSide(corpus, idCol, vecCol)
      .withColumn("cell", element_at(ivf_cells(col("vec"), cents, 1), 1))
    semDedupTail(withCentroidCos(assigned, cents), tau)
  }

  /** [[semDedupSurvivors]] served from the PERSISTED ANN store — the
    * build-once/serve-many shape for the paper's operator: `assigned`
    * is the stored (id, cell, vec, norm) inverted file
    * ([[graft.io.IndexStore.readIvfAssigned]]) and `cents` the stored
    * quantizer, so the run pays neither the centroid pick (a corpus
    * orderBy-limit-collect) nor the [[graft.functions.IvfCells]]
    * assignment pass that the in-plan face re-pays per run. Everything
    * else is shared: the centroid-cosine ([[withCentroidCos]], one dot
    * per row) and the drop rule, so the output and the oracle are the
    * in-plan face's (served ≡ in-plan is spec-pinned). Measured at
    * √n cells, warm (SCALE.md §"SemDeDup from the persisted store"):
    * the saving is small — the assignment with its pick took
    * 0.6–1.0 s at 20k vectors — and reading the cell-partitioned
    * store cost more, 3.4–8.9 s here against 1.8–3.9 s in-plan.
    */
  def semDedupFromIndex(assigned: DataFrame, cents: Array[Array[Double]],
      tau: Double = 0.45): DataFrame =
    semDedupTail(withCentroidCos(assigned, cents), tau)

  /** The centroid-cosine (`ccos`) both SemDeDup faces score with:
    * each (id, cell, vec, norm) row against its OWN cell's centroid,
    * through a broadcast equi-join on `cell` against the nCells-row
    * centroid frame — ONE codegen'd dot per row, and the centroid
    * matrix stays out of the plan's literals (a literal per-cell
    * array puts nCells × dim doubles into every plan). The dot is the
    * index-order double dot the cell assignment uses (centroids are
    * unit vectors), so the SQL twin replays it bit-for-bit.
    *
    * LEFT join + fail-loud: an inner join would silently DROP every
    * row whose cell has no centroid — the mixed-artifacts state a
    * read racing a retrain swap (or hand-mixed store dirs) produces —
    * and silent row loss is the one failure a dedup stage must never
    * have. The error is raised per offending row at evaluation,
    * costing no extra scan on the happy path. A null cell (a null
    * vector has none) misses no centroid: its `ccos` is null, and the
    * row survives like a zero-norm one.
    */
  private def withCentroidCos(assigned: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex.map { case (v, cid) => (cid, v.toSeq) }
      .toSeq.toDF("cell", "cvec")
    assigned
      .select(col("id"), col("cell").cast("int").as("cell"),
        col("vec"), col("norm"))
      .join(broadcast(centsDf), Seq("cell"), "left")
      .withColumn("ccos",
        when(col("cell").isNotNull && col("cvec").isNull, raise_error(concat(
          lit("semDedup: cell "), col("cell").cast("string"),
          lit(" has no centroid — the cell assignment and quantizer are " +
            "from different builds"))))
        .otherwise(
          when(col("norm") =!= 0.0, dot(col("vec"), col("cvec")) / col("norm"))))
      .select("id", "cell", "vec", "norm", "ccos")
  }

  /** The clump-collapse tail both SemDeDup faces share: within-cell
    * pairs at `tau`, the farthest-from-centroid drop rule, and the
    * survivor anti-join, over one cached assignment frame. The cache
    * feeds both sides of the self-join AND the final anti-join
    * (uncached, the assignment would recompute 3×). Deliberately a
    * lazy, lineage-backed `cache()` with no unpersist: an eager
    * `localCheckpoint` (tried in round 14) truncates lineage — lost
    * executor blocks then permanently break every downstream
    * consumer instead of recomputing — and hides the real plan from
    * the plan-guard pins; the cache is reclaimed by session LRU like
    * the dedup collapse caches, the documented trade for repeated
    * calls in one session.
    */
  private def semDedupTail(assigned: DataFrame, tau: Double): DataFrame = {
    val slim = assigned.cache()
    val pairs = slim.as("a")
      .join(slim.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .withColumn("cos", cosineFromNorms(col("a.vec"), col("b.vec"),
        col("a.norm"), col("b.norm")))
      .filter(col("cos") >= tau)
    val dropped = pairs
      .filter(col("b.ccos") < col("a.ccos") ||
        (col("b.ccos") === col("a.ccos") && col("b.id") < col("a.id")))
      .select(col("a.id").as("id")).distinct()
    slim.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cell"), round(col("ccos"), 6).as("centroid_cos"))
  }

  /** SSL-prototype pruning — the diversification half of D4
    * (Sorscher et al. 2022, "Beyond neural scaling laws: beating
    * power law scaling via data pruning"; Tirumala et al. 2023, "D4:
    * Improving LLM Pretraining via Document De-Duplication and
    * Diversification"): after SemDeDup removes semantic duplicates,
    * each cluster still over-represents its PROTOTYPES — the generic
    * center-of-mass documents that add the least marginal signal per
    * token when data is abundant — so D4 drops the most-prototypical
    * `dropPermille`/1000 of every cell (highest centroid-cosine
    * first) and keeps the diverse tail. `asgn` is any (id, cell,
    * centroid_cos) frame — [[semDedupSurvivors]] and
    * [[semDedupFromIndex]] output feed it directly, so the
    * persisted-store serve composes for free.
    *
    * Fidelity DEVIATION from Tirumala 2023 (not just an
    * optimization): the paper RE-CLUSTERS the SemDeDup survivors
    * before its prototype prune, whereas this ranks against the
    * PRE-dedup centroids and assignment — prototypicality is
    * measured relative to cluster centers that still reflect the
    * removed duplicate clumps, so the drop SET can differ from a
    * paper-faithful run (deterministic and oracle-matched either
    * way). The adaptation buys the no-re-encode composition over the
    * persisted store; a paper-faithful pass is one
    * `semDedupSurvivors` re-run over the survivor subset when the
    * drop-set difference matters.
    *
    * Deterministic: rank by (centroid_cos desc, id asc) — ids are
    * unique, a total order — and the cut is integer permille
    * arithmetic (`n·dropPermille div 1000`), so both engines compute
    * the same drop set on any layout; a 1-member cell never drops
    * (its cut is 0 for dropPermille < 1000). Null centroid-cosines
    * (zero-norm vectors) are never ranked and always survive, the
    * [[semDedupSurvivors]] convention.
    *
    * Scale shape: one window over `cell` partitions whose size the
    * [[ivfCellsFor]] occupancy contract bounds at ≈√n — the budget
    * the SemDeDup self-join already spends — over three narrow
    * columns; no text or vectors move.
    */
  def prototypePrune(asgn: DataFrame, dropPermille: Int = 250): DataFrame = {
    require(dropPermille >= 0 && dropPermille < 1000,
      s"dropPermille must be in [0, 1000): $dropPermille")
    // ONE window spec, ONE pass over `asgn`: the rank and the
    // non-null cell count share the spec (the count takes the full
    // frame), and null cosines sort LAST — their rank exceeds the
    // non-null count, so the single cut predicate keeps them without
    // a second branch (a union of a null-filtered twin would
    // re-execute the whole upstream SemDeDup plan, plan-guard-pinned
    // against via the FileScan count)
    val byCell = Window.partitionBy("cell")
      .orderBy(col("centroid_cos").desc_nulls_last, col("id").asc)
    asgn
      .withColumn("rk", row_number().over(byCell))
      .withColumn("cn", count(col("centroid_cos")).over(byCell.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rk") > expr(s"cn * $dropPermille div 1000"))
      .select("id", "cell", "centroid_cos")
  }

  /** The full D4 pipeline over a raw embedding corpus: SemDeDup
    * (duplicate clumps collapse to their centroid-farthest member),
    * then [[prototypePrune]] over the survivors' own cell assignment
    * — one assignment pass feeds both stages. See the papers cited
    * on [[prototypePrune]]; serve from the persisted store at scale
    * by composing `prototypePrune(semDedupFromIndex(...))` instead.
    */
  def d4Survivors(corpus: DataFrame, nCells: Int = 0, tau: Double = 0.45,
      dropPermille: Int = 250, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    prototypePrune(semDedupSurvivors(corpus, nCells, tau, idCol, vecCol),
      dropPermille)

  /** Recall@k of an approximate top-k result against the exact one —
    * the QA face of the approximation ladder: every ANN serve
    * (LSH/IVF/PQ and their persisted twins) trades recall for bytes,
    * and this measures the trade IN the engine, on the live index,
    * instead of trusting the fixture-time calibration forever. Both
    * inputs are (query_id, neighbor_id, …) top-k frames (any of the
    * rankTopK-shaped outputs); returns one row per exact-side query:
    * (query_id, n_matched, recall). The denominator is the EXACT
    * side's per-query row count, not a nominal k — when the corpus
    * is smaller than k+1 after self-exclusion the exact list is
    * short, and dividing by k would understate recall and make 1.0
    * unreachable. Cost: two top-k-sized frames joined on their keys
    * — independent of corpus size, so running it per serve batch
    * (sampled queries) is how a production index gets its recall
    * monitored alongside [[graft.io.IndexStore]]'s occupancy-PSI
    * drift signal.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val matched = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double")
          / col("n_exact").cast("double"), 6).as("recall"))
  }

  /** Deterministic pseudo-random hyperplane component r[plane][d]:
    * a hash of (plane, d) mapped into [-0.5, 0.5). Computed driver-side
    * and embedded as a literal array, so the per-row projection is one
    * codegen'd [[graft.functions.VectorDot]] — the interpreted
    * `aggregate(zip_with(...))` form benched ~10× slower (one lambda
    * pair per element per plane).
    */
  private def planeComponent(plane: Int, d: Int): Double =
    (((plane.toLong * 1315423911L + d.toLong * 2654435761L) % 1000003L).toDouble
      / 1000003.0) - 0.5

  /** Random-hyperplane LSH signature: bit p = sign(dot(v, r_{offset+p})).
    * `nPlanes` bits → one long bucket id. `planeOffset` selects an
    * independent plane family per LSH table; `dim` is the embedding
    * width (planes are literal arrays of that length — extra elements
    * beyond the vector's own length are ignored by the dot product).
    */
  def lshBucket(vec: Column, nPlanes: Int, planeOffset: Int = 0,
      dim: Int = 64): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = Array.tabulate(dim)(d => planeComponent(planeOffset + p, d))
      val proj = vec_dot(vec, typedLit(plane))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH bucket ids for all `nTables` tables at once (element t =
    * table t over global plane indices [t*nPlanes, (t+1)*nPlanes)) —
    * one codegen'd [[graft.functions.LshBuckets]] loop; `posexplode`
    * yields (table, bucket). Agreement with the composable
    * [[lshBucket]] is pinned in SimilaritySpec.
    */
  private def lshTableBuckets(vec: Column, nPlanes: Int, nTables: Int,
      dim: Int): Column =
    graft.functions.LshFunctions.lsh_buckets(vec, nPlanes, nTables, dim)

  /** Plane count that holds expected bucket occupancy at
    * `targetBucket` for an `n`-vector corpus: the candidate join
    * inside a bucket is quadratic in occupancy (per table ≈
    * n²/2^planes total), so planes must grow with log₂(n) — a FIXED
    * plane count is the one knob that silently turns the bucketed
    * self-join quadratic as the corpus scales (measured on the f30
    * ladder, SCALE.md: 60k vectors at the 6-plane default = 940/
    * bucket = exponent 2.2; +3 planes recovered ~3×, identical-
    * vector recall unaffected — exact dups share every bucket by
    * construction; losses land in the weak tail just above minCos.
    * Compensate there with more tables/multiprobe if that band
    * matters). Never returns below `floorPlanes` (the measured-recall
    * default).
    */
  def lshPlanesFor(n: Long, targetBucket: Int = 64,
      floorPlanes: Int = 6): Int =
    math.max(floorPlanes,
      math.ceil(math.log(math.max(1L, n).toDouble / targetBucket)
        / math.log(2)).toInt)

  /** Approximate near-dup pairs: cosine ≥ `minCos` among pairs that
    * collide in any LSH table — the scale path for
    * [[graft.ext.Dedup.embeddingNearDupPairs]]' all-pairs scan. The
    * corpus self-joins only within (table, bucket); recall follows the
    * table/plane s-curve (near-dup-grade cosine ≥ 0.8 collides with
    * high probability at the defaults). Size `nPlanes` with
    * [[lshPlanesFor]] when the corpus is much larger than ~4k
    * vectors — the default 6 planes are the RECALL-calibrated
    * bench-scale setting, not a scale-free constant.
    */
  def lshNearDupPairs(corpus: DataFrame, minCos: Double,
      nPlanes: Int = 6, nTables: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpusSide(corpus, idCol, vecCol)
    val index = c.select(col("id"),
      posexplode(lshTableBuckets(col("vec"), nPlanes, nTables, dim))
        .as(Seq("table", "bucket")))
    val candidates = index.as("a")
      .join(index.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(c.select(col("id").as("id_a"), col("vec").as("va"), col("norm").as("na")), Seq("id_a"))
      .join(c.select(col("id").as("id_b"), col("vec").as("vb"), col("norm").as("nb")), Seq("id_b"))
      .withColumn("cos", cosineFromNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding-level contamination report: corpus rows whose vector is
    * within cosine ≥ `minCos` of ANY benchmark row — the semantic
    * complement of the shingle-overlap
    * [[graft.ext.Dedup.contaminationReport]] (paraphrased eval
    * leakage shares no shingles but survives in embedding space).
    * Returns (id, bench_id, cos); anti-join the `id`s away to
    * decontaminate.
    *
    * Scale shape: the corpus indexes once on (table, bucket); the
    * benchmark side — eval sets are tiny next to a training corpus —
    * is broadcast both at the bucket join and at the verify join, so
    * the corpus never shuffles and nothing is all-pairs. Recall
    * follows the same table/plane s-curve as [[lshNearDupPairs]].
    */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      minCos: Double,
      nPlanes: Int = 6, nTables: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSameId: Boolean = true): DataFrame = {
    val c = corpusSide(corpus, idCol, vecCol)
    val b = withNorm(bench.select(col(idCol).as("bench_id"), col(vecCol).as("vec")))
      .select(col("bench_id"), col("vec").as("bvec"), col("norm").as("bnorm"))
    val cIndex = c.select(col("id"),
      posexplode(lshTableBuckets(col("vec"), nPlanes, nTables, dim))
        .as(Seq("table", "bucket")))
    val bIndex = b.select(col("bench_id"),
      posexplode(lshTableBuckets(col("bvec"), nPlanes, nTables, dim))
        .as(Seq("table", "bucket")))
    val sameId =
      if (excludeSameId) col("id") =!= col("bench_id") else lit(true)
    val candidates = cIndex
      .join(broadcast(bIndex), Seq("table", "bucket"))
      .filter(sameId)
      .select(col("id"), col("bench_id"))
      .distinct()
    candidates
      .join(c.select(col("id"), col("vec"), col("norm")), Seq("id"))
      .join(broadcast(b), Seq("bench_id"))
      .withColumn("cos",
        cosineFromNorms(col("vec"), col("bvec"), col("norm"), col("bnorm")))
      .filter(col("cos") >= minCos)
      .select(col("id"), col("bench_id"), round(col("cos"), 6).as("cos"))
  }

  /** Unit-normalize an embedding column (L2): after this, dot product
    * IS cosine, so downstream pairwise math drops the per-pair norm
    * divisions. One codegen'd O(d) pass
    * ([[graft.functions.VectorNormalize]]) — the composable
    * `transform(vec, x => x / vec_norm(vec))` re-evaluates the norm per
    * ELEMENT inside an interpreted lambda, O(d²) per row.
    */
  def normalized(vec: Column): Column =
    graft.functions.VectorFunctions.vec_normalize(vec)

  /** Symmetric int8 quantization of an embedding: scale = 127/max|v|,
    * q[i] = round(v[i]·scale) ∈ [-127, 127] — 4× smaller than float32
    * on disk and over the wire, which at 100 TB of embeddings is the
    * difference between a shuffle that fits and one that doesn't.
    * Returns (q array<tinyint>, scale) — [[dequantized]] restores the
    * approximation v[i] ≈ q[i]/scale. One codegen'd O(d) pass
    * ([[graft.functions.VectorQuantize]]; same rounding as `round()`
    * in Spark and DuckDB, so the oracle stays exact).
    */
  def quantizedInt8(vec: Column): Column =
    graft.functions.VectorFunctions.vec_quantize(vec)

  def dequantized(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") / scale)

  /** Hard ceiling on [[ivfCentroids]]' driver-side collect: the
    * centroid matrix must stay "train offline, broadcast" sized — a
    * misconfigured nCells must fail loud, not collect a corpus.
    */
  val MaxIvfCells = 65536

  /** Cell count that holds probed-candidate volume as the corpus
    * grows — the IVF twin of [[lshPlanesFor]]: a probe scores
    * n·nProbe/nCells candidates per query, so a FIXED cell count
    * turns every serve (and the triplet-mining faces built on it)
    * into a constant-factor cut of an O(n) scan. √n cells (the FAISS
    * sizing convention) makes per-query candidates O(√n·nProbe) and
    * keeps quantizer training cost ∝ cells×dim. Never below
    * `floorCells` (the registry's oracle-replayable sizing), never
    * above [[MaxIvfCells]] (the quantizer must stay train-offline/
    * broadcast sized — beyond the cap, shard the corpus and give
    * each shard its own index, the standard multi-index layout).
    */
  def ivfCellsFor(n: Long, floorCells: Int = 16): Int =
    math.min(MaxIvfCells,
      math.max(floorCells,
        math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt))

  /** Deterministic IVF coarse quantizer: the `nCells` corpus vectors
    * with the smallest (hash60(id), id) become the (L2-normalized)
    * centroid matrix — layout-independent and exactly reproducible in
    * SQL, unlike k-means. Collected and broadcast: the standard
    * "train the quantizer offline, ship it to every executor" IVF
    * pattern (nCells ≪ corpus; at 100 TB you'd train better centroids
    * offline and pass them in the same shape).
    */
  def ivfCentroids(corpus: DataFrame, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    require(nCells >= 1 && nCells <= MaxIvfCells,
      s"nCells must be in [1, $MaxIvfCells] (got $nCells): centroids are " +
        "collected to the driver and broadcast — a cell count at corpus " +
        "scale is a misconfiguration, not a bigger index")
    val rows = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("hk", TextAnalysis.tokenHash60(col("id").cast("string")))
      .orderBy(col("hk"), col("id"))
      .limit(nCells)
      .select("vec").collect()
    rows.map { r =>
      val v = r.getSeq[Any](0).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }.toArray
      val nrm = math.sqrt(v.map(x => x * x).sum)
      // a zero corpus vector stays a zero centroid (dot 0 with
      // everything) instead of poisoning every assignment with NaNs
      if (nrm == 0.0) v else v.map(_ / nrm)
    }
  }

  /** Lloyd-refined IVF centroids: seed with the deterministic
    * hash-picked [[ivfCentroids]], then run `iters` spherical-k-means
    * iterations over a deterministic hash-ordered sample of ≤
    * `nCells × samplePerCell` corpus vectors. Hash-picked seeds are
    * layout-independent and SQL-replayable, but they are corpus
    * VECTORS, not cluster centers — cells end up wildly uneven and
    * recall at low nProbe suffers; a couple of Lloyd passes moves
    * each centroid to the (normalized) mean of its assigned sample,
    * evening the cells out. Still the "train offline, broadcast the
    * quantizer" shape: assignment is the row-local codegen'd
    * [[graft.functions.IvfCells]] over the SAMPLE only, the per-cell
    * mean is one map-side-combinable (cell, dim) aggregation of at
    * most nCells×dim rows, and both the sample (`TakeOrdered` on the
    * 60-bit id hash) and the collect are `require`-capped — corpus
    * size never reaches the driver. Deterministic up to FP summation
    * order in the means (the SEEDS replay in SQL; the refined
    * centroids are a training artifact, so trained-IVF queries get
    * rows-only oracle checks, recall pinned in SimilaritySpec).
    * Empty cells keep their seed centroid.
    */
  def ivfCentroidsTrained(corpus: DataFrame, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      iters: Int = 2, samplePerCell: Int = 256): Array[Array[Double]] = {
    require(iters >= 0 && iters <= 16,
      s"iters must be in [0, 16] (got $iters): each iteration is a " +
        "sample pass — more than a few buys nothing at quantizer grain")
    require(samplePerCell >= 1 &&
      nCells.toLong * samplePerCell <= 4L * 1024 * 1024,
      s"sample of $nCells x $samplePerCell rows exceeds the 4M-vector " +
        "training cap — train offline and pass centroids in instead")
    val seed = ivfCentroids(corpus, nCells, idCol, vecCol)
    if (iters == 0 || seed.isEmpty) return seed
    val dim = seed(0).length
    import graft.functions.IvfFunctions.ivf_cells
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("__hk", TextAnalysis.tokenHash60(col("id").cast("string")))
      .orderBy(col("__hk"), col("id"))
      .limit(nCells * samplePerCell)
      .select("vec")
      .cache() // re-assigned every iteration
    try {
      var cents = seed
      (0 until iters).foreach { _ =>
        val sums = sample
          .withColumn("cell", element_at(ivf_cells(col("vec"), cents, 1), 1))
          .select(col("cell"), posexplode(col("vec")).as(Seq("d", "x")))
          .groupBy("cell", "d")
          .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
          .collect() // ≤ nCells×dim rows — quantizer-sized by the caps
        val mean = Array.fill(nCells, dim)(0.0)
        val cnt = Array.fill(nCells)(0L)
        sums.foreach { r =>
          val (c, d) = (r.getInt(0), r.getInt(1))
          mean(c)(d) = r.getDouble(2) / r.getLong(3)
          cnt(c) = r.getLong(3)
        }
        cents = Array.tabulate(nCells) { c =>
          if (cnt(c) == 0L) cents(c) // empty cell keeps its centroid
          else {
            val m = mean(c)
            val nrm = math.sqrt(m.map(x => x * x).sum)
            if (nrm == 0.0) m else m.map(_ / nrm)
          }
        }
      }
      cents
    } finally { sample.unpersist(); () }
  }

  /** IVF approximate top-k — the second classic ANN scale path next to
    * [[lshTopK]]: assign every corpus vector to its nearest centroid
    * cell (a row-local codegen'd projection,
    * [[graft.functions.IvfCells]] — zero shuffle), probe the query's
    * `nProbe` nearest cells, and score EXACT cosine only inside probed
    * cells (an equi-join on cell, never a cross join). Recall/cost
    * dial: nProbe/nCells is the fraction of the corpus scanned per
    * query — measured on the planted-geometry fixture
    * (SimilaritySpec, nCells=16): recall 0.94 at nProbe=1, 1.00 at
    * nProbe=4. Fully deterministic (hash-selected centroids, cid
    * tie-break), so the registry oracle replays the whole pipeline in
    * DuckDB.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainIters: Int = 0): DataFrame = {
    import graft.functions.IvfFunctions.ivf_cells
    val cents =
      if (trainIters > 0)
        ivfCentroidsTrained(corpus, nCells, idCol, vecCol, trainIters)
      else ivfCentroids(corpus, nCells, idCol, vecCol)
    val c = corpusSide(corpus, idCol, vecCol)
    val assigned = c.withColumn("cell",
      element_at(ivf_cells(col("vec"), cents, 1), 1))
    ivfTopKFromIndex(assigned, cents, queries, k, nProbe, idCol, vecCol)
  }

  /** [[ivfTopK]] served from a PREBUILT inverted file: `assigned` is
    * the persisted (id, cell, vec, norm) table
    * ([[graft.io.IndexStore.writeAnnIndexes]]) and `cents` the stored
    * quantizer — queries probe and score without ever re-assigning the
    * corpus. Plan shape identical to [[ivfTopK]] (which delegates
    * here after building the index in-plan).
    */
  def ivfTopKFromIndex(assigned: DataFrame, cents: Array[Array[Double]],
      queries: DataFrame, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(ivfScoredFromIndex(assigned, cents, queries, nProbe,
      idCol, vecCol), k)

  /** The probe→candidate→score body [[ivfTopKFromIndex]] and
    * [[hardNegativesFromIndex]] share: exact cosine for every corpus
    * vector in the query's probed cells.
    */
  private def ivfScoredFromIndex(assigned: DataFrame,
      cents: Array[Array[Double]], queries: DataFrame, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    import graft.functions.IvfFunctions.ivf_cells
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("cell", explode(ivf_cells(col("qvec"), cents, nProbe)))
      .select("query_id", "cell")
    // each corpus vector sits in exactly one cell and the query's
    // probed cells are distinct → (query_id, id) cannot duplicate, no
    // dedup pass needed (unlike the LSH OR-construction)
    val candidates = assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select("query_id", "id", "vec", "norm")
    candidates
      .join(broadcast(querySide(queries, idCol, vecCol)), Seq("query_id"))
      .withColumn("cos",
        cosineFromNorms(col("qvec"), col("vec"), col("qnorm"), col("norm")))
  }

  /** Hard-negative mining — the contrastive-training consumer of the
    * ANN machinery: for each anchor, the k HIGHEST-cosine corpus
    * vectors that are NOT positives (`cos < posCeiling`, default the
    * near-dup bar [[lshNearDupPairs]] uses) — the negatives that
    * actually move an InfoNCE/triplet loss. The ceiling is the
    * false-negative guard: a near-duplicate of the anchor scored as a
    * negative would push apart what training should pull together,
    * the classic in-batch-negatives failure. Row-local predicate on
    * the scored frame, so the plan is exactly [[bruteForceTopK]]'s —
    * one corpus scan, broadcast query side, no corpus shuffle.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      posCeiling: Double = 0.45,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // the scored frame IS bruteScored's (one scorer: self-pair guard,
    // zero-norm handling, broadcast choice, scan parallelization in
    // one place); the ceiling is a row-local filter on top
    rankTopK(bruteScored(corpus, queries, idCol, vecCol)
      .filter(col("cos") < posCeiling), k)

  /** [[hardNegatives]] served from the PERSISTED inverted file — the
    * scale shape: hard negatives are by construction near-top-scoring
    * survivors, so they live in exactly the cells a probe reads (the
    * ceiling only ever removes candidates from the top, never adds
    * cells), and the nProbe/nCells byte-pruning story carries over
    * unchanged.
    */
  def hardNegativesFromIndex(assigned: DataFrame,
      cents: Array[Array[Double]], queries: DataFrame, k: Int,
      posCeiling: Double = 0.45, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(ivfScoredFromIndex(assigned, cents, queries, nProbe,
      idCol, vecCol).filter(col("cos") < posCeiling), k)

  /** Hard ceiling on PQ codes per sub-quantizer: a code must fit one
    * byte — that byte-per-subvector layout IS product quantization's
    * scale story (a 64-dim float32 corpus compresses 64× at m=4).
    */
  val MaxPqCodes = 256

  /** Product-quantization codebooks: `m` sub-quantizers × `ks`
    * codewords, each codeword a `dim/m`-slice of one of the `ks`
    * hash-ordered (and L2-normalized) corpus vectors — the same
    * deterministic, SQL-replayable "train offline, broadcast the
    * quantizer" selection as [[ivfCentroids]] (which it reuses; at
    * 100 TB you'd k-means each sub-space offline and pass the
    * codebooks in the same shape). Returned as codebooks(s)(j) =
    * codeword j of sub-space s.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ks: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must divide into m=$m equal subvectors")
    require(ks >= 1 && ks <= MaxPqCodes,
      s"ks must be in [1, $MaxPqCodes] (got $ks): a PQ code is one byte")
    val subDim = dim / m
    val picks = ivfCentroids(corpus, ks, idCol, vecCol)
    Array.tabulate(m)(s => picks.map(_.slice(s * subDim, (s + 1) * subDim)))
  }

  /** [[pqCodebooks]]' slicing over an ALREADY-FETCHED hash-ordered
    * pick set (the first `ks` [[ivfCentroids]] rows) — lets a store
    * build that needs both quantizers pay the corpus TakeOrdered scan
    * once (the picks are prefix-stable, so `picks.take(ks)` here IS
    * what `pqCodebooks` would have fetched).
    */
  private[graft] def pqCodebooksFromPicks(picks: Array[Array[Double]],
      m: Int, ks: Int, dim: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must divide into m=$m equal subvectors")
    require(ks >= 1 && ks <= MaxPqCodes,
      s"ks must be in [1, $MaxPqCodes] (got $ks): a PQ code is one byte")
    require(picks.length <= ks,
      s"pqCodebooksFromPicks: got ${picks.length} picks for ks=$ks")
    val subDim = dim / m
    Array.tabulate(m)(s => picks.map(_.slice(s * subDim, (s + 1) * subDim)))
  }

  /** L2-normalized copy of a float/double vector with the zero-norm
    * guard the SQL oracle can replay exactly (`x / nrm` per element,
    * zero vectors pass through): [[normalized]]'s codegen'd pass emits
    * NaN on a zero vector, which has no SQL twin.
    */
  private[graft] def normalizedGuarded(vec: Column): Column = {
    val nrm = norm(vec)
    when(nrm === 0.0, transform(vec, x => x.cast("double")))
      .otherwise(transform(vec, x => x.cast("double") / nrm))
  }

  /** Row-local PQ encoding of an L2-normalized vector: array of `m`
    * codes, code s = argmin_j ‖x_s − c_{s,j}‖² computed as
    * cn_{s,j} − 2·x_s·c_{s,j} (the ‖x_s‖² term is constant per row and
    * drops out of the argmin); first-minimum tie-break (smallest j).
    * Pure built-ins over literal codebooks — whole-stage codegen, zero
    * shuffle: encoding a 100 TB corpus is one scan emitting m bytes +
    * one norm per vector.
    */
  def pqEncode(nvec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val codes = codebooks.zipWithIndex.map { case (cb, s) =>
      val subDim = cb(0).length
      val subv = slice(nvec, s * subDim + 1, subDim)
      val dists = array(cb.toIndexedSeq.map { c =>
        val cn = c.map(x => x * x).sum
        lit(cn) - lit(2.0) * dot(subv, typedLit(c))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(codes.toIndexedSeq: _*)
  }

  /** Product-quantization approximate top-k — the third classic ANN
    * scale path after LSH and IVF, and the one that changes the
    * STORAGE story: the corpus is scanned as m one-byte codes per
    * vector (not dim floats), and each (query, vector) score is m
    * table lookups into a per-query LUT (`lut[s][j] = q_s · c_{s,j}`,
    * computed once per query, broadcast with the query), summed in
    * fixed sub-space order — the standard asymmetric-distance (ADC)
    * inner-product approximation, which on normalized vectors IS
    * approximate cosine. No shuffle anywhere: codes are row-local,
    * queries broadcast, the corpus is scanned exactly once.
    *
    * With `rerank > 0`, the PQ scan keeps the top-`rerank` candidates
    * per query and re-scores EXACT cosine only on those (the
    * two-stage retrieve-then-rerank layout every production PQ system
    * uses — the full-precision vectors are touched for `rerank·|Q|`
    * rows instead of the corpus). Output then carries exact `cos`;
    * without rerank it carries `approx_cos`.
    *
    * Fully deterministic (hash-picked codebooks, first-min code
    * tie-break, (score desc, id asc) ranking), so the DuckDB oracle
    * replays codebook derivation, encoding, LUT, and ADC bit-exactly.
    * Recall vs [[bruteForceTopK]] is pinned in SimilaritySpec.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ks: Int = 16, dim: Int = 64, rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = pqCodebooks(corpus, m, ks, dim, idCol, vecCol)
    val codes = corpus
      .select(col(idCol).as("id"), normalizedGuarded(col(vecCol)).as("nv"))
      .select(col("id"), pqEncode(col("nv"), cb).as("codes"))
    // the PQ encode + ADC walk inherit the scan's partitioning on the
    // nested loop's stream side — parallelize a few-split corpus
    def ranked(depth: Int) = topK(Dedup.scanParallelized(codes)
      .join(broadcast(pqLuts(queries, cb, idCol, vecCol)),
        col("id") =!= col("query_id"))
      .withColumn("approx", adc(m)), "query_id", "approx", "id", depth)
    if (rerank <= 0) approxOut(ranked(k))
    else exactRerank(ranked(rerank), corpusSide(corpus, idCol, vecCol),
      Seq("id"), queries, k, rerank, idCol, vecCol)
  }

  /** IVF-PQ approximate top-k — the composition production ANN
    * systems actually deploy (FAISS's IndexIVFPQ layout): the IVF
    * cell equi-join restricts WHICH codes are scanned (nProbe/nCells
    * of the corpus per query) and PQ restricts WHAT a scan reads (m
    * bytes + a LUT lookup per sub-space instead of dim floats) — the
    * two dials compose multiplicatively, which is what makes
    * billion-vector serving affordable. Per corpus vector: one cell
    * id + m code bytes, both row-local projections; per query: nProbe
    * probed cells + one broadcast LUT. The only join is the cell
    * equi-join against broadcast probes. With `rerank > 0` the ADC
    * candidates re-score exact cosine (the full three-stage layout).
    * Deterministic end to end (hash-picked centroids AND codebooks,
    * first-min tie-breaks), so the DuckDB oracle replays cells,
    * codes, LUT, and the restricted ADC bit-exactly.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, m: Int = 4, ks: Int = 16,
      dim: Int = 64, rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.IvfFunctions.ivf_cells
    val cents = ivfCentroids(corpus, nCells, idCol, vecCol)
    val cb = pqCodebooks(corpus, m, ks, dim, idCol, vecCol)
    val codes = corpus
      .select(col(idCol).as("id"), col(vecCol).as("rv"),
        normalizedGuarded(col(vecCol)).as("nv"))
      .select(col("id"),
        element_at(ivf_cells(col("rv"), cents, 1), 1).as("cell"),
        pqEncode(col("nv"), cb).as("codes"))
    if (rerank <= 0)
      ivfPqTopKFromIndex(codes, cents, cb, queries, k, nProbe, idCol, vecCol)
    else exactRerank(ivfPqRanked(codes, cents, cb, queries, nProbe, rerank,
        idCol, vecCol), corpusSide(corpus, idCol, vecCol), Seq("id"),
      queries, k, rerank, idCol, vecCol)
  }

  /** [[ivfPqTopK]]'s ADC path served from a PREBUILT index: `codes`
    * is the persisted (id, cell, codes) table and `cents`/`cb` the
    * stored quantizer + codebooks
    * ([[graft.io.IndexStore.writeAnnIndexes]]) — serving touches only
    * m bytes per probed-cell vector and never re-encodes the corpus.
    * Plan shape identical to [[ivfPqTopK]] at rerank=0 (which
    * delegates here after building the index in-plan).
    */
  def ivfPqTopKFromIndex(codes: DataFrame, cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], queries: DataFrame, k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    approxOut(ivfPqRanked(codes, cents, cb, queries, nProbe, k, idCol, vecCol))

  /** The full three-stage production serve from a PREBUILT store —
    * retrieve-then-rerank entirely from disk artifacts: (1) probe
    * cells against the byte-code table (`codes`), (2) ADC-rank and
    * keep the top-`rerank` candidates per query, (3) re-score EXACT
    * cosine by joining ONLY those candidates against the
    * full-precision inverted file (`assigned`). The rerank join keys
    * on (cell, id), so the cell-partitioned inverted file is pruned
    * to the probed cells (the same DPP layout the IVF serve uses) —
    * full-precision vectors are touched for ≤ rerank·|Q| rows plus
    * only the probed fraction of the file's bytes is even readable.
    * This is FAISS IndexIVFPQ + refine serving, with both stages fed
    * from [[graft.io.IndexStore.writeAnnIndexes]]'s artifacts.
    */
  def ivfPqRerankFromIndex(codes: DataFrame, assigned: DataFrame,
      cents: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      queries: DataFrame, k: Int, nProbe: Int = 2, rerank: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    exactRerank(ivfPqRanked(codes, cents, cb, queries, nProbe, rerank,
        idCol, vecCol), assigned.select(col("cell"), col("id"), col("vec"),
        col("norm")), Seq("cell", "id"), queries, k, rerank, idCol, vecCol)

  /** Shared ADC ranking over a (id, cell, codes) index: probe cells,
    * broadcast per-query LUTs, fixed-order ADC sum, [[topK]] by
    * (approx desc, id asc) — the tail both the in-plan and the
    * persisted IVF-PQ faces rank with. The candidate's cell rides as
    * payload so the rerank face can key its exact-rescore join on
    * (cell, id) and keep the inverted file's partition pruning.
    */
  private def ivfPqRanked(codes: DataFrame, cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], queries: DataFrame, nProbe: Int,
      depth: Int, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.IvfFunctions.ivf_cells
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(ivf_cells(col("qv"), cents, nProbe)))
      .select("query_id", "cell")
    val scored = codes
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(pqLuts(queries, cb, idCol, vecCol)), Seq("query_id"))
      .withColumn("approx", adc(cb.length))
    topK(scored, "query_id", "approx", "id", depth, Some("cell"))
  }

  /** Per-query ADC lookup tables (query_id, lut): `lut[s][j] = q_s ·
    * c_{s,j}` over the guarded-normalized query, computed once per
    * query and broadcast with it.
    */
  private def pqLuts(queries: DataFrame, cb: Array[Array[Array[Double]]],
      idCol: String, vecCol: String): DataFrame = {
    val subDim = cb(0)(0).length
    queries
      .select(col(idCol).as("query_id"), normalizedGuarded(col(vecCol)).as("qnv"))
      .select(col("query_id"), array(cb.indices.map { s =>
        array(cb(s).toIndexedSeq.map(c =>
          dot(slice(col("qnv"), s * subDim + 1, subDim), typedLit(c))): _*)
      }: _*).as("lut"))
  }

  /** The ADC score of a row carrying `lut` and `codes`: the `m`
    * sub-space lookups summed in fixed sub-space order (the order the
    * oracle replays).
    */
  private def adc(m: Int): Column =
    (0 until m).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)

  /** ADC-ranked (query_id, rank, id, approx) rows in the approximate
    * neighbor output shape.
    */
  private def approxOut(ranked: DataFrame): DataFrame =
    ranked.select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
      round(col("approx"), 6).as("approx_cos"))

  /** The exact-cosine rerank every retrieve-then-rerank face (and
    * [[lshTopK]]'s candidate set) ends with: join the candidates to
    * the full-precision `vecs` (…, vec, norm) on `keys`, score exact
    * cosine against the broadcast query side, and [[rankTopK]] the
    * top `k`. `cands` is by-name so a depth below `k` fails before
    * its plan is built.
    */
  private def exactRerank(cands: => DataFrame, vecs: DataFrame,
      keys: Seq[String], queries: DataFrame, k: Int, rerank: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(rerank >= k, s"rerank depth $rerank must be >= k=$k")
    rankTopK(cands.select((col("query_id") +: keys.map(col)): _*)
      .join(vecs, keys)
      .join(broadcast(querySide(queries, idCol, vecCol)), Seq("query_id"))
      .withColumn("cos",
        cosineFromNorms(col("qvec"), col("vec"), col("qnorm"), col("norm"))), k)
  }

  /** Approximate top-k via multi-table random-hyperplane LSH — the
    * standard OR-construction: `nTables` independent tables of
    * `nPlanes` hyperplanes each; a pair is a candidate if it shares a
    * bucket in ANY table (plus, with `multiProbe`, buckets one
    * bit-flip from the query's). Candidates are deduped across tables
    * before exactly one cosine is computed per (query, candidate).
    *
    * Recall/cost dial: per-table collision prob for angle θ is
    * (1 − θ/π)^nPlanes, so more planes → smaller buckets (cheaper)
    * but lower recall, and more tables → higher recall at the cost of
    * replicating the corpus index nTables×. Measured on the
    * planted-geometry fixture (SimilaritySpec: 60 near-dup twins + 3
    * cluster geometries, cos ≥ 0.6 neighbors): the defaults (8 tables
    * × 6 planes) reach recall 0.99 single-probe and 1.00 with 1-bit
    * multiprobe; on the flat testdata embeddings (weak cos ≈ 0.3
    * neighbors, the hardest regime) recall ≈0.9 at the same
    * defaults. Near-dup-grade neighbors (cos ≥ 0.8) tolerate far
    * more planes.
    *
    * Scale shape: the corpus shuffles once on (table, bucket) — an
    * equi-join, never a cross join — and the candidate set, not the
    * corpus, feeds the exact rescore ([[exactRerank]] at depth k).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 6, nTables: Int = 8, multiProbe: Boolean = true,
      dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpusSide(corpus, idCol, vecCol)
    val cIndex = c
      .select(col("id"),
        posexplode(lshTableBuckets(col("vec"), nPlanes, nTables, dim))
          .as(Seq("table", "bucket")))
    val qBase = queries
      .select(col(idCol).as("query_id"),
        posexplode(lshTableBuckets(col(vecCol), nPlanes, nTables, dim))
          .as(Seq("table", "qbucket")))
    // multi-probe: the query's bucket plus every bucket one bit-flip away
    val probes =
      if (!multiProbe) qBase.withColumn("bucket", col("qbucket"))
      else {
        val flips = lit(0L) +: (0 until nPlanes).map(p => lit(1L << p))
        qBase.withColumn("flip", explode(array(flips: _*)))
          .withColumn("bucket", col("qbucket").bitwiseXOR(col("flip")))
          .drop("flip")
      }
    val candidates = cIndex
      .join(broadcast(probes.select("table", "bucket", "query_id")),
        Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select("query_id", "id")
      .distinct() // a pair colliding in several tables scores once
    exactRerank(candidates, c, Seq("id"), queries, k, k, idCol, vecCol)
  }
}
