package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering: a multinomial Naive Bayes text
  * classifier trained ON the corpus itself against a cheap heuristic
  * teacher label, then used to score every document — the
  * fastText-classifier pattern production corpus pipelines
  * (CCNet/RefinedWeb-style) run after the heuristic gates, here in a
  * closed form that trains in ONE aggregation pass and is therefore
  * fully deterministic and (on its integer surfaces) exactly
  * replayable by the DuckDB oracle.
  *
  * Why Naive Bayes and not SGD: the counts ARE the model. Training is
  * a single map-side-combinable `groupBy(term)` over the token stream
  * — no iterations, no learning-rate nondeterminism, no
  * float-accumulation order sensitivity — and scoring is a per-token
  * log-likelihood-ratio lookup. At 100 TB that is: one corpus scan to
  * build a vocabulary-sized weight table, one broadcast-friendly join
  * to score (the weight table is vocab-sized, shippable like BM25's
  * stats; for web-scale vocabularies it stays a shuffle join on the
  * 8-byte [[TextAnalysis.tokenHash60]]).
  *
  * Determinism discipline (same as [[TextAnalysis.unigramLogProb]]):
  * each term's llr rounds to 6 decimals into DECIMAL(18,6) so the
  * per-document sum is EXACT regardless of shuffle partition order;
  * the cross-engine oracle gates the integer surfaces (label, token
  * count, class-count sums) and ScalaTest goldens pin the
  * transcendental score columns.
  */
object QualityModel {
  import TextAnalysis.tokens

  /** Heuristic teacher label (1 = good): long enough and
    * stopword-bearing — integer-exact, so both engines replay it
    * bit-for-bit. Deliberately crude: the classifier's value is
    * GENERALIZING the teacher (a doc with 4 stopwords but "good"
    * vocabulary scores well; a long doc of gibberish scores badly).
    */
  def teacherLabel(text: Column): Column =
    (length(text) >= 200 &&
      graft.functions.LangScoreFunctions.scored_text(text)
        .getField("stop_cnt") >= 5).cast("int")

  /** Per-term class token counts `(term, c1, c0)`. The teacher label
    * is evaluated ONCE PER DOCUMENT and attached by a (broadcast-able)
    * id join: carrying `teacherLabel` through the token explode
    * directly re-evaluates the interpreted stopword-filter lambda per
    * TOKEN row (higher-order functions are CodegenFallback, and any
    * non-attribute projection lands above the Generate) — measured
    * 3.6 s vs 0.5 s for this aggregate at sf0.1 (SCALE.md §NB
    * model-based quality filtering). The (id, term) pre-aggregation
    * also map-side-combines each doc's repeated terms before anything
    * shuffles.
    */
  private def termClassCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docLab = df.select(col(idCol).as("id"),
      teacherLabel(col(textCol)).as("y"))
    val perDoc = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    perDoc.join(docLab, Seq("id"))
      .groupBy("term").agg(
        sum(when(col("y") === 1, col("tf")).otherwise(0L)).as("c1"),
        sum(when(col("y") === 0, col("tf")).otherwise(0L)).as("c0"))
  }

  /** Per-term NB weights learned from `df` under [[teacherLabel]]:
    * `(term, c1, c0, llr)` where `llr = log10((c1+1)/(t1+v)) -
    * log10((c0+1)/(t0+v))` (add-one smoothing, v = vocabulary size,
    * t_k = total tokens in class k). One corpus scan, vocab-sized
    * output.
    */
  def nbTermWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tstats = termClassCounts(df, idCol, textCol)
    val stats = tstats.agg(
      sum("c1").as("t1"), sum("c0").as("t0"), count(lit(1)).as("v"))
    tstats.crossJoin(broadcast(stats))
      .select(col("term"), col("c1"), col("c0"),
        round(
          log10((col("c1") + 1).cast("double") /
            (col("t1") + col("v")).cast("double")) -
          log10((col("c0") + 1).cast("double") /
            (col("t0") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("llr"))
  }

  /** Trained NB weights in integer MICRO-UNITS, collected to the
    * driver as the ship-to-executors model artifact: `term →
    * round(llr · 10⁶)` as a Long. Micro-units make downstream sums
    * EXACT integers (order-independent, cross-engine reproducible) —
    * the same determinism trick as the DECIMAL(18,6) sums, but cheap
    * enough to fold row-locally inside a streaming filter.
    *
    * The collect is vocab-sized and fail-loud-capped (`maxVocab`,
    * same discipline as the IVF centroid collect): a web-scale
    * vocabulary that exceeds the cap should hash-prune its tail
    * (df-1 terms carry ~zero evidence) or ship as a broadcast join
    * instead of a literal map.
    */
  /** The micro-unit weight TABLE `(term, llr_micro)` — the frame
    * [[nbWeightsMicro]] collects, exposed so it can be persisted as a
    * build-once artifact ([[graft.io.IndexStore]]) and re-loaded
    * without retraining.
    */
  def nbTermWeightsMicro(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tstats = termClassCounts(df, idCol, textCol)
    val stats = tstats.agg(
      sum("c1").as("t1"), sum("c0").as("t0"), count(lit(1)).as("v"))
    tstats.crossJoin(broadcast(stats))
      .select(col("term"),
        microLlr(col("c1"), col("t1"), col("c0"), col("t0"), col("v"))
          .as("llr_micro"))
  }

  /** The one micro-llr formula, shared by every two-distribution
    * weight trainer (NB quality classes here, DSIR target-vs-raw in
    * [[graft.ext.TrainingData.importanceWeightsMicro]]):
    * `round((log10((cPos+1)/(tPos+v)) − log10((cNeg+1)/(tNeg+v))) ·
    * 10⁶)` as a Long. ONE definition on purpose — the cross-engine
    * oracles replay this exact IEEE op sequence, so a drifted copy
    * would de-sync an oracle silently.
    */
  private[ext] def microLlr(cPos: Column, tPos: Column,
      cNeg: Column, tNeg: Column, v: Column): Column =
    round((
      log10((cPos + 1).cast("double") / (tPos + v).cast("double")) -
      log10((cNeg + 1).cast("double") / (tNeg + v).cast("double")))
      * lit(1000000.0), 0)
      .cast("long")

  def nbWeightsMicro(df: DataFrame, idCol: String, textCol: String,
      maxVocab: Int = 1 << 20): Map[String, Long] = {
    val rows = nbTermWeightsMicro(df, idCol, textCol)
    // count-then-collect, NOT limit(maxVocab+1).collect(): a LIMIT on
    // top of this aggregate replans per take attempt under AQE and
    // cost a flat ~3.5 s at bench scale (measured, SCALE.md §NB
    // model-based quality filtering) — the count is one extra
    // vocab-sized job (~0.2 s) and keeps the collect
    // bounded-by-contract
    val n = rows.count()
    require(n <= maxVocab,
      s"nbWeightsMicro: vocabulary has $n terms > maxVocab=$maxVocab — " +
        "prune the df-1 tail or use a broadcast-join scorer")
    rows.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Row-local NB score in micro-units: fold the document's tokens
    * through the shipped weight map (OOV terms contribute 0 — seen in
    * neither class, no evidence either way). A pure codegen-friendly
    * projection: no explode, no join, no shuffle — the shape that
    * scores a 100 TB corpus (or a stream micro-batch) at scan speed.
    * Exact integer arithmetic, so batch and streaming replays agree
    * bit-for-bit on any layout.
    */
  def nbScoreMicro(text: Column, weights: Map[String, Long]): Column = {
    require(weights.nonEmpty, "nbScoreMicro: empty weight map")
    // typedlit ships the whole map as ONE MapType Literal — map(lit(k),
    // lit(v), ...) built a CreateMap with 2×vocab child nodes, which
    // blows up analysis/codegen at real vocab sizes long before the
    // maxVocab cap bites (r10 ADVICE)
    val m = typedlit(scala.collection.immutable.TreeMap(weights.toSeq: _*))
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + coalesce(element_at(m, t), lit(0L)))
  }

  /** Model admission gate: keep documents the trained model reads as
    * "good" (summed micro-llr > 0). Works identically on a batch
    * DataFrame and a streaming micro-batch (stateless filter — no
    * watermark, no state store): train offline with
    * [[nbWeightsMicro]], ship the map, filter at scan speed.
    */
  def admitByModel(fresh: DataFrame, weights: Map[String, Long],
      textCol: String = "text"): DataFrame =
    fresh.filter(nbScoreMicro(col(textCol), weights) > 0)

  /** Train on `df` and score every document: `(id, y, n_tokens,
    * sum_c1, sum_c0, sum_llr, nb_score)` where `nb_score` is the mean
    * per-token llr (positive ⇒ the model reads the doc as "good").
    * `y` is the teacher label, carried through so the caller can
    * measure teacher/model agreement; `sum_c1`/`sum_c0` are the
    * integer class-evidence surfaces the oracle gates.
    */
  def nbQualityScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val weights = nbTermWeights(df, idCol, textCol)
    // y rides a separate doc-level frame, NOT the token stream — see
    // [[termClassCounts]] for the measured per-token re-evaluation
    // hazard this avoids
    val docLab = df.select(col(idCol).as("id"),
      teacherLabel(col(textCol)).as("y"))
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    // the weight table is vocab-sized — broadcast it so the corpus
    // token stream is never shuffled on the (few-key, skew-prone)
    // term column
    toks.join(broadcast(weights), Seq("term"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("c1").as("sum_c1"), sum("c0").as("sum_c0"),
        sum("llr").as("sum_llr"))
      .join(docLab, Seq("id"))
      .withColumn("nb_score",
        round(col("sum_llr").cast("double") / col("n_tokens"), 6))
      .select("id", "y", "n_tokens", "sum_c1", "sum_c0", "sum_llr",
        "nb_score")
  }
}
