package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.StringSimFunctions.jaro_winkler

/** Entity resolution (fuzzy record linkage): multi-pass blocking +
  * Jaro-Winkler verify + best-match selection. The shape every
  * dirty-data join at scale needs — the naive formulation is a
  * similarity CROSS join (n·m verify calls), which at 100 TB is not
  * a plan, it is an outage.
  *
  * Architecture (the standard blocking decomposition):
  *  1. **Block**: each side derives K cheap deterministic block keys
  *     (default: first-2-bytes and last-2-bytes of the key — a
  *     single-field typo rarely hits both ends). Candidates are the
  *     UNION of the K per-key EQUI-joins — shuffle on the block key,
  *     never doc×doc. Multi-pass blocking is what buys recall without
  *     a cross join: a pair is a candidate if ANY pass agrees.
  *  2. **Verify**: one codegen'd Jaro-Winkler per DISTINCT candidate
  *     pair ([[graft.functions.StringSim]]), threshold `minSim`.
  *  3. **Resolve** ([[bestMatches]]): top-1 per left id by
  *     (sim desc, right id asc) — rank-1 window over the (small)
  *     match set, deterministic under ties.
  *
  * Scale notes: the per-pass equi-joins inherit Spark's hash
  * partitioning on the block key; a pathological block (every record
  * starting "th") is a hot key like any other — cap it with the same
  * bucketed-triangle treatment the dedup family uses, or add more
  * selective blockers (blocking choice, not engine structure). The
  * `distinct` on (left id, right id, keys) is one shuffle of the
  * candidate stream, which multi-pass blocking requires for its
  * "any pass" OR semantics (without it a pair matched by both passes
  * would verify twice and double-count downstream).
  */
object EntityResolution {

  /** Prefix + suffix blockers of length `len`. */
  def prefixSuffixBlockers(len: Int): Seq[Column => Column] = Seq(
    k => substring(k, 1, len),
    k => substring(k, -len, len))

  /** Default blockers: 2-byte prefix and 2-byte suffix of the key. */
  val DefaultBlockers: Seq[Column => Column] = prefixSuffixBlockers(2)

  /** Order-insensitive token-initial signature: the first `k` sorted
    * DISTINCT initials of the key's tokens. The orthogonal pass for
    * keys that defeat positional blockers — it survives in-token
    * typos (only initials are read), token reordering (sorted), and
    * prefix clustering (it samples the WHOLE key, so boilerplate
    * prefixes don't collapse every record into one block). Costs the
    * usual multi-pass trade: one more corpus-sized equi-join.
    */
  def tokenSignatureBlocker(k: Int = 4): Column => Column =
    key => concat_ws("", slice(array_sort(array_distinct(
      transform(split(key, " "), w => w.substr(lit(1), lit(1))))), 1, k))

  /** Blocker length that holds per-block occupancy as the corpus
    * grows. FIXED-length blockers leave the candidate count ∝ n·m/B
    * with B constant — measured flat at 4.2–4.6% of the cross join
    * across a 5k → 50k doc ladder (SCALE.md §entity-resolution), i.e.
    * still quadratic, just 24× cheaper. Growing the block length with
    * log(n) is the same move [[graft.ext.Similarity.lshPlanesFor]]
    * makes for ANN buckets: each extra byte multiplies the block
    * count by the effective alphabet, so
    * `len = 2 + log_a(n / baseline)` keeps expected occupancy — and
    * with it candidates-per-record — roughly constant. `alphabet` is
    * the EFFECTIVE per-position branching of the key distribution
    * (≈20 for lowercase prose), `baseline` the corpus size the
    * 2-byte default was calibrated on. Longer blocks trade recall for
    * volume exactly like more LSH planes do — a typo inside the
    * blocked span hides the pair from that pass, which is why the
    * default is a prefix AND a suffix pass rather than one longer
    * key; add passes (e.g. middle-k) rather than length when recall
    * at scale matters.
    *
    * CAVEAT (measured, SCALE.md §entity-resolution): length only
    * helps where the keys actually BRANCH at the added positions. On
    * a corpus whose keys cluster on shared prefixes (boilerplate,
    * replicated templates) the effective alphabet at position 3 can
    * be ~1, and +1 byte bought only a 12% candidate cut on the 50k
    * ladder point — there the fix is an ORTHOGONAL pass (middle-k,
    * sorted-token signature), not a longer clustered one.
    */
  def blockerLenFor(n: Long, alphabet: Double = 20.0,
      baseline: Long = 5000L): Int =
    2 + math.max(0, math.ceil(
      math.log(math.max(1L, n).toDouble / baseline) / math.log(alphabet))
      .toInt)

  /** Blocked fuzzy inner join of `left` and `right` on
    * Jaro-Winkler(leftKey, rightKey) ≥ `minSim`, candidate pairs from
    * the union of per-blocker equi-joins. Output:
    * (id_l, id_r, sim) with `sim` rounded to 6 dp for stable
    * cross-engine comparison (the FILTER runs on the unrounded
    * double, matching the oracle).
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
      leftId: String, leftKey: String, rightId: String, rightKey: String,
      minSim: Double,
      blockers: Seq[Column => Column] = DefaultBlockers): DataFrame = {
    require(blockers.nonEmpty, "need at least one blocking pass")
    val l = left.select(col(leftId).as("id_l"), col(leftKey).as("__kl"))
    val r = right.select(col(rightId).as("id_r"), col(rightKey).as("__kr"))
    val passes = blockers.map { blk =>
      l.withColumn("__b", blk(col("__kl")))
        .join(r.withColumn("__b", blk(col("__kr"))), "__b")
        .select("id_l", "id_r", "__kl", "__kr")
    }
    val cands = passes.reduce(_ union _).distinct()
    val sim = jaro_winkler(col("__kl"), col("__kr"))
    cands.filter(sim >= minSim)
      .select(col("id_l"), col("id_r"), round(sim, 6).as("sim"))
  }

  /** Resolve matches to one winner per left id: highest sim, ties to
    * the smallest right id. Input shape = [[fuzzyJoin]] output.
    */
  def bestMatches(matches: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // one map-side-combinable argmax, not a rank-1 window (the
    // [[graft.functions.ArgMaxScoreMinId]] rewrite): the window form
    // shuffled and sorted the whole match set per left id; the
    // aggregate ships one candidate per (map task, left id). Same
    // winner — max sim, ties to min right id; sim is non-null by
    // construction (fuzzyJoin thresholds on it), which is what makes
    // the argmax's null-skipping equivalent to the window. The argmax
    // holds bigint ids and double sims only; other types keep the
    // window.
    if (matches.schema("id_r").dataType == LongType &&
        matches.schema("sim").dataType == DoubleType)
      matches.groupBy("id_l")
        .agg(graft.functions.ArgMaxFunctions.argmax_min_id(
          col("sim"), col("id_r")).as("__b"))
        .select(col("id_l"), col("__b.id").as("id_r"),
          col("__b.score").as("sim"))
    else graft.functions.ArgMaxFunctions
      .rankOneRows(matches, "id_l", "sim", "id_r")
      .select("id_l", "id_r", "sim")
  }
}
