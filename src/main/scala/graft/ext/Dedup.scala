package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import HashDefs._

/** Deduplication operators over a (id, text) corpus: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB story):
  * - exact dedup is one hash-shuffle on a 128-bit digest — never on
  *   the text itself, so shuffle volume is rows × 32 bytes.
  * - pairwise Jaccard is only ever computed on LSH candidate pairs
  *   (or, in [[ngramJaccardPairs]]' exact mode, via the inverted
  *   shingle index — an equi-join on shingle, never a cross join).
  *   The shingle→doc inverted index is the one big shuffle; hot
  *   shingles are the skew risk, handled by routing
  *   high-document-frequency posting lists through a bucketed
  *   triangle self-join ([[trianglePairs]]) that spreads their
  *   quadratic pair generation across tasks — exact results, no
  *   signal dropped.
  * - MinHash signatures are one aggregation over the exploded
  *   shingles (map-side partial min), LSH banding turns near-dup
  *   search into an equi-join on (band, bandHash).
  */
object Dedup {

  /** Dial for the exact-duplicate collapse front of the pairwise
    * dedup ops. [[CollapseMode.Auto]] (the default) probes the
    * corpus' digest distribution once — a column-pruned scan and one
    * combinable aggregation — and collapses only when duplicates can
    * pay for the collapse join + cache: global duplicate fraction ≥
    * [[HashDefs.CollapseDupFrac]], or any single identical-text
    * clique ≥ [[HashDefs.CollapseHotClique]] (one hot clique is
    * quadratic however rare duplicates are overall). On an
    * already-deduped corpus the probe answers "no" and the ops run
    * directly over per-document shingle sets — the round-5 flat tax
    * (~1–2 s per execution at sf0.1, every corpus, duplicates or
    * not) becomes pay-for-use. `Always`/`Never` pin the choice for
    * callers that already know their corpus (a pipeline that just
    * exact-deduped passes `Never`; a raw web crawl passes `Always`).
    */
  sealed trait CollapseMode
  object CollapseMode {
    case object Auto extends CollapseMode
    case object Always extends CollapseMode
    case object Never extends CollapseMode
  }

  /** Exact dedup by content digest: canonical id (min) per distinct
    * text, group size. One shuffle on md5(text).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Distinct word n-shingles per document: (id, shingle). The
    * explode is the inverted-index build; everything downstream joins
    * on the shingle string (or its 60-bit hash).
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN): DataFrame = {
    val ws = split(col(textCol), " ")
    // shingle i = words[i..i+n-1]; sequence(0, size-n) enumerates starts
    // (guarded: sequence(0, negative) would count backwards)
    val shingles = when(size(ws) >= n,
      transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("id"),
        explode(array_distinct(shingles)).as("shingle"))
  }

  /** Distinct 60-bit shingle hashes per document: (id, h). The join
    * currency of the dedup family — an 8-byte key shuffles and
    * compares far cheaper than the shingle strings.
    *
    * Computed by the codegen'd [[graft.functions.ShingleHashes]]
    * expression: one row-local compiled loop per document (split,
    * window, md5, dedup), then a single explode. The previous
    * composable form (posexplode + window lead + concat_ws + md5 +
    * distinct) shuffled twice before the dedup joins even started;
    * this one shuffles zero times.
    */
  def wordShingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.TextHashFunctions.shingle_hashes(col(textCol), n)).as("h"))

  /** Exact pairwise n-gram Jaccard ≥ `minJaccard` via the inverted
    * shingle-hash index: self-join on h (id_a < id_b), count shared,
    * divide by union size. Never materializes the doc×doc cross
    * product. ("Exact" up to 60-bit hash collisions, ~n²/2^61.)
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN, minJaccard: Double = 0.5,
      hotDf: Int = HotShingleDf, hotBuckets: Int = HotShingleBuckets,
      mode: CollapseMode = CollapseMode.Auto): DataFrame = {
    val c = collapsedShingleSets(df, idCol, textCol, n, mode)
    val sh = c.repSets.select(col("id"), explode(col("hs")).as("h"),
      size(col("hs")).cast("long").as("nsh"))
    val repPairs = jaccardTail(sh, minJaccard, hotDf, hotBuckets)
    c.members match {
      case None => repPairs // id_a < id_b is already canonical off the index
      case Some(members) =>
        val inter = interPairs(repPairs, members)
          .select(least(col("__ia"), col("__ib")).as("id_a"),
            greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
        // identical texts have jaccard exactly 1.0 — no shingle math needed
        val intra = intraPairs(members, hotDf, hotBuckets)
          .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
          .filter(lit(1.0) >= minJaccard)
        inter.union(intra)
    }
  }

  /** Result of the exact-duplicate collapse front: shingle sets for
    * the documents the pairwise stages will actually compare, plus —
    * when the collapse ran — the member map that expands rep-level
    * pairs back out to documents. `members == None` is the identity
    * collapse (every document its own representative): the pairwise
    * ops consume `repSets` directly and skip both expansion joins.
    */
  private[ext] final case class ShingleCollapse(
      repSets: DataFrame, members: Option[DataFrame],
      repAttrs: Option[DataFrame] = None)

  /** Repair pathological scan under-parallelism before the heavy
    * row-local shingle hashing: a corpus that arrives as a handful of
    * unsplittable inputs (one small parquet file at bench scale; one
    * row group per file in general) would otherwise hash every
    * document on a few cores while the rest idle. Conditional on the
    * ACTUAL partition count so a real multi-split corpus — the 100 TB
    * case, where an unconditional repartition would be a full-corpus
    * shuffle of raw text — passes through untouched. [[Similarity]]'s
    * all-pairs scoring applies the same rule before its
    * BroadcastNestedLoopJoin, whose stream side inherits the scan's
    * partitioning (|queries|·|corpus| pairs on a few cores otherwise).
    */
  private[ext] def scanParallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 4 >= target) df
    else df.repartition(target)
  }

  /** Exact-duplicate collapse feeding the pairwise ops: shingle sets
    * for one REPRESENTATIVE (min-id) document per distinct text, plus
    * the (rep, id, k, rep_nsh) member map (k = cluster size, rep_nsh
    * = the rep's shingle count — both ride the same collapse join so
    * the intra-cluster expansion needs no further aggregation).
    * Web-scale corpora are 30-50% byte-identical boilerplate; without
    * the collapse every identical cluster of size d multiplies each
    * of its shingle posting lists by d and the pair stage by d² —
    * with it, near-dup work scales with DISTINCT texts and duplicate
    * clusters cost only their (irreducible) output expansion. One
    * shuffle, of (id, digest, hash-set) — the text itself never
    * shuffles (the shingle arrays are computed row-local by the
    * codegen'd expression first, and at ~8 bytes a shingle travel
    * cheaper than the text they summarize).
    *
    * Under [[CollapseMode.Auto]] the collapse is PAY-FOR-USE: a probe
    * aggregates the digest distribution (count, distinct, max clique)
    * in one column-pruned job — 8-byte xxhash64 probe digests only
    * (the probe needs the duplicate DISTRIBUTION, not an exact
    * digest; a 64-bit collision shifts nd by ~n²/2⁶⁵ — noise against
    * the CollapseDupFrac threshold — while the collapse join itself
    * keeps md5), no shingles — and the full collapse join runs only
    * when the probe says duplicates will repay it. Measured r7
    * (sf0.1, all-unique corpus, min-of-reps): the probe is ~0.4 s of
    * q_dedup_minhash's 1.1 s — the whole r5→r6 regression — and is
    * the SECOND narrow text scan, not hash compute (xxhash64 ≡ md5
    * locally) nor the conditional repartition (disabling it: no
    * change). Fusing the probe into the shingle scan was A/B'd and
    * rejected (SCALE.md dead-end log). The probe is eager (it must
    * decide the plan), which is the same train-then-ship shape as the
    * IVF centroid fit: a bounded driver-side decision, not data
    * movement — and its verdict is memoized per (session, corpus
    * plan) ([[autoCollapseVerdict]]), so a session running several
    * dedup faces over one corpus pays the scan once. The cached collapse join is owned by the returned
    * frames' lifecycle — callers that materialize a terminal result
    * per session (the registry queries, Bench) rely on Spark's LRU;
    * long-lived sessions issuing many ad-hoc collapses should
    * `unpersist` via the frames' own handles.
    */
  /** Digest-distribution stats the Auto probe aggregates: distinct
    * texts, total rows, largest identical-text clique. (0, 0, 0) for
    * an empty corpus.
    */
  private[ext] final case class DupStats(nd: Long, n: Long, maxk: Long) {
    def dupFrac: Double = if (n == 0) 0.0 else (n - nd).toDouble / n
  }

  /** Session-scoped memo of the Auto probe's STATS, keyed by the
    * canonicalized analyzed plan of the probe projection. The probe is
    * a full (column-pruned) corpus scan per pairwise-dedup CALL, and a
    * session that runs several dedup faces over the same corpus — the
    * registry, the bench's rep loop, a clustering pass consuming pair
    * edges — was paying it each time (~0.8 s flat at sf0.1, SCALE.md
    * §containment) for numbers that cannot change under the same
    * plan. The stats are memoized rather than a fixed verdict because
    * different faces apply DIFFERENT triggers (the shingle family
    * collapses on diffuse duplication OR a hot clique; the span-pairs
    * face only on a hot clique — measured, SCALE.md §substring). The
    * stats only pick a PLAN (collapse on/off produce identical
    * results, pinned in DedupSpec), so a stale or colliding entry can
    * cost performance, never correctness — which is why an Int plan
    * hash is an acceptable key. Scope: one entry per (SparkSession,
    * corpus plan); sessions are weak keys, and a session that
    * rewrites its corpus files in place mid-flight can see stale
    * stats until it opens a new session — the same granularity as
    * Spark's own file-index caching.
    */
  private val probeStats =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[Int, DupStats]]()

  /** Test hook: number of memoized probe entries for a session. */
  private[graft] def probeVerdictEntries(s: org.apache.spark.sql.SparkSession): Int =
    probeStats.synchronized {
      Option(probeStats.get(s)).map(_.size).getOrElse(0)
    }

  private[ext] def dupStatsOf(df: DataFrame, textCol: String): DupStats = {
    val probeDf = df.select(xxhash64(col(textCol)).as("__dg"))
    val cache = probeStats.synchronized {
      probeStats.computeIfAbsent(df.sparkSession,
        _ => new java.util.concurrent.ConcurrentHashMap[Int, DupStats]())
    }
    val key = probeDf.queryExecution.analyzed.canonicalized.hashCode()
    val cached = cache.get(key)
    if (cached != null) cached
    else {
      val s = probeDf
        .groupBy("__dg").agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("nd"), sum("k").as("n"), max("k").as("maxk"))
        .head()
      // empty corpus: sum/max are null — nothing to collapse
      val stats =
        if (s.isNullAt(1)) DupStats(0L, 0L, 0L)
        else DupStats(s.getLong(0), s.getLong(1), s.getLong(2))
      cache.put(key, stats)
      stats
    }
  }

  /** The shingle family's Auto trigger: diffuse duplication (every
    * clique multiplies posting lists AND the Jaccard verify) or one
    * hot clique.
    */
  private def autoCollapseVerdict(df: DataFrame, textCol: String): Boolean = {
    val s = dupStatsOf(df, textCol)
    s.n > 0 && (s.dupFrac >= CollapseDupFrac || s.maxk >= CollapseHotClique)
  }

  private[ext] def collapsedShingleSets(df0: DataFrame, idCol: String,
      textCol: String, n: Int,
      mode: CollapseMode = CollapseMode.Auto,
      carry: Seq[String] = Nil): ShingleCollapse = {
    val df = scanParallelized(df0)
    val collapse = mode match {
      case CollapseMode.Always => true
      case CollapseMode.Never  => false
      case CollapseMode.Auto   => autoCollapseVerdict(df, textCol)
    }
    if (!collapse) {
      // cached for the same reason as the collapse join below: the
      // pair tail consumes the sets several times (df aggregation,
      // cold/hot routing, LSH signature + both verify joins), and
      // uncached each consumer would re-scan and re-shingle the corpus
      val sets = df.select(col(idCol).as("id") +:
        (graft.functions.TextHashFunctions.shingle_hashes(col(textCol), n).as("hs") +:
          carry.map(col)): _*).cache()
      ShingleCollapse(sets.select("id", "hs"), None,
        if (carry.isEmpty) None
        else Some(sets.select("id", carry: _*)))
    } else {
      val base = df.select(col(idCol).as("id") +:
        (md5(col(textCol)).as("__dg") +:
          graft.functions.TextHashFunctions.shingle_hashes(col(textCol), n).as("hs") +:
          carry.map(col)): _*)
      // hash-agg + join, NOT a window: no sort, no row_number, and the
      // cluster frame is small per distinct text so AQE can broadcast
      // it. The join output is cached because a broadcast join leaves
      // the streamed side UN-materialized — without the cache every
      // downstream branch would re-scan the corpus and re-shingle it.
      val clusters = base.select("__dg", "id").groupBy("__dg")
        .agg(min("id").as("rep"), count(lit(1)).as("k"))
      val joined = base.join(clusters, Seq("__dg")).cache()
      ShingleCollapse(
        joined.filter(col("id") === col("rep")).select("id", "hs"),
        Some(joined.select(col("rep"), col("id"), col("k"),
          // members have byte-identical text, so a member's own shingle
          // count IS its representative's
          size(col("hs")).as("rep_nsh"))),
        if (carry.isEmpty) None
        // carry columns ride the SAME cached join the pair stages
        // read — a caller that needs per-rep attributes downstream
        // (the corpus-prep survivor projection) gets them without a
        // second corpus scan
        else Some(joined.filter(col("id") === col("rep"))
          .select("id", carry: _*)))
    }
  }

  /** Rep-level pair rows joined back to both clusters' members: every
    * (member of a) × (member of b) combination inherits the rep
    * pair's columns, as `__ia`/`__ib` (id order NOT canonicalized —
    * direction-sensitive measures like containment must swap their
    * columns when least/greatest flips the pair).
    */
  private def interPairs(repPairs: DataFrame, members: DataFrame): DataFrame =
    repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("__ia")), Seq("id_a"))
      .join(members.select(col("rep").as("id_b"), col("id").as("__ib")), Seq("id_b"))

  /** All member pairs inside each duplicate cluster whose rep has a
    * non-empty shingle set (two empty-set docs share nothing and were
    * never paired before the collapse either). Cluster size `k` rides
    * on the member map, so no aggregation here: clusters below the
    * hot threshold self-join on the rep, and a million-member
    * boilerplate cluster expands across triangle cells instead of one
    * task.
    */
  private def intraPairs(members: DataFrame, hotDf: Int,
      hotBuckets: Int): DataFrame = {
    val im = members.filter(col("k") >= 2 && col("rep_nsh") >= 1)
      .select(col("id"), col("rep").as("h"), col("k"))
    val cold = im.filter(col("k") < hotDf).select("id", "h")
    val hot = im.filter(col("k") >= hotDf).select("id", "h")
    cold.as("a").join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .union(trianglePairs(hot, hotBuckets))
  }

  /** Pair shared-shingle counts off the inverted index (id, h):
    * equi-join on h (never doc×doc) + one combinable count, with the
    * posting lists split by document frequency:
    *
    *  - **cold** shingles (df < `hotDf`) pair up in the plain
    *    self-join on h — df² per key is task-sized noise (DF-1
    *    shingles match nothing there; their shuffle volume is the
    *    corpus-scale extension point for a repeated-keys semi-join).
    *  - **hot** shingles take [[trianglePairs]]: the single-task d²/2
    *    pair blowup on a boilerplate shingle is the one straggler AQE
    *    cannot split (it is compute inside a task, not shuffle-read
    *    volume), so the work is pre-split across bucket cells instead.
    *
    * Cost of the split: one map-side-combinable df aggregation
    * reduced to the broadcast heavy-hitter set.
    */
  /** `payload` columns on the index rows ride along into the pair
    * rows as `<p>_a`/`<p>_b` (and into the grouping key — they are
    * functions of the ids). Carrying the 8-byte set size this way
    * saves joining the (much larger) pair frame against a sizes
    * lookup twice.
    */
  private def sharedPairCounts(sh: DataFrame, hotDf: Int,
      hotBuckets: Int, payload: Seq[String] = Nil): DataFrame = {
    val keys = Seq("id_a", "id_b") ++
      payload.flatMap(p => Seq(s"${p}_a", s"${p}_b"))
    coOccurringPairs(sh, hotDf, hotBuckets, payload)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("shared"))
  }

  /** One (id_a < id_b) row per co-occurrence of two ids under a key
    * `h` — the pair-generation core shared by the shingle index and
    * the duplicate-cluster expansion.
    *
    * ONE document-frequency annotation join does three jobs at once:
    * it DROPS df-1 keys (in a mostly-unique corpus the overwhelming
    * majority of the index — they pair with nothing, and carrying
    * them through the self-join was the round-5 regression), it
    * routes the survivors hot/cold by the annotated `__df` (a
    * row-local filter, no second pass), and it leaves the pruned
    * index hash-partitioned by `h`, exactly the partitioning the
    * cold self-join needs — Catalyst reuses the exchange instead of
    * reshuffling. Hot keys (df ≥ hotDf) take [[trianglePairs]]: a
    * df-d key generates d²/2 pairs inside whichever single task owns
    * it, compute AQE cannot split, so their pair generation is
    * pre-spread across bucket cells.
    */
  /** Dev-harness window into [[coOccurringPairs]] (default knobs). */
  private[graft] def coOccurringPairsForDev(sh: DataFrame): DataFrame =
    coOccurringPairs(sh, HotShingleDf, HotShingleBuckets, payload = Seq("pos"))

  private def coOccurringPairs(sh: DataFrame, hotDf: Int,
      hotBuckets: Int, payload: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("id", "h") ++ payload).map(col)
    val dfAgg = sh.groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
    val ann = sh.join(dfAgg, Seq("h"))
    val cold = ann.filter(col("__df") < hotDf).select(keep: _*)
    val hot = ann.filter(col("__df") >= hotDf).select(keep: _*)
    val coldPairs = cold.as("a")
      .join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(Seq(col("a.id").as("id_a"), col("b.id").as("id_b")) ++
        payload.flatMap(p =>
          Seq(col(s"a.$p").as(s"${p}_a"), col(s"b.$p").as(s"${p}_b"))): _*)
    coldPairs.union(trianglePairs(hot, hotBuckets, payload))
  }

  /** Bucketed triangle self-join for hot posting lists: documents
    * hash into B buckets, and each cell (i ≤ j) of the bucket-pair
    * triangle becomes its own equi-join key (h, i, j), so a df-d
    * key's d²/2 pair generation spreads over B(B+1)/2 tasks instead
    * of landing on whichever one task owns h. A row in bucket b
    * replicates to the B−b cells right of it on the left side and the
    * b+1 cells above it on the right side, which makes every
    * unordered pair meet in EXACTLY one cell: (x in i, y in j, i<j)
    * only under key (h,i,j) with x left and y right; same-bucket
    * twins (i=j) appear in both orders and are cut to one by id
    * order. Diagonal cells order by id; off-diagonal pairs are
    * canonicalized with least/greatest.
    */
  private def trianglePairs(hot: DataFrame, buckets: Int,
      payload: Seq[String] = Nil): DataFrame = {
    val bucket = pmod(xxhash64(col("id")), lit(buckets)).cast("int")
    val keep = Seq(col("id"), col("h")) ++ payload.map(col)
    val left = hot.select(keep :+ bucket.as("bi"): _*)
      .withColumn("bj", explode(sequence(col("bi"), lit(buckets - 1))))
    val right = hot.select(keep :+ bucket.as("bj"): _*)
      .withColumn("bi", explode(sequence(lit(0), col("bj"))))
    // payload columns follow the least/greatest canonicalization
    val aFirst = col("a.id") < col("b.id")
    left.as("a").join(right.as("b"),
        col("a.h") === col("b.h") &&
          col("a.bi") === col("b.bi") && col("a.bj") === col("b.bj") &&
          (col("a.bi") =!= col("a.bj") || col("a.id") < col("b.id")))
      .select(Seq(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b")) ++
        payload.flatMap(p => Seq(
          when(aFirst, col(s"a.$p")).otherwise(col(s"b.$p")).as(s"${p}_a"),
          when(aFirst, col(s"b.$p")).otherwise(col(s"a.$p")).as(s"${p}_b"))): _*)
  }

  /** Shared Jaccard tail over the inverted shingle index: pair
    * generation + shared counts ([[sharedPairCounts]]), threshold.
    * `sh` must carry `nsh` (the owning document's set size) — it rides
    * the index rows as payload, so no sizes-lookup join touches the
    * pair frame.
    */
  private def jaccardTail(sh: DataFrame, minJaccard: Double,
      hotDf: Int = HotShingleDf,
      hotBuckets: Int = HotShingleBuckets): DataFrame =
    sharedPairCounts(sh, hotDf, hotBuckets, payload = Seq("nsh"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("nsh_a") + col("nsh_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** Directed n-gram containment pairs: shared/|a| (how much of a is
    * inside b) and shared/|b|, kept when either ≥ `minContainment` —
    * the asymmetric near-dup Jaccard misses (a short doc fully embedded
    * in a long one has tiny Jaccard but containment 1.0). Same
    * inverted-index shape as [[ngramJaccardPairs]]: equi-join on the
    * 8-byte shingle hash, never doc×doc.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN, minContainment: Double = 0.9,
      hotDf: Int = HotShingleDf, hotBuckets: Int = HotShingleBuckets,
      mode: CollapseMode = CollapseMode.Auto): DataFrame = {
    val c = collapsedShingleSets(df, idCol, textCol, n, mode)
    val sh = c.repSets.select(col("id"), explode(col("hs")).as("h"),
      size(col("hs")).cast("long").as("nsh"))
    val repPairs = sharedPairCounts(sh, hotDf, hotBuckets, payload = Seq("nsh"))
      .withColumn("cont_a", col("shared").cast("double") / col("nsh_a"))
      .withColumn("cont_b", col("shared").cast("double") / col("nsh_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a"), 6).as("cont_a"), round(col("cont_b"), 6).as("cont_b"))
    c.members match {
      case None => repPairs // canonical order ⇒ directions already correct
      case Some(members) =>
        // containment is directional: cont_a belongs to whichever member
        // id ends up as id_a, so a least/greatest flip swaps the columns
        val flip = col("__ia") > col("__ib")
        val inter = interPairs(repPairs, members)
          .select(least(col("__ia"), col("__ib")).as("id_a"),
            greatest(col("__ia"), col("__ib")).as("id_b"),
            when(flip, col("cont_b")).otherwise(col("cont_a")).as("cont_a"),
            when(flip, col("cont_a")).otherwise(col("cont_b")).as("cont_b"))
        val intra = intraPairs(members, hotDf, hotBuckets)
          .select(col("id_a"), col("id_b"),
            lit(1.0).as("cont_a"), lit(1.0).as("cont_b"))
          .filter(lit(1.0) >= minContainment)
        inter.union(intra)
    }
  }

  /** Benchmark-contamination scan: corpus documents sharing at least
    * `minShared` distinct n-gram shingles with any benchmark/eval
    * document — the decontamination step every training corpus needs
    * before an eval is trustworthy. One equi-join on the shingle hash
    * (the benchmark side is typically tiny — AQE broadcasts it; no
    * hint, so a large benchmark still plans sanely) + one combinable
    * count. Returns (id, bench_id, shared); anti-join the corpus
    * against the distinct `id`s to drop contaminated docs.
    * `excludeSameId` is for a benchmark drawn FROM the corpus (shared
    * id space), where (x, x) matches are tautological.
    */
  def contaminationReport(corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchId: String, benchText: String,
      n: Int = ShingleN, minShared: Int = 8,
      excludeSameId: Boolean = false): DataFrame = {
    val c = wordShingleHashes(corpus, corpusId, corpusText, n)
    val b = wordShingleHashes(benchmark, benchId, benchText, n)
      .select(col("id").as("bench_id"), col("h"))
    val joined = c.join(b, Seq("h"))
    val pairs = if (excludeSameId) joined.filter(col("id") =!= col("bench_id"))
                else joined
    pairs.groupBy("id", "bench_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Surviving documents after exact dedup: keep the min-id row per
    * distinct content digest. A left-semi join of the corpus against
    * the winner set — the classic "drop duplicates, keep one, retain
    * all columns" shape; the anti-join complement ([[exactDupLosers]])
    * is the removal list. Both shuffle on the 16-byte digest, never
    * the text.
    */
  def exactDedupSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = exactDedup(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Quality-aware survivor selection over near-dup CLUSTERS: given a
    * `(id, cluster)` assignment (from [[nearDupClusters]]), keep per
    * cluster the member maximizing `rankCol` (ties → min id) — the
    * production "cluster near-duplicates, keep the best copy" step,
    * where [[exactDedupSurvivors]]' min-id rule is wrong: exact
    * duplicates share every derived quality signal, but NEAR-dups
    * differ (one copy is the full article, another the truncated
    * scrape), so the survivor choice changes what the training set
    * keeps.
    *
    * Shape: the winner argmax runs over `(id, rank, cluster)` ONLY —
    * three narrow columns, one map-side-combinable groupBy (a rank-1
    * window for non-bigint ids) — and the corpus joins the winner-id set left-semi, so document text never
    * shuffles (same discipline as [[exactDedupSurvivors]]' digest
    * shuffle). The pick orders by (rank desc, id asc), a total order
    * (ids unique), so it is deterministic on any layout.
    */
  def clusterSurvivors(df: DataFrame, idCol: String, clusters: DataFrame,
      rankCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val joined = df.select(col(idCol).as("id"), col(rankCol).as("__rank"))
      .join(clusters, Seq("id"))
    // max_by over a struct ordering has a struct-typed aggregation
    // buffer — HashAggregateExec cannot hold it, so the winner pick
    // SORTED the whole (id, rank, cluster) relation twice (partial +
    // final SortAggregate; the r18 ArgMax lesson). For numeric ranks
    // over bigint ids the pick is the flat-buffer
    // [[graft.functions.ArgMaxScoreMinId]] instead: same (max rank,
    // ties → min id) winner — null ranks never win (not even against a
    // -Infinity rank, as in the window) and an all-null cluster keeps
    // the min id computed in the same groupBy — on the codegen'd
    // map-side-combining hash path. Long ranks fail LOUD past 2^53
    // (where the double cast stops being order-preserving). Other ids
    // (int, string) or non-numeric ranks take the rank-1 window, which
    // orders any type.
    val numericRank = joined.schema("__rank").dataType match {
      case ByteType | ShortType | IntegerType | FloatType | DoubleType |
          LongType => true
      case _ => false
    }
    val winners =
      if (numericRank && joined.schema("id").dataType == LongType) {
        val cast = joined.schema("__rank").dataType match {
          case LongType =>
            when(abs(col("__rank")) > (1L << 53), raise_error(concat(
              lit("clusterSurvivors: |rank| above 2^53 is not exactly " +
                "double-representable — rank column "),
              lit(rankCol), lit(" value "), col("__rank").cast("string"))))
              .otherwise(col("__rank").cast("double"))
          case _ => col("__rank").cast("double")
        }
        joined.groupBy("cluster")
          .agg(graft.functions.ArgMaxFunctions.argmax_min_id(cast, col("id"))
            .as("w"), min(col("id")).as("min_id"))
          .select(coalesce(col("w.id"), col("min_id")).as(idCol))
      } else graft.functions.ArgMaxFunctions
        .rankOneRows(joined, "cluster", "__rank", "id")
        .select(col("id").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** The rows [[exactDedupSurvivors]] removes (left-anti complement). */
  def exactDupLosers(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = exactDedup(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    df.join(winners, Seq(idCol), "left_anti")
  }

  /** Per-document shingle-hash SET as one array column (id, hs):
    * the zero-shuffle form of [[wordShingleHashes]] — signatures and
    * sizes derive from it as plain projections; only docs that become
    * candidates are ever exploded.
    */
  def docShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions.shingle_hashes(col(textCol), n).as("hs"))

  /** Incremental exact dedup against an already-processed corpus: keep
    * only new documents whose content digest is (probably) unseen. A
    * Bloom filter over the seen side's digests is built once
    * (`expectedSeen` sizing, `fpp` false-positive rate) and broadcast
    * inside the predicate — the new side is filtered in place with NO
    * join and NO shuffle. False positives drop a few genuinely-new
    * docs (tune `fpp`); false negatives cannot happen, so nothing seen
    * ever re-enters. Chase the survivors with [[exactDedup]] if exact
    * semantics are required on the kept set.
    */
  def unseenByBloom(newDocs: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      expectedSeen: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    // coalesce: an empty seen side yields a null filter -> keep all;
    // null text never probes true -> kept, matching the prior
    // null-digest behavior. False negatives remain impossible.
    newDocs.filter(col(textCol).isNull ||
      !coalesce(bloomProbe(seen, textCol, expectedSeen, fpp), lit(false)))

  /** The complement slice of [[unseenByBloom]]: documents the Bloom
    * flags as MAYBE seen (false positives included). An admission
    * pipeline needing exact semantics routes only this (small) slice
    * through the exact digest anti-join — composing the two filters
    * keeps the split shuffle-free, where `slice ANTI-JOIN survivors`
    * would shuffle the slice against itself on the id. CAUTION on
    * composing this with [[unseenByBloom]] in one query: each lazy
    * [[bloomProbe]] is a scalar subquery that Spark plans PER
    * REFERENCING BRANCH — subquery reuse does NOT reliably dedup them
    * (measured: the admission split planned 4 independent
    * bloom_filter_agg builds, SCALE.md §Bloom; PlanGuardSpec's
    * q_admit_slice plan check pins the pre-built probe), so a
    * caller splitting one slice both ways pays duplicate full corpus
    * scans. Build ONE [[bloomProbeEager]] probe and hand it to both
    * complement filters instead (the q_admit_slice shape).
    */
  def maybeSeenByBloom(newDocs: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      expectedSeen: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    newDocs.filter(col(textCol).isNotNull &&
      coalesce(bloomProbe(seen, textCol, expectedSeen, fpp), lit(false)))

  /** Broadcast Bloom might-contain predicate over `seen`'s `textCol`
    * xxhash64s — built by the distributed bloom_filter_agg aggregate
    * (no driver round-trip, codegen'd probe) and handed to
    * might_contain as a scalar subquery, the exact shape Spark's own
    * runtime row-level filtering plans. Null when `seen` is empty.
    * Public so a caller splitting one slice BOTH ways (admission:
    * [[unseenByBloom]] + [[maybeSeenByBloom]]) can hand the same
    * probe to both filters inside one query.
    */
  def bloomProbe(seen: DataFrame, textCol: String,
      expectedSeen: Long, fpp: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    GraftColumnBridge.column(BloomFilterMightContain(
      GraftColumnBridge.scalarSubquery(
        bloomAggDf(seen, textCol, expectedSeen, fpp)),
      XxHash64(Seq(GraftColumnBridge.expression(col(textCol))), 42L)))
  }

  /** Eager twin of [[bloomProbe]]: builds the Bloom NOW (one
    * distributed aggregate over `seen`, one driver collect of the
    * serialized filter — ship-the-quantizer, like the IVF centroids)
    * and embeds it as a literal in the returned predicate. Use when
    * the same probe feeds MULTIPLE operators in one query: a scalar
    * subquery is planned per referencing operator and Spark does not
    * reliably reuse the duplicates (measured: the admission split
    * planned 4 independent Bloom builds), so eager construction is
    * what guarantees the corpus is scanned once. The collect is
    * `require`-capped: the filter's serialized size is numBits/8
    * (independent of corpus size — ~1.2 MB per million expected keys
    * at fpp 0.01), so the cap trips on a mis-sized `expectedSeen`,
    * not on data growth.
    */
  /** Above `broadcastMinBytes` serialized size the filter ships as a
    * Spark BROADCAST variable probed by the codegen'd
    * [[graft.functions.BloomMightContainBroadcast]] instead of a plan
    * Literal: a literal is duplicated per referencing branch (the
    * admission split references the probe twice) and re-shipped with
    * every streaming micro-batch's plan, which turns pathological
    * near the 256 MB cap; the broadcast moves the bytes once per
    * executor. Same probe semantics either way (spec-pinned).
    */
  def bloomProbeEager(seen: DataFrame, textCol: String,
      expectedSeen: Long, fpp: Double,
      maxFilterBytes: Long = BloomDriverMaxBytes,
      broadcastMinBytes: Long = BloomBroadcastMinBytes): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedSeen, fpp)
    require(numBits / 8 <= maxFilterBytes,
      s"bloom filter of $expectedSeen keys at fpp=$fpp is ${numBits / 8} B " +
        s"serialized > cap $maxFilterBytes B; raise fpp or shard the corpus")
    val row = bloomAggDf(seen, textCol, expectedSeen, fpp).head()
    val bytes = if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
    val hash = XxHash64(Seq(GraftColumnBridge.expression(col(textCol))), 42L)
    if (bytes != null && bytes.length >= broadcastMinBytes) {
      val bc = seen.sparkSession.sparkContext.broadcast(bytes)
      GraftColumnBridge.column(
        graft.functions.BloomMightContainBroadcast(bc, hash))
    } else
      GraftColumnBridge.column(BloomFilterMightContain(
        Literal.create(bytes, org.apache.spark.sql.types.BinaryType), hash))
  }

  private def bloomAggDf(seen: DataFrame, textCol: String,
      expectedSeen: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedSeen, fpp)
    seen.select(GraftColumnBridge.column(
      new BloomFilterAggregate(
        XxHash64(Seq(GraftColumnBridge.expression(col(textCol))), 42L),
        Literal(expectedSeen), Literal(numBits)
      ).toAggregateExpression()).as("bloom"))
  }

  /** MinHash signature per document: one array<long> of the K minima,
    * computed by the codegen'd
    * [[graft.functions.MinhashSignatureExpr]] straight off the
    * document's hash set — a projection, where the previous
    * explode + groupBy(K min aggs) paid the pipeline's biggest
    * shuffle. Empty docs (no shingles) are excluded, matching the
    * aggregation form where they produced no row.
    */
  def minhashSignature(shingleSets: DataFrame): DataFrame =
    shingleSets.filter(size(col("hs")) > 0)
      .select(col("id"),
        graft.functions.TextHashFunctions.minhash_signature(col("hs")).as("sig"))

  /** Band array off a signature column: Bands structs of (band,
    * band_hash), band_hash = md5 over the band's comma-joined minhash
    * values (same formula the SQL oracle computes). Row-local — the
    * shared core of [[lshBands]] and the streaming fuzzy-admission
    * probe, which bands each micro-batch row in place.
    */
  def bandArray(sig: Column): Column = {
    val bandStructs = (0 until Bands).map { j =>
      val cols = (j * RowsPerBand until (j + 1) * RowsPerBand)
        .map(i => element_at(sig, i + 1).cast("string"))
      struct(lit(j).as("band"), md5(concat_ws(",", cols: _*)).as("band_hash"))
    }
    array(bandStructs: _*)
  }

  /** LSH banding: (id, band, band_hash). Docs sharing any
    * (band, band_hash) are candidates.
    */
  def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("id"), explode(bandArray(col("sig"))).as("b"))
      .select(col("id"), col("b.band"), col("b.band_hash"))

  /** Candidate pairs from LSH bucket collisions (distinct, a < b).
    * The join is an equi-join on (band, band_hash) — the only pairs
    * ever enumerated are same-bucket ones.
    */
  def lshCandidatePairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Full MinHash+LSH near-dup pipeline: exact-duplicate collapse →
    * signature projection over the REPRESENTATIVES → band explode →
    * candidate equi-join → exact-Jaccard verify ≥ `minJaccard` →
    * member expansion.
    *
    * The collapse ([[collapsedShingleSets]], shared with the ngram
    * family) is the skew answer: byte-identical texts share every
    * band, so without it a d-member boilerplate cluster floods the
    * bucket join with d²/2 candidate pairs that all verify at
    * jaccard 1.0 — quadratic work for pairs known by construction.
    * With it, LSH only ever buckets DISTINCT texts; identical-text
    * pairs re-enter as [[intraPairs]] (triangle-split for hot
    * clusters) with a literal 1.0, and cross-cluster rep pairs fan
    * back out to members via [[interPairs]]. Output is identical to
    * the uncollapsed pipeline: equal texts ⇒ equal signatures ⇒
    * co-bucketed in every band ⇒ always candidates, always jaccard 1.
    *
    * The verify step never explodes: a candidate pair joins both
    * reps' hash ARRAYS and computes |a ∩ b| with one codegen'd
    * `array_intersect` per pair — replacing the previous
    * explode → 3-join → groupBy inverted-index tail (~1.4 s of
    * exchange overhead at sf0.1 for the same numbers). The candidate
    * side is tiny relative to the corpus (that is LSH's whole point),
    * so AQE broadcasts it into both set joins and the corpus is never
    * reshuffled.
    */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5, hotDf: Int = HotShingleDf,
      hotBuckets: Int = HotShingleBuckets,
      mode: CollapseMode = CollapseMode.Auto): DataFrame = {
    val c = collapsedShingleSets(df, idCol, textCol, ShingleN, mode)
    val repPairs = minhashRepPairs(c.repSets, minJaccard)
    c.members match {
      case None => repPairs
      case Some(members) =>
        val inter = interPairs(repPairs, members)
          .select(least(col("__ia"), col("__ib")).as("id_a"),
            greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
        val intra = intraPairs(members, hotDf, hotBuckets)
          .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
          .filter(lit(1.0) >= minJaccard)
        inter.union(intra)
    }
  }

  /** Cross-set fuzzy dedup: near-dup pairs between a NEW batch and an
    * indexed corpus — the incremental-ingestion face of
    * [[minhashDedupPairs]] (each crawl slice against everything
    * already admitted, so admission is one pass over the slice, never
    * a re-dedup of the corpus). Both sides band with the same MinHash
    * planes; candidates come from a (band, band_hash) equi-join with
    * the NEW side broadcast (a day's slice ≪ the corpus), and each
    * candidate is verified with the exact shingle Jaccard. The corpus
    * never self-joins and every hash table is built from the slice or
    * from its candidate pairs: the corpus band index and shingle sets
    * stream against them. Ids present in both frames are not matched
    * to themselves. Anti-join `new_id`s away to admit only novel
    * documents. Plan shape and guards: [[minhashCrossPairsFromIndex]].
    * The corpus side is consumed twice (band index + verify join) and
    * is deliberately NOT cached here — at corpus scale the cache
    * cannot hold it; a caller iterating many slices against one
    * corpus should checkpoint/cache `corpus` (or its parquet) on its
    * own lifecycle.
    */
  def minhashCrossPairs(corpus: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String,
      minJaccard: Double = 0.5,
      maxBroadcastBytes: Long = CrossBroadcastMaxBytes): DataFrame = {
    val cSets = corpus.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions.shingle_hashes(col(textCol), ShingleN)
        .as("hs"))
    minhashCrossPairsFromIndex(lshBands(minhashSignature(cSets)), cSets,
      fresh, idCol, textCol, minJaccard, maxBroadcastBytes)
  }

  /** `hashed(fresh)` eagerly localCheckpoint'ed, with the slice's
    * estimated shingle-set payload observed on that same job — no
    * probe job of its own. ≤1 shingle hash (8 B) per character is a
    * safe over-estimate, and 64 B/row covers id + array headers; the
    * caller prices it against its broadcast guard.
    *
    * The checkpoint is taken whatever the size, since the size is
    * only known once it ran: an over-guard slice is materialized in
    * full too. That is the cheaper side of the trade — localCheckpoint
    * blocks are MEMORY_AND_DISK on the executors (they spill, the
    * driver never holds them) and ContextCleaner-reclaimed when the
    * plan is GC'd, while the alternative re-hashes the slice once per
    * consumer (bands, verify, and the admission rungs).
    */
  private[graft] def checkpointPriced(fresh: DataFrame, textCol: String)(
      hashed: DataFrame => DataFrame): (DataFrame, Long) = {
    val priced = org.apache.spark.sql.Observation()
    val frame = hashed(fresh.observe(priced, count(lit(1)).as("n"),
        coalesce(sum(length(col(textCol)).cast("long")), lit(0L)).as("chars")))
      .localCheckpoint(true)
    val st = priced.get
    (frame, st("chars").asInstanceOf[Long] * 8L + st("n").asInstanceOf[Long] * 64L)
  }

  /** Priced payload of one candidate-pair row (two ids plus its
    * hash-table entry) when deciding whether the pairs broadcast.
    */
  private val CandidateRowBytes = 64L

  /** [[minhashCrossPairs]] fed by a PREBUILT corpus index — the
    * build-once/serve-many face: `corpusBands` (id, band, band_hash)
    * and `corpusSets` (id, hs) come from
    * [[graft.io.IndexStore.writeAdmissionIndexes]]'s parquet tables
    * (or any equivalent), so admitting a slice costs zero corpus
    * hashing/banding — the slice bands row-locally and equi-joins the
    * stored index. Returns distinct (new_id, corpus_id, jaccard).
    *
    * Plan shape: the slice is hashed once into a checkpoint priced on
    * that job ([[checkpointPriced]]); [[crossPairsFromSets]] does the
    * rest. The broadcasts are forced but GUARDED: a slice estimated
    * over `maxBroadcastBytes` ([[HashDefs.CrossBroadcastMaxBytes]])
    * falls back to plain joins (degraded — the corpus band index
    * shuffles once — instead of a driver OOM).
    */
  def minhashCrossPairsFromIndex(corpusBands: DataFrame, corpusSets: DataFrame,
      fresh: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5,
      maxBroadcastBytes: Long = CrossBroadcastMaxBytes): DataFrame = {
    val (nSets, estBytes) = checkpointPriced(fresh, textCol)(
      _.select(col(idCol).as("id"),
        graft.functions.TextHashFunctions.shingle_hashes(col(textCol), ShingleN)
          .as("hs")))
    crossPairsFromSets(corpusBands, corpusSets, nSets,
        estBytes <= maxBroadcastBytes, minJaccard, maxBroadcastBytes)._1
      .distinct()
  }

  /** The cross-set candidate join and exact verify over a slice's
    * materialized shingle sets `nSets` (id, hs) — the one
    * implementation behind [[minhashCrossPairsFromIndex]] and
    * [[graft.io.IndexStore.admitFromIndexes]]. Every corpus frame is
    * the STREAMED side:
    *  - `corpusBands` streams against the slice's bands (broadcast
    *    when `small`, the caller's verdict on the slice's size);
    *    `c.id =!= n.id` keeps an id from matching itself;
    *  - the candidate pairs (corpus_id, new_id) are eagerly
    *    localCheckpoint'ed with their row count observed on that job,
    *    and broadcast only when that count, priced at
    *    [[CandidateRowBytes]] a row, fits `maxBroadcastBytes` — their
    *    size grows with the corpus's fan-out (boilerplate text whose
    *    bands collide with many stored documents), which no slice
    *    estimate bounds;
    *  - `corpusSets` streams against the candidates, then joins the
    *    slice's sets (broadcast when `small`) for the verify.
    * Pairs come back once per colliding band (no `distinct` shuffle:
    * an anti-join consumer is set-semantic; a pair consumer distincts
    * them). The Boolean says whether the candidates fit the guard,
    * so a caller knows a frame of verified pairs is bounded by it.
    */
  private[graft] def crossPairsFromSets(corpusBands: DataFrame,
      corpusSets: DataFrame, nSets: DataFrame, small: Boolean,
      minJaccard: Double, maxBroadcastBytes: Long): (DataFrame, Boolean) = {
    def sized(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val counted = org.apache.spark.sql.Observation()
    val cand = corpusBands.as("c")
      .join(sized(lshBands(minhashSignature(nSets)).as("n")),
        col("c.band") === col("n.band") &&
          col("c.band_hash") === col("n.band_hash") &&
          col("c.id") =!= col("n.id"))
      .select(col("c.id").as("corpus_id"), col("n.id").as("new_id"))
      .observe(counted, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val fit = counted.get("n").asInstanceOf[Long] * CandidateRowBytes <=
      maxBroadcastBytes
    val pairs = withSetJaccard(
        corpusSets.select(col("id").as("corpus_id"), col("hs").as("hs_c"))
          .join(if (fit) broadcast(cand) else cand, Seq("corpus_id"))
          .join(sized(nSets.select(col("id").as("new_id"), col("hs").as("hs_n"))),
            Seq("new_id")),
        "hs_n", "hs_c")
      .filter(col("jaccard") >= minJaccard)
      .select("new_id", "corpus_id", "jaccard")
    (pairs, fit)
  }

  /** Adds the exact shingle-set Jaccard of array columns `a` and `b`
    * as `jaccard` (and their intersection size as `shared`) — the one
    * verify rule every MinHash candidate path applies.
    */
  private[graft] def withSetJaccard(df: DataFrame, a: String, b: String): DataFrame =
    df.withColumn("shared", size(array_intersect(col(a), col(b))))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col(a)) + size(col(b)) - col("shared")).cast("double"))

  /** LSH candidate generation + exact array-intersect verify over a
    * (id, hs) shingle-set frame — the shared tail of
    * [[minhashDedupPairs]] and [[minhashDedupEdges]], and the direct
    * entry point for a caller that already holds distinct-text sets
    * (the corpus-prep pipeline after its exact-dedup stage). Returns
    * (id_a < id_b, jaccard ≥ minJaccard).
    */
  private[ext] def minhashRepPairs(repSets: DataFrame,
      minJaccard: Double): DataFrame =
    withSetJaccard(lshCandidatePairs(lshBands(minhashSignature(repSets)))
        .join(repSets.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
        .join(repSets.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b")),
        "hs_a", "hs_b")
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** Connectivity EDGES for near-dup clustering — the clustering-
    * consumer face of [[minhashDedupPairs]]: same collapse + LSH +
    * verify, but duplicate clusters contribute k−1 member→rep STAR
    * edges instead of their k²/2 expanded pairs, and cross-cluster
    * matches stay at rep level (the member stars connect everything
    * [[interPairs]] would have). Connected components over these
    * edges are IDENTICAL to components over the full pair set — a
    * rep reaches every member — but a million-document boilerplate
    * cluster costs a million edge rows, not half a trillion pair
    * rows. Use [[minhashDedupPairs]] when the pairs themselves are
    * the product (dedup reports, similarity thresholds); use this
    * when they only feed [[nearDupClusters]].
    */
  def minhashDedupEdges(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5,
      mode: CollapseMode = CollapseMode.Auto): DataFrame = {
    val c = collapsedShingleSets(df, idCol, textCol, ShingleN, mode)
    val repPairs = minhashRepPairs(c.repSets, minJaccard).select("id_a", "id_b")
    c.members match {
      case None => repPairs
      case Some(members) =>
        val stars = members
          .filter(col("k") >= 2 && col("rep_nsh") >= 1 && col("id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("id").as("id_b"))
        repPairs.union(stars)
    }
  }

  /** Corpus-overlap matrix between document GROUPS (sources, dumps,
    * snapshots): for every pair of groups, the MinHash-estimated and
    * the exact n-gram-shingle Jaccard between the groups' shingle
    * SETS — the "how much does crawl A repeat crawl B" report that
    * decides which dumps are worth ingesting before any doc-level
    * dedup runs.
    *
    * The estimate rides MinHash's mergeability: min over a group of
    * the per-shingle hash values IS the minhash of the group's shingle
    * union, so each group's K-slot sketch is one combinable
    * aggregation over the exploded shingles — map-side partial mins,
    * one shuffle keyed by group, and the estimate is then a row-local
    * slot-match count over a #groups-sized frame. At 100 TB that
    * sketch half never materializes a set: G sources cost G×K longs
    * however big the corpus is. The exact half reduces to DISTINCT
    * (group, h) first, so the inverted self-join on h expands each
    * shingle to at most G²/2 rows (bounded by the GROUP count, not
    * document frequency) — still a full-corpus shuffle, which is
    * exactly what the sketch column exists to let you skip: drop it
    * via `exact = false` and the report costs one scan + one G-row
    * shuffle. Both columns share one oracle (the SQL replays the
    * hash family verbatim), and the spec pins the union property
    * (group sketch == slotwise min of per-doc signatures).
    */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String,
      textCol: String, exact: Boolean = true): DataFrame = {
    // (group, h): per-doc distinct shingle hashes keyed by the GROUP —
    // duplicate h across a group's docs is harmless for min() and
    // removed by distinct() before the exact join
    val sh = wordShingleHashes(df, groupCol, textCol)
      .select(col("id").as("grp"), col("h"))
    // sketch-only: aggregate straight off the exploded hashes (no
    // (grp, h) shuffle at all — min doesn't need distinct)
    if (!exact)
      return sketchOverlapEst(groupMinhashSketch(sh))
        .orderBy("source_a", "source_b")
    // combined report: both halves read the SAME distinct'd frame
    // (min over distinct h ≡ min over the raw multiset), so the
    // corpus scan + shingle hashing and the (grp, h) exchange are
    // planned once and reused across the sketch and exact subtrees
    // instead of re-scanning the corpus per column
    val sets = sh.distinct()
    val est = sketchOverlapEst(groupMinhashSketch(sets))
    val sz = sets.groupBy("grp").agg(count(lit(1)).as("n"))
    val shared = sets.as("a")
      .join(sets.as("b"),
        col("a.h") === col("b.h") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("source_a"), col("b.grp").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    val jac = shared
      .join(broadcast(sz.select(col("grp").as("source_a"), col("n").as("na"))),
        Seq("source_a"))
      .join(broadcast(sz.select(col("grp").as("source_b"), col("n").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
    // disjoint pairs have no shared row — the matrix still lists them
    est.join(jac, Seq("source_a", "source_b"), "left")
      .na.fill(0.0, Seq("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Group-level MinHash sketch off an exploded (grp, h) shingle-hash
    * frame: one K-slot row per group, slot i = min over the group's
    * hashes of hash-family member i — by the union property, exactly
    * the minhash of the group's shingle-set UNION (spec-pinned
    * against slotwise-min of per-document [[minhashSignature]]s).
    * One combinable aggregation: map-side partial mins, a G-row
    * shuffle, never a materialized set.
    */
  def groupMinhashSketch(sh: DataFrame): DataFrame = {
    val mins = seeds.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * (col("h") % P) + lit(b)) % P).as(s"mh$i")
    }
    sh.groupBy("grp").agg(mins.head, mins.tail: _*)
  }

  /** Merge per-batch group sketches by slotwise min — min is
    * associative, commutative AND idempotent, so appended batch
    * sketches collapse to exactly the union sketch regardless of how
    * the corpus was split across batches, and re-merging the same
    * batch twice is a no-op (the one index-store table where
    * duplicate appends need no compaction for correctness).
    */
  def mergeSketches(rows: DataFrame): DataFrame = {
    val mins = (0 until K).map(i => min(col(s"mh$i")).as(s"mh$i"))
    rows.groupBy("grp").agg(mins.head, mins.tail: _*)
  }

  /** Pairwise estimated Jaccard off a (grp, mh0..mh{K-1}) sketch
    * frame: slot-match count / K per group pair. The frame is
    * G-row however big the corpus is, so the non-equi (a < b) join
    * is an intentional broadcast G² loop.
    */
  def sketchOverlapEst(sig: DataFrame): DataFrame = {
    val slotMatches = (0 until K).map { i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0): Column
    }.reduce(_ + _)
    sig.as("a").join(broadcast(sig.as("b")),
        col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("source_a"), col("b.grp").as("source_b"),
        round(slotMatches.cast("double") / K, 6).as("est_jaccard"))
  }

  /** SimHash fingerprint per document over the 60-bit token hashes
    * (term-frequency weighted): for each bit j, sum +1/-1 votes across
    * tokens; bit j of the fingerprint is 1 iff the vote is positive.
    *
    * Computed by the codegen'd [[graft.functions.SimhashExpr]] — a pure
    * projection. SimHash is a per-DOCUMENT value, so exploding tokens
    * into a 60-conditional-sum aggregation ([[simhashAgg]], kept as the
    * equivalence twin) shuffles the whole token stream to compute
    * something each row already has locally; at corpus scale that
    * shuffle is pure waste. Null texts keep their row (null fingerprint)
    * where the explode form dropped them — the corpus has no null texts,
    * and a row-preserving projection is the saner contract.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions.simhash(col(textCol), SimhashBits)
        .as("simhash"))

  /** The aggregation form of [[simhash]] (explode + 60 map-side
    * combinable conditional sums) — retained as the spec-pinned
    * equivalence twin and the shape a pre-tokenized corpus would use.
    */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", TextAnalysis.tokenHash60(col("tok")))
    val votes = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until SimhashBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), fp.as("simhash"))
  }

  /** Near-dup pairs by simhash Hamming distance ≤ `maxDist`.
    * Note: all-pairs comparison — at scale, band the fingerprint into
    * 4×16-bit chunks and equi-join on any matching chunk (pigeonhole:
    * distance ≤ 3 ⇒ some chunk equal), then verify. The chunked path
    * is [[simhashBandedPairs]].
    */
  def simhashPairs(fps: DataFrame, maxDist: Int = 3): DataFrame =
    fps.as("a").join(fps.as("b"), col("a.id") < col("b.id"))
      .withColumn("dist",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))

  /** Scale path for simhash near-dup: pigeonhole banding. Split the
    * fingerprint into `maxDist + 1` chunks; any pair within Hamming
    * distance `maxDist` must agree on at least one whole chunk, so an
    * equi-join on (chunk_idx, chunk_value) finds all of them without a
    * cross join; verify the distance afterwards.
    */
  def simhashBandedPairs(fps: DataFrame, maxDist: Int = 3): DataFrame =
    hammingBandedPairs(fps, "simhash", SimhashBits, maxDist)

  /** The pigeonhole Hamming join over ANY long fingerprint column —
    * the shared machinery of [[simhashBandedPairs]] (60-bit text
    * simhash) and the 64-bit image dHash face: explode each
    * fingerprint into `maxDist + 1` disjoint bit chunks, equi-join on
    * (chunk_idx, chunk_value) (distance ≤ maxDist ⇒ some whole chunk
    * equal), dedup candidates, verify exact `bit_count(xor)`. Chunk
    * extraction is arithmetic-shift + mask, so a fingerprint using
    * bit 63 (sign) chunks correctly. Input: (id, `fpCol`); output:
    * (id_a, id_b, dist), id_a < id_b.
    */
  /** The pigeonhole chunk array of a long fingerprint: `maxDist + 1`
    * (chunk, chunk_val) structs, chunk_val = `bits/(maxDist+1)`-wide
    * bit slice extracted by arithmetic shift + mask (sign-bit-safe).
    * Row-local; shared by [[hammingBandedPairs]]' batch self-join and
    * the streaming image rung's per-batch explode.
    */
  private[graft] def fpChunkArray(fp: Column, bits: Int,
      maxDist: Int): Column = {
    val nChunks = maxDist + 1
    // integer-division width: when bits doesn't divide evenly the
    // top bits%nChunks bits go uncovered, which stays pigeonhole-
    // sound — maxDist+1 DISJOINT chunks still guarantee one clean
    // chunk for any pair within maxDist (differences in uncovered
    // bits only make candidates MORE likely), and the exact
    // bit_count verify downstream uses all bits regardless
    val width = bits / nChunks
    require(width >= 1,
      s"fpChunkArray: maxDist $maxDist needs ${nChunks} chunks of a " +
        s"$bits-bit fingerprint — at most ${bits - 1} is supported")
    array((0 until nChunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(fp, c * width)
          .bitwiseAND(lit((1L << width) - 1)).as("chunk_val"))
    }: _*)
  }

  def hammingBandedPairs(fps: DataFrame, fpCol: String, bits: Int,
      maxDist: Int): DataFrame = {
    val exploded = fps.select(col("id"), col(fpCol),
      explode(fpChunkArray(col(fpCol), bits, maxDist)).as("c"))
      .select(col("id"), col(fpCol), col("c.chunk"), col("c.chunk_val"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col(s"a.$fpCol").as("fp_a"), col(s"b.$fpCol").as("fp_b"))
      .distinct()
      .withColumn("dist", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Transitive near-dup clusters: connected components over a verified
    * pair set — cluster id = the component's minimum document id, so
    * "keep one per cluster" is `id === cluster`. THE step after pair
    * generation in a real dedup pipeline (near-duplication is not
    * transitive; A≈B≈C must dedup as one group even when A,C don't
    * pair).
    *
    * Iterative min-label propagation, restricted to PAIR MEMBERS: a
    * node with no near-dup edge can never change label, so the loop
    * iterates only over the (tiny) duplicated fraction of the corpus —
    * at 100 TB that is the difference between re-shuffling the corpus
    * per round and re-shuffling ~1% of it; singleton docs join the
    * result once at the end via an anti-join projection. Each round is
    * one equi-join + one combinable min-agg, PLUS a pointer-doubling
    * step (cluster ← label(cluster), a self-join of the label map —
    * label values are always member ids, so the lookup always hits):
    * propagation alone needs diameter rounds, which an adversarial
    * long chain turns into a driver-synchronized crawl; with doubling
    * the label's reach doubles per round, so convergence is
    * O(log diameter) — a 1000-node path converges in ~10 rounds
    * (pinned in DedupSpec). Labels only ever decrease (doubling maps a
    * label to that node's own, ≤, label), so convergence is "the label
    * sum stopped falling" — one scalar agg per round, no comparison
    * join. Deterministic for any input order.
    *
    * `maxRounds` is a fail-loud backstop: with doubling, hitting it
    * means a graph of diameter ≳ 2^maxRounds — impossible for real
    * data, so exceeding it signals a convergence bug, and silently
    * returning half-merged clusters (dedup keeping both halves of a
    * duplicate class) would be far worse than failing.
    */
  def nearDupClusters(universe: DataFrame, pairs: DataFrame,
      maxRounds: Int = 64): DataFrame =
    nearDupClusters(universe, pairs, maxRounds, initMin = true,
      localEdgeCap = LocalClusterEdgeCap)

  /** Edge-set size (symmetrized rows) under which components are
    * solved with a driver-local union-find instead of distributed
    * label propagation. After LSH banding the edge set is a small
    * fraction of the corpus, and under ~1M pairs the propagation
    * loop's per-round job overhead (several jobs × several rounds)
    * dwarfs the actual work — a bounded collect + exact union-find +
    * broadcast of the labels is the same train-then-ship shape as the
    * IVF centroid fit. Above the cap (a 100 TB corpus's edge set) the
    * distributed O(log diameter) loop runs unchanged.
    */
  private[graft] val LocalClusterEdgeCap = 2000000L

  /** Byte-denominated twin of [[LocalClusterEdgeCap]]: the estimated
    * driver-heap cost of the collected edge rows must also fit (the
    * row cap alone would admit 2M × long-URL string edges — hundreds
    * of MB of boxed heap). 256 MB leaves the usual driver defaults
    * (1-4 GB) room for the union-find maps on top.
    */
  private[graft] val LocalClusterByteCap = 256L * 1024 * 1024

  /** `initMin` A/B knob (dev): min(self, neighbors) init vs identity
    * init — the former starts pair/star components converged at the
    * cost of one extra aggregation over the edge set. `localEdgeCap`
    * lets tests pin the distributed path (0 disables the local solve).
    */
  private[graft] def nearDupClusters(universe: DataFrame, pairs: DataFrame,
      maxRounds: Int, initMin: Boolean, localEdgeCap: Long): DataFrame = {
    // symmetrize in ONE pass over the pairs plan: the union-of-two-
    // selects form evaluates `pairs` twice while filling the cache,
    // and the pairs plan upstream (LSH + collapse) is the expensive
    // part of the whole clustering
    val edges0 = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    // Size the propagation rounds to the EDGE SET, not the session's
    // shuffle width: the loop below runs several jobs per round over
    // frames bounded by the member count, and after LSH banding that
    // is a small fraction of the corpus — at the session's full
    // shuffle width each round is mostly task-scheduling tax. The
    // count is free (it is the cache materialization the loop needs
    // anyway); ~2M edges per partition keeps a billion-edge 100 TB
    // run at cluster width while a bench-scale run collapses to one.
    val edgeCount = edges0.count()
    val idType = edges0.schema("src").dataType
    // struct ids (the paragraph family's (id, idx) node key) are
    // localizable when every field is a fixed-size numeric: the
    // field-wise comparator below matches Spark's own struct
    // ordering (min(struct) is lexicographic by field), so the local
    // solve stays value-identical to the distributed loop
    def numericStruct(t: org.apache.spark.sql.types.DataType): Boolean =
      t match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.nonEmpty && st.fields.forall(f => f.dataType match {
            case _: org.apache.spark.sql.types.LongType => true
            case _: org.apache.spark.sql.types.IntegerType => true
            case _ => false
          })
        case _ => false
      }
    val localizable = idType match {
      case _: org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.StringType => true
      case t if numericStruct(t) => true
      case _ => false
    }
    // The row cap alone under-prices string ids (2M edges of 200-char
    // URLs ≈ 1.6 GB of boxed driver heap): price the collect in BYTES
    // too. Numeric ids are fixed-size; string ids pay one cheap avg
    // over the already-cached edges (only on the string path).
    val estCollectBytes: Long =
      if (edgeCount == 0L) 0L
      else idType match {
        case _: org.apache.spark.sql.types.StringType =>
          val a = edges0.agg(avg(length(col("src")))).head()
          val avgLen = if (a.isNullAt(0)) 0.0 else a.getDouble(0)
          // per edge: 2 String objects (~40 B header + 2 B/char UTF-16)
          // + Row/array overhead
          edgeCount * (2L * (40L + (2 * avgLen).toLong) + 32L)
        case st: org.apache.spark.sql.types.StructType =>
          // numeric-struct ids: 2 Row objects of boxed fields + overhead
          edgeCount * (2L * (32L + 24L * st.fields.length) + 32L)
        case _ => edgeCount * 48L // 2 boxed numerics + Row overhead
      }
    if (edgeCount <= localEdgeCap && localizable &&
        estCollectBytes <= LocalClusterByteCap)
      return localClusters(universe, edges0, idType)
    val rowsPerPart = 2000000L
    val p = math.max(1L, math.min(
      edges0.sparkSession.sparkContext.defaultParallelism.toLong,
      (edgeCount + rowsPerPart - 1) / rowsPerPart)).toInt
    val edges =
      if (p >= edges0.rdd.getNumPartitions) edges0
      else {
        val e = edges0.repartition(p, col("src")).cache()
        e.count()
        edges0.unpersist()
        e
      }
    val members = edges.select(col("src").as("id")).distinct()
    // initialize to min(self, neighbors) — one aggregation over the
    // (symmetric) edge set that is exactly round 1's propagation
    // output, so pair/star components (the common near-dup shape)
    // start already-converged and the loop only runs to confirm
    var labels = (if (initMin)
        edges.groupBy(col("src").as("id"))
          .agg(min(col("dst")).as("m"))
          .select(col("id"), least(col("id"), col("m")).as("cluster"))
      else members.select(col("id"), col("id").as("cluster")))
      .cache()
    // Numeric ids: convergence = the decimal(38,0) label sum stopped
    // falling (labels only decrease; overflow-proof; null = empty).
    // Non-numeric ids (string doc keys): the cast would yield null and
    // silently skip the loop, so fall back to a changed-rows check —
    // one small join over the member-restricted label set per round.
    val numericIds = members.schema("id").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = if (numericIds) labelSum(labels) else null
    var converged =
      if (numericIds) prevSum == null // empty member set
      else labels.isEmpty
    var rounds = 0
    while (!converged) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"nearDupClusters did not converge in $maxRounds rounds — " +
            "with pointer doubling that implies diameter ≥ 2^rounds; " +
            "this is a bug, not a data property")
      rounds += 1
      val prop = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("cluster"))
      val merged = labels.union(prop)
        .groupBy("id").agg(min("cluster").as("cluster"))
      // pointer doubling: cluster ← label(cluster). Every label value
      // is a member id (min over member ids), so the self-join is a
      // total lookup; the composed label is still a reachable member
      // of the same component and still ≤ the old label.
      //
      // localCheckpoint (not cache) — the self-join references the
      // round's plan TWICE, so lineage doubles per round and planning
      // alone OOMs after ~10 rounds; truncating the plan each round
      // keeps it constant-size. (On a cluster with lossy executors,
      // swap for reliable checkpoint with a checkpoint dir.)
      val next = merged
        .join(merged.select(col("id").as("cluster"), col("cluster").as("c2")),
          Seq("cluster"))
        .select(col("id"), col("c2").as("cluster"))
        .localCheckpoint(true)
      if (numericIds) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        next.count() // materialize before comparing against the old labels
        converged = next
          .join(labels.withColumnRenamed("cluster", "prev"), Seq("id"))
          .filter(col("cluster") =!= col("prev")).isEmpty
      }
      labels.unpersist()
      labels = next
    }
    // edges stays cached: the returned plan is lazy and the singleton
    // anti-join still reads it — unpersisting here would re-run the
    // whole pair-generation pipeline when the caller evaluates.
    val singletons = universe.select("id")
      .join(edges.select(col("src").as("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    labels.union(singletons)
  }

  /** Driver-local exact component solve for bounded edge sets
    * (≤ [[LocalClusterEdgeCap]] symmetrized rows): union-find, then
    * min-id per component — value-identical to the distributed
    * propagation (same min-reachable-id label, pinned against it in
    * DedupSpec) — and the label table broadcasts back for the
    * singleton anti-join, so the universe never shuffles.
    */
  private def localClusters(universe: DataFrame, edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val collected = edges.collect()
    edges.unpersist()
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression: point the walked chain at the root
      while (parent.getOrDefault(c, c) != r) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    collected.foreach { row =>
      val ra = find(row.get(0))
      val rb = find(row.get(1))
      if (ra != rb) parent.put(ra, rb)
    }
    val lt: (Any, Any) => Boolean = idType match {
      case _: org.apache.spark.sql.types.LongType =>
        (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case _: org.apache.spark.sql.types.IntegerType =>
        (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case st: org.apache.spark.sql.types.StructType =>
        // field-wise lexicographic over numeric fields — exactly the
        // ordering Spark's min(struct) / orderBy(struct) uses,
        // including NULLS FIRST on a null field (a nullable id column
        // feeding the struct key must not NPE the local path the
        // distributed loop would have handled), so the local label
        // matches the distributed one value-for-value
        (a, b) => {
          val ra = a.asInstanceOf[Row]; val rb = b.asInstanceOf[Row]
          var i = 0
          var res = 0
          while (res == 0 && i < st.fields.length) {
            val na = ra.isNullAt(i); val nb = rb.isNullAt(i)
            val c =
              if (na && nb) 0
              else if (na) -1 // nulls first, Spark's asc default
              else if (nb) 1
              else st.fields(i).dataType match {
                case _: org.apache.spark.sql.types.LongType =>
                  java.lang.Long.compare(ra.getLong(i), rb.getLong(i))
                case _ =>
                  java.lang.Integer.compare(ra.getInt(i), rb.getInt(i))
              }
            res = c; i += 1
          }
          res < 0
        }
      case _ =>
        (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
    }
    // symmetrized edges: every endpoint appears as src, so src covers
    // the member set
    val nodes = new java.util.LinkedHashSet[Any]()
    collected.foreach(row => nodes.add(row.get(0)))
    val minLabel = new java.util.HashMap[Any, Any]()
    nodes.forEach { n =>
      val r = find(n)
      val cur = minLabel.get(r)
      if (cur == null || lt(n, cur)) minLabel.put(r, n)
    }
    val rows = new java.util.ArrayList[Row](nodes.size())
    nodes.forEach(n => rows.add(Row(n, minLabel.get(find(n)))))
    val spark = universe.sparkSession
    val labels = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", idType), StructField("cluster", idType))))
    val singletons = universe.select("id")
      .join(broadcast(labels.select("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    labels.union(singletons)
  }

  /** Exact edit-distance verification over candidate pairs — the
    * short-text fuzzy-dedup finisher: a banding pass (SimHash/MinHash)
    * proposes candidates, and Levenshtein scores each one exactly.
    * The candidate frame is broadcast (candidates ≪ corpus by
    * construction — that is the whole point of banding), so the corpus
    * is scanned twice but never shuffled; the O(|a|·|b|) distance runs
    * once per candidate pair, never per cross-pair.
    */
  def editDistanceVerify(d: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val t = d.select(col(idCol).as("__id"), col(textCol).as("__text"))
    val withA = t.join(broadcast(pairs.select("id_a", "id_b")),
        col("__id") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("__text").as("__text_a"))
    t.join(broadcast(withA), col("__id") === col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__text_a"), col("__text")).as("edit_dist"))
  }

  /** Corpus-level repeated-span removal (the C4/Gopher "remove
    * duplicated text" pass for corpora without line structure): each
    * doc splits into fixed `spanWords`-word segments (last one
    * ragged), any span occurring more than `maxOccurrences` times in
    * the WHOLE corpus is deleted from every doc, and docs are
    * reassembled in span order.
    *
    * Shape at scale: the span explode is row-local; occurrence
    * counting is one `groupBy(span)` shuffle that map-side-combines to
    * distinct spans; the over-threshold span set is tiny by Zipf (577
    * of 5 318 occurrences at sf0.01 are even duplicated), so it
    * broadcasts and the corpus is never shuffled on text — only the
    * reassembly `groupBy(id)` moves the docs, and per-doc state is the
    * doc itself. At extreme corpus scale swap the span string for a
    * 128-bit hash in the counting join (C4 does exactly that); kept
    * exact here so span equality is literal.
    *
    * Output: one row per doc — `text_clean` ('' if everything was
    * removed), `n_spans`, `n_removed`.
    */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 5, maxOccurrences: Int = 2): DataFrame = {
    val ws = split(col(textCol), " ")
    val nspans = ceil(size(ws) / lit(spanWords.toDouble)).cast("int")
    val spansExpr = transform(sequence(lit(0), nspans - 1),
      i => array_join(slice(ws, i * spanWords + 1, lit(spanWords)), " "))
    val spans = df.select(col(idCol).as("__id"),
      posexplode(spansExpr).as(Seq("pos", "span")))
    val overLimit = spans.groupBy("span")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOccurrences)
      .select(col("span"), lit(true).as("__dup"))
    spans
      .join(broadcast(overLimit), Seq("span"), "left_outer")
      .withColumn("__dup", coalesce(col("__dup"), lit(false)))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("pos"), col("span"), col("__dup"))))
        .as("sp"))
      .select(
        col("__id").as(idCol),
        array_join(transform(filter(col("sp"), x => !x.getField("__dup")),
          x => x.getField("span")), " ").as("text_clean"),
        size(col("sp")).as("n_spans"),
        size(filter(col("sp"), x => x.getField("__dup"))).as("n_removed"))
  }

  /** Rolling span-hash index (id, pos, h): one 60-bit hash per
    * `spanWords`-word window at STRIDE 1 — the currency of the
    * cross-document exact-substring family. Stride 1 is what makes
    * the detection EXACT for spans of ≥ `spanWords` tokens: any
    * verbatim shared run of at least that length contains an ALIGNED
    * shared window at every offset, so no alignment can be missed
    * (the fixed-segment [[dropRepeatedSpans]] grid can only see
    * segment-aligned repeats). Entirely row-local (split + window +
    * md5 inside one codegen'd projection, then one posexplode); the
    * index rows are ~16 B (8-byte hash + position), so a W-word
    * window costs about two bytes per corpus token to shuffle —
    * the text itself never leaves its scan partition.
    */
  def spanHashIndex(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame =
    // one codegen'd byte-walk per document (window join + md5 + hex
    // parse fused; value-identical to the composed transform/slice/
    // tokenHash60 pipeline it replaced — DedupSpec pins the
    // equivalence, and the oracles were already green on both forms)
    df.select(col(idCol).as("id"),
      posexplode(graft.functions.TextHashFunctions.span_hashes(
        col(textCol), spanWords)).as(Seq("pos", "h")))

  /** Per-document n-gram NOVELTY: what fraction of a doc's distinct
    * word shingles appear in NO other document (corpus df = 1) — the
    * inverse of boilerplate share. A curation signal the dedup family
    * doesn't give: a doc can be far from every near-duplicate yet be
    * 90% template; novelty reads that directly, and sorting a corpus
    * by it surfaces both the most-original documents (keep, upweight)
    * and the most-templated ones (candidates for span removal).
    *
    * Shape: the same inverted-index currency as the Jaccard family —
    * distinct (id, 8-byte shingle hash) rows, one df count
    * (map-side-combinable), one hash-keyed join back, one per-doc
    * aggregation. No pairs, no text shuffle, skew-free (the join key
    * is the hash, whose df rides along as a payload).
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int = ShingleN): DataFrame = {
    val sh = wordShingleHashes(df, idCol, textCol, n)
    val dfc = sh.groupBy("h").agg(count(lit(1)).as("__df"))
    sh.join(dfc, Seq("h"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        round(col("n_unique").cast("double") / col("n_shingles"), 6))
  }

  /** WINNOWED span-hash index — the at-scale compression of
    * [[spanHashIndex]] (Schleimer/Wilkerson/Aiken's winnowing, the
    * MOSS fingerprint selector): slide a `window`-wide window over
    * the stride-1 span hashes and keep only each window's MINIMUM
    * (docs shorter than a window keep their single global min), then
    * dedup per doc. Expected index density is ~2/(window+1) of
    * stride-1, and the selection is CONTENT-DEFINED, so both copies
    * of a shared passage select the same fingerprints — any verbatim
    * shared run of at least `spanWords + window − 1` tokens is
    * GUARANTEED to share at least one selected fingerprint (it
    * contains `window` consecutive shared span hashes, and the
    * minimum of that stretch is selected on both sides).
    *
    * Entirely row-local — hashing, sliding min (monotonic deque,
    * O(spans) not O(spans·window)) and dedup run inside ONE codegen'd
    * expression ([[graft.functions.WinnowedSpanHashes]]; the composed
    * transform/slice/array_min Column form re-evaluated the span
    * hashing per lambda step — window·spans md5 walks per document,
    * measured 4.5 s vs 0.3 s at sf0.1). The only cost change vs
    * [[spanHashIndex]] is the index VOLUME every downstream
    * join/shuffle carries — the term that dominates at 100 TB, where
    * the stride-1 index is ~2 bytes per corpus token and winnowing
    * at window=4 cuts it ~2.5×.
    */
  def winnowedSpanHashIndex(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int, window: Int = 4): DataFrame = {
    require(window >= 1, s"winnow window must be >= 1, got $window")
    df.select(col(idCol).as("id"),
      explode(graft.functions.TextHashFunctions.winnowed_span_hashes(
        col(textCol), spanWords, window)).as("h"))
  }

  /** Cross-document exact-substring pairs: documents sharing at least
    * `minShared` distinct `spanWords`-word VERBATIM windows — the
    * suffix-array-style "this exact passage also appears over there"
    * detector production corpus dedup runs alongside MinHash (which
    * sees global near-duplication, not a single lifted paragraph
    * inside an otherwise-unrelated document; n-gram Jaccard dilutes
    * exactly that signal by the union size).
    *
    * Same machinery as the Jaccard family: distinct (id, span-hash)
    * inverted index → [[sharedPairCounts]] (equi-join on the 8-byte
    * hash, never doc×doc; df-1 hashes — the overwhelming majority —
    * are dropped before the self-join; boilerplate spans with df ≥
    * `hotDf` route through the bucketed triangle join so one hot
    * passage cannot pin its d²/2 pair generation on one task).
    * Output (id_a < id_b, shared_spans); shared_spans ≥ k means a
    * shared verbatim run of ≥ spanWords + k − 1 tokens when the
    * windows are consecutive — raise `minShared` to demand longer
    * evidence.
    */
  /** `window > 1` switches the index to [[winnowedSpanHashIndex]] —
    * the scale default for big corpora: the stride-1 index is ~2 bytes
    * per corpus TOKEN and dominates the family's shuffle, winnowing at
    * window=4 cuts it ~2.6× (measured density 0.39 ≈ 2/(w+1),
    * SCALE.md §winnow). Detection bound (the MOSS guarantee): any
    * shared verbatim run of ≥ spanWords + window − 1 words selects at
    * least one common fingerprint in both documents, so pairs at that
    * evidence level are never missed; shorter overlaps MAY be.
    * `shared_spans` then counts shared winnowed FINGERPRINTS (sparser
    * than stride-1 windows — calibrate `minShared` accordingly, 1 is
    * the sensible default).
    */
  def crossDocSpanPairs(df0: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minShared: Long = 1L,
      hotDf: Int = HotShingleDf, hotBuckets: Int = HotShingleBuckets,
      mode: CollapseMode = CollapseMode.Auto, window: Int = 1): DataFrame = {
    val df = scanParallelized(df0)
    def indexOf(d: DataFrame, id: String, text: String): DataFrame =
      if (window > 1) winnowedSpanHashIndex(d, id, text, spanWords, window)
      else spanHashIndex(d, id, text, spanWords).select("id", "h")
    val collapse = mode match {
      case CollapseMode.Always => true
      case CollapseMode.Never  => false
      // span-face trigger differs from the shingle family's
      // frac-or-clique rule: diffuse or mid-size duplication routes
      // FASTER through the direct index (intra pairs are emitted
      // either way and the co-occurrence count-agg eats d² rows
      // cheaply — measured 2-3× at d=10/d=40), while mega-cliques
      // make the Σd² term the whole job (8× win for collapse at
      // d=500). The probe's (n−nd)·maxk upper-bounds that term;
      // against ratio·n it classified every measured ladder point
      // correctly (SCALE.md §substring).
      case CollapseMode.Auto =>
        val s = dupStatsOf(df, textCol)
        s.n > 0 && (s.n - s.nd) * s.maxk >= SpanCollapseRatio * s.n
    }
    if (!collapse) {
      val idx = indexOf(df, idCol, textCol).distinct()
      sharedPairCounts(idx, hotDf, hotBuckets)
        .filter(col("shared") >= minShared)
        .select(col("id_a"), col("id_b"), col("shared").as("shared_spans"))
    } else {
      // Exact-duplicate collapse front, same motivation as the Jaccard
      // family's: byte-identical texts share EVERY window, so a
      // d-member boilerplate clique would multiply each posting list
      // by d and the pair stage by d² — with the collapse only
      // DISTINCT texts enter the index, identical-text pairs re-enter
      // as intra-clique pairs (shared = the rep's whole span set,
      // triangle-split when hot), and cross-cluster rep pairs expand
      // back to members. Result-identical to the direct path
      // (spec-pinned).
      val base = df.select(col(idCol).as("id"), col(textCol).as("__text"),
        md5(col(textCol)).as("__dg"))
      val clusters = base.select("__dg", "id").groupBy("__dg")
        .agg(min("id").as("rep"), count(lit(1)).as("k"))
      val joined = base.join(clusters, Seq("__dg")).cache()
      val repIdx = indexOf(
          joined.filter(col("id") === col("rep")).select("id", "__text"),
          "id", "__text")
        .distinct()
      val repCounts = repIdx.groupBy("id").agg(count(lit(1)).as("__nspans"))
      val repPairs = sharedPairCounts(repIdx, hotDf, hotBuckets)
        .filter(col("shared") >= minShared)
      val members = joined.select("rep", "id", "k")
      val inter = interPairs(repPairs, members)
        .select(least(col("__ia"), col("__ib")).as("id_a"),
          greatest(col("__ia"), col("__ib")).as("id_b"),
          col("shared").as("shared_spans"))
      // intra-clique pairs share the rep's entire distinct span set
      val intraMembers = members
        .join(repCounts.select(col("id").as("rep"), col("__nspans")), Seq("rep"))
        .filter(col("__nspans") >= minShared)
        .withColumn("rep_nsh", col("__nspans"))
      val intra = intraPairs(intraMembers, hotDf, hotBuckets)
        .join(intraMembers.select(col("id").as("id_a"),
          col("__nspans").as("shared_spans")), Seq("id_a"))
      inter.union(intra.select("id_a", "id_b", "shared_spans"))
    }
  }

  /** Longest shared verbatim run per document pair — the full
    * suffix-array semantics ("these two documents share a 37-token
    * passage"), recovered from the stride-1 window index with a
    * gaps-and-islands pass: a true shared substring is a set of
    * window matches whose alignment offset (pos_b − pos_a) is
    * CONSTANT and whose pos_a advance consecutively, so per
    * (pair, offset) the max consecutive-position island of length r
    * witnesses a shared run of exactly r + spanWords − 1 tokens.
    * Reports (id_a, id_b, max_run_words) for pairs at or above
    * `minRunWords`.
    *
    * Scale: pair generation is [[coOccurringPairs]] with the
    * positions riding as payload (df-1 pruning, hot-window triangle
    * routing — identical skew story to the Jaccard family). The
    * islands pass is ONE groupBy on (id_a, id_b) collecting the
    * (offset, pos) match list, followed by a row-local sorted walk —
    * a pair's match list is bounded by the shorter document's window
    * count, kilobytes of state, so shipping it as one aggregation
    * beats the window-function formulation (distinct → window sort →
    * two groupBys = four shuffles of the pair stream; this is one).
    * Duplicate match rows cannot arise (a document has exactly one
    * window hash per position, and the triangle join emits each pair
    * in exactly one cell), but `array_distinct` enforces it row-local
    * at negligible cost. Window hashes collide at ~n²/2⁶¹ like the
    * rest of the 60-bit family.
    * No exact-dup collapse front here — identical docs trivially
    * share their whole length, so on a boilerplate-heavy corpus run
    * [[exactDedupSurvivors]] first and report runs over distinct
    * texts (the reporting-op convention; [[crossDocSpanPairs]] makes
    * the same move automatically via its clique trigger).
    */
  def crossDocSpanRuns(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minRunWords: Int = 10,
      hotDf: Int = HotShingleDf, hotBuckets: Int = HotShingleBuckets): DataFrame = {
    val idx = spanHashIndex(scanParallelized(df), idCol, textCol, spanWords)
    val co = coOccurringPairs(idx, hotDf, hotBuckets, payload = Seq("pos"))
      .select(col("id_a"), col("id_b"),
        struct((col("pos_b") - col("pos_a")).as("d"), col("pos_a").as("p")).as("m"))
    // sort_array orders struct matches lexicographically — (d asc,
    // p asc), i.e. grouped by alignment offset with positions
    // ascending — exactly the walk order the island scan needs.
    val walk = aggregate(
      sort_array(array_distinct(collect_list(col("m")))),
      struct(lit(Int.MinValue).as("d"), lit(Int.MinValue).as("p"),
        lit(0L).as("cur"), lit(0L).as("best")),
      (acc, x) => {
        val cur = when(x.getField("d") === acc.getField("d") &&
            x.getField("p") === acc.getField("p") + 1,
          acc.getField("cur") + 1L).otherwise(lit(1L))
        struct(x.getField("d").as("d"), x.getField("p").as("p"),
          cur.as("cur"), greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))
    co.groupBy("id_a", "id_b")
      .agg((walk + lit(spanWords - 1)).as("max_run_words"))
      .filter(col("max_run_words") >= minRunWords)
  }

  /** Cross-document exact-substring REMOVAL (the drop-mask face): any
    * `spanWords`-word window whose hash occurs in ≥ `minDocs` DISTINCT
    * documents is contaminated, and every word covered by a
    * contaminated window is deleted from its document (within-doc
    * repetition alone never triggers — that is [[dropRepeatedSpans]]'
    * job). This is the "remove any ≥N-token span that appears verbatim
    * in another document" pass of large-corpus pipelines, done with an
    * inverted hash index instead of a suffix array: same decision
    * boundary, no global sort.
    *
    * Scale shape: one groupBy(h) over the distinct (id, h) index
    * (map-side combinable) finds cross-doc hashes; a semi-join on h
    * marks contaminated positions (NO pair generation — a passage
    * shared by a million docs is a million semi-join hits, never d²/2
    * pairs, so the drop face needs no hot-key routing at all); the
    * per-doc position mask (a handful of ints) aggregates on id and
    * joins back to the corpus — AQE broadcasts it when small, and the
    * corpus text itself still never shuffles. Reassembly is row-local.
    *
    * Output: (id, text_clean, n_words, n_dropped) — text_clean `''`
    * when everything was covered.
    */
  /** `window > 1` runs the WINNOWED two-phase variant — the 100 TB
    * shape: phase 1 flags contaminated documents off the ~2.6×-smaller
    * winnowed fingerprint index (one groupBy + one semi-join, no
    * positions shipped); phase 2 runs the exact stride-1 drop on the
    * FLAGGED SUBSET only, so the position-bearing index is built for
    * the (usually small) contaminated fraction instead of the whole
    * corpus; unflagged documents pass through untouched. Detection
    * bound (MOSS guarantee): any cross-doc run of ≥ spanWords +
    * window − 1 words flags every document carrying it, so those
    * spans are always dropped exactly as in the stride-1 face;
    * cross-doc overlaps shorter than the bound MAY survive. Within
    * the flagged subset the drop decision is identical to stride-1
    * (a ≥-bound shared span flags ALL its carriers, so subset span
    * counts equal full-corpus counts at the bound).
    *
    * When to use which (measured, SCALE.md §f10): stride-1 stays the
    * WALL-CLOCK default at every tested size — it generates no pairs
    * and its position index builds cheaper per row than the winnow
    * min-selection. The two-phase face pays off on the index-SIZE
    * axis: its phase-1 index is ~2.6× smaller and position-free, so
    * pick `window > 1` when the contaminated fraction is small AND
    * the full (id, h, pos) index exceeds what the cluster wants to
    * shuffle or persist — the re-index-the-world regime, not the
    * single-job one.
    */
  def dropCrossDocSpans(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minDocs: Int = 2, window: Int = 1): DataFrame = {
    if (window > 1) {
      val win = winnowedSpanHashIndex(df, idCol, textCol, spanWords, window)
      val crossW = win.groupBy("h").agg(count(lit(1)).as("__docs"))
        .filter(col("__docs") >= minDocs).select("h")
      val flagged = win.join(crossW, Seq("h"), "left_semi")
        .select(col("id").as(idCol)).distinct()
      val dropped = dropCrossDocSpans(
        df.join(flagged, Seq(idCol), "left_semi"), idCol, textCol,
        spanWords, minDocs)
      // passing the raw column IS the stride-1 output for a doc with
      // nothing dropped: split keeps leading/trailing/empty tokens
      // (limit -1) and array_join re-joins them verbatim, so
      // array_join(split(x, " "), " ") ≡ x for every input — no
      // whitespace divergence is possible between the two faces
      val untouched = df.join(flagged, Seq(idCol), "left_anti")
        .select(col(idCol), col(textCol).as("text_clean"),
          size(split(col(textCol), " ")).as("n_words"),
          lit(0).as("n_dropped"))
      return dropped.unionByName(untouched)
    }
    val idx = spanHashIndex(scanParallelized(df), idCol, textCol, spanWords)
    val docSpans = idx.select("id", "h").distinct()
    val crossDoc = docSpans.groupBy("h")
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("h")
    val badPos = idx.join(crossDoc, Seq("h"), "left_semi")
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("__bad"))
    val ws = split(col(textCol), " ")
    val bad = coalesce(col("__bad"), array().cast("array<int>"))
    val coveredAt: Column => Column = j =>
      exists(bad, p => p <= j && j < p + spanWords)
    df.select(col(idCol).as("id"), col(textCol))
      .join(badPos, Seq("id"), "left_outer")
      .select(
        col("id").as(idCol),
        array_join( // array_join drops nulls: covered words vanish
          transform(sequence(lit(0), size(ws) - 1),
            j => when(coveredAt(j), lit(null)).otherwise(element_at(ws, j + 1))),
          " ").as("text_clean"),
        size(ws).as("n_words"),
        size(filter(sequence(lit(0), size(ws) - 1), coveredAt)).as("n_dropped"))
  }

  /** The canonical paragraph split every paragraph-granularity
    * consumer shares — the batch dedup, the persisted hash store
    * ([[graft.io.IndexStore]]'s `paragraph_hashes`), and the
    * streaming gate must agree on what a "paragraph" IS, or the
    * anti-join stops matching the index it was built from: `sep` as
    * a LITERAL boundary (regex-quoted for the split), position
    * preserved, blank/whitespace-only paragraphs dropped (they would
    * otherwise all collapse onto one global "winner"). Returns
    * (id, idx, para).
    */
  def paragraphRows(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF("id", "idx", "para")
      .filter(length(trim(col("para"))) > 0)

  /** Row-local non-blank paragraph count under the same split rule —
    * per-document totals without a second explode+shuffle pass.
    */
  def paragraphCount(text: Column, sep: String = "\n\n"): Column =
    // one codegen'd walk — the size(filter(split(...), trim)) form was
    // an interpreted lambda materializing the paragraph array per row
    // (equivalence spec-pinned in GopherFusedSpec)
    graft.functions.GopherFunctions.non_blank_segment_count(text, sep)

  /** Reassemble (id, idx, para) survivors into one document per id,
    * original paragraph order: (id, clean_text, n_kept).
    */
  def reassembleParagraphs(kept: DataFrame, sep: String = "\n\n"): DataFrame =
    kept.groupBy("id")
      .agg(
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x("para"))).as("clean_text"),
        count(lit(1)).as("n_kept"))

  /** The paragraph family's shared OUTPUT tail: per-document totals
    * (row-local [[paragraphCount]] — never a second explode) LEFT-
    * joined to the reassembled `kept` survivors — the (idCol,
    * clean_text, n_paras, n_kept) contract every paragraph rewrite
    * ships, defined once so the batch op, the seen-strip, and the
    * streaming gates cannot drift (a contract change — e.g. keeping
    * zero-paragraph docs — edits one place).
    */
  def reassembleWithTotals(df: DataFrame, idCol: String, textCol: String,
      kept: DataFrame, sep: String = "\n\n"): DataFrame = {
    val rebuilt = reassembleParagraphs(kept, sep)
    df.select(col(idCol).as("id"),
        paragraphCount(col(textCol), sep).cast("long").as("n_paras"))
      .filter(col("n_paras") > 0)
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Paragraph-level exact dedup with document reassembly — the
    * Dolma / RefinedWeb paragraph pass: the repeated unit on the web
    * is usually a PARAGRAPH (boilerplate footers, license blocks,
    * syndicated blurbs) lifted into otherwise-distinct documents, so
    * whole-document dedup never fires on it, and the substring
    * machinery ([[winnowedSpanHashIndex]]) pays a stride-position
    * index that the fixed `sep` boundary makes unnecessary. Every
    * distinct paragraph keeps exactly its globally FIRST occurrence —
    * min (doc, position), deterministic on any layout — and loses
    * every other one, within-document repeats included (the Gopher
    * duplicate-paragraph signal, acted on rather than just scored);
    * each document is then reassembled from its surviving paragraphs
    * in original order. Returns one row per document that has at
    * least one non-blank paragraph: (idCol, clean_text, n_paras,
    * n_kept) — a fully-deduplicated document stays in the output
    * with clean_text = "" and n_kept = 0 so the caller decides its
    * fate.
    *
    * Scale shape: the paragraph text rides exactly two shuffles. The
    * winner pick is a map-side-combinable min-struct groupBy on the
    * paragraph's 128-bit digest — a boilerplate paragraph present in
    * 10⁸ documents combines to one row per map task instead of
    * piling its occurrences onto one window partition (the
    * [[exactDedup]] hot-digest discipline); the winning paragraph's
    * text rides the combined shuffle because it IS the output, and
    * the winners ARE the kept rows (no winner-to-paragraph join
    * back). Reassembly is the one per-document shuffle any
    * paragraph-granularity rewrite must pay. Per-document totals are
    * a ROW-LOCAL [[paragraphCount]] projection of the original frame
    * — the corpus is scanned a second time but never re-exploded or
    * re-shuffled — joined to the rebuilt docs on id (doc-count
    * narrow rows, the n_kept = 0 outer half).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = paragraphRows(df, idCol, textCol, sep)
    // ids are unique per (id, idx), so `para` never decides the min —
    // it rides the struct to come back out with its winner
    val winners = paras
      .groupBy(md5(col("para")).as("h"))
      .agg(min(struct(col("id"), col("idx"), col("para"))).as("w"))
      .select(col("w.id").as("id"), col("w.idx").as("idx"),
        col("w.para").as("para"))
    reassembleWithTotals(df, idCol, textCol, winners, sep)
  }

  /** Strip ALREADY-SEEN paragraphs from a document batch against a
    * corpus paragraph-hash set — the BATCH twin of
    * [[graft.streaming.Streaming.streamParagraphSurvivors]] plus the
    * reassembly, as one reusable operator: split under the canonical
    * [[paragraphRows]] rule, one 60-bit hash per paragraph, LEFT ANTI
    * against `seenHashes` (a thin `h`-column scan — the
    * [[graft.io.IndexStore.readParagraphHashes]] shape), survivors
    * reassembled in original order. Output contract matches
    * [[paragraphDedup]]: one row per input document with ≥ 1
    * non-blank paragraph — (idCol, clean_text, n_paras, n_kept),
    * clean_text = "" when everything was seen (the caller decides a
    * fully-boilerplate doc's fate). Unlike [[paragraphDedup]] this
    * takes NO position on within-batch duplication (two batch docs
    * sharing a NEW paragraph both keep it — cross-batch state is the
    * store's job via the append path, the streaming rung's
    * convention).
    *
    * Scale shape: the batch text rides the explode + the one
    * reassembly shuffle; the corpus side is 8 bytes per distinct
    * corpus paragraph and never re-splits; the anti-join is an
    * equi-join on the hash.
    */
  def stripSeenParagraphs(df: DataFrame, seenHashes: DataFrame,
      idCol: String, textCol: String, sep: String = "\n\n"): DataFrame = {
    val kept = paragraphRows(df, idCol, textCol, sep)
      .withColumn("h", TextAnalysis.tokenHash60(col("para")))
      .join(seenHashes.select("h"), Seq("h"), "left_anti")
      .select("id", "idx", "para")
    reassembleWithTotals(df, idCol, textCol, kept, sep)
  }

  /** Paragraph-grain FUZZY near-dup pairs — the rung
    * [[paragraphDedup]]'s exact digest pass cannot see: a
    * boilerplate footer with a one-word edit (tracking tokens, issue
    * numbers, site names) hashes to a fresh digest per variant and
    * survives the exact pass in every document, while the substring
    * machinery only catches runs ≥ spanWords. This is the MinHash
    * band pipeline re-keyed to the PARAGRAPH: the unit of
    * deduplication is (doc, position), candidates come from band
    * collisions among DISTINCT paragraph texts, and each candidate
    * pair is verified with the exact shingle Jaccard. Returns one
    * row per qualifying pair of distinct-paragraph REPRESENTATIVES —
    * (id_a, idx_a, id_b, idx_b, jaccard), sides ordered by
    * (id, idx), jaccard ≥ `minJaccard` — ready for the same
    * cluster/survivor treatment the document family applies.
    *
    * Scale shape, inherited wholesale from [[minhashDedupPairs]]:
    * the exact-dup COLLAPSE FRONT carries over one granularity down
    * — a verbatim footer present in 10⁸ documents first collapses to
    * ONE representative via the same map-side-combinable min-struct
    * groupBy as [[paragraphDedup]]'s winner pick (hot-digest skew
    * never reaches the band join; without it the footer's copies
    * would co-bucket in EVERY band and the candidate join would go
    * quadratic in its document frequency), signatures are a
    * projection over the rep sets, candidates an equi-join on
    * (band, band_hash), and the verify is one codegen'd
    * array_intersect per candidate. Paragraphs with fewer than
    * [[HashDefs.ShingleN]] words carry no shingles and never pair
    * (the document family's convention).
    */
  def paragraphNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n", minJaccard: Double = 0.5): DataFrame = {
    val paras = paragraphRows(df, idCol, textCol, sep)
    // one rep per distinct paragraph text: globally-first (id, idx),
    // the paragraphDedup winner rule — map-side combinable
    val reps = paras
      .groupBy(md5(col("para")).as("__dg"))
      .agg(min(struct(col("id"), col("idx"), col("para"))).as("w"))
      .select(struct(col("w.id").as("id"), col("w.idx").as("idx")).as("id"),
        col("w.para").as("para"))
    val sets = reps.select(col("id"),
      graft.functions.TextHashFunctions.shingle_hashes(col("para"), ShingleN)
        .as("hs"))
    minhashRepPairs(sets, minJaccard)
      .select(col("id_a.id").as("id_a"), col("id_a.idx").as("idx_a"),
        col("id_b.id").as("id_b"), col("id_b.idx").as("idx_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Paragraph-grain fuzzy dedup with REMEDIATION — the consumer
    * [[paragraphNearDupPairs]] stops short of: detection alone leaves
    * a one-word-edited footer alive in every document, because
    * nothing acts on the pairs. This composes the document family's
    * cluster → survivor → rewrite treatment one granularity down, in
    * the same motion as [[paragraphDedup]]:
    *
    *  1. exact collapse — every distinct paragraph text keeps its
    *     globally-first (doc, position) representative (verbatim
    *     copies already lose here, the [[paragraphDedup]] rule);
    *  2. fuzzy clustering — the reps' MinHash band pairs feed
    *     [[nearDupClusters]] (grain-agnostic: the node id is the
    *     (id, idx) struct), so A≈B≈C variant chains dedup as one
    *     group even when A,C don't pair;
    *  3. survivor pick — each cluster keeps its MIN (id, idx) member,
    *     which IS the cluster label (the same globally-first rule as
    *     step 1, extended across variants — deterministic on any
    *     layout);
    *  4. rewrite — losing reps' paragraphs (and, via step 1, every
    *     verbatim copy of ANY non-winning text) are stripped and
    *     documents reassembled under the shared
    *     [[reassembleWithTotals]] contract: (idCol, clean_text,
    *     n_paras, n_kept), clean_text = "" when nothing survived.
    *
    * Scale shape: the collapse front bounds everything downstream by
    * DISTINCT paragraph variants (a footer in 10⁸ docs is ONE node);
    * the cluster loop runs over the band-verified pair members only
    * (the tiny duplicated fraction); the final strip is one narrow
    * (id, idx) semi-join; reassembly is the one per-document shuffle
    * every paragraph rewrite pays.
    */
  /** `survivorByFrequency` switches the cluster winner from the
    * globally-first rep to the MOST-COPIED variant (verbatim copy
    * count from the exact collapse; ties → first (id, idx)) — the
    * production canonical: the most common variant of a boilerplate
    * family is the intended text, while first-seen can enshrine a
    * rare typo'd copy that merely crawled earliest. Costs one
    * rep-level window over the clustered reps (partitions = clusters,
    * a tiny frame after banding); the default stays the zero-window
    * min-label rule.
    */
  def paragraphNearDupDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n", minJaccard: Double = 0.5,
      survivorByFrequency: Boolean = false): DataFrame = {
    val paras = paragraphRows(df, idCol, textCol, sep)
    // cached: consumed by the shingle sets (→ pairs → clusters, which
    // materialize eagerly inside nearDupClusters) AND the final kept
    // semi-join — uncached, each re-runs the explode + min groupBy.
    // RETAINED for the session (the nearDupClusters edges-cache rule):
    // the returned frame is lazy and still reads `winners`, so it
    // cannot be unpersisted here — long-lived sessions calling this
    // repeatedly hold one cached rep frame (full paragraph text) per
    // call until spark.catalog.clearCache() or session end
    val winners = paras
      .groupBy(md5(col("para")).as("__dg"))
      .agg(min(struct(col("id"), col("idx"), col("para"))).as("w"),
        count(lit(1)).as("__cnt"))
      .select(col("w.id").as("id"), col("w.idx").as("idx"),
        col("w.para").as("para"), col("__cnt"))
      .cache()
    val sets = winners.select(
      struct(col("id"), col("idx")).as("id"),
      graft.functions.TextHashFunctions.shingle_hashes(col("para"), ShingleN)
        .as("hs"))
    val pairs = minhashRepPairs(sets, minJaccard).select("id_a", "id_b")
    val clusters = nearDupClusters(sets.select("id"), pairs)
    val keptKeys =
      if (!survivorByFrequency)
        // each cluster's label member — min (id, idx) = globally
        // first, so `id === cluster` IS the survivor rule
        clusters.filter(col("id") === col("cluster"))
          .select(col("id.id").as("id"), col("id.idx").as("idx"))
      else {
        import org.apache.spark.sql.expressions.Window
        val wlab = Window.partitionBy(col("cluster"))
          .orderBy(col("__cnt").desc, col("id"), col("idx"))
        clusters
          .select(col("id.id").as("id"), col("id.idx").as("idx"),
            col("cluster"))
          .join(winners.select("id", "idx", "__cnt"), Seq("id", "idx"))
          .withColumn("__rk", row_number().over(wlab))
          .filter(col("__rk") === 1)
          .select("id", "idx")
      }
    val kept = winners.join(keptKeys, Seq("id", "idx"), "left_semi")
      .select("id", "idx", "para")
    reassembleWithTotals(df, idCol, textCol, kept, sep)
  }

  /** Strip paragraphs the corpus has FUZZY-seen — the streaming
    * admission twin of [[paragraphNearDupDedup]]'s detection, one
    * rung below [[stripSeenParagraphs]]: an edited boilerplate
    * paragraph hashes to a fresh digest and passes the exact
    * anti-join in every batch forever. This composes both rungs
    * against PERSISTED artifacts ([[graft.io.IndexStore]]'s
    * paragraph-fuzzy tables): split under the canonical
    * [[paragraphRows]] rule, drop exact-seen paragraphs against
    * `seenHashes` (h), then band the SURVIVING DISTINCT texts and
    * probe `seenBands` (h, band, band_hash) for candidates, verifying
    * each with the exact shingle Jaccard against `seenShingles`
    * (h, hs); paragraphs matching any stored rep at ≥ `minJaccard`
    * drop too. Survivors reassemble under the shared
    * [[reassembleWithTotals]] contract.
    *
    * Scale shape: the batch pays its explode + one distinct over its
    * own paragraphs; banding is a projection of the distinct texts
    * (bounded by batch variant count — the collapse front again); the
    * probe is an equi-join on (band, band_hash) against a stored
    * index that never recomputes; the verify is one codegen'd
    * array_intersect per candidate. Like [[stripSeenParagraphs]],
    * no position is taken on within-batch duplication — cross-batch
    * state lives in the store.
    */
  def stripFuzzySeenParagraphs(df: DataFrame, seenHashes: DataFrame,
      seenBands: DataFrame, seenShingles: DataFrame,
      idCol: String, textCol: String, sep: String = "\n\n",
      minJaccard: Double = 0.5): DataFrame = {
    val paras = paragraphRows(df, idCol, textCol, sep)
      .withColumn("h", TextAnalysis.tokenHash60(col("para")))
    val fresh = paras.join(seenHashes.select("h"), Seq("h"), "left_anti")
    // distinct surviving texts, keyed by the store's 60-bit text hash
    val sets = fresh.select(col("h").as("id"), col("para")).distinct()
      .select(col("id"),
        graft.functions.TextHashFunctions.shingle_hashes(col("para"), ShingleN)
          .as("hs"))
    val cand = lshBands(minhashSignature(sets))
      .join(seenBands.select(col("h").as("seen_h"), col("band"),
        col("band_hash")), Seq("band", "band_hash"))
      .select(col("id").as("h"), col("seen_h")).distinct()
    val dropped = withSetJaccard(cand
        .join(sets.select(col("id").as("h"), col("hs").as("hs_n")), Seq("h"))
        .join(seenShingles.select(col("h").as("seen_h"), col("hs").as("hs_c")),
          Seq("seen_h")),
        "hs_n", "hs_c")
      .filter(col("jaccard") >= minJaccard)
      .select("h").distinct()
    val kept = fresh.join(dropped, Seq("h"), "left_anti")
      .select("id", "idx", "para")
    reassembleWithTotals(df, idCol, textCol, kept, sep)
  }

  /** Embedding-cosine near-dup pairs: cosine(a, b) ≥ `minCos`,
    * id_a < id_b. All-pairs here (fine at verify scale); at 100 TB
    * route through [[Similarity.lshNearDupPairs]]' LSH bucketing
    * instead. The whole frame is the broadcast side of the nested
    * loop, so the face is guarded like [[Similarity.trainingTriplets]]:
    * one count job, and past [[Similarity.MaxScoredPairs]] (n² pairs
    * enumerated) it fails loud instead of OOMing the driver or an
    * executor.
    */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double): DataFrame = {
    // BigInt for the same overflow reason as Similarity.trainingTriplets
    val n = BigInt(emb.count())
    require(n * n <= Similarity.MaxScoredPairs,
      s"embeddingNearDupPairs: ${n * n} scored pairs exceeds " +
        s"Similarity.MaxScoredPairs=${Similarity.MaxScoredPairs} — use " +
        "Similarity.lshNearDupPairs (pairs only within LSH buckets)")
    val prepped = Similarity.withNorm(
      emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    // the all-pairs nested loop inherits the scan's partitioning on
    // its stream side — a single-file corpus would score every pair
    // in one task (same repair as the shingle path's scanParallelized)
    scanParallelized(prepped).as("a")
      .join(broadcast(prepped.as("b")), col("a.id") < col("b.id"))
      .withColumn("cos", Similarity.cosineFromNorms(
        col("a.vec"), col("b.vec"), col("a.norm"), col("b.norm")))
      .filter(col("cos") >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }
}
