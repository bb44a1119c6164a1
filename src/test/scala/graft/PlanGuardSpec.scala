package graft

/** Scale guardrail over the WHOLE registry: no query may plan a
  * cartesian product or an unintended nested-loop join — the two
  * shapes that stop scaling first. Every future registry entry is
  * covered automatically; intentional exceptions are listed with the
  * reason they are allowed.
  */
class PlanGuardSpec extends SparkSpec {

  /** Plans that legitimately contain a BroadcastNestedLoopJoin or
    * cartesian and why:
    * - q_embed_neardup: the documented all-pairs oracle BASELINE; the
    *   registered scale path is q_embed_neardup_lsh.
    * - q_ann_topk: brute-force exact baseline — the non-equi
    *   (id =!= query_id) join against the broadcast QUERY side is the
    *   intended "scan corpus once" plan, not a corpus×corpus loop.
    * - q_hard_negatives: the same brute-force shape (its IS
    *   bruteForceTopK's scored frame plus a row-local ceiling
    *   filter); the registered scale path is q_hard_negatives_ivf,
    *   whose cell equi-join plans no nested loop.
    * - q_source_overlap / q_source_overlap_sketch: the pairwise
    *   (grp_a < grp_b) join over the GROUP-level minhash sketches — a
    *   #sources-sized frame (G×K longs however big the corpus is),
    *   broadcast by construction; the corpus-sized halves (sketch
    *   agg, exact inverted index) are equi-keyed.
    * - q_training_triplets: corpus-as-anchors exact mining — the
    *   same whole-corpus broadcast non-equi scan q_embed_neardup is
    *   allowlisted for; banded/IVF candidate stages are the scale
    *   path.
    * - q_hybrid_rrf: composes the two allowlisted retrieval shapes —
    *   bm25's one-row stats broadcast and bruteForceTopK's non-equi
    *   dense scan; the fusion itself is a top-k-sized outer join.
    * - q_dsir_sample: importanceWeightsMicro's
    *   crossJoin(broadcast(one-row totals agg)) onto the vocab frame
    *   — the same ship-the-quantizer shape as q_bm25/q_unigram_lp.
    * - q_temperature_mix / q_bm25 / q_unigram_lp / q_zipf:
    *   crossJoin(broadcast(agg)) against a ONE-ROW corpus-stats
    *   aggregate — the lazy scalar-subquery shape
    *   (ship-the-quantizer); the nested loop runs once per row against
    *   a single build row, which is a projection, not a join blow-up.
    * - q_ann_pq / q_ann_pq_rerank: the PQ ADC scan — the corpus's
    *   byte-codes scanned once against the broadcast per-query LUTs
    *   (same intended shape as q_ann_topk's brute baseline, but each
    *   pair costs m lookups instead of a dim-wide dot product; the
    *   candidate restriction at scale comes from composing with the
    *   IVF cell equi-join, IVF-PQ style).
    * - q_zorder_cells / q_zorder_prune: crossJoin(broadcast(stats))
    *   against ONE-ROW min/max aggregates (the ship-the-stats shape
    *   again) — the cell assignment itself is row-local.
    * - q_ann_recall / q_ann_recall_rerank / q_ann_recall_lsh: their
    *   exact side IS bruteForceTopK (the allowlisted non-equi dense
    *   scan — recall is measured AGAINST the exact baseline by
    *   definition); the recall join itself is a top-k-sized
    *   left-semi equi-join, and the approximate sides are the
    *   DPP-pruned store serve / the LSH (table, bucket) equi-join —
    *   no nested loop of their own.
    * - q_pmi / q_quality_nb: the same ship-the-stats shape — PMI's
    *   n_tok/n_pairs totals and NB's t1/t0/v smoothing constants ride
    *   a crossJoin(broadcast(one-row agg)) onto vocab-sized frames.
    * - q_emit_takedown_report: the unsharded report joins the ONE-ROW
    *   global (first_affected, last_block) summary back onto the
    *   touched-blocks frame — crossJoin(broadcast(one-row agg)), the
    *   ship-the-stats shape again; with a shard column the same join
    *   is a shard-keyed equi-join and plans no nested loop.
    * - q_bitext_mine: the all-pairs brute miner — the exact-scoring
    *   oracle baseline for the margin pipeline (q_training_triplets'
    *   broadcast non-equi scan shape, guarded by maxScoredPairs);
    *   the registered scale path is q_bitext_mine_ivf, whose
    *   both-direction probed-cell candidate stages are equi-joins.
    */
  private val allowed =
    Set("q_embed_neardup", "q_ann_topk", "q_hard_negatives",
      "q_source_overlap", "q_source_overlap_sketch", "q_dsir_sample",
      "q_training_triplets", "q_hybrid_rrf",
      "q_temperature_mix", "q_bm25",
      "q_unigram_lp", "q_zipf", "q_ann_pq", "q_ann_pq_rerank",
      "q_zorder_cells", "q_zorder_prune", "q_pmi", "q_quality_nb",
      "q_ann_recall", "q_ann_recall_rerank", "q_ann_recall_lsh",
      "q_emit_takedown_report", "q_bitext_mine")

  test("no registry query plans CartesianProduct or unintended nested-loop join") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !allowed(name) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(", ")}") else None
      case _ => None
    }
    withClue(offenders.mkString("\n")) { offenders shouldBe empty }
  }

  /** Load-bearing plan facts for the headline queries, pinned so a
    * plan regression fails CI instead of only drifting the bench:
    * dict joins must broadcast, fused single-scan queries must stay
    * single-scan, and shuffle counts must not grow.
    */
  test("headline queries keep their load-bearing plan shapes") {
    val sfDir = "/root/testdata/sf0.001"
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def count(plan: String, pat: String): Int =
      pat.r.findAllIn(plan).length

    // dict lookups broadcast — a sort-merge join here would shuffle
    // the full events table against a 4-row dictionary
    val trending = planOf("q_trending")
    count(trending, "BroadcastHashJoin") should be >= 2
    count(trending, "SortMergeJoin") shouldBe 0

    // the fused variants' whole point is ONE scan of events/documents
    val trendingFused = planOf("q_trending_fused")
    count(trendingFused, "BroadcastHashJoin") should be >= 2
    count(trendingFused, "SortMergeJoin") shouldBe 0
    count(trendingFused, "FileScan") shouldBe 1
    count(planOf("q_tfidf"), "FileScan") shouldBe 1

    // q1_agg: one partial-agg shuffle + the final sort, nothing else;
    // codegen markers (*(n)) only materialize once AQE finalizes the
    // plan, so execute before asserting whole-stage codegen is on
    val q1df = SparkEntry.queries("q1_agg")(spark, sfDir)
    val q1 = q1df.queryExecution.executedPlan.toString
    count(q1, "Exchange hashpartitioning") shouldBe 1
    q1df.collect() // finalize THIS queryExecution (count() plans a new one)
    count(q1df.queryExecution.executedPlan.toString,
      "\\*\\(\\d+\\)") should be > 0 // whole-stage codegen on

    // fused customer360 profile: the profile agg + quantile barrier
    // budget is 4 shuffles / 2 scans (one scan lives in the cached
    // quantile subtree) — growth means the fusion regressed
    val c360 = planOf("q_customer360")
    count(c360, "Exchange hashpartitioning") should be <= 4
    count(c360, "FileScan") should be <= 2
    count(c360, "SortMergeJoin") shouldBe 0

    // bm25: global top-k must be the distributed TakeOrdered, never a
    // single-partition global sort/window over the corpus
    val bm25 = planOf("q_bm25")
    count(bm25, "TakeOrderedAndProject") shouldBe 1
    count(bm25, "SortMergeJoin") shouldBe 0

    // span dedup: the over-threshold span set joins back as a
    // BROADCAST — a sort-merge join here would shuffle the corpus
    // text a second time just to mark duplicates
    val span = planOf("q_span_dedup")
    count(span, "BroadcastHashJoin") should be >= 1
    count(span, "SortMergeJoin") shouldBe 0

    // funnel: exactly one data shuffle (the user-key groupBy); the
    // per-step rollup and final sort ride on k-row data
    count(planOf("q_funnel"), "Exchange hashpartitioning") shouldBe 2

    // exact-moment stats: all six moment sums must ride ONE groupBy
    // exchange over ONE scan — a second shuffle or scan means the
    // single-aggregate fusion regressed
    val corr = planOf("q_corr")
    count(corr, "Exchange hashpartitioning") shouldBe 1
    count(corr, "FileScan") shouldBe 1

    // volume anomaly: the daily rollup is the only pass over the log
    count(planOf("q_anomaly"), "FileScan") shouldBe 1

    // pairwise dedup: on the (duplicate-free) test corpus the Auto
    // probe must BYPASS the collapse — no md5 digest join, no
    // member-expansion joins; the round-5 regression was paying that
    // flat tax on every corpus, duplicates or not. The shingle-set
    // cache must STILL be there (the pair tail consumes the sets
    // several times — uncached, every consumer re-shingles the corpus)
    for (name <- Seq("q_dedup_ngram", "q_containment")) {
      val plan = planOf(name)
      withClue(s"$name paid the collapse tax on a dup-free corpus: ") {
        count(plan, "md5") shouldBe 0
      }
      withClue(s"$name lost the shingle-set cache: ") {
        count(plan, "InMemoryTableScan") should be >= 1
      }
      count(plan, "SortMergeJoin") shouldBe 0
    }

    // …and on a corpus with a real duplicate clique the same probe
    // must ENGAGE the collapse (the cached digest join appears)
    {
      import spark.implicits._
      val dup = (1L to 40L).map(i => (i, "x y z w v u t s r q " + (i % 3)))
        .toDF("doc_id", "text")
      val plan = graft.ext.Dedup
        .ngramJaccardPairs(dup, "doc_id", "text", minJaccard = 0.5)
        .queryExecution.executedPlan.toString
      withClue("collapse did not engage on a duplicated corpus: ") {
        count(plan, "InMemoryTableScan") should be >= 1
      }
    }

    // unigram LM score: vocab agg + per-doc agg are the only data
    // shuffles (+1 for the one-row total agg); the vocab join must
    // stay an equi-join on the term
    val ulp = planOf("q_unigram_lp")
    count(ulp, "Exchange hashpartitioning") should be <= 4
    count(ulp, "CartesianProduct") shouldBe 0

    // BPE pairs: pairs are row-local (zip_with), so ONE scan, ONE
    // pair-count exchange, and a distributed TakeOrdered — a second
    // exchange means a posexplode self-join crept back in
    val bpe = planOf("q_bpe_pairs")
    count(bpe, "Exchange hashpartitioning") shouldBe 1
    count(bpe, "FileScan") shouldBe 1
    count(bpe, "TakeOrderedAndProject") shouldBe 1

    // Zipf head: the vocab agg + distributed top-k now run ONCE at
    // construction (eager localCheckpoint closes the vocab cache's
    // lifecycle — r7 ADVICE), so the registry-visible plan must be
    // checkpoint-fed only: ZERO FileScan (a corpus rescan would mean
    // the one-pass property regressed) and the rank/share window over
    // the k checkpointed rows
    val zipf = planOf("q_zipf")
    count(zipf, "FileScan") shouldBe 0
    count(zipf, "Scan ExistingRDD") shouldBe 2
    count(zipf, "Window") shouldBe 1

    // gap-fill: daily rollup + key window; the spine explode rides
    // the window output, never a date-dimension join
    val gf = planOf("q_gap_fill")
    count(gf, "Exchange hashpartitioning") shouldBe 2
    count(gf, "FileScan") shouldBe 1
    count(gf, "Join") shouldBe 0

    // top paths: the session agg reuses the window's user
    // partitioning (subset-satisfies-clustering), so exactly two data
    // exchanges: the user window + the path count
    val tp = planOf("q_top_paths")
    count(tp, "Exchange hashpartitioning") shouldBe 2
    count(tp, "TakeOrderedAndProject") shouldBe 1

    // corpus prep: the exact-survivor cache is load-bearing — every
    // stage after the gates consumes it; losing the InMemoryRelation
    // re-runs the scan + gates + digest shuffle per consumer
    val cp = planOf("q_corpus_prepare")
    count(cp, "InMemoryTableScan") should be >= 2
    count(cp, "CartesianProduct") shouldBe 0

    // paragraph dedup: the winner pick must stay PARTIAL-aggregated
    // (the map-side min-struct combine is the hot-digest skew
    // defense — a boilerplate paragraph in 10⁸ docs combines per map
    // task; a Window formulation here would pile it onto one task),
    // and the per-doc totals are a ROW-LOCAL paragraphCount
    // projection: exactly ONE Generate (the winner path's explode) —
    // a second one means the totals regressed to a re-explode.
    // The pin is on the AGGREGATION MODE (partial_min in the plan
    // text) plus the absence of any Window, not on the physical
    // operator name: SortAggregate vs ObjectHashAggregate selection
    // is a Spark-version/conf detail, while "the min-struct combine
    // runs map-side" is the property that survives an engine upgrade
    val pd = planOf("q_paragraph_dedup")
    count(pd, "partial_min") should be >= 1 // map-side min(struct) combine
    count(pd, "Window") shouldBe 0 // the single-partition formulation
    count(pd, "Generate") shouldBe 1

    // D4: the prototype prune is ONE window over the cell partitions
    // on top of SemDeDup's own plan — zero windows in the q_semdedup
    // plan, exactly one here, and no extra corpus scan
    count(planOf("q_semdedup"), "Window") shouldBe 0
    val d4 = planOf("q_d4_resample")
    count(d4, "Window") shouldBe 1
    count(d4, "FileScan") shouldBe count(planOf("q_semdedup"), "FileScan")

    // admission: the corpus Bloom must be PRE-BUILT (bloomProbeEager
    // literal) — a bloom_filter_agg in the visible plan means the
    // probe regressed to per-branch scalar subqueries, which planned
    // FOUR independent corpus scans when measured (SCALE.md r9 note);
    // the two probe sites stay as literal might_contains
    val admit = planOf("q_admit_slice")
    count(admit, "bloom_filter_agg") shouldBe 0
    count(admit, "might_contain") should be >= 2

    // persisted IVF-PQ serve: the stored byte-code table + the two
    // query-side embedding reads + the DPP pruning subquery's probe
    // scan = exactly 4 FileScan occurrences in the plan text, zero
    // sort-merge joins — a 5th scan means the corpus got re-encoded
    // in-plan, defeating the build-once index
    val ivfpq = planOf("q_ann_ivfpq_persisted")
    count(ivfpq, "FileScan") shouldBe 4
    count(ivfpq, "SortMergeJoin") shouldBe 0
    count(ivfpq, "dynamicpruning") should be >= 1 // cell dirs pruned

    // persisted IVF serve: the cell-partitioned inverted file must be
    // probed through DYNAMIC PARTITION PRUNING — the broadcast probe
    // side prunes whole cell directories, so an nProbe/nCells query
    // reads that fraction of the BYTES; losing this reads the full
    // inverted file per query
    count(planOf("q_ann_ivf_persisted"), "dynamicpruning") should be >= 1

    // the APPENDED store must keep the same serve-plan property: the
    // appended parquet files land inside the cell=N partition dirs,
    // so dynamic partition pruning fires identically — losing this
    // would mean appends degraded the layout to flat files
    count(planOf("q_ann_ivf_appended"), "dynamicpruning") should be >= 1

    // hard-negative mining from the same store: the ceiling is a
    // row-local filter on the scored frame, so it must not cost the
    // serve plan its partition pruning
    count(planOf("q_hard_negatives_ivf"), "dynamicpruning") should be >= 1

    // index-served triplet mining: BOTH legs read the one probed-
    // candidate frame off the cell-partitioned inverted file — no
    // sort-merge join, no corpus re-encode, and the brute face's
    // O(n²) corpus-as-anchors scoring replaced by the cell-restricted
    // scan. The registry face anchors on the WHOLE corpus, which
    // probes every cell — DPP would prune nothing there (correctly
    // not inserted); the serving shape is BATCHED anchors (one mining
    // pass per epoch shard), and that plan must keep the inverted
    // file's dynamic partition pruning exactly like the other serves
    count(planOf("q_training_triplets_ivf"), "SortMergeJoin") shouldBe 0
    val tripletIdxDir = graft.io.IndexStore.ensureAnnIndexes(
      graft.Tables(spark, sfDir, "embeddings"), sfDir)
    val tripletBatched = graft.ext.Similarity.trainingTripletsFromIndex(
      graft.io.IndexStore.readIvfAssigned(spark, tripletIdxDir),
      graft.io.IndexStore.readAnnCentroids(spark, tripletIdxDir),
      graft.Tables(spark, sfDir, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 10))
      .queryExecution.executedPlan.toString
    count(tripletBatched, "dynamicpruning") should be >= 1
    count(tripletBatched, "SortMergeJoin") shouldBe 0

    // local BPE training runs at CONSTRUCTION (vocab collect + driver
    // loop); the registry-visible plan must be the returned merge
    // table only — a FileScan here means training leaked into the plan
    count(planOf("q_bpe_train_local"), "FileScan") shouldBe 0

    // perceptual serve: the image faces read 8-byte stored
    // fingerprints from the persisted index — a MapPartitions node in
    // the serve plan means the PNG codec pipeline leaked back into
    // the per-query path (it belongs in the build, once)
    count(planOf("q_image_neardup"), "MapPartitions") shouldBe 0
    count(planOf("q_image_clusters"), "MapPartitions") shouldBe 0
    count(planOf("q_audio_neardup"), "MapPartitions") shouldBe 0

    // Gopher rules: pure row-local projection — ONE scan, no joins,
    // no aggregation exchange (the only exchange is the output sort)
    val gopher = planOf("q_gopher_rules")
    count(gopher, "FileScan") shouldBe 1
    count(gopher, "Join") shouldBe 0
    count(gopher, "Exchange hashpartitioning") shouldBe 0

    // CCNet threshold face: the per-language tercile cuts join back
    // as a BROADCAST (the scale path's whole point — no per-language
    // corpus sort); a sort-merge join here would shuffle the scored
    // frame against a #languages-row aggregate
    val ccth = planOf("q_ccnet_buckets_thresh")
    count(ccth, "BroadcastHashJoin") should be >= 1

    // PageRank faces: the graph is checkpointed ONCE and shared
    // (graphMemo) — the registry-visible plan reads executor blocks,
    // never re-runs the inverted-index pair job
    count(planOf("q_neardup_pagerank"), "FileScan") shouldBe 0
    count(planOf("q_pagerank_survivors"), "FileScan") shouldBe 0
    count(planOf("q_semantic_pagerank"), "FileScan") shouldBe 0
  }

  test("filter queries push their predicates into the parquet scan") {
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan (pre-AQE) exposes the scan nodes with their metadata
    for (name <- Seq("q_filter_ops", "q_most_searched", "q_trending")) {
      val scans = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }
      withClue(s"$name: no FileSourceScanExec found") { scans should not be empty }
      withClue(s"$name: empty PushedFilters on every scan") {
        scans.exists(f =>
          f.metadata.getOrElse("PushedFilters", "[]") != "[]") shouldBe true
      }
    }
  }

  test("no registry query leaves temp views behind in the session catalog") {
    val sfDir = "/root/testdata/sf0.001"
    def views(): Set[String] =
      spark.catalog.listTables().collect().map(_.name).toSet
    val before = views()
    val leakers = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sfDir) // building the plan is where registration happens
        val leaked = views() -- before
        leaked.foreach(spark.catalog.dropTempView) // isolate per query
        if (leaked.nonEmpty) Some(s"$name: ${leaked.mkString(", ")}") else None
    }
    withClue(leakers.mkString("\n")) { leakers shouldBe empty }
  }

  test("StreamingGate starts every gate's query through its one runner") {
    // a gate that hand-copies its own drain adds a second query start
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/streaming/StreamingGate.scala")), "UTF-8")
    "\\.writeStream\\b".r.findAllIn(src).size shouldBe 1
    "processAllAvailable\\(".r.findAllIn(src).size shouldBe 1
  }

  test("every top-k face ranks through Similarity's one topK helper") {
    // a face that calls the aggregate directly loses the window
    // fallback past TopKFunctions.MaxK
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val sites = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      "(?<!def )\\btopk_score_min_id\\(".r.findAllIn(src).map(_ => p.toString)
    }
    sites shouldBe Seq("src/main/scala/graft/ext/Similarity.scala")
  }
}
