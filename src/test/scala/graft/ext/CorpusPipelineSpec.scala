package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end corpus preparation: every stage must fire on a corpus
  * built to trip it — wrong-language docs, junk-quality docs, exact
  * duplicates, near duplicates — and the output contract (one row per
  * survivor with lang/quality/tokens/split) must hold.
  */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  // long enough to clear the quality gate's length term; "the ... of"
  // markers make the lang gate score it 'en'
  private val base = ("the project of the committee is described in the " +
    "report and the findings are presented to the board for a review " +
    "of the annual results and the plan for the next year is outlined " +
    "in the final section of the document for the members to consider " +
    "and the recommendations are listed in the appendix of the report " +
    "for the convenience of the readers and the staff of the office")

  test("each stage drops exactly its targets; survivors carry the output contract") {
    val nearDup = base + " extra tail words here"
    val docs = Seq(
      (1L, base),                        // survivor (en, high quality)
      (2L, base),                        // exact dup of 1 → dropped
      (3L, nearDup),                     // near dup of 1 → dropped (jaccard > 0.5)
      (4L, "der und die das ist nicht " * 30), // de markers → dropped (lang gate: en only)
      (5L, "zz qq xx"),                  // junk → dropped (quality gate)
      (6L, "the house and the garden of the family is near the river " +
        "and the path to the village leads through the forest to the " +
        "bridge and the mill at the edge of the town where the market " +
        "is held in the square for the people of the region to trade " +
        "and the goods are sold in the stalls along the main street " +
        "of the town during the morning hours of the market day there") // distinct survivor
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.prepare(docs, "doc_id", "text",
        allowedLangs = Seq("en"), minQuality = 0.5)
      .orderBy("doc_id").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 6L)
    out.foreach { r =>
      r.getString(1) shouldBe "en"
      r.getDouble(2) should be >= 0.5
      r.getInt(3) should be > 0
      Set("train", "valid", "test") should contain(r.getString(5))
    }
  }

  test("output is layout-independent: any input partitioning, same rows") {
    val docs = (1L to 40L).map(i => (i, if (i % 7 == 0) base
      else base.replace("committee", s"committee$i"))).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      CorpusPipeline.prepare(df, "doc_id", "text", Seq("en"), 0.5)
        .collect().map(_.toSeq).toSet
    run(docs) shouldBe run(docs.repartition(7))
    run(docs) shouldBe run(docs.coalesce(1))
  }

  test("split assignment is stable under re-preparation of a grown corpus") {
    val docs = Seq((1L, base)).toDF("doc_id", "text")
    val grown = Seq((1L, base),
      (7L, base.replace("committee", "council"))).toDF("doc_id", "text")
    def splitOf(df: org.apache.spark.sql.DataFrame): String =
      CorpusPipeline.prepare(df, "doc_id", "text", Seq("en"), 0.5)
        .filter(col("doc_id") === 1L).head().getString(5)
    splitOf(docs) shouldBe splitOf(grown)
  }

  test("ranked survivor policy: only the survivor choice moves — gates " +
      "and near-dup membership are policy-invariant") {
    // a STAR neighborhood where the min-id member is NOT the most
    // central: the hub (id 2) shares two of its three word blocks
    // with every leaf (pairwise Jaccard ≈ 0.65 > 0.5), while leaves
    // share only one block with each other (≈ 0.32 < 0.5) — so the
    // graph is hub—leaf edges only. Min-id keeps leaf 1 (the cluster
    // label); rank must keep the hub. Every 3-gram contains a
    // block-tagged word, so blocks share no shingles. Tags picked by
    // a search over candidate tag families: banding at J≈0.65 catches
    // ~80% of edges per hash family, so the family is chosen to land
    // all three star edges (deterministic thereafter).
    def block(tag: String): String =
      (1 to 10).map(j => s"the $tag$j of").mkString(" ")
    val (a, b, c) = (block("delta"), block("epsilon"), block("zeta"))
    val docs = Seq(
      (1L, s"$a $b"),      // leaf
      (2L, s"$a $b $c"),   // the hub
      (3L, s"$b $c"),      // leaf
      (4L, s"$a $c"),      // leaf
      (9L, "the house and the garden of the family is near the river " +
        "and the path to the village leads through the forest to the " +
        "bridge and the mill at the edge of the town where the market " +
        "is held in the square for the people of the region to trade")
    ).toDF("doc_id", "text")
    def prep(p: CorpusPipeline.SurvivorPolicy) =
      CorpusPipeline.prepare(docs, "doc_id", "text", Seq("en"), 0.5,
        survivorPolicy = p)
    val minId = prep(CorpusPipeline.SurvivorPolicy.MinId)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val ranked = prep(CorpusPipeline.SurvivorPolicy.Ranked)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap

    // min-id keeps the cluster label (1); rank keeps the hub (2) —
    // the document the neighborhood clusters around
    minId.keySet should contain(1L)
    (minId.keySet should not).contain(2L)
    ranked.keySet should contain(2L)
    (ranked.keySet should not).contain(1L)
    // the isolated survivor is policy-invariant, attrs and split
    // included (only the near-dup survivor choice moved)
    ranked(9L) shouldBe minId(9L)
    // both policies keep exactly one survivor from this single
    // connected cluster plus the isolated doc
    minId.keySet.size shouldBe 2
    ranked.keySet.size shouldBe 2
  }

  // a second/third long-en text sharing no 3-shingles with `base`, so
  // the text stages never pair them — the semantic fixtures below
  // need survivors that only EMBEDDING space can link
  private val house = "the house and the garden of the family is near " +
    "the river and the path to the village leads through the forest " +
    "to the bridge and the mill at the edge of the town where the " +
    "market is held in the square for the people of the region to " +
    "trade and the goods are sold in the stalls along the main street " +
    "of the town during the morning hours of the market day there"
  private val lake = "the water of the lake and the stone of the hill " +
    "are part of the landscape and the birds of the valley fly over " +
    "the fields to the nest in the tall tree by the old farm where " +
    "the horses of the owner graze in the meadow during the long days " +
    "of the summer and the workers of the farm gather the harvest for " +
    "the winter in the barn beside the stable near the gate of the yard"

  test("semantic stage: embedding-space duplicates that pass every " +
      "text stage are dropped; docs without a vector always survive") {
    val docs = Seq((1L, base), (6L, house), (8L, lake))
      .toDF("doc_id", "text")
    // docs 1 and 8 are PARAPHRASES: zero shared shingles (every text
    // stage keeps both) but identical embeddings; doc 6 has no vector
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (8L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def ids(out: org.apache.spark.sql.DataFrame): Set[Long] =
      out.select("doc_id").collect().map(_.getLong(0)).toSet
    val without = ids(CorpusPipeline.prepare(docs, "doc_id", "text",
      Seq("en"), 0.5))
    without shouldBe Set(1L, 6L, 8L)
    val withSem = CorpusPipeline.prepare(docs, "doc_id", "text",
      Seq("en"), 0.5, semanticVectors = Some(vecs))
    // identical vectors tie on centroid-cosine → the lower id
    // survives the clump; the vectorless doc is never judged
    ids(withSem) shouldBe Set(1L, 6L)
    // survivor attrs/split are stage-order invariant: the semantic
    // stage only removes rows, never rewrites them
    withSem.filter(col("doc_id") === 1L).head().toSeq shouldBe
      CorpusPipeline.prepare(docs, "doc_id", "text", Seq("en"), 0.5)
        .filter(col("doc_id") === 1L).head().toSeq
  }

  // two more no-shared-shingle english texts for the diversify
  // fixture (four distinct vectors must all SURVIVE SemDeDup so the
  // prune has a cell to rank)
  private val field = "the teacher of the school and the children of " +
    "the class read the books of the library in the room near the " +
    "hall and the lessons of the day cover the history of the land " +
    "and the numbers of the charts while the bell of the tower rings " +
    "at the end of the hour for the break in the yard of the school " +
    "before the start of the next class in the afternoon"
  private val ship = "the sailor of the ship and the captain of the " +
    "crew watch the waves of the sea from the deck of the vessel " +
    "while the wind of the north fills the sails of the mast and the " +
    "cargo of the hold stays dry under the boards during the voyage " +
    "to the port of the south where the goods of the merchants wait " +
    "on the docks for the arrival of the fleet in the harbor"

  test("diversify stage: each cell sheds its most-prototypical permille " +
      "of the SemDeDup survivors; vectorless docs still always survive") {
    val docs = Seq((1L, base), (6L, house), (8L, lake), (11L, field),
      (13L, ship)).toDF("doc_id", "text")
    // four DISTINCT directions, pairwise cosine < tau — no SemDeDup
    // clumps, so the semantic stage keeps all four and the prune's
    // one cell ranks exactly four members: 250‰ cuts the single
    // most-prototypical (centroid-closest) one
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (8L, Array(0.0872f, 0.9962f)),
      (11L, Array(-0.9848f, 0.1736f)),
      (13L, Array(-0.2588f, -0.9659f))).toDF("vec_id", "embedding")
    def ids(out: org.apache.spark.sql.DataFrame): Set[Long] =
      out.select("doc_id").collect().map(_.getLong(0)).toSet
    val withSem = ids(CorpusPipeline.prepare(docs, "doc_id", "text",
      Seq("en"), 0.5, semanticVectors = Some(vecs), semanticCells = 1))
    withSem shouldBe Set(1L, 6L, 8L, 11L, 13L)
    val withD4 = ids(CorpusPipeline.prepare(docs, "doc_id", "text",
      Seq("en"), 0.5, semanticVectors = Some(vecs), semanticCells = 1,
      diversifyPermille = 250))
    withD4.subsetOf(withSem) shouldBe true
    withD4.size shouldBe 4 // exactly one of the four ranked docs drops
    withD4 should contain(6L) // vectorless is never ranked
    // the funnel gains the diversify row, stays monotone, and its
    // last count is what prepare ships
    val fun = CorpusPipeline.prepareFunnel(docs, "doc_id", "text",
        Seq("en"), 0.5, semanticVectors = Some(vecs), semanticCells = 1,
        diversifyPermille = 250)
      .orderBy("stage_order").collect()
    fun.length shouldBe 7
    fun.last.getString(0) shouldBe "diversify"
    val docCounts = fun.map(_.getLong(2)).toSeq
    docCounts shouldBe docCounts.sorted.reverse
    fun.last.getLong(2) shouldBe 4L
    // the prune is meaningless without the assignment: fail loud
    an[IllegalArgumentException] should be thrownBy
      CorpusPipeline.prepare(docs, "doc_id", "text", Seq("en"), 0.5,
        diversifyPermille = 250)
  }

  test("funnel gains the semantic_dedup row when the stage is " +
      "configured; counts stay monotone and match prepare") {
    val docs = Seq((1L, base), (6L, house), (8L, lake))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (8L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val plain = CorpusPipeline.prepareFunnel(docs, "doc_id", "text",
      Seq("en"), 0.5).collect()
    plain.length shouldBe 5 // no stage row without the opt-in
    val fun = CorpusPipeline.prepareFunnel(docs, "doc_id", "text",
        Seq("en"), 0.5, semanticVectors = Some(vecs))
      .orderBy("stage_order").collect()
    fun.length shouldBe 6
    fun.last.getString(0) shouldBe "semantic_dedup"
    val docCounts = fun.map(_.getLong(2)).toSeq
    docCounts shouldBe docCounts.sorted.reverse // monotone funnel
    // the last stage row counts exactly what prepare ships
    fun.last.getLong(2) shouldBe CorpusPipeline.prepare(docs, "doc_id",
      "text", Seq("en"), 0.5, semanticVectors = Some(vecs)).count()
  }

  test("semantic stage from the persisted store: a store built over the " +
      "survivor-restricted vectors reproduces the in-plan output " +
      "bit-for-bit, and D4 composes over the same assignment") {
    import graft.io.IndexStore
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, sf, "documents")
    val e = graft.Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val langs = Seq("en", "de", "fr")
    // phase 1: the text-stage survivor set (no semantic stage), which
    // defines the restricted vector frame the in-plan stage encodes
    val textSurv = CorpusPipeline.prepare(docs, "doc_id", "text", langs, 0.5)
      .select(col("doc_id").as("vec_id"))
    val restricted = e.join(textSurv, Seq("vec_id"), "left_semi")
    val dir = java.nio.file.Files.createTempDirectory("preppersist").toString
    try {
      IndexStore.writeAnnIndexes(restricted, dir)
      val idx = Some((IndexStore.readIvfAssigned(spark, dir),
        IndexStore.readAnnCentroids(spark, dir)))
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq).toSet
      // served ≡ in-plan when the store holds exactly the survivor
      // vectors (same quantizer basis → same cells → same drop set)
      rows(CorpusPipeline.prepare(docs, "doc_id", "text", langs, 0.5,
        semanticIndex = idx, semanticTau = 0.35)) shouldBe
        rows(CorpusPipeline.prepare(docs, "doc_id", "text", langs, 0.5,
          semanticVectors = Some(e), semanticTau = 0.35,
          semanticCells = 16))
      // and the D4 composition rides the same assignment either way
      rows(CorpusPipeline.prepare(docs, "doc_id", "text", langs, 0.5,
        semanticIndex = idx, semanticTau = 0.35,
        diversifyPermille = 250)) shouldBe
        rows(CorpusPipeline.prepare(docs, "doc_id", "text", langs, 0.5,
          semanticVectors = Some(e), semanticTau = 0.35,
          semanticCells = 16, diversifyPermille = 250))
      // exactly one semantic source: both at once is a caller bug
      an[IllegalArgumentException] should be thrownBy
        CorpusPipeline.prepare(docs, "doc_id", "text", langs, 0.5,
          semanticVectors = Some(e), semanticIndex = idx)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
