package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup family semantics: exact digest groups, shingling, inverted-
  * index Jaccard, MinHash/LSH candidate recall, SimHash banding
  * equivalence, embedding near-dup.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val doc = "the quick brown fox jumps over the lazy dog"

  test("exactDedup: one group per distinct text, min id canonical") {
    val df = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .select("canonical_id", "n_docs")
    rowSet(out) shouldBe Set(Seq(1L, 2L), Seq(2L, 1L))
  }

  test("exactDedupSurvivors/Losers: semi/anti split keeps full rows") {
    val df = Seq((3L, "aaa", "x"), (1L, "aaa", "y"), (2L, "bbb", "z"))
      .toDF("doc_id", "text", "extra")
    rowSet(Dedup.exactDedupSurvivors(df, "doc_id", "text")) shouldBe
      Set(Seq(1L, "aaa", "y"), Seq(2L, "bbb", "z"))
    rowSet(Dedup.exactDupLosers(df, "doc_id", "text")) shouldBe
      Set(Seq(3L, "aaa", "x"))
  }

  test("paragraphDedup: first (doc, position) occurrence wins, within-doc " +
      "repeats stripped, docs rebuilt in order, blank paragraphs dropped") {
    val df = Seq(
      (1L, "alpha\n\nshared\n\nbeta"),          // owns 'shared' first
      (2L, "gamma\n\nshared\n\ngamma"),         // cross-doc dup + self-repeat
      (3L, "shared"),                           // fully deduplicated away
      (4L, "\n\ndelta")                         // leading blank paragraph
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
    rowSet(out) shouldBe Set(
      Seq(1L, "alpha\n\nshared\n\nbeta", 3L, 3L),
      Seq(2L, "gamma", 3L, 1L),
      Seq(3L, "", 1L, 0L),
      Seq(4L, "delta", 1L, 1L))
    // a regex-metacharacter separator is treated as a literal
    val piped = Seq((1L, "a|b"), (2L, "b|c")).toDF("doc_id", "text")
    rowSet(Dedup.paragraphDedup(piped, "doc_id", "text", sep = "|")) shouldBe
      Set(Seq(1L, "a|b", 2L, 2L), Seq(2L, "c", 2L, 1L))
  }

  test("paragraphNearDupPairs: one-word-edited boilerplate pairs across " +
      "docs, verbatim copies collapse to one rep, distant texts and " +
      "short paragraphs never pair") {
    def footer(v: Int): String = "please subscribe to the graft weekly " +
      s"newsletter for more updates and news edition $v"
    val df = Seq(
      (1L, "first document body with words\n\n" + footer(0)),
      (2L, "second document body text here\n\n" + footer(0)), // verbatim copy
      (3L, "third document body words here\n\n" + footer(1)), // one-word edit
      (4L, "tiny\n\nxy z") // < ShingleN words: no shingles, never pairs
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphNearDupPairs(df, "doc_id", "text").collect()
    val pairs = out.map(r => ((r.getLong(0), r.getInt(1)),
      (r.getLong(2), r.getInt(3)))).toSet
    // the two footer VARIANTS pair at their reps: footer(0)'s first
    // occurrence is (1, 1) — doc 2's verbatim copy collapsed into it
    // and never appears as a pair side — and footer(1)'s is (3, 1)
    pairs should contain(((1L, 1), (3L, 1)))
    out.flatMap(r => Seq((r.getLong(0), r.getInt(1)),
      (r.getLong(2), r.getInt(3)))) should not contain ((2L, 1))
    // jaccard strictly below 1 (distinct texts) and ≥ the 0.5 bar
    out.foreach { r =>
      r.getDouble(4) should be >= 0.5
      r.getDouble(4) should be < 1.0
    }
    // the distant body texts share one trigram at most — never a pair
    pairs.foreach { case (a, b) => Set(a._2, b._2) shouldBe Set(1) }
  }

  test("paragraphNearDupDedup: the edited footer survives in exactly ONE " +
      "document; bodies survive everywhere; verbatim copies collapse too") {
    def footer(v: Long): String = "please subscribe to the graft weekly " +
      s"newsletter for more updates and news edition $v"
    val df = (1L to 20L).map { i =>
      (i, s"unique body number $i carrying its own distinct words\n\n" +
        footer(i % 4))
    }.toDF("doc_id", "text")
    val out = Dedup.paragraphNearDupDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    out.length shouldBe 20
    // the 4 footer variants (pairwise-similar, one-word edits) form
    // ONE cluster; its globally-first rep is doc 1's footer — the
    // remediation the pairs face stops short of: every other doc
    // (verbatim copies AND edited variants) loses the footer
    out.foreach { r =>
      val id = r.getLong(0)
      r.getString(1) should include(s"unique body number $id")
      r.getLong(2) shouldBe 2L
      if (id == 1L) {
        r.getString(1) should include("newsletter")
        r.getLong(3) shouldBe 2L
      } else {
        r.getString(1) should not include "newsletter"
        r.getLong(3) shouldBe 1L
      }
    }
    // layout-independent: the survivor choice is a pure (id, idx) min
    rowSet(Dedup.paragraphNearDupDedup(df.repartition(7), "doc_id",
      "text")) shouldBe rowSet(Dedup.paragraphNearDupDedup(df, "doc_id",
      "text"))
  }

  test("paragraphNearDupDedup(survivorByFrequency): the MOST-COPIED " +
      "variant wins, diverging from first-seen when a typo crawls first") {
    def footer(v: Long): String = "please subscribe to the graft weekly " +
      s"newsletter for more updates and news edition $v"
    // doc 1 carries the rare variant (edition 0, 25% of copies) FIRST;
    // docs ≢ 1 mod 4 carry the majority edition 1 (75%), first at doc 2
    val df = (1L to 20L).map { i =>
      (i, s"unique body number $i carrying its own distinct words\n\n" +
        footer(if (i % 4 == 1) 0 else 1))
    }.toDF("doc_id", "text")
    val freq = Dedup.paragraphNearDupDedup(df, "doc_id", "text",
        survivorByFrequency = true)
      .orderBy("doc_id").collect()
    // min-id policy keeps doc 1's edition-0 footer; frequency keeps
    // doc 2's edition-1 footer instead
    freq.filter(_.getString(1).contains("newsletter"))
      .map(_.getLong(0)).toSeq shouldBe Seq(2L)
    Dedup.paragraphNearDupDedup(df, "doc_id", "text").collect()
      .filter(_.getString(1).contains("newsletter"))
      .map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // frequency choice is layout-independent too (count + total order)
    rowSet(Dedup.paragraphNearDupDedup(df.repartition(7), "doc_id",
      "text", survivorByFrequency = true)) shouldBe rowSet(
      Dedup.paragraphNearDupDedup(df, "doc_id", "text",
        survivorByFrequency = true))
  }

  test("normalize: lowercase, punct→space, collapsed whitespace") {
    val df = Seq("  Hello,   WORLD!! 42  ", "already clean").toDF("text")
      .select(TextAnalysis.normalize(col("text")).as("n"))
    rowSet(df) shouldBe Set(Seq("hello world 42"), Seq("already clean"))
  }

  test("wordShingles: 3-shingles in order, short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val out = Dedup.wordShingles(df, "doc_id", "text")
    rowSet(out) shouldBe Set(Seq(1L, "a b c"), Seq(1L, "b c d"))
  }

  test("wordShingleHashes: distinct hashes match distinct shingles") {
    val df = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    // shingles: "a b c","b c a","c a b" (×, repeated) → 3 distinct
    Dedup.wordShingleHashes(df, "doc_id", "text").count() shouldBe 3L
  }

  test("wordShingleHashes agrees with wordShingles + hash") {
    val df = Seq((1L, doc), (2L, doc + " extra words here")).toDF("doc_id", "text")
    val viaArrays = Dedup.wordShingles(df, "doc_id", "text")
      .select(col("id"), TextAnalysis.tokenHash60(col("shingle")).as("h"))
      .distinct()
    rowSet(Dedup.wordShingleHashes(df, "doc_id", "text")) shouldBe rowSet(viaArrays)
  }

  test("ngramJaccardPairs: identical docs → jaccard 1.0; disjoint absent") {
    val df = Seq(
      (1L, doc), (2L, doc),
      (3L, "completely different words in this unrelated document text")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text")
    rowList(out.select("id_a", "id_b", "jaccard")) shouldBe
      Seq(Seq(1L, 2L, 1.0))
  }

  test("ngramJaccardPairs: triangle path ≡ plain self-join (skew split changes plan, not result)") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    // hotDf=2 forces EVERY pair-producing shingle through the triangle
    // cells; hotDf=MaxValue disables the split entirely
    val plain = rowSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.3, hotDf = Int.MaxValue))
    val triangle = rowSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.3, hotDf = 2, hotBuckets = 4))
    triangle shouldBe plain
    triangle should not be empty
    // same equivalence for the directed-containment consumer
    val plainC = rowSet(Dedup.containmentPairs(docs, "doc_id", "text",
      minContainment = 0.3, hotDf = Int.MaxValue))
    val triangleC = rowSet(Dedup.containmentPairs(docs, "doc_id", "text",
      minContainment = 0.3, hotDf = 2, hotBuckets = 4))
    triangleC shouldBe plainC
    triangleC should not be empty
  }

  test("trianglePairs: each unordered pair meets exactly once (duplicate-pair audit)") {
    // 40 identical docs → every shingle is hot at hotDf=2; a pair
    // double-counted in any bucket cell would inflate `shared` past
    // the union size and push jaccard over 1.0
    val df = (1L to 40L).map(i => (i, doc)).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      minJaccard = 0.9, hotDf = 2, hotBuckets = 4)
    out.count() shouldBe (40L * 39L) / 2
    out.select(max(col("jaccard"))).head().getDouble(0) shouldBe 1.0
    out.select(min(col("jaccard"))).head().getDouble(0) shouldBe 1.0
  }

  test("ngramJaccardPairs: known partial overlap") {
    // doc1: shingles {a b c, b c d, c d e} ; doc2: {a b c, b c x, c x y}
    // shared = 1, union = 5 → jaccard 0.2 (below 0.5 → empty);
    // with threshold 0.1 it appears.
    val df = Seq((1L, "a b c d e"), (2L, "a b c x y")).toDF("doc_id", "text")
    Dedup.ngramJaccardPairs(df, "doc_id", "text").count() shouldBe 0L
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", minJaccard = 0.1)
    rowList(out) shouldBe Seq(Seq(1L, 2L, 0.2))
  }

  test("minhashDedupPairs: finds near-identical pair, excludes unrelated") {
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"token$i").mkString(" ") + " changed word"
    val other = (100 to 130).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.minhashDedupPairs(df, "doc_id", "text", minJaccard = 0.5)
    val pairs = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should contain((1L, 2L))
    pairs.map(p => Set(p._1, p._2)) should not contain Set(1L, 3L)
  }

  test("minhash signature: identical docs identical, K-wide, agg-form equivalent") {
    val df = Seq((1L, doc), (2L, doc), (3L, "x y")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(Dedup.docShingleSets(df, "doc_id", "text"))
    val rows = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.keySet shouldBe Set(1L, 2L) // empty-shingle doc 3 excluded
    rows(1L) shouldBe rows(2L)
    rows(1L).length shouldBe HashDefs.K
    // the expression reproduces the aggregation form exactly
    val viaAgg = Dedup.wordShingleHashes(df, "doc_id", "text")
      .withColumn("x", col("h") % HashDefs.P)
      .groupBy("id")
      .agg(array(HashDefs.seeds.map { case (a, b) =>
        min((lit(a) * col("x") + lit(b)) % HashDefs.P)
      }: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows shouldBe viaAgg
  }

  test("lshCandidatePairs: identical signatures collide in every band, distinct pairs") {
    val df = Seq((1L, doc), (2L, doc)).toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignature(
      Dedup.docShingleSets(df, "doc_id", "text")))
    bands.count() shouldBe 2L * HashDefs.Bands
    rowList(Dedup.lshCandidatePairs(bands)) shouldBe Seq(Seq(1L, 2L))
  }

  test("simhash: identical texts → identical fingerprints in [0, 2^60)") {
    val df = Seq((1L, doc), (2L, doc), (3L, "some other words entirely"))
      .toDF("doc_id", "text")
    val fps = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    fps(1L) shouldBe fps(2L)
    fps.values.foreach { v =>
      v should be >= 0L
      v should be < (1L << HashDefs.SimhashBits)
    }
  }

  test("simhash expression ≡ aggregation twin (zero-shuffle projection is exact)") {
    val df = Seq(
      (1L, doc), (2L, doc + " tail tail tail"), (3L, "alpha beta gamma"),
      (4L, ""), (5L, "the the the of of a")) // tf weighting + empty text
      .toDF("doc_id", "text")
    rowSet(Dedup.simhash(df, "doc_id", "text")) shouldBe
      rowSet(Dedup.simhashAgg(df, "doc_id", "text"))
  }

  test("simhashBandedPairs ≡ simhashPairs (pigeonhole banding is lossless)") {
    // near-identical docs differ in few bits; unrelated docs differ in many
    val texts = Seq(
      1L -> doc, 2L -> (doc + " tail"), 3L -> "alpha beta gamma delta",
      4L -> "alpha beta gamma delta epsilon", 5L -> "unrelated corpus of words")
    val fps = Dedup.simhash(texts.toDF("doc_id", "text"), "doc_id", "text")
    val exact = rowSet(Dedup.simhashPairs(fps, maxDist = 11))
    val banded = rowSet(Dedup.simhashBandedPairs(fps, maxDist = 11))
    banded shouldBe exact
  }

  test("containmentPairs: embedded short doc — containment 1.0 where Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta eta"
    val long = short + " " + (1 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    // Jaccard at the default 0.5 threshold misses the pair entirely
    Dedup.ngramJaccardPairs(df, "doc_id", "text").count() shouldBe 0L
    val cont = Dedup.containmentPairs(df, "doc_id", "text", minContainment = 0.9)
      .collect()
    cont.length shouldBe 1
    cont.head.getAs[Double]("cont_a") shouldBe 1.0 // all of short is in long
    cont.head.getAs[Double]("cont_b") should be < 0.2
  }

  test("contaminationReport: shared-shingle threshold against a benchmark set") {
    val contaminated = (1 to 12).map(i => s"tok$i").mkString(" ")
    val clean = (100 to 112).map(i => s"other$i").mkString(" ")
    val corpus = Seq((1L, contaminated), (2L, clean)).toDF("doc_id", "text")
    val bench = Seq((50L, contaminated + " trailing words here"))
      .toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, "doc_id", "text",
      bench, "doc_id", "text", minShared = 8)
    // doc 1 shares its full 10-shingle set; doc 2 shares nothing
    rowSet(rep) shouldBe Set(Seq(1L, 50L, 10L))
  }

  test("nearDupClusters: transitive components, min-id labels, singletons kept") {
    val universe = (1L to 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(universe, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(1L) shouldBe 1L
    got(2L) shouldBe 1L
    got(3L) shouldBe 1L
    got(7L) shouldBe 1L   // two hops from 1 — transitivity
    got(10L) shouldBe 10L
    got(11L) shouldBe 10L
    got(20L) shouldBe 20L // singleton clusters as itself
    got.size shouldBe 20
    // empty pair set: every node is its own cluster, loop terminates
    val solo = Dedup.nearDupClusters(universe,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    solo.filter(col("id") =!= col("cluster")).count() shouldBe 0L
  }

  test("nearDupClusters: adversarial 1000-node path converges in O(log n) rounds") {
    // A path graph is the worst case for plain min-label propagation
    // (diameter = n-1 rounds); pointer doubling must crush it to
    // ~log2(n) rounds. maxRounds = 16 would throw without doubling —
    // this pins the bounded-rounds behavior, not just the answer.
    val n = 1000L
    val universe = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(universe, pairs, maxRounds = 16,
      initMin = true, localEdgeCap = 0)
    got.filter(col("cluster") =!= 0L).count() shouldBe 0L
    got.count() shouldBe n
  }

  test("nearDupClusters: exceeding maxRounds fails loud, not half-merged") {
    val universe = (0L until 10L).toDF("id")
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    an[IllegalStateException] should be thrownBy
      Dedup.nearDupClusters(universe, pairs, maxRounds = 1,
        initMin = true, localEdgeCap = 0).collect()
  }

  test("minhashCrossPairs ≡ full self-join pairs restricted to the slice") {
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val slice = graft.ext.TrainingData.hashSample(d, col("doc_id"), 200)
    val sliceIds = slice.select("doc_id").collect().map(_.getLong(0)).toSet
    val cross = rowSet(Dedup.minhashCrossPairs(d, slice, "doc_id", "text")
      .select("new_id", "corpus_id"))
    // same planes, same banding: the cross pairs must be exactly the
    // self-join pairs with an endpoint in the slice, directed slice-out
    val all = Dedup.minhashDedupPairs(d, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = all.flatMap { case (a, b) =>
      (if (sliceIds(a)) Seq(Seq[Any](a, b)) else Nil) ++
        (if (sliceIds(b)) Seq(Seq[Any](b, a)) else Nil)
    }.toSet
    cross shouldBe expected
    // size guard tripped (maxBroadcastBytes = 0 forces the shuffle
    // fallback): value-identical to the broadcast path
    val guarded = rowSet(Dedup.minhashCrossPairs(d, slice, "doc_id", "text",
        maxBroadcastBytes = 0L)
      .select("new_id", "corpus_id"))
    guarded shouldBe cross
  }

  test("nearDupClusters: local union-find ≡ distributed propagation") {
    // random-ish component mix: chains, a star, singletons
    val universe = (0L until 60L).toDF("id")
    val pairs = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 25L), (25L, 21L), (30L, 31L)) ++
      (40L until 45L).map(i => (40L, i + 1))).toDF("id_a", "id_b")
    val local = Dedup.nearDupClusters(universe, pairs) // under the cap
    val dist = Dedup.nearDupClusters(universe, pairs, maxRounds = 64,
      initMin = true, localEdgeCap = 0)
    rowSet(local) shouldBe rowSet(dist)
    // string ids too (lexicographic min)
    val su = Seq("a", "b", "c", "z").toDF("id")
    val sp = Seq(("b", "c"), ("c", "a")).toDF("id_a", "id_b")
    rowSet(Dedup.nearDupClusters(su, sp)) shouldBe
      rowSet(Dedup.nearDupClusters(su, sp, maxRounds = 64,
        initMin = true, localEdgeCap = 0))
    // numeric-STRUCT ids (the paragraph family's (id, idx) node key):
    // the field-wise local comparator must match Spark's struct
    // ordering — including the (same id, different idx) tie the
    // second field breaks
    val tu = Seq((1L, 0), (1L, 3), (2L, 1), (5L, 0), (9L, 9))
      .toDF("i", "x").select(struct(col("i"), col("x")).as("id"))
    val tp = Seq(((1L, 3), (1L, 0)), ((1L, 0), (2L, 1)), ((5L, 0), (5L, 0)))
      .toDF("a", "b")
      .select(struct(col("a._1").as("i"), col("a._2").as("x")).as("id_a"),
        struct(col("b._1").as("i"), col("b._2").as("x")).as("id_b"))
    val tLocal = Dedup.nearDupClusters(tu, tp)
    val tDist = Dedup.nearDupClusters(tu, tp, maxRounds = 64,
      initMin = true, localEdgeCap = 0)
    rowSet(tLocal) shouldBe rowSet(tDist)
    // the component {(1,0),(1,3),(2,1)} labels at its min member (1,0)
    tLocal.filter(col("id.i") === 2L)
      .select(col("cluster.i"), col("cluster.x"))
      .collect().map(r => (r.getLong(0), r.getInt(1))) shouldBe
      Array((1L, 0))
    // a NULL struct field (nullable id column feeding the key) must
    // not NPE the local path, and its ordering matches the
    // distributed loop's NULLS FIRST
    val nu = Seq((Some(1L), 0), (None, 1), (Some(2L), 2))
      .toDF("i", "x").select(struct(col("i"), col("x")).as("id"))
    val np = Seq(((Some(1L), 0), (Option.empty[Long], 1)))
      .toDF("a", "b")
      .select(struct(col("a._1").as("i"), col("a._2").as("x")).as("id_a"),
        struct(col("b._1").as("i"), col("b._2").as("x")).as("id_b"))
    rowSet(Dedup.nearDupClusters(nu, np)) shouldBe
      rowSet(Dedup.nearDupClusters(nu, np, maxRounds = 64,
        initMin = true, localEdgeCap = 0))
  }

  test("nearDupClusters: string ids use the changed-rows convergence path") {
    val universe = Seq("a", "b", "c", "d", "e").toDF("id")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(universe, pairs, maxRounds = 64,
        initMin = true, localEdgeCap = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    got("a") shouldBe "a"
    got("b") shouldBe "a"
    got("c") shouldBe "a" // transitive — fails if the loop is skipped
    got("d") shouldBe "d"
  }

  test("editDistanceVerify: exact Levenshtein per candidate pair") {
    val d = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    rowSet(Dedup.editDistanceVerify(d, "id", "text", pairs)) shouldBe Set(
      Seq(1L, 2L, 3), Seq(1L, 3L, 0))
  }

  test("embeddingNearDupPairs: cosine threshold on hand vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),   // cos(1,2) = 1.0
      (3L, Array(0.0f, 1.0f)),   // orthogonal to both
      (4L, Array(1.0f, 1.0f))    // cos with 1 = 0.7071
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", minCos = 0.7)
    rowSet(out.select("id_a", "id_b")) shouldBe Set(
      Seq(1L, 2L), Seq(1L, 4L), Seq(2L, 4L), Seq(3L, 4L))
  }

  test("embeddingNearDupPairs: past Similarity.MaxScoredPairs it fails " +
      "loud naming the LSH twin") {
    // one-element vectors: only the guard's count job runs. 14,142² is
    // under the 200M bound (the lazy frame is returned, never run);
    // 14,143² is over it
    def vecs(n: Long) = spark.range(n)
      .select(col("id").as("vec_id"), array(lit(1.0f)).as("embedding"))
    Similarity.MaxScoredPairs shouldBe 200000000L
    Dedup.embeddingNearDupPairs(vecs(14142L), "vec_id", "embedding",
      minCos = 0.7).columns should contain("id_a")
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairs(vecs(14143L), "vec_id", "embedding",
        minCos = 0.7)
    }
    ex.getMessage should include("200024449 scored pairs")
    ex.getMessage should include("lshNearDupPairs")
  }

  test("dropRepeatedSpans: corpus-wide span counting, ragged tail, order kept") {
    // span width 2, threshold 1: "a b" appears in docs 1,2 and twice in
    // doc 3 → removed everywhere; ragged tails ("e") survive.
    val df = Seq(
      (1L, "a b c d e"),   // spans: "a b" (dup), "c d", "e"
      (2L, "a b x y"),     // spans: "a b" (dup), "x y"
      (3L, "a b a b"),     // spans: "a b" ×2 (dup) → fully removed
      (4L, "z")            // single short span survives
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedSpans(df, "doc_id", "text",
      spanWords = 2, maxOccurrences = 1)
    val byId = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    byId(1L) shouldBe (("c d e", 3, 1))
    byId(2L) shouldBe (("x y", 2, 1))
    byId(3L) shouldBe (("", 2, 2))   // everything removed → empty, row kept
    byId(4L) shouldBe (("z", 1, 0))
    // layout-independent
    rowSet(Dedup.dropRepeatedSpans(df.repartition(5), "doc_id", "text", 2, 1)) shouldBe
      rowSet(out)
  }

  test("bloom split: unseen/maybeSeen partition the slice; eager probe agrees") {
    val seen = Seq((10L, "seen alpha"), (11L, "seen beta"), (12L, "seen gamma"))
      .toDF("doc_id", "text")
    val slice = Seq((1L, "novel one"), (2L, "seen alpha"), (3L, "novel two"),
      (4L, "seen gamma"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val unseen = ids(Dedup.unseenByBloom(slice, seen, "doc_id", "text",
      expectedSeen = 10L, fpp = 0.01))
    val maybe = ids(Dedup.maybeSeenByBloom(slice, seen, "doc_id", "text",
      expectedSeen = 10L, fpp = 0.01))
    // exact complement: every slice row lands on exactly one side
    (unseen ++ maybe) shouldBe Set(1L, 2L, 3L, 4L, 5L)
    (unseen & maybe) shouldBe Set.empty
    // false negatives impossible: the true duplicates are NEVER unseen;
    // null text never probes true
    maybe should contain allOf (2L, 4L)
    unseen should contain (5L)
    // the eager literal probe makes the same split as the lazy subquery
    val probe = coalesce(Dedup.bloomProbeEager(seen, "text",
      expectedSeen = 10L, fpp = 0.01), lit(false))
    ids(slice.filter(col("text").isNull || !probe)) shouldBe unseen
    ids(slice.filter(col("text").isNotNull && probe)) shouldBe maybe
  }

  test("bloomProbeEager: broadcast path ≡ literal path (threshold-forced)") {
    val seen = (1L to 40L).map(i => (i, s"corpus body number $i"))
      .toDF("doc_id", "text")
    val slice = ((30L to 45L).map(i => (i, s"corpus body number $i")) :+
      ((99L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    def split(probe: org.apache.spark.sql.Column): (Set[Long], Set[Long]) = {
      val p = coalesce(probe, lit(false))
      (slice.filter(col("text").isNull || !p)
        .select("doc_id").collect().map(_.getLong(0)).toSet,
        slice.filter(col("text").isNotNull && p)
          .select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    val lit0 = split(Dedup.bloomProbeEager(seen, "text",
      expectedSeen = 100L, fpp = 0.01))
    // broadcastMinBytes = 1 forces every non-null filter onto the
    // broadcast expression — the split must be bit-identical
    val bc0 = split(Dedup.bloomProbeEager(seen, "text",
      expectedSeen = 100L, fpp = 0.01, broadcastMinBytes = 1L))
    bc0 shouldBe lit0
    // sanity on the semantics themselves: true dups are never unseen,
    // null text is always kept on the unseen side
    bc0._1 should contain allOf (41L, 99L)
    bc0._2 should contain (30L)
  }

  test("spanHashIndex: stride-1 windows with positions, short docs yield none") {
    val df = Seq((1L, "a b c d e"), (2L, "a b")).toDF("doc_id", "text")
    val idx = Dedup.spanHashIndex(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    idx.count(_._1 == 2L) shouldBe 0
    idx.filter(_._1 == 1L).map(_._2).sorted shouldBe Array(0, 1, 2)
    // window hash = hash of the joined words, so equal windows in
    // different docs collide
    val idx2 = Dedup.spanHashIndex(
        Seq((9L, "zz a b c yy")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    idx2(1) shouldBe idx.filter(t => t._1 == 1L && t._2 == 0).head._3
  }

  test("span_hashes expression ≡ composed transform/slice/tokenHash60 pipeline") {
    // the fused byte-walk must be value-identical (position for
    // position) to the Column-expression form it replaced, including
    // the split(text, " ") trailing-empties semantics and the
    // md5-prefix hash
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
      .union(Seq((9001L, "a b", "x", "y", 3L), (9002L, "", "x", "y", 0L),
        (9003L, "one two three four five six seven eight nine ", "x", "y", 45L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val ws = split(col("text"), " ")
    val sz = org.apache.spark.sql.functions.size(ws) // Matchers shadows `size`
    val composed = docs.select(col("doc_id"),
      posexplode(when(sz >= 8,
        transform(sequence(lit(0), sz - 8),
          i => graft.ext.TextAnalysis.tokenHash60(
            array_join(slice(ws, i + 1, lit(8)), " "))))
        .otherwise(array().cast("array<long>"))).as(Seq("pos", "h")))
    val fused = Dedup.spanHashIndex(docs, "doc_id", "text", 8)
      .select(col("id").as("doc_id"), col("pos"), col("h"))
    rowSet(fused) shouldBe rowSet(composed)
  }

  test("crossDocSpanPairs: lifted passage found, unrelated docs absent") {
    val lifted = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, s"intro words here $lifted closing remark"),
      (2L, s"$lifted totally different tail content words"),
      (3L, "nothing in common with anything else at all whatsoever"))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossDocSpanPairs(df, "doc_id", "text", spanWords = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.map(p => (p._1, p._2)).toSeq shouldBe Seq((1L, 2L))
    // a 10-word verbatim run contains exactly 3 aligned 8-word windows
    pairs.head._3 shouldBe 3L
  }

  test("dropCrossDocSpans: cross-doc spans removed; within-doc-only repeats kept") {
    val lifted = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"alpha beta $lifted gamma delta"),
      (2L, s"$lifted epsilon zeta eta theta iota"),
      // the same 8-word window twice in ONE doc: df counts DISTINCT
      // docs, so within-doc repetition alone must not trigger
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"))
      .toDF("doc_id", "text")
    val out = Dedup.dropCrossDocSpans(df, "doc_id", "text", spanWords = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    out(1L) shouldBe (("alpha beta gamma delta", 12, 8))
    out(2L) shouldBe (("epsilon zeta eta theta iota", 13, 8))
    out(3L) shouldBe (("x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8", 16, 0))
  }

  test("crossDocSpanPairs: collapse path ≡ direct path on planted cliques") {
    val lifted = "one two three four five six seven eight nine"
    val clique = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    val df = Seq(
      (1L, s"intro $lifted outro words"),
      (2L, s"$lifted completely different tail here"),
      // 3-member byte-identical clique (shares its 3 windows among
      // itself; also shares nothing with 1/2)
      (10L, clique), (11L, clique), (12L, clique),
      (20L, "unrelated filler text with no overlaps anywhere at all"))
      .toDF("doc_id", "text")
    def pairs(mode: Dedup.CollapseMode) =
      rowSet(Dedup.crossDocSpanPairs(df, "doc_id", "text", spanWords = 8,
        mode = mode))
    val direct = pairs(Dedup.CollapseMode.Never)
    val collapsed = pairs(Dedup.CollapseMode.Always)
    collapsed shouldBe direct
    // clique pairs present with shared = the doc's full window count
    direct should contain (Seq(10L, 11L, 3L))
    direct should contain (Seq(1L, 2L, 2L))
  }

  test("crossDocSpanRuns: longest shared run exact; split passages don't merge") {
    val run12 = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12" // 12 words
    val run8a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val run8b = "b1 b2 b3 b4 b5 b6 b7 b8"
    val df = Seq(
      // pair (1,2): one 12-word lifted passage at different offsets
      (1L, s"x y $run12 z"),
      (2L, s"p q r s $run12 t u"),
      // pair (3,4): TWO disjoint 8-word shared spans — two islands at
      // different alignment offsets, so max run stays 8, never 16
      (3L, s"$run8a m1 m2 m3 $run8b"),
      (4L, s"$run8b n1 n2 n3 n4 n5 $run8a"),
      (5L, "nothing shared with anybody here at all in any words"))
      .toDF("doc_id", "text")
    val got = Dedup.crossDocSpanRuns(df, "doc_id", "text",
        spanWords = 8, minRunWords = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    got.keySet shouldBe Set((1L, 2L), (3L, 4L))
    got((1L, 2L)) shouldBe 12L
    got((3L, 4L)) shouldBe 8L
  }

  test("auto-collapse probe verdict memoized per (session, corpus plan)") {
    // fresh session: isolated verdict map (weak-keyed per session)
    val s2 = spark.newSession()
    val df = s2.range(0, 50)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("some text body"), col("id").cast("string"),
          lit("tail words here")).as("text"))
    Dedup.probeVerdictEntries(s2) shouldBe 0
    Dedup.ngramJaccardPairs(df, "doc_id", "text").count()
    Dedup.probeVerdictEntries(s2) shouldBe 1
    // same corpus plan, different dedup face — probe NOT re-run
    Dedup.minhashDedupPairs(df, "doc_id", "text").count()
    Dedup.probeVerdictEntries(s2) shouldBe 1
    // different corpus plan — new probe
    val df2 = df.withColumn("text", concat(col("text"), lit(" more")))
    Dedup.ngramJaccardPairs(df2, "doc_id", "text").count()
    Dedup.probeVerdictEntries(s2) shouldBe 2
  }

  test("noveltyScores: df=1 shingles counted, short docs excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),   // shingles abc,bcd,cde
      (2L, "a b c x y"),   // shingles abc,bcx,cxy — abc shared
      (3L, "a b")          // no 3-shingles → no row
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(docs, "doc_id", "text")
      .orderBy("id").collect()
    out.length shouldBe 2
    out(0).getAs[Long]("n_shingles") shouldBe 3L
    out(0).getAs[Long]("n_unique") shouldBe 2L
    out(0).getAs[Double]("novelty") shouldBe (2.0 / 3.0 * 1e6).round / 1e6
    out(1).getAs[Long]("n_unique") shouldBe 2L
  }

  test("winnowing: shared ≥(span+window−1)-token run shares a fingerprint; short docs keep one") {
    import spark.implicits._
    // 11 shared tokens = 4 consecutive shared 8-word span hashes; a
    // width-4 winnow window lands exactly on them in both docs, so
    // both select the same minimum
    val run = (1 to 11).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $run eps zeta"),
      (2L, s"uno dos tres $run quattro cinco seis siete octo")
    ).toDF("doc_id", "text")
    val idx = Dedup.winnowedSpanHashIndex(docs, "doc_id", "text",
      spanWords = 8, window = 4)
    idx.groupBy("h").agg(countDistinct("id").as("n"))
      .filter(col("n") === 2).count() should be >= 1L

    // 9 tokens → 2 span hashes < window → exactly the global min kept
    val short = Seq((7L, (1 to 9).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val sidx = Dedup.winnowedSpanHashIndex(short, "doc_id", "text", 8, 4)
    sidx.count() shouldBe 1L
    val full = Dedup.spanHashIndex(short, "doc_id", "text", 8)
    sidx.head().getLong(1) shouldBe
      full.agg(min("h")).head().getLong(0)
  }

  test("winnowing compresses the stride-1 index, and selection ⊆ stride-1 hashes") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 80).map(i => s"t${i % 37}w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val full = Dedup.spanHashIndex(docs, "doc_id", "text", 8)
    val win = Dedup.winnowedSpanHashIndex(docs, "doc_id", "text", 8, 4)
    val nFull = full.count()
    val nWin = win.count()
    nWin should be < nFull
    nWin should be >= nFull / 4 - 1 // ~2/(w+1) density, never degenerate
    win.join(full.select(col("h")), Seq("h"), "left_anti").count() shouldBe 0L
  }

  test("clusterSurvivors: max-rank member wins, ties break to min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short copy", 10L), (2L, "the full article text", 20L),
      (3L, "tie a", 7L), (4L, "tie b", 7L),
      (5L, "singleton", 3L)).toDF("doc_id", "text", "n_chars")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L)).toDF("id", "cluster")
    val kept = Dedup.clusterSurvivors(docs, "doc_id", clusters, "n_chars")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // cluster 1: doc 2 has more chars; cluster 3: tie → min id 3; singleton kept
    kept shouldBe Seq(2L, 3L, 5L)
    // survivor set is layout-independent
    val kept2 = Dedup.clusterSurvivors(docs.repartition(5), "doc_id",
        clusters.repartition(3), "n_chars")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    kept2 shouldBe kept
  }

  test("clusterSurvivors: int and string ids pick the same survivors as " +
      "bigint ids") {
    import spark.implicits._
    val docs = Seq[(Long, Option[Long])](
      (1L, Some(10L)), (2L, Some(20L)), // rank decides
      (3L, Some(7L)), (4L, Some(7L)),   // tie → min id
      (5L, None), (6L, Some(3L)),       // a null rank loses
      (7L, None), (8L, None))           // all-null → min id
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L),
      (6L, 5L), (7L, 7L), (8L, 7L)).toDF("id", "cluster")
    // a double rank: a null rank loses even to −Infinity (no sentinel
    // may let the lower null-rank id win the tie)
    val infDocs = Seq[(Long, Option[Double])](
      (9L, None), (10L, Some(Double.NegativeInfinity))).toDF("doc_id", "score")
    val infClusters = Seq((9L, 9L), (10L, 9L)).toDF("id", "cluster")
    for (t <- Seq("bigint", "int", "string")) withClue(t) {
      def typed(df: org.apache.spark.sql.DataFrame, c: String) =
        df.withColumn(c, col(c).cast(t))
      def survivors(d: org.apache.spark.sql.DataFrame,
          c: org.apache.spark.sql.DataFrame, rank: String) = {
        val kept = Dedup.clusterSurvivors(typed(d, "doc_id"), "doc_id",
          typed(c, "id"), rank)
        kept.schema("doc_id").dataType.catalogString shouldBe t
        kept.select(col("doc_id").cast("long")).collect().map(_.getLong(0))
          .sorted.toSeq
      }
      survivors(docs, clusters, "n_chars") shouldBe Seq(2L, 3L, 6L, 7L)
      survivors(infDocs, infClusters, "score") shouldBe Seq(10L)
    }
  }

  test("sourceOverlapMatrix: union property; identical/subset/disjoint exact") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog and runs far away"
    val b = "a completely different second document about spark shuffles at scale"
    val z = "entirely disjoint third text with unique zebra words only here now"
    val df = Seq(
      (1L, "g1", a), (2L, "g1", b),
      (3L, "g2", a), (4L, "g2", b), // same union as g1
      (5L, "g3", a),                // proper subset of g1
      (6L, "g4", z)).toDF("doc_id", "grp", "text")
    val m = Dedup.sourceOverlapMatrix(df, "grp", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    m.keySet.size shouldBe 6 // full matrix, disjoint pairs included
    // identical unions: every sketch slot matches, exact jaccard 1
    m(("g1", "g2")) shouldBe ((1.0, 1.0))
    // disjoint groups: exact jaccard 0 (rows still present)
    m(("g1", "g4"))._2 shouldBe 0.0
    m(("g3", "g4"))._2 shouldBe 0.0
    // subset: exact jaccard = |A| / |A ∪ B|
    val nSub = Dedup.wordShingleHashes(
      df.filter(col("grp") === "g3"), "doc_id", "text").count().toDouble
    val nUnion = Dedup.wordShingleHashes(df, "grp", "text")
      .filter(col("id") === "g1").select("h").distinct().count().toDouble
    m(("g1", "g3"))._2 shouldBe math.rint(nSub / nUnion * 1e6) / 1e6
    // the union property the sketch rides: group sketch == slotwise
    // min over the group's per-DOCUMENT minhash signatures
    val sketch = Dedup.groupMinhashSketch(
        Dedup.wordShingleHashes(df, "grp", "text")
          .select(col("id").as("grp"), col("h")))
      .collect()
      .map(r => r.getString(0) -> (1 to HashDefs.K).map(r.getLong)).toMap
    val merged = Dedup.minhashSignature(
        Dedup.docShingleSets(df, "doc_id", "text"))
      .join(df.select(col("doc_id").as("id"), col("grp")), Seq("id"))
      .collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[Seq[Long]]("sig"))
      .groupBy(_._1)
      .map { case (g, rs) =>
        g -> rs.map(_._2.toVector).toVector.transpose.map(_.min) }
    sketch.keySet shouldBe merged.keySet
    merged.foreach { case (g, sig) => sketch(g) shouldBe sig }
  }
}
