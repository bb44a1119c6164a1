package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.{vec_cosine, vec_dot, vec_norm}

/** Similarity search: the codegen'd vector expressions and both ANN
  * paths (exact brute force, LSH-bucketed with recall floor).
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("vec_dot: double, float, and mixed element types; null → null") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    singleValue(df.select(vec_dot(col("a"), col("b")))) shouldBe 32.0

    val f = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    singleValue(f.select(vec_dot(col("a"), col("b")))) shouldBe 11.0
    singleValue(f.select(vec_dot(col("a"), col("a").cast("array<double>")))) shouldBe 5.0

    val n = Seq((Some(Array(1.0)), Option.empty[Array[Double]])).toDF("a", "b")
    assert(singleValue(n.select(vec_dot(col("a"), col("b")))) == null)
  }

  test("vec_dot: interpreted eval matches codegen result") {
    val df = Seq((Array(0.5, -1.5, 2.0), Array(4.0, 2.0, -1.0))).toDF("a", "b")
    val expr = vec_dot(col("a"), col("b"))
    // force both paths: plain select (codegen) vs a non-codegen context
    val viaCodegen = singleValue(df.select(expr))
    val viaSql = singleValue(
      df.select(aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _)))
    viaCodegen shouldBe viaSql
    viaCodegen shouldBe (0.5 * 4.0 - 1.5 * 2.0 - 2.0)
  }

  test("vec_norm and vec_cosine") {
    val df = Seq((Array(3.0, 4.0), Array(4.0, 3.0))).toDF("a", "b")
    singleValue(df.select(vec_norm(col("a")))) shouldBe 5.0
    singleValue(df.select(round(vec_cosine(col("a"), col("b")), 6))) shouldBe 0.96
  }

  test("vec_dot: type mismatch rejected at analysis") {
    val df = Seq((Array("x"), Array(1.0))).toDF("a", "b")
    an[Exception] should be thrownBy df.select(vec_dot(col("a"), col("b"))).collect()
  }

  test("bruteForceTopK: exact neighbors on hand-built 2d vectors") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") === 1L), k = 2)
    rowList(out.select("query_id", "rank", "neighbor_id")) shouldBe Seq(
      Seq(1L, 1, 2L),  // cos ≈ 0.9939
      Seq(1L, 2, 3L))  // cos = 0 beats -1
  }

  test("bruteForceTopK: self excluded, k bounds output per query") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 3)
    out.filter(col("neighbor_id") === col("query_id")).count() shouldBe 0L
    val sizes = out.groupBy("query_id").count().select("count").distinct()
    rowList(sizes) shouldBe Seq(Seq(3L))
  }

  test("lshTopK: recall ≥ 0.5 vs brute force on testdata embeddings") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val exact = rowSet(Similarity.bruteForceTopK(e, queries, k = 5)
      .select("query_id", "neighbor_id"))
    val approx = rowSet(Similarity.lshTopK(e, queries, k = 5)
      .select("query_id", "neighbor_id"))
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.5
  }

  test("lshNearDupPairs: subset of exact pairs, catches identical vectors") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = rowSet(graft.ext.Dedup
      .embeddingNearDupPairs(e, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b"))
    val approx = rowSet(Similarity.lshNearDupPairs(e, 0.45)
      .select("id_a", "id_b"))
    approx.subsetOf(exact) shouldBe true // no false positives (cosine re-checked)
    // identical vectors always share every bucket
    val dup = e.limit(1).select(col("vec_id") + 10000, col("embedding"))
      .toDF("vec_id", "embedding")
      .unionByName(e.select("vec_id", "embedding"))
    val pairs = rowSet(Similarity.lshNearDupPairs(dup, 0.99)
      .select("id_a", "id_b"))
    pairs should not be empty
  }

  test("semanticContamination: no false positives, catches a planted bench copy") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val bench = graft.ext.TrainingData.hashSample(e, col("vec_id"), 200)
    val report = Similarity.semanticContamination(e, bench, minCos = 0.45)
    // every reported pair really clears the threshold and is cross-id
    report.filter(col("cos") < 0.45 || col("id") === col("bench_id"))
      .count() shouldBe 0L
    // bench_ids all come from the bench sample
    val benchIds = rowSet(bench.select(col("vec_id").as("bench_id")))
    rowSet(report.select("bench_id")).subsetOf(benchIds) shouldBe true
    // a corpus row that IS a bench vector (under a new id) must be caught
    val planted = bench.limit(1)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      .unionByName(e.select("vec_id", "embedding"))
    val hits = Similarity.semanticContamination(planted, bench, minCos = 0.99)
    hits.filter(col("id") >= 10000).count() should be >= 1L
    // scale-shape pin: the benchmark side broadcasts at both joins —
    // the corpus must never reach a shuffle-based join
    val plan = report.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("normalized: unit norm; quantizedInt8: range + reconstruction bound") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(50)
    val norms = e.select(
      round(vec_norm(Similarity.normalized(col("embedding"))), 9).as("n"))
    rowList(norms.distinct()) shouldBe Seq(Seq(1.0))

    val qd = e.select(col("embedding").cast("array<double>").as("v"),
        Similarity.quantizedInt8(col("embedding")).as("qs"))
      .select(col("v"), col("qs.q").as("q"), col("qs.scale").as("scale"),
        Similarity.dequantized(col("qs.q"), col("qs.scale")).as("deq"))
    // every quantized value in [-127, 127]
    qd.select(explode(col("q")).as("x"))
      .filter(col("x") < -127 || col("x") > 127).count() shouldBe 0L
    // per-element reconstruction error ≤ half a quantization step
    val bad = qd.select(
      array_max(zip_with(col("v"), col("deq"),
        (a, b) => abs(a - b))).as("max_err"),
      (lit(0.5000001) / col("scale")).as("bound"))
      .filter(col("max_err") > col("bound"))
    bad.count() shouldBe 0L
  }

  test("ivfTopK: exact cosines (subset of brute-force scored set), k-bounded, no self") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    // every IVF row must be a brute-force-scored pair with the SAME cosine
    val universe = rowSet(Similarity.bruteForceTopK(e, queries, k = 100000)
      .select("query_id", "neighbor_id", "cos"))
    val ivf = Similarity.ivfTopK(e, queries, k = 5, nCells = 16, nProbe = 2)
    rowSet(ivf.select("query_id", "neighbor_id", "cos"))
      .subsetOf(universe) shouldBe true
    ivf.filter(col("neighbor_id") === col("query_id")).count() shouldBe 0L
    ivf.groupBy("query_id").count().filter(col("count") > 5).count() shouldBe 0L
  }

  test("quantizedInt8: zero vector → scale 1, zero q (no Infinity/NaN)") {
    val df = Seq((1L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = df.select(Similarity.quantizedInt8(col("embedding")).as("qs"))
      .select(col("qs.scale"), col("qs.q")).head()
    r.getDouble(0) shouldBe 1.0
    r.getSeq[Byte](1) shouldBe Seq(0, 0, 0)
  }

  test("ivfTopK: zero and NaN vectors in the corpus do not crash assignment") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.0f, 0.0f)),                    // zero vector
      (3L, Array(Float.NaN, 1.0f)),               // NaN vector
      (4L, Array(1.0f, 0.1f)), (5L, Array(0.1f, 1.0f)))
    val e = vecs.toDF("vec_id", "embedding")
    // must plan + execute without AIOOBE; ranks bounded
    val out = Similarity.ivfTopK(e, e.filter(col("vec_id") === 0), k = 2,
      nCells = 4, nProbe = 4)
    out.count() should be <= 2L
  }

  test("ivfCentroids: nCells outside [1, MaxIvfCells] fails loud, no collect") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    an[IllegalArgumentException] should be thrownBy
      Similarity.ivfCentroids(e, nCells = 0)
    an[IllegalArgumentException] should be thrownBy
      Similarity.ivfCentroids(e, nCells = Similarity.MaxIvfCells + 1)
  }

  test("ivfTopK: nProbe clamped to nCells; probing everything ≡ brute force") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = e.filter(col("vec_id") < 5)
    // nProbe ≥ nCells scans every cell → exact result
    val all = Similarity.ivfTopK(e, queries, k = 3, nCells = 4, nProbe = 99)
    val exact = Similarity.bruteForceTopK(e, queries, k = 3)
    rowSet(all) shouldBe rowSet(exact)
  }

  test("ivfTopK: clustered vectors — same-cluster neighbors found (recall 1.0)") {
    // 4 clusters of exactly-parallel vectors (scale spread only): every
    // member has an identical cosine profile, so a whole cluster —
    // query included — always assigns to one cell no matter which
    // vectors the hash picks as centroids; with nProbe=1 all true
    // neighbors (cluster mates, cos 1.0) are inside the probed cell.
    val dim = 8
    val vecs = for {
      cl <- 0 until 4
      i <- 0 until 6
    } yield {
      val scale = 10.0f + i * 0.1f
      val base = Array.tabulate(dim)(d => if (d == cl * 2) scale else 0.0f)
      ((cl * 6 + i).toLong, base)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val queries = e.filter(col("vec_id") % 6 === 0) // one query per cluster
    val exact = rowSet(Similarity.bruteForceTopK(e, queries, k = 3)
      .select("query_id", "neighbor_id"))
    val ivf = rowSet(Similarity.ivfTopK(e, queries, k = 3,
      nCells = 8, nProbe = 1, idCol = "vec_id", vecCol = "embedding")
      .select("query_id", "neighbor_id"))
    (exact intersect ivf).size.toDouble / exact.size shouldBe 1.0
  }

  test("hardNegatives: positives above the ceiling excluded, ceiling " +
      "off ≡ bruteForceTopK") {
    val (corpus, queries) = planted
    val anchors = queries.filter(col("vec_id") < 120) // the twin anchors
    val brute = Similarity.bruteForceTopK(corpus, anchors, k = 3)
    // sanity that the filter has something to bite: the twin (cos ≥
    // 0.99) is the brute-force rank-1 for nearly every anchor
    brute.filter(col("rank") === 1 &&
      col("neighbor_id") === col("query_id") + 1).count() should be >= 55L
    val hard = Similarity.hardNegatives(corpus, anchors, k = 3,
      posCeiling = 0.95)
    // no returned "negative" is a positive under the bar, and in
    // particular no anchor is handed its own twin as a negative
    hard.agg(max("cos")).head().getDouble(0) should be < 0.95
    hard.filter(col("neighbor_id") === col("query_id") + 1)
      .count() shouldBe 0L
    // a ceiling above every cosine disables the guard: exactly top-k
    rowList(Similarity.hardNegatives(corpus, anchors, k = 3,
        posCeiling = 1.01).orderBy("query_id", "rank")) shouldBe
      rowList(brute.orderBy("query_id", "rank"))
  }

  test("trainingTriplets: twins become positives, never negatives; " +
      "three-leg contract drops anchors without a positive") {
    val (corpus, queries) = planted
    val anchors = queries.filter(col("vec_id") < 120) // the twin anchors
    val t = Similarity.trainingTriplets(corpus, anchors, posFloor = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    t.nonEmpty shouldBe true
    t.foreach { case (anchor, (pos, neg, posCos, negCos)) =>
      pos shouldBe anchor + 1      // the planted twin is the positive
      posCos should be >= 0.95
      negCos should be < 0.95      // the negative is under the bar...
      neg should not be (anchor + 1) // ...and never the twin itself
    }
    // an anchor with no neighbor >= floor yields no triplet at all
    val none = Similarity.trainingTriplets(corpus, anchors, posFloor = 1.01)
    none.count() shouldBe 0L
    // the brute face is the ORACLE BASELINE, guarded: past the scored-
    // pair bound it fails loud at plan time (never an executor OOM
    // hours in) and names the index-served twin
    val ex = intercept[IllegalArgumentException] {
      Similarity.trainingTriplets(corpus, anchors, maxScoredPairs = 10L)
    }
    ex.getMessage should include("trainingTripletsFromIndex")
  }

  test("mineBitext: planted twins mine as parallel pairs with high " +
      "margins; the brute guard fails loud naming the index twin") {
    val (corpus, _) = planted
    // the planted twins are exactly the (even, odd) id pairs i<120 —
    // a ready-made bitext fixture: source side = even ids, target =
    // odd, every twin base's true "translation" is its twin
    val src = corpus.filter(col("vec_id") % 2 === 0)
    val tgt = corpus.filter(col("vec_id") % 2 === 1)
    val mined = Similarity.mineBitext(src, tgt)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    (0L until 120L by 2).foreach { id =>
      withClue(s"twin source $id: ") {
        val (t, margin) = mined(id)
        t shouldBe id + 1         // the twin is the mined pair
        // twin cos ≈ 0.999 over a ≈0.5 neighborhood mean — the margin
        // separates true pairs from the hub-corrected background
        margin should be >= 1.3
      }
    }
    val ex = intercept[IllegalArgumentException] {
      Similarity.mineBitext(src, tgt, maxScoredPairs = 10L)
    }
    ex.getMessage should include("mineBitextFromIndex")
  }

  test("mineBitextFromIndex at full probe coverage equals the brute " +
      "miner exactly") {
    import graft.functions.IvfFunctions.ivf_cells
    val (corpus, _) = planted
    val src = corpus.filter(col("vec_id") % 2 === 0)
    val tgt = corpus.filter(col("vec_id") % 2 === 1)
    val cents = Similarity.ivfCentroids(corpus, nCells = 16)
    val assigned = Similarity.withNorm(
        corpus.select(col("vec_id").as("id"), col("embedding").as("vec")))
      .withColumn("cell", element_at(ivf_cells(col("vec"), cents, 1), 1))
    val served = Similarity.mineBitextFromIndex(
      assigned.filter(col("id") % 2 === 0),
      assigned.filter(col("id") % 2 === 1),
      cents, src, tgt, nProbe = 16)
    // nProbe = nCells ⇒ both directions' candidate sets are the full
    // cross product ⇒ neighborhoods, margins, and argmaxes all match
    // the brute scorer row for row
    rowSet(served) shouldBe rowSet(Similarity.mineBitext(src, tgt))
  }

  /** Planted-geometry recall fixture: a deterministic 64-d corpus
    * (fixed-seed gaussians) with
    *  - 60 near-dup twin pairs (≈0.3% perturbation → cos ≥ 0.99),
    *  - 4 tight isotropic clusters of 8 (cos ≈ 0.95 within),
    *  - 2 parallel-ray clusters of 6 (cos exactly 1.0 within),
    *  - 3 elongated clusters of 10 (heavier noise, cos ≈ 0.75-0.9),
    *  - 120 background noise vectors (pairwise cos ≈ 0 at d=64).
    * Three distinct geometries + the twins give the recall dials a
    * fixture where "true neighbor" spans the easy (cos 1.0) through
    * moderate (cos 0.75) regimes.
    */
  private lazy val planted: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dim = 64
    val rnd = new scala.util.Random(42)
    def gauss(scale: Double) = Array.fill(dim)((rnd.nextGaussian() * scale).toFloat)
    def plus(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x + y }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val queryIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var id = 0L
    def add(v: Array[Float], query: Boolean = false): Unit = {
      rows += ((id, v)); if (query) queryIds += id; id += 1
    }
    (0 until 60).foreach { _ =>            // near-dup twins
      val base = gauss(1.0)
      add(base, query = true); add(plus(base, gauss(0.025)))
    }
    (0 until 4).foreach { _ =>             // tight isotropic clusters
      val center = gauss(1.0)
      (0 until 8).foreach { i => add(plus(center, gauss(0.18)), query = i == 0) }
    }
    (0 until 2).foreach { _ =>             // parallel rays: cos exactly 1
      val dir = gauss(1.0)
      (0 until 6).foreach { i =>
        add(dir.map(x => (x * (1.0 + 0.2 * i)).toFloat), query = i == 0)
      }
    }
    (0 until 3).foreach { _ =>             // elongated / noisy clusters
      val center = gauss(1.0)
      (0 until 10).foreach { i => add(plus(center, gauss(0.45)), query = i == 0) }
    }
    (0 until 120).foreach(_ => add(gauss(1.0)))  // background
    val corpus = rows.toSeq.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(queryIds.toSeq: _*))
    (corpus, queries)
  }

  private def recallAt(exact: Set[Seq[Any]], approx: Set[Seq[Any]]): Double =
    (exact intersect approx).size.toDouble / exact.size

  /** Ground truth for the recall dials: the exact top-3 restricted to
    * MEANINGFUL neighbors (cos ≥ 0.6). A twin query's top-1 is its
    * twin but ranks 2-3 are random background at cos ≈ 0.2 — no
    * bucketed index finds those, and no near-dup/similarity use case
    * wants them, so scoring them against the recall dial would only
    * measure noise.
    */
  private def meaningfulTop3(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    rowSet(Similarity.bruteForceTopK(corpus, queries, k = 3)
      .filter(col("cos") >= 0.6).select("query_id", "neighbor_id"))

  test("lshTopK recall dials on planted geometries: multiprobe lifts recall, ≥0.9 at defaults") {
    val (corpus, queries) = planted
    val exact = meaningfulTop3(corpus, queries)
    val on = rowSet(Similarity.lshTopK(corpus, queries, k = 3, multiProbe = true)
      .select("query_id", "neighbor_id"))
    val off = rowSet(Similarity.lshTopK(corpus, queries, k = 3, multiProbe = false)
      .select("query_id", "neighbor_id"))
    val (rOn, rOff) = (recallAt(exact, on), recallAt(exact, off))
    info(f"lshTopK planted recall: multiprobe on=$rOn%.3f off=$rOff%.3f")
    withClue(s"recall multiprobe on=$rOn off=$rOff: ") {
      rOn should be >= 0.9
      rOn should be >= rOff  // the probe ring can only add candidates
    }
  }

  test("ivfCentroidsTrained: Lloyd refinement does not lose recall; empty cells keep seeds") {
    val (corpus, queries) = planted
    val exact = meaningfulTop3(corpus, queries)
    def recallAtProbe(p: Int, iters: Int): Double =
      recallAt(exact, rowSet(Similarity.ivfTopK(corpus, queries, k = 3,
        nCells = 16, nProbe = p, trainIters = iters)
        .select("query_id", "neighbor_id")))
    val (seed1, trained1) = (recallAtProbe(1, 0), recallAtProbe(1, 2))
    val (seed2, trained2) = (recallAtProbe(2, 0), recallAtProbe(2, 2))
    info(f"ivf recall nProbe=1: seeds=$seed1%.3f trained=$trained1%.3f; " +
      f"nProbe=2: seeds=$seed2%.3f trained=$trained2%.3f")
    withClue(s"recall seeds=($seed1,$seed2) trained=($trained1,$trained2): ") {
      // Lloyd balances cells: recall per probed cell must not regress
      trained1 should be >= seed1
      trained2 should be >= seed2
    }
    // structural contract: nCells rows, unit (or zero) norm, and a
    // run with iters=0 is exactly the hash-picked seed matrix
    val seeds = Similarity.ivfCentroids(corpus, 16)
    val trained = Similarity.ivfCentroidsTrained(corpus, 16, iters = 2)
    trained.length shouldBe seeds.length
    trained.foreach { c =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      assert(nrm == 0.0 || math.abs(nrm - 1.0) < 1e-9)
    }
    Similarity.ivfCentroidsTrained(corpus, 16, iters = 0) shouldBe seeds
  }

  test("ivfTopK recall dials on planted geometries: monotone in nProbe, ≥0.9 at nProbe=4") {
    val (corpus, queries) = planted
    val exact = meaningfulTop3(corpus, queries)
    val r = Seq(1, 2, 4).map { p =>
      p -> recallAt(exact,
        rowSet(Similarity.ivfTopK(corpus, queries, k = 3, nCells = 16, nProbe = p)
          .select("query_id", "neighbor_id")))
    }.toMap
    info(r.toSeq.sortBy(_._1)
      .map { case (p, v) => f"nProbe=$p recall=$v%.3f" }.mkString("ivfTopK planted: ", ", ", ""))
    withClue(s"recall by nProbe=$r: ") {
      r(1) should be <= r(2)
      r(2) should be <= r(4)
      r(4) should be >= 0.9
    }
  }

  test("lshNearDupPairs on planted twins: ≥0.9 of the 60 planted near-dup pairs recovered") {
    val (corpus, _) = planted
    // planted twins are ids (2i, 2i+1) for i < 60
    val truth = (0 until 60).map(i => Seq[Any](2L * i, 2L * i + 1)).toSet
    val found = rowSet(Similarity.lshNearDupPairs(corpus, minCos = 0.98)
      .select("id_a", "id_b"))
    val recall = (truth intersect found).size.toDouble / truth.size
    withClue(s"planted-twin recall=$recall: ") { recall should be >= 0.9 }
  }

  test("lsh_buckets expression agrees with the composable lshBucket per table") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(20).select(col("vec_id"), col("embedding"))
    val viaExpr = e.select(col("vec_id"),
      graft.functions.LshFunctions.lsh_buckets(col("embedding"), 6, 8, 64).as("bs"))
    val viaCols = e.select(col("vec_id"),
      array((0 until 8).map(t =>
        Similarity.lshBucket(col("embedding"), 6, planeOffset = t * 6)): _*).as("bs"))
    rowSet(viaExpr) shouldBe rowSet(viaCols)
  }

  test("lshTopK: k bounds per query, no self-matches, single-probe mode runs") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.lshTopK(e, e.filter(col("vec_id") < 5), k = 3,
      multiProbe = false)
    out.filter(col("neighbor_id") === col("query_id")).count() shouldBe 0L
    out.groupBy("query_id").count()
      .filter(col("count") > 3).count() shouldBe 0L
    // ranks are 1..n contiguous per query
    out.filter(col("rank") < 1 || col("rank") > 3).count() shouldBe 0L
  }

  test("lshBucket: deterministic and within [0, 2^nPlanes)") {
    val e = Seq((1L, Array(0.3f, -0.7f, 0.2f))).toDF("vec_id", "embedding")
    val b1 = singleValue(e.select(Similarity.lshBucket(col("embedding"), 12)))
    val b2 = singleValue(e.select(Similarity.lshBucket(col("embedding"), 12)))
    b1 shouldBe b2
    b1.asInstanceOf[Long] should be >= 0L
    b1.asInstanceOf[Long] should be < (1L << 12)
  }

  test("pqCodebooks: m × ks × dim/m shape, guards on sizing") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.pqCodebooks(e, m = 4, ks = 16, dim = 64)
    cb.length shouldBe 4
    cb.foreach { sub =>
      sub.length shouldBe 16
      sub.foreach(_.length shouldBe 16)
    }
    // codewords are slices of NORMALIZED corpus picks: each full pick
    // has unit norm, so the m sub-norms² of a pick sum to 1
    val sumSq = (0 until 16).map { j =>
      (0 until 4).map(s => cb(s)(j).map(x => x * x).sum).sum
    }
    all(sumSq.map(x => math.abs(x - 1.0))) should be < 1e-9
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqCodebooks(e, m = 5, ks = 16, dim = 64) // 64 % 5 != 0
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqCodebooks(e, m = 4, ks = 257, dim = 64) // code > 1 byte
  }

  test("pqEncode: codes in [0, ks), deterministic, zero vector survives") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.pqCodebooks(e, m = 4, ks = 16, dim = 64)
    val zero = Seq((9999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val withZero = e.select("vec_id", "embedding").union(zero)
    // codes over real vectors via the public encode (normalized input)
    val codes = e.select(col("vec_id"),
      Similarity.pqEncode(
        graft.functions.VectorFunctions.vec_normalize(col("embedding")), cb)
        .as("codes"))
    // a zero vector goes through pqTopK's guarded normalization (a
    // bare vec_normalize would emit NaNs and poison the argmin)
    val out = Similarity.pqTopK(withZero, withZero.filter(col("vec_id") === 9999L),
      k = 3, m = 4, ks = 16)
    out.count() shouldBe 3L // a zero query still ranks (approx ties break by id)
    val c1 = rowSet(codes.filter(col("vec_id") < 100))
    val c2 = rowSet(codes.filter(col("vec_id") < 100))
    c1 shouldBe c2
    codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= 16).count() shouldBe 0L
  }

  test("pqTopK recall on planted geometries; rerank recovers brute-force order") {
    val (corpus, queries) = planted
    val exact = meaningfulTop3(corpus, queries)
    val pq = rowSet(Similarity.pqTopK(corpus, queries, k = 3)
      .select("query_id", "neighbor_id"))
    val rr = rowSet(Similarity.pqTopK(corpus, queries, k = 3, rerank = 30)
      .select("query_id", "neighbor_id"))
    val (rPq, rRr) = (recallAt(exact, pq), recallAt(exact, rr))
    info(f"pqTopK planted recall: adc=$rPq%.3f rerank30=$rRr%.3f")
    withClue(s"recall adc=$rPq rerank=$rRr: ") {
      // 4×16 codebooks on 64-d is a coarse quantizer; ADC ranking
      // still recovers most meaningful neighbors, and exact rerank
      // over the top-30 candidates can only improve the ordering
      rPq should be >= 0.6
      rRr should be >= rPq
      rRr should be >= 0.85
    }
    // rerank output is exact-cosine ranked: its top-1 per query
    // matches brute force wherever the true top-1 survived the
    // candidate stage (all twin/ray queries — cos ≥ 0.99 neighbors)
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqTopK(corpus, queries, k = 5, rerank = 3) // depth < k
  }

  test("pqTopK: no self-matches, ranks contiguous, k bounds per query") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.pqTopK(e, e.filter(col("vec_id") < 5), k = 3)
    out.filter(col("neighbor_id") === col("query_id")).count() shouldBe 0L
    out.groupBy("query_id").count().filter(col("count") > 3).count() shouldBe 0L
    out.filter(col("rank") < 1 || col("rank") > 3).count() shouldBe 0L
  }

  test("ivfPqTopK: cell restriction of the ADC scan; rerank improves recall") {
    val (corpus, queries) = planted
    val exact = meaningfulTop3(corpus, queries)
    val ivfpq = rowSet(Similarity.ivfPqTopK(corpus, queries, k = 3,
        nCells = 16, nProbe = 4)
      .select("query_id", "neighbor_id"))
    val rr = rowSet(Similarity.ivfPqTopK(corpus, queries, k = 3,
        nCells = 16, nProbe = 4, rerank = 30)
      .select("query_id", "neighbor_id"))
    val (r1, r2) = (recallAt(exact, ivfpq), recallAt(exact, rr))
    info(f"ivfPqTopK planted recall: adc=$r1%.3f rerank30=$r2%.3f")
    withClue(s"recall adc=$r1 rerank=$r2: ") {
      // IVF restriction can only REMOVE candidates vs plain PQ, so
      // recall sits at/below pqTopK's — at nProbe=4 the planted
      // cluster geometry keeps meaningful neighbors probed
      r1 should be >= 0.55
      r2 should be >= r1
    }
    // the restriction is real: IVF-PQ candidates per query are a
    // subset of the plain-PQ scan (which scores the whole corpus)
    val full = Similarity.pqTopK(corpus, queries, k = 1000)
      .groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val restricted = Similarity.ivfPqTopK(corpus, queries, k = 1000,
        nCells = 16, nProbe = 4)
      .groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    restricted.foreach { case (q, n) =>
      n should be <= full(q)
    }
    restricted.values.sum should be < full.values.sum // strictly prunes
  }

  test("PQ, IVF-PQ and bitext faces rank past the aggregate cap: k or " +
      "rerank = MaxK + 1 returns the rows MaxK does") {
    import graft.functions.IvfFunctions.ivf_cells
    import graft.functions.TopKFunctions.MaxK
    import org.apache.spark.sql.DataFrame
    // every key has fewer than MaxK candidates, so the window fallback
    // keeps exactly the rows the aggregate keeps
    val (corpus, queries) = planted
    val cents = Similarity.ivfCentroids(corpus, nCells = 16)
    val cb = Similarity.pqCodebooks(corpus, m = 4, ks = 16, dim = 64)
    val assigned = Similarity.withNorm(
        corpus.select(col("vec_id").as("id"), col("embedding").as("vec")))
      .withColumn("cell", element_at(ivf_cells(col("vec"), cents, 1), 1))
    val codes = assigned.select(col("id"), col("cell"),
      Similarity.pqEncode(Similarity.normalizedGuarded(col("vec")), cb)
        .as("codes"))
    val src = corpus.filter(col("vec_id") % 2 === 0)
    val tgt = corpus.filter(col("vec_id") % 2 === 1)
    val faces = Seq[(String, Int => DataFrame)](
      "pqTopK" -> (Similarity.pqTopK(corpus, queries, _)),
      "pqTopK rerank" -> (r => Similarity.pqTopK(corpus, queries, 3, rerank = r)),
      "ivfPqTopK" -> (Similarity.ivfPqTopK(corpus, queries, _)),
      "ivfPqTopK rerank" ->
        (r => Similarity.ivfPqTopK(corpus, queries, 3, rerank = r)),
      "ivfPqTopKFromIndex" ->
        (Similarity.ivfPqTopKFromIndex(codes, cents, cb, queries, _)),
      "ivfPqRerankFromIndex" -> (r => Similarity.ivfPqRerankFromIndex(
        codes, assigned, cents, cb, queries, 3, rerank = r)),
      "mineBitext" -> (Similarity.mineBitext(src, tgt, _)),
      "mineBitextFromIndex" -> (k => Similarity.mineBitextFromIndex(
        assigned.filter(col("id") % 2 === 0),
        assigned.filter(col("id") % 2 === 1), cents, src, tgt, k)))
    faces.foreach { case (name, face) =>
      withClue(s"$name: ") {
        val atCap = rowSet(face(MaxK))
        atCap should not be empty
        rowSet(face(MaxK + 1)) shouldBe atCap
      }
    }
  }

  test("semDedupSurvivors: drop rule honors its definition — clumps keep " +
      "their centroid-farthest member, isolated docs always survive") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val all = e.count()
    // an unreachable threshold deduplicates nothing
    Similarity.semDedupSurvivors(e, tau = 1.1).count() shouldBe all
    val surv = Similarity.semDedupSurvivors(e)
      .select("id").collect().map(_.getLong(0)).toSet
    surv.size.toLong should be <= all
    // independent replay of the clump structure: within-cell pairs at
    // the same tau off the same deterministic quantizer — sized
    // exactly as the default path sizes it (ivfCellsFor over the
    // corpus count), which pins the auto-sizing contract
    val cents = Similarity.ivfCentroids(e, Similarity.ivfCellsFor(all))
    import graft.functions.IvfFunctions.ivf_cells
    val c = Similarity.withNorm(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")))
      .withColumn("cell", element_at(ivf_cells(col("vec"), cents, 1), 1))
    val pairs = c.as("a").join(c.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(Similarity.cosineFromNorms(col("a.vec"), col("b.vec"),
        col("a.norm"), col("b.norm")) >= 0.45)
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.nonEmpty shouldBe true // fixture must exercise the rule
    val inClump = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    // isolated docs (no qualifying neighbor) all survive
    val isolated = c.select("id").collect().map(_.getLong(0)).toSet -- inClump
    (isolated -- surv) shouldBe empty
    // every connected clump keeps at least one member (the strict
    // centroid-cosine order has a minimum)
    (inClump intersect surv).nonEmpty shouldBe true
    // and dedup actually fired: some clump member was dropped
    (inClump -- surv).nonEmpty shouldBe true
  }

  test("semDedupFromIndex: served survivors ≡ in-plan survivors over " +
      "the same corpus, and the serve never re-encodes") {
    import graft.io.IndexStore
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    try {
      IndexStore.writeAnnIndexes(e, dir)
      val served = Similarity.semDedupFromIndex(
        IndexStore.readIvfAssigned(spark, dir),
        IndexStore.readAnnCentroids(spark, dir))
      val inPlan = Similarity.semDedupSurvivors(e, nCells = 16)
      rowSet(served) shouldBe rowSet(inPlan)
      // the point of the persisted face: no IvfCells encode pass in
      // the plan — cells come from the store, the centroid-cosine
      // from a broadcast join against the stored quantizer
      val plan = served.queryExecution.executedPlan.toString
      plan.toLowerCase should not include "ivf_cells"
      // mixed artifacts fail LOUD, never silently drop rows: a
      // quantizer from a different (smaller) build leaves stored
      // cells uncovered, and a dedup stage must not lose documents
      an[Exception] should be thrownBy Similarity.semDedupFromIndex(
        IndexStore.readIvfAssigned(spark, dir),
        IndexStore.readAnnCentroids(spark, dir).take(8)).count()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("semDedupFromIndex: a null embedding survives on both faces with " +
      "a null cell and centroid-cosine") {
    import graft.io.IndexStore
    val base = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val nullId = 1_000_000L
    val e = base.unionByName(spark.range(1).select(lit(nullId).as("vec_id"),
      lit(null).cast(base.schema("embedding").dataType).as("embedding")))
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    try {
      IndexStore.writeAnnIndexes(e, dir)
      val served = Similarity.semDedupFromIndex(
        IndexStore.readIvfAssigned(spark, dir),
        IndexStore.readAnnCentroids(spark, dir))
      val inPlan = Similarity.semDedupSurvivors(e, nCells = 16)
      val inPlanRows = rowSet(inPlan)
      rowSet(served) shouldBe inPlanRows
      inPlanRows should contain (Seq(nullId, null, null))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("semDedupSurvivors: the in-plan face scores the centroid-cosine " +
      "with the served face's one dot per row, not one per cell") {
    import graft.io.IndexStore
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    // the in-plan face also computes each row's norm, which prints as
    // sqrt(vectordot(v, v)) and which the store holds; beyond it, both
    // faces pay the same dots: one centroid-cosine and one pair cosine
    def dots(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.optimizedPlan.toString.toLowerCase
      def n(s: String) = s.r.findAllMatchIn(plan).size
      n("vectordot") - n("""sqrt\(vectordot""")
    }
    try {
      IndexStore.writeAnnIndexes(e, dir)
      val served = Similarity.semDedupFromIndex(
        IndexStore.readIvfAssigned(spark, dir),
        IndexStore.readAnnCentroids(spark, dir))
      val inPlan = Similarity.semDedupSurvivors(e, nCells = 16)
      dots(served) should be > 0
      dots(inPlan) shouldBe dots(served)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("prototypePrune: per-cell integer cut drops the most-prototypical " +
      "first, singles and null-cosine rows always survive") {
    val asgn = Seq(
      // cell 0: four ranked members — 250‰ cuts exactly the top one
      (1L, 0, Some(0.95)), (2L, 0, Some(0.80)),
      (3L, 0, Some(0.60)), (4L, 0, Some(0.20)),
      // cell 1: a single member — cut is 0, it survives
      (5L, 1, Some(0.99)),
      // zero-norm vector: null cosine, never ranked, always kept
      (6L, 0, Option.empty[Double])
    ).toDF("id", "cell", "centroid_cos")
    val kept = Similarity.prototypePrune(asgn)
      .select("id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(2L, 3L, 4L, 5L, 6L)
    // dropPermille = 0 is the identity
    Similarity.prototypePrune(asgn, dropPermille = 0).count() shouldBe 6
    // ties rank deterministically by id: equal cosines drop the LOWER
    // rank first = the lower id
    val tied = Seq((10L, 0, 0.5), (11L, 0, 0.5), (12L, 0, 0.5),
      (13L, 0, 0.5)).toDF("id", "cell", "centroid_cos")
    Similarity.prototypePrune(tied)
      .select("id").collect().map(_.getLong(0)).toSet shouldBe
      Set(11L, 12L, 13L)
  }

  test("d4Survivors: a strict subset of semDedupSurvivors with the " +
      "per-cell permille cut applied to the survivor occupancy") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val sd = Similarity.semDedupSurvivors(e, nCells = 16)
    val d4 = Similarity.d4Survivors(e, nCells = 16)
    val sdIds = sd.select("id").collect().map(_.getLong(0)).toSet
    val d4Ids = d4.select("id").collect().map(_.getLong(0)).toSet
    d4Ids.subsetOf(sdIds) shouldBe true
    d4Ids.size should be < sdIds.size // the fixture has cells ≥ 4 deep
    // exact head-count contract per cell: kept = n - n*250 div 1000
    // over the ranked (non-null) members
    val byCell = sd.filter(col("centroid_cos").isNotNull)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val keptByCell = d4.filter(col("centroid_cos").isNotNull)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    byCell.foreach { case (cell, n) =>
      keptByCell.getOrElse(cell, 0L) shouldBe n - n * 250 / 1000
    }
  }

  test("recallAtK: denominator is the exact side's own row count — " +
      "short exact lists can still reach recall 1.0") {
    val exact = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
        (2L, 1, 20L))
      .toDF("query_id", "rank", "neighbor_id")
    val approx = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
        (2L, 1, 99L))
      .toDF("query_id", "rank", "neighbor_id")
    val out = Similarity.recallAtK(exact, approx)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // query 1: 3-of-3 exact rows matched → 1.0 (a k=5 divisor would
    // cap this at 0.6 forever); query 2: 0-of-1 → 0.0
    out shouldBe Array((1L, 3L, 1.0), (2L, 0L, 0.0))
  }

  test("ivfCellsFor: sqrt growth between the floor and the broadcast cap") {
    Similarity.ivfCellsFor(0L) shouldBe 16 // floor holds on degenerate n
    Similarity.ivfCellsFor(100L) shouldBe 16 // floor until sqrt(n) > floor
    Similarity.ivfCellsFor(1000000L) shouldBe 1000
    Similarity.ivfCellsFor(1L << 40) shouldBe Similarity.MaxIvfCells // capped
    // monotone: more corpus never means fewer cells
    val pts = Seq(1L, 1000L, 100000L, 10000000L, 1L << 40)
      .map(Similarity.ivfCellsFor(_))
    pts shouldBe pts.sorted
  }
}
