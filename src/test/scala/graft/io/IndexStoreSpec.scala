package graft.io

import graft.SparkSpec
import org.apache.spark.JobLog
import org.apache.spark.sql.functions._

class IndexStoreSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = graft.Tables(spark, sfDir, "documents")
  private def bucket = graft.ext.TrainingData.splitBucket(col("doc_id"), 1000)
  private def seen = docs.filter(bucket < 500)
  private def slice = docs.filter(bucket >= 500 && bucket < 600)
    .select("doc_id", "text")

  test("write→read round trip: every table matches its in-plan build") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore").toString
    IndexStore.writeAdmissionIndexes(seen, dir)

    // digests
    val wantDigests = seen.select(md5(col("text")).as("digest")).distinct()
    IndexStore.readDigests(spark, dir).collect().map(_.getString(0)).sorted shouldBe
      wantDigests.collect().map(_.getString(0)).sorted

    // span hashes
    val wantSpans = graft.ext.Dedup.spanHashIndex(seen, "doc_id", "text", 8)
      .select("h").distinct()
    IndexStore.readSpanHashes(spark, dir).collect().map(_.getLong(0)).sorted shouldBe
      wantSpans.collect().map(_.getLong(0)).sorted

    // band index: same rows as banding the corpus in-plan
    val sets = seen.select(col("doc_id").as("id"),
      graft.functions.TextHashFunctions.shingle_hashes(
        col("text"), graft.ext.HashDefs.ShingleN).as("hs"))
    val wantBands = graft.ext.Dedup.lshBands(graft.ext.Dedup.minhashSignature(sets))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    IndexStore.readBandIndex(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sorted shouldBe wantBands

    // NB weights: the persisted map equals the trained map
    IndexStore.readNbWeightsMicro(spark, dir) shouldBe
      graft.ext.QualityModel.nbWeightsMicro(seen, "doc_id", "text")

    // manifest exists and records the build parameters
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "admission"""")
    manifest should include(""""shingle_n": 3""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("admitFromIndexes equals the in-plan ladder + quality gate") {
    val dir = java.nio.file.Files.createTempDirectory("idxadmit").toString
    IndexStore.writeAdmissionIndexes(seen, dir)
    val got = IndexStore.admitFromIndexes(slice, spark, dir)
      .collect().map(_.getLong(0)).sorted

    // in-plan replay of the same four rungs
    val seenDigests = seen.select(md5(col("text")).as("digest")).distinct()
    val exactNovel = slice.withColumn("digest", md5(col("text")))
      .join(seenDigests, Seq("digest"), "left_anti").drop("digest")
    val corpusSpans = graft.ext.Dedup.spanHashIndex(seen, "doc_id", "text", 8)
      .select("h").distinct()
    val substrHits = graft.ext.Dedup.spanHashIndex(slice, "doc_id", "text", 8)
      .join(corpusSpans, Seq("h"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    val fuzzyHits = graft.ext.Dedup.minhashCrossPairs(seen, slice, "doc_id", "text")
      .select(col("new_id").as("doc_id")).distinct()
    val weights = graft.ext.QualityModel.nbWeightsMicro(seen, "doc_id", "text")
    val want = graft.ext.QualityModel.admitByModel(
        exactNovel
          .join(substrHits, Seq("doc_id"), "left_anti")
          .join(fuzzyHits, Seq("doc_id"), "left_anti"),
        weights)
      .select("doc_id").collect().map(_.getLong(0)).sorted

    got shouldBe want
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ANN write→read round trip: served results equal in-plan builds") {
    val dir = java.nio.file.Files.createTempDirectory("idxann").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    IndexStore.writeAnnIndexes(e, dir)

    // quantizer + codebooks survive the parquet round trip bit-for-bit
    IndexStore.readAnnCentroids(spark, dir).map(_.toSeq).toSeq shouldBe
      graft.ext.Similarity.ivfCentroids(e, 16).map(_.toSeq).toSeq
    IndexStore.readAnnCodebooks(spark, dir).map(_.map(_.toSeq).toSeq).toSeq shouldBe
      graft.ext.Similarity.pqCodebooks(e, 4, 16, 64).map(_.map(_.toSeq).toSeq).toSeq

    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    rows(graft.ext.Similarity.ivfTopKFromIndex(
      IndexStore.readIvfAssigned(spark, dir),
      IndexStore.readAnnCentroids(spark, dir), q, k = 5)) shouldBe
      rows(graft.ext.Similarity.ivfTopK(e, q, k = 5))
    rows(graft.ext.Similarity.ivfPqTopKFromIndex(
      IndexStore.readAnnCodes(spark, dir),
      IndexStore.readAnnCentroids(spark, dir),
      IndexStore.readAnnCodebooks(spark, dir), q, k = 5)) shouldBe
      rows(graft.ext.Similarity.ivfPqTopK(e, q, k = 5))
    // three-stage serve (ADC retrieve + exact rerank, both stages
    // from disk) equals the in-plan rerank composition
    rows(graft.ext.Similarity.ivfPqRerankFromIndex(
      IndexStore.readAnnCodes(spark, dir),
      IndexStore.readIvfAssigned(spark, dir),
      IndexStore.readAnnCentroids(spark, dir),
      IndexStore.readAnnCodebooks(spark, dir), q, k = 5, rerank = 20)) shouldBe
      rows(graft.ext.Similarity.ivfPqTopK(e, q, k = 5, rerank = 20))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("appendAdmissionIndexes: append-then-serve equals rebuild over the union") {
    val dirA = java.nio.file.Files.createTempDirectory("idxappend").toString
    val dirB = java.nio.file.Files.createTempDirectory("idxrebuild").toString
    val slice1 = docs.filter(bucket >= 500 && bucket < 550).select("doc_id", "text")
    val slice2 = docs.filter(bucket >= 550 && bucket < 600).select("doc_id", "text")

    IndexStore.writeAdmissionIndexes(seen, dirA)
    IndexStore.appendAdmissionIndexes(slice1, dirA)
    IndexStore.writeAdmissionIndexes(seen.select("doc_id", "text")
      .unionByName(slice1), dirB)

    // set equality per table (digests/spans may duplicate ROWS across
    // append batches — set semantics for their semi/anti consumers)
    IndexStore.readDigests(spark, dirA).distinct().collect()
      .map(_.getString(0)).sorted shouldBe
      IndexStore.readDigests(spark, dirB).distinct().collect()
        .map(_.getString(0)).sorted
    IndexStore.readSpanHashes(spark, dirA).distinct().collect()
      .map(_.getLong(0)).sorted shouldBe
      IndexStore.readSpanHashes(spark, dirB).distinct().collect()
        .map(_.getLong(0)).sorted
    IndexStore.readBandIndex(spark, dirA).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted shouldBe
      IndexStore.readBandIndex(spark, dirB).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted

    // the three dedup rungs gate slice2 identically under both stores
    // (the model rung is deliberately NOT appendable — llr depends on
    // global totals; retrain on corpus refresh)
    def dedupAdmit(dir: String): Array[Long] = {
      val exactNovel = slice2.withColumn("digest", md5(col("text")))
        .join(IndexStore.readDigests(spark, dir), Seq("digest"), "left_anti")
        .drop("digest")
      val substrHits = graft.ext.Dedup.spanHashIndex(slice2, "doc_id", "text", 8)
        .join(IndexStore.readSpanHashes(spark, dir), Seq("h"), "left_semi")
        .select(col("id").as("doc_id")).distinct()
      val fuzzyHits = graft.ext.Dedup.minhashCrossPairsFromIndex(
          IndexStore.readBandIndex(spark, dir),
          IndexStore.readShingleSets(spark, dir),
          slice2, "doc_id", "text")
        .select(col("new_id").as("doc_id")).distinct()
      exactNovel.join(substrHits, Seq("doc_id"), "left_anti")
        .join(fuzzyHits, Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).sorted
    }
    val admitted = dedupAdmit(dirA)
    admitted shouldBe dedupAdmit(dirB)
    admitted.length should be > 0

    for (d <- Seq(dirA, dirB))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("appendAnnIndexes: append-then-serve equals rebuild-over-union " +
      "under the frozen quantizer") {
    val dirA = java.nio.file.Files.createTempDirectory("annappend").toString
    val dirB = java.nio.file.Files.createTempDirectory("annrebuild").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    val vbucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
    val base = e.filter(vbucket < 800)
    val incr = e.filter(vbucket >= 800)
    incr.count() should be > 0L // the append must actually carry rows

    // the production split: quantizer trained on the full corpus (the
    // offline sample), index built from base, increment appended
    val cents = graft.ext.Similarity.ivfCentroids(e, 16)
    val cb = graft.ext.Similarity.pqCodebooks(e, 4, 16, 64)
    IndexStore.writeAnnIndexes(base, dirA,
      centroids = Some(cents), codebooks = Some(cb))
    IndexStore.appendAnnIndexes(incr, dirA)
    IndexStore.writeAnnIndexes(e, dirB,
      centroids = Some(cents), codebooks = Some(cb))

    // appended rows landed INSIDE the cell partition layout (no flat
    // files next to it) — the DPP-prunable layout survives the append
    val cellDirs = new java.io.File(s"$dirA/${IndexStore.IvfAssignedTable}")
      .listFiles().filter(_.isDirectory).map(_.getName)
    all(cellDirs) should startWith("cell=")

    IndexStore.readIvfAssigned(spark, dirA).count() shouldBe e.count()

    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    rows(graft.ext.Similarity.ivfTopKFromIndex(
      IndexStore.readIvfAssigned(spark, dirA), cents, q, k = 5)) shouldBe
      rows(graft.ext.Similarity.ivfTopKFromIndex(
        IndexStore.readIvfAssigned(spark, dirB), cents, q, k = 5))
    rows(graft.ext.Similarity.ivfPqTopKFromIndex(
      IndexStore.readAnnCodes(spark, dirA), cents, cb, q, k = 5)) shouldBe
      rows(graft.ext.Similarity.ivfPqTopKFromIndex(
        IndexStore.readAnnCodes(spark, dirB), cents, cb, q, k = 5))

    // and because the frozen quantizer IS the full-corpus one here,
    // the appended store serves exactly like the in-plan full build
    rows(graft.ext.Similarity.ivfTopKFromIndex(
      IndexStore.readIvfAssigned(spark, dirA), cents, q, k = 5)) shouldBe
      rows(graft.ext.Similarity.ivfTopK(e, q, k = 5))

    for (d <- Seq(dirA, dirB))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("deleteFromAnnIndexes: surgical per-cell takedown — serve equals " +
      "rebuild-over-survivors, untouched cells' files never rewritten") {
    val dirA = java.nio.file.Files.createTempDirectory("anndelA").toString
    val dirB = java.nio.file.Files.createTempDirectory("anndelB").toString
    import spark.implicits._
    val e = graft.Tables(spark, sfDir, "embeddings")
    val cents = graft.ext.Similarity.ivfCentroids(e, 16)
    val cb = graft.ext.Similarity.pqCodebooks(e, 4, 16, 64)
    IndexStore.writeAnnIndexes(e, dirA,
      centroids = Some(cents), codebooks = Some(cb))

    // a small takedown set → few affected cells, most untouched
    val delIds = Seq(3L, 17L)
    val del = delIds.toDF("id")
    val affected = IndexStore.readIvfAssigned(spark, dirA)
      .filter(col("id").isin(delIds: _*))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    affected.size should be < 16
    val untouchedCell = (0 until 16).find(!affected.contains(_)).get
    def cellFiles(c: Int) = new java.io.File(
        s"$dirA/${IndexStore.IvfAssignedTable}/cell=$c")
      .listFiles().filter(_.getName.startsWith("part-"))
      .map(f => (f.getName, f.lastModified())).sorted.toSeq
    val before = cellFiles(untouchedCell)

    IndexStore.deleteFromAnnIndexes(del, dirA)

    // untouched cell directory byte-for-byte left alone
    cellFiles(untouchedCell) shouldBe before
    // deleted ids gone from both tables
    IndexStore.readIvfAssigned(spark, dirA)
      .filter(col("id").isin(delIds: _*)).count() shouldBe 0
    IndexStore.readAnnCodes(spark, dirA)
      .filter(col("id").isin(delIds: _*)).count() shouldBe 0

    // serving equals a from-scratch build over the survivors under
    // the same frozen quantizer (FAISS remove_ids semantics)
    IndexStore.writeAnnIndexes(e.filter(!col("vec_id").isin(delIds: _*)),
      dirB, centroids = Some(cents), codebooks = Some(cb))
    val q = e.filter(col("vec_id").isin(1L, 2L, 4L, 5L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    rows(graft.ext.Similarity.ivfTopKFromIndex(
      IndexStore.readIvfAssigned(spark, dirA), cents, q, k = 5)) shouldBe
      rows(graft.ext.Similarity.ivfTopKFromIndex(
        IndexStore.readIvfAssigned(spark, dirB), cents, q, k = 5))

    // emptying a WHOLE cell drops its directory
    val cellToEmpty = affected.head
    val emptyIds = IndexStore.readIvfAssigned(spark, dirA)
      .filter(col("cell") === cellToEmpty).select("id")
    IndexStore.deleteFromAnnIndexes(emptyIds, dirA)
    new java.io.File(s"$dirA/${IndexStore.IvfAssignedTable}/cell=$cellToEmpty")
      .exists() shouldBe false

    for (d <- Seq(dirA, dirB))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("deleteFromAdmissionIndexes: removed docs stop being fuzzy " +
      "candidates; the digest blocklist is deliberately retained") {
    val dir = java.nio.file.Files.createTempDirectory("admdel").toString
    import spark.implicits._
    IndexStore.writeAdmissionIndexes(seen, dir)
    val candidatesBefore = graft.ext.Dedup.minhashCrossPairsFromIndex(
        IndexStore.readBandIndex(spark, dir),
        IndexStore.readShingleSets(spark, dir),
        slice, "doc_id", "text")
      .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
    candidatesBefore should not be empty

    val victim = candidatesBefore.head
    val digestsBefore = IndexStore.readDigests(spark, dir).count()
    IndexStore.deleteFromAdmissionIndexes(Seq(victim).toDF("id"), dir)

    val candidatesAfter = graft.ext.Dedup.minhashCrossPairsFromIndex(
        IndexStore.readBandIndex(spark, dir),
        IndexStore.readShingleSets(spark, dir),
        slice, "doc_id", "text")
      .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
    candidatesAfter should not contain victim
    candidatesAfter shouldBe (candidatesBefore - victim)
    // the hash blocklist stays: identical re-submissions remain blocked
    IndexStore.readDigests(spark, dir).count() shouldBe digestsBefore
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compactAnnIndexes: merges append-accumulated files per cell, " +
      "serve results unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("anncompact").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    val vbucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
    val cents = graft.ext.Similarity.ivfCentroids(e, 16)
    val cb = graft.ext.Similarity.pqCodebooks(e, 4, 16, 64)
    IndexStore.writeAnnIndexes(e.filter(vbucket < 600), dir,
      centroids = Some(cents), codebooks = Some(cb))
    IndexStore.appendAnnIndexes(e.filter(vbucket >= 600 && vbucket < 800), dir)
    IndexStore.appendAnnIndexes(e.filter(vbucket >= 800), dir)

    def partFiles(table: String): Int =
      new java.io.File(s"$dir/$table").listFiles()
        .filter(_.isDirectory)
        .map(_.listFiles().count(_.getName.startsWith("part-"))).sum
    def cellDirs(table: String): Set[String] =
      new java.io.File(s"$dir/$table").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    val q = e.filter(col("vec_id") < 5)
    def served() = graft.ext.Similarity.ivfTopKFromIndex(
        IndexStore.readIvfAssigned(spark, dir), cents, q, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

    val filesBefore = partFiles(IndexStore.IvfAssignedTable)
    val cellsBefore = cellDirs(IndexStore.IvfAssignedTable)
    val servedBefore = served()
    val rowsBefore = IndexStore.readIvfAssigned(spark, dir).count()

    IndexStore.compactAnnIndexes(spark, dir)

    // one file per cell dir afterwards; rows/cells/serve unchanged
    partFiles(IndexStore.IvfAssignedTable) should be < filesBefore
    partFiles(IndexStore.IvfAssignedTable) shouldBe
      cellDirs(IndexStore.IvfAssignedTable).size
    cellDirs(IndexStore.IvfAssignedTable) shouldBe cellsBefore
    IndexStore.readIvfAssigned(spark, dir).count() shouldBe rowsBefore
    served() shouldBe servedBefore
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compactAdmissionIndexes: serve-equal, strictly fewer rows " +
      "after duplicate appends") {
    val dir = java.nio.file.Files.createTempDirectory("idxcompact").toString
    val slice1 = docs.filter(bucket >= 500 && bucket < 550).select("doc_id", "text")
    val slice2 = docs.filter(bucket >= 550 && bucket < 600).select("doc_id", "text")
    IndexStore.writeAdmissionIndexes(seen, dir)
    // the SAME batch appended twice — the worst-case duplicate-row
    // accumulation the compaction face exists to reclaim
    IndexStore.appendAdmissionIndexes(slice1, dir)
    IndexStore.appendAdmissionIndexes(slice1, dir)

    def counts() = Seq(IndexStore.DigestsTable, IndexStore.SpanHashesTable,
      IndexStore.ShingleSetsTable, IndexStore.BandIndexTable)
      .map(t => spark.read.parquet(s"$dir/$t").count())
    def admit() = {
      val exactNovel = slice2.withColumn("digest", md5(col("text")))
        .join(IndexStore.readDigests(spark, dir), Seq("digest"), "left_anti")
        .drop("digest")
      val substrHits = graft.ext.Dedup.spanHashIndex(slice2, "doc_id", "text", 8)
        .join(IndexStore.readSpanHashes(spark, dir), Seq("h"), "left_semi")
        .select(col("id").as("doc_id")).distinct()
      val fuzzyHits = graft.ext.Dedup.minhashCrossPairsFromIndex(
          IndexStore.readBandIndex(spark, dir),
          IndexStore.readShingleSets(spark, dir),
          slice2, "doc_id", "text")
        .select(col("new_id").as("doc_id")).distinct()
      exactNovel.join(substrHits, Seq("doc_id"), "left_anti")
        .join(fuzzyHits, Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).sorted
    }

    val before = counts()
    val admittedBefore = admit()
    IndexStore.compactAdmissionIndexes(spark, dir)
    val after = counts()
    // every table strictly shrank (the double append guarantees
    // duplicates in all four) and the gate decision is unchanged
    before.zip(after).foreach { case (b, a) => a should be < b }
    admit() shouldBe admittedBefore
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("image index: write→read round trip preserves the fingerprints") {
    val dir = java.nio.file.Files.createTempDirectory("imgstore").toString
    import spark.implicits._
    val media = Seq(
        (1L, graft.ext.Multimodal.synthPngBytes(5L)),
        (2L, graft.ext.Multimodal.synthPngBytes(9L, variant = 3)),
        (3L, "opaque".getBytes("UTF-8"))) // unparseable → not stored
      .toDF("media_id", "content")
    IndexStore.writeImageIndex(media, dir)
    val want = graft.ext.Multimodal.dHash64(media)
      .filter(col("dhash").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    IndexStore.readImageHashes(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe want
    want.length shouldBe 2
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "image"""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("paragraph index: distinct non-blank paragraph hashes, round trip") {
    val dir = java.nio.file.Files.createTempDirectory("parastore").toString
    import spark.implicits._
    val corpus = Seq(
        (1L, "alpha\n\nshared"),
        (2L, "shared\n\nbeta"),   // 'shared' stores ONCE
        (3L, "  \n\nalpha"))      // blank paragraph never stored
      .toDF("doc_id", "text")
    IndexStore.writeParagraphIndex(corpus, dir)
    val hashes = IndexStore.readParagraphHashes(spark, dir)
      .collect().map(_.getLong(0)).sorted
    hashes.length shouldBe 3 // alpha, shared, beta — pre-distinct'd
    hashes.distinct.length shouldBe 3
    val want = Seq("alpha", "shared", "beta")
      .map(graft.functions.TextHashing.hash60).sorted
    hashes.toSeq shouldBe want
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "paragraph"""")

    // append + compact ≡ rebuild over the union: the cross-batch
    // state path behind the streaming paragraph gate
    val batch = Seq((4L, "gamma\n\nshared")).toDF("doc_id", "text")
    IndexStore.appendParagraphIndex(batch, dir)
    // duplicates never change an anti-join verdict, only its bytes
    IndexStore.readParagraphHashes(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (want :+ graft.functions.TextHashing.hash60("shared") :+
        graft.functions.TextHashing.hash60("gamma")).sorted
    // the planner sees the re-appended duplicate ('shared' twice in 5
    // rows = ratio 0.2) and its verdict gates the remedy: due above
    // the bar before the compaction, cleared after it
    def dupDue(): Boolean = IndexStore.maintenanceDue(spark, dir,
        dupRatioBar = 0.1)
      .filter(col("action") === "compact" && col("due")).count() == 1
    dupDue() shouldBe true
    IndexStore.compactParagraphIndex(spark, dir)
    dupDue() shouldBe false
    val unionDir = java.nio.file.Files.createTempDirectory("parastore2").toString
    IndexStore.writeParagraphIndex(corpus.unionByName(batch), unionDir)
    IndexStore.readParagraphHashes(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe
      IndexStore.readParagraphHashes(spark, unionDir)
        .collect().map(_.getLong(0)).sorted.toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(unionDir))
  }

  test("fuzzy paragraph store: one row per distinct text in every table; " +
      "append adds NOVEL texts only (re-append is a no-op)") {
    val dir = java.nio.file.Files.createTempDirectory("parafuzzy").toString
    import spark.implicits._
    val corpus = Seq(
        (1L, "alpha beta gamma delta\n\nshared footer text here"),
        (2L, "shared footer text here\n\nomega psi chi phi"))
      .toDF("doc_id", "text")
    IndexStore.writeParagraphFuzzyIndex(corpus, dir)
    def counts(): (Long, Long, Long) = (
      IndexStore.readParagraphHashes(spark, dir).count(),
      IndexStore.readParagraphShingles(spark, dir).count(),
      IndexStore.readParagraphBands(spark, dir)
        .select("h").distinct().count())
    // 3 distinct paragraphs; 'shared footer text here' stores ONCE
    counts() shouldBe ((3L, 3L, 3L))
    // every shingle-set key is unique (the verify join's contract)
    IndexStore.readParagraphShingles(spark, dir)
      .select("h").distinct().count() shouldBe 3L
    // append: one novel paragraph, one seen
    val novelPara =
      "brand new boilerplate arrives with plenty of shared words today"
    val batch = Seq((9L, s"$novelPara\n\nshared footer text here"))
      .toDF("doc_id", "text")
    IndexStore.appendParagraphFuzzyIndex(batch, dir)
    counts() shouldBe ((4L, 4L, 4L))
    // re-appending the same batch adds nothing — novel-only by
    // construction, no compaction debt
    IndexStore.appendParagraphFuzzyIndex(batch, dir)
    counts() shouldBe ((4L, 4L, 4L))
    // manifest declares the store kind + hash family params
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "paragraph_fuzzy"""")
    // takedown: deleting the shared footer's hash removes it from all
    // three tables — the content becomes ADMISSIBLE again (a fuzzy
    // store delete removes the exact rung too, unlike the admission
    // store's never-re-admit policy)
    val sharedH = graft.functions.TextHashing.hash60("shared footer text here")
    IndexStore.deleteFromParagraphFuzzyIndex(
      Seq(sharedH).toDF("h"), dir)
    counts() shouldBe ((3L, 3L, 3L))
    IndexStore.readParagraphHashes(spark, dir)
      .filter(col("h") === sharedH).count() shouldBe 0L
    IndexStore.readParagraphBands(spark, dir)
      .filter(col("h") === sharedH).count() shouldBe 0L
    // CRASH-WINDOW self-heal (the hash-table-LAST append order):
    // simulate a crash that landed the shingle/band appends but not
    // the hash append — the paragraph must read as still-novel, and
    // the re-append must restore the hash rung; the only debt is
    // duplicate shingle/band rows, which the fuzzy probe dedups
    val novelH = graft.functions.TextHashing.hash60(novelPara)
    val pruned = IndexStore.readParagraphHashes(spark, dir)
      .filter(col("h") =!= novelH).localCheckpoint()
    pruned.write.mode("overwrite")
      .parquet(s"$dir/${IndexStore.ParagraphHashTable}")
    IndexStore.appendParagraphFuzzyIndex(batch, dir)
    IndexStore.readParagraphHashes(spark, dir)
      .filter(col("h") === novelH).count() shouldBe 1L
    IndexStore.readParagraphShingles(spark, dir)
      .filter(col("h") === novelH).count() shouldBe 2L // the priced debt
    // the duplicate rows never change WHAT the serving gate strips: an
    // edited variant of the duplicated paragraph still drops exactly,
    // and clean text still passes
    val probe = Seq(
        (21L, s"intro body sentence\n\n$novelPara extended"),
        (22L, "totally unrelated paragraph content"))
      .toDF("doc_id", "text")
    def stripProbe() = graft.ext.Dedup.stripFuzzySeenParagraphs(probe,
        IndexStore.readParagraphHashes(spark, dir),
        IndexStore.readParagraphBands(spark, dir),
        IndexStore.readParagraphShingles(spark, dir),
        "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    stripProbe() shouldBe Array(
      (21L, "intro body sentence"),
      (22L, "totally unrelated paragraph content"))
    // compaction removes the crash debt (duplicate shingle/band rows)
    // and changes nothing the gate serves
    IndexStore.compactParagraphFuzzyIndex(spark, dir)
    IndexStore.readParagraphShingles(spark, dir)
      .filter(col("h") === novelH).count() shouldBe 1L
    stripProbe() shouldBe Array(
      (21L, "intro body sentence"),
      (22L, "totally unrelated paragraph content"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("bpe merges: write→read round trip preserves rules and order") {
    val dir = java.nio.file.Files.createTempDirectory("bpestore").toString
    val rules = graft.ext.TextAnalysis.bpeTrainLocal(seen, "text", merges = 12)
    IndexStore.writeBpeMerges(rules, dir)
    IndexStore.readBpeMerges(spark, dir) shouldBe
      rules.orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "bpe"""")
    manifest should include(""""merges": 12""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ensure* memo rebuilds when corpus content changes under the same path") {
    IndexStore.resetBuilt()
    // stage a mutable copy of the corpus dir
    val stage = java.nio.file.Files.createTempDirectory("fpcorpus")
    val src = java.nio.file.Paths.get(sfDir, "documents.parquet")
    java.nio.file.Files.copy(src, stage.resolve("documents.parquet"))
    val corpus = spark.read.parquet(stage.resolve("documents.parquet").toString)

    val d1 = IndexStore.ensureAdmissionIndexes(corpus, stage.toString)
    val t1 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(d1, "manifest.json"))
    // same content → memoized, no rebuild
    IndexStore.ensureAdmissionIndexes(corpus, stage.toString) shouldBe d1
    java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(d1, "manifest.json")) shouldBe t1

    // the serve-side check passes while the corpus is unchanged
    IndexStore.requireFresh(spark, d1, stage.toString)

    // mutate the corpus dir content (new file ⇒ new fingerprint) —
    // the memo must REBUILD instead of serving the stale index, and
    // the serve-side check must fail loud until it does
    java.nio.file.Files.write(stage.resolve("late_arrival.txt"),
      "new data".getBytes("UTF-8"))
    an[IllegalArgumentException] should be thrownBy
      IndexStore.requireFresh(spark, d1, stage.toString)
    val d2 = IndexStore.ensureAdmissionIndexes(corpus, stage.toString)
    d2 shouldBe d1 // same destination dir...
    java.nio.file.Files.getLastModifiedTime( // ...freshly rebuilt
      java.nio.file.Paths.get(d1, "manifest.json")) should not be t1
    IndexStore.requireFresh(spark, d1, stage.toString) // green again

    org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
  }

  test("annCellDrift: in-distribution slice reads stable, a one-cell " +
      "flood reads shifted") {
    val dir = java.nio.file.Files.createTempDirectory("anndrift").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    IndexStore.writeAnnIndexes(e, dir)

    // a hash-slice of the corpus itself: same distribution → PSI low
    val vbucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
    val stable = IndexStore.annCellDrift(spark, dir,
        e.filter(vbucket >= 500 && vbucket < 600))
      .agg(sum(org.apache.spark.sql.functions.abs(col("psi_term"))))
      .head().getDouble(0)

    // planted drift: one corpus vector repeated — every fresh row
    // lands in ONE cell, the runaway-source shape → PSI high
    val one = e.filter(col("vec_id") === 0)
    val flood = (1 to 6).map(_ => one).reduce(_ union _)
    val shifted = IndexStore.annCellDrift(spark, dir, flood)
      .agg(sum(org.apache.spark.sql.functions.abs(col("psi_term"))))
      .head().getDouble(0)

    // 50-vector slices carry sampling noise, so the stable bound is
    // loose; the separation from a genuine flood is the real signal
    stable should be < 1.0
    shifted should be > 2.0
    shifted should be > stable * 3
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ensure* memo: an A→B→A parameter sequence rebuilds — the dir " +
      "never serves a build from different parameters") {
    IndexStore.resetBuilt()
    val stage = java.nio.file.Files.createTempDirectory("abacorpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "documents.parquet"),
      stage.resolve("documents.parquet"))
    val corpus = spark.read.parquet(stage.resolve("documents.parquet").toString)
    def mergesServed(n: Int): Int = {
      val d = IndexStore.ensureBpeMerges(corpus, stage.toString, merges = n)
      IndexStore.readBpeMerges(spark, d).size
    }
    mergesServed(12) shouldBe 12
    mergesServed(8) shouldBe 8   // param change rebuilds into the same dir
    mergesServed(12) shouldBe 12 // returning to A must NOT serve B's build
    org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
  }

  test("recordFingerprint: an append-maintained store passes requireFresh " +
      "without the rebuild the append exists to avoid") {
    IndexStore.resetBuilt()
    val stage = java.nio.file.Files.createTempDirectory("appfresh")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "documents.parquet"),
      stage.resolve("documents.parquet"))
    val corpus = spark.read.parquet(stage.resolve("documents.parquet").toString)
    val d1 = IndexStore.ensureAdmissionIndexes(
      corpus.filter(bucket < 500), stage.toString)
    IndexStore.requireFresh(spark, d1, stage.toString)

    // a new batch lands in the corpus dir → the check rejects...
    java.nio.file.Files.write(stage.resolve("new_batch.txt"),
      "new docs arrived".getBytes("UTF-8"))
    an[IllegalArgumentException] should be thrownBy
      IndexStore.requireFresh(spark, d1, stage.toString)
    // ...the maintenance job appends the batch and re-stamps —
    // requireFresh green again with NO rebuild (manifest kept its
    // original build parameters; only the fingerprint moved)
    IndexStore.appendAdmissionIndexes(
      corpus.filter(bucket >= 500 && bucket < 550).select("doc_id", "text"), d1)
    IndexStore.recordFingerprint(spark, d1, stage.toString)
    IndexStore.requireFresh(spark, d1, stage.toString)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(d1, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "admission"""")

    // the stamp also re-keys the in-session memo: a later ensure*
    // call must SERVE the appended store, not Overwrite-rebuild it
    // from the caller's pre-append corpus slice
    val rowsAppended = IndexStore.readDigests(spark, d1).count()
    IndexStore.ensureAdmissionIndexes(
      corpus.filter(bucket < 500), stage.toString) shouldBe d1
    IndexStore.readDigests(spark, d1).count() shouldBe rowsAppended
    org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
  }

  test("audio index: write→read round trip preserves the fingerprints") {
    val dir = java.nio.file.Files.createTempDirectory("audstore").toString
    import spark.implicits._
    val media = Seq(
        (1L, graft.ext.Multimodal.synthWavBytes(7L, 520, 8000)),
        (2L, graft.ext.Multimodal.synthWavBytes(7L, 520, 8000, variant = 1)),
        (3L, "opaque".getBytes("UTF-8")))
      .toDF("media_id", "content")
    IndexStore.writeAudioIndex(media, dir)
    val got = IndexStore.readAudioHashes(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    got.map(_._1).toSeq shouldBe Seq(1L, 2L) // non-audio dropped
    java.lang.Long.bitCount(got(0)._2 ^ got(1)._2) should be <= 1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("delete faces: a delete set DERIVED from the store's own tables " +
      "is honored in full (materialized before any rewrite)") {
    // the operational shape of a takedown: "delete whatever the index
    // says matches this predicate" — the ids plan reads the very
    // table the delete rewrites. Without eager materialization, the
    // second table's rewrite would re-evaluate the plan against the
    // already-mutated first table (empty by then) and silently keep
    // the rows it was asked to remove.
    val dir = java.nio.file.Files.createTempDirectory("selfdel").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    IndexStore.writeAnnIndexes(e, dir)
    // ann_codes is rewritten FIRST — derive the ids from it
    val annIds = IndexStore.readAnnCodes(spark, dir)
      .filter(col("id").isin(3L, 17L)).select("id")
    IndexStore.deleteFromAnnIndexes(annIds, dir)
    IndexStore.readAnnCodes(spark, dir)
      .filter(col("id").isin(3L, 17L)).count() shouldBe 0
    IndexStore.readIvfAssigned(spark, dir)
      .filter(col("id").isin(3L, 17L)).count() shouldBe 0

    val admDir = java.nio.file.Files.createTempDirectory("selfdeladm").toString
    IndexStore.writeAdmissionIndexes(seen, admDir)
    // shingle_sets is rewritten FIRST — derive the ids from it
    val victim = IndexStore.readShingleSets(spark, admDir)
      .select("id").orderBy("id").head().getLong(0)
    val admIds = IndexStore.readShingleSets(spark, admDir)
      .filter(col("id") === victim).select("id")
    IndexStore.deleteFromAdmissionIndexes(admIds, admDir)
    IndexStore.readShingleSets(spark, admDir)
      .filter(col("id") === victim).count() shouldBe 0
    IndexStore.readBandIndex(spark, admDir)
      .filter(col("id") === victim).count() shouldBe 0
    for (d <- Seq(dir, admDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("deleteFromAdmissionIndexes fails loud against an unbuilt dir " +
      "instead of recording a takedown as done") {
    import spark.implicits._
    val empty = java.nio.file.Files.createTempDirectory("nodir").toString
    an[IllegalArgumentException] should be thrownBy
      IndexStore.deleteFromAdmissionIndexes(Seq(1L).toDF("id"), empty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(empty))
  }

  test("ensureAnnDeletedIndexes: a different delete set rebuilds — the " +
      "dir never serves another takedown's state") {
    IndexStore.resetBuilt()
    import spark.implicits._
    val e = graft.Tables(spark, sfDir, "embeddings")
    def servedIds(ids: Seq[Long]): Set[Long] = {
      val d = IndexStore.ensureAnnDeletedIndexes(e, sfDir, ids.toDF("id"))
      IndexStore.readIvfAssigned(spark, d)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    val afterA = servedIds(Seq(3L))
    afterA should not contain 3L
    afterA should contain(17L)
    // same ids again → memoized (state already correct), still B-free
    servedIds(Seq(3L)) shouldBe afterA
    // a DIFFERENT takedown list must rebuild, not serve A's state
    val afterB = servedIds(Seq(17L))
    afterB should not contain 17L
    afterB should contain(3L)
  }

  test("perceptual store maintenance: append ≡ rebuild-over-union, " +
      "compaction reclaims a re-appended batch, takedown fully forgets") {
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("imgmaintA").toString
    val dirB = java.nio.file.Files.createTempDirectory("imgmaintB").toString
    def png(id: Long) = (id, graft.ext.Multimodal.synthPngBytes(id, variant = (id % 4).toInt))
    val batch1 = (1L to 6L).map(png).toDF("media_id", "content")
    val batch2 = (7L to 10L).map(png).toDF("media_id", "content")
    def hashes(dir: String): Set[(Long, Long)] =
      IndexStore.readImageHashes(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    IndexStore.writeImageIndex(batch1, dirA)
    IndexStore.appendImageIndex(batch2, dirA)
    IndexStore.writeImageIndex(batch1.unionByName(batch2), dirB)
    hashes(dirA) shouldBe hashes(dirB) // append ≡ rebuild, exactly

    // the worst-case re-append: rows duplicate, the SET is unchanged,
    // compaction reclaims the rows without changing the set
    IndexStore.appendImageIndex(batch2, dirA)
    val dupRows = IndexStore.readImageHashes(spark, dirA).count()
    dupRows shouldBe (hashes(dirB).size + batch2.count())
    IndexStore.compactImageIndex(spark, dirA)
    IndexStore.readImageHashes(spark, dirA).count() shouldBe hashes(dirB).size
    hashes(dirA) shouldBe hashes(dirB)

    // takedown with a SELF-REFERENTIAL delete plan (ids read from the
    // very table being rewritten) — removed media stop being
    // candidates entirely: no ghost fingerprints
    val victims = IndexStore.readImageHashes(spark, dirA)
      .filter(col("id").isin(2L, 9L)).select("id")
    IndexStore.deleteFromImageIndex(victims, dirA)
    hashes(dirA).map(_._1) shouldBe (hashes(dirB).map(_._1) -- Set(2L, 9L))
    // unbuilt store → fail loud, same as the other delete faces
    val empty = java.nio.file.Files.createTempDirectory("imgnone").toString
    an[IllegalArgumentException] should be thrownBy
      IndexStore.deleteFromImageIndex(Seq(1L).toDF("id"), empty)

    // audio twin of the same cycle (shared plumbing, real WAV codec)
    val audDirA = java.nio.file.Files.createTempDirectory("audmaintA").toString
    val audDirB = java.nio.file.Files.createTempDirectory("audmaintB").toString
    def wav(id: Long) = (id, graft.ext.Multimodal.synthWavBytes(id, 520, 8000))
    val aud1 = (1L to 4L).map(wav).toDF("media_id", "content")
    val aud2 = (5L to 6L).map(wav).toDF("media_id", "content")
    def audHashes(dir: String): Set[(Long, Long)] =
      IndexStore.readAudioHashes(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    IndexStore.writeAudioIndex(aud1, audDirA)
    IndexStore.appendAudioIndex(aud2, audDirA)
    IndexStore.writeAudioIndex(aud1.unionByName(aud2), audDirB)
    audHashes(audDirA) shouldBe audHashes(audDirB)
    IndexStore.deleteFromAudioIndex(Seq(5L).toDF("id"), audDirA)
    audHashes(audDirA).map(_._1) shouldBe Set(1L, 2L, 3L, 4L, 6L)

    for (d <- Seq(dirA, dirB, empty, audDirA, audDirB))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("maintenanceDue: each store fires exactly the triggers it earned") {
    import spark.implicits._
    def row(df: org.apache.spark.sql.DataFrame, action: String): (Double, Boolean) = {
      val r = df.filter(col("action") === action).head()
      (r.getAs[Double]("value"), r.getAs[Boolean]("due"))
    }

    // admission: fresh build → compaction not due; a full re-append
    // (worst-case duplicate accumulation, dup ratio 0.5) → due;
    // running the compaction clears it
    val adm = java.nio.file.Files.createTempDirectory("mdadm").toString
    IndexStore.writeAdmissionIndexes(seen, adm)
    row(IndexStore.maintenanceDue(spark, adm), "compact") shouldBe ((0.0, false))
    IndexStore.appendAdmissionIndexes(seen.select("doc_id", "text"), adm)
    val (dupR, dupDue) = row(IndexStore.maintenanceDue(spark, adm), "compact")
    dupR shouldBe 0.5 +- 1e-9
    dupDue shouldBe true
    IndexStore.compactAdmissionIndexes(spark, adm)
    row(IndexStore.maintenanceDue(spark, adm), "compact") shouldBe ((0.0, false))

    // ann: appends accumulate per-cell files → compaction due at the
    // one-file-per-cell bar; compaction restores exactly 1.0; a fresh
    // batch that IS the corpus distribution does not trip retrain,
    // a one-cell flood does
    def sig(df: org.apache.spark.sql.DataFrame, s: String): (Double, Boolean) = {
      val r = df.filter(col("signal") === s).head()
      (r.getAs[Double]("value"), r.getAs[Boolean]("due"))
    }
    val ann = java.nio.file.Files.createTempDirectory("mdann").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
    val vbucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
    IndexStore.writeAnnIndexes(e.filter(vbucket < 600), ann,
      centroids = Some(graft.ext.Similarity.ivfCentroids(e, 16)))
    IndexStore.appendAnnIndexes(e.filter(vbucket >= 600 && vbucket < 800), ann)
    IndexStore.appendAnnIndexes(e.filter(vbucket >= 800), ann)
    val (fpcBefore, fpcDue) = sig(
      IndexStore.maintenanceDue(spark, ann, filesPerCellBar = 1.0),
      "files_per_cell")
    fpcBefore should be > 1.0
    fpcDue shouldBe true
    // disjoint appends carry no duplicate ids — the reclaim signal
    // stays quiet until an at-least-once re-delivery actually happens
    sig(IndexStore.maintenanceDue(spark, ann, dupRatioBar = 0.1),
      s"dup_ratio:${IndexStore.IvfAssignedTable}") shouldBe ((0.0, false))
    IndexStore.compactAnnIndexes(spark, ann)
    val (fpcAfter, fpcDueAfter) = sig(
      IndexStore.maintenanceDue(spark, ann, filesPerCellBar = 1.0),
      "files_per_cell")
    fpcAfter shouldBe 1.0
    fpcDueAfter shouldBe false
    // re-deliver a batch → duplicate ids appear → reclaim due at the
    // 0.1 bar; compaction's distinct-rewrite clears it
    IndexStore.appendAnnIndexes(e.filter(vbucket >= 800), ann)
    sig(IndexStore.maintenanceDue(spark, ann, dupRatioBar = 0.1),
      s"dup_ratio:${IndexStore.IvfAssignedTable}")._2 shouldBe true
    IndexStore.compactAnnIndexes(spark, ann)
    sig(IndexStore.maintenanceDue(spark, ann, dupRatioBar = 0.1),
      s"dup_ratio:${IndexStore.IvfAssignedTable}") shouldBe ((0.0, false))
    row(IndexStore.maintenanceDue(spark, ann, freshVectors = Some(e)),
      "retrain_quantizer")._2 shouldBe false // identical distribution: PSI ~ 0
    // an EMPTY fresh batch is "no evidence", not an error: PSI reads
    // 0.0 and the retrain is not due (the agg's null-sum guard)
    row(IndexStore.maintenanceDue(spark, ann,
        freshVectors = Some(e.filter(col("vec_id") < 0))),
      "retrain_quantizer") shouldBe ((0.0, false))
    val one = e.filter(col("vec_id") === 0)
    val flood = (1 to 6).map(_ => one).reduce(_ union _)
    row(IndexStore.maintenanceDue(spark, ann, freshVectors = Some(flood)),
      "retrain_quantizer")._2 shouldBe true

    // refresh: green while the corpus dir is unchanged, due the
    // moment a batch lands the store has not incorporated
    IndexStore.resetBuilt()
    val stage = java.nio.file.Files.createTempDirectory("mdcorpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "documents.parquet"),
      stage.resolve("documents.parquet"))
    val corpus = spark.read.parquet(stage.resolve("documents.parquet").toString)
    val d = IndexStore.ensureAdmissionIndexes(corpus, stage.toString)
    row(IndexStore.maintenanceDue(spark, d, corpusDir = Some(stage.toString)),
      "refresh")._2 shouldBe false
    java.nio.file.Files.write(stage.resolve("late.txt"), "x".getBytes("UTF-8"))
    row(IndexStore.maintenanceDue(spark, d, corpusDir = Some(stage.toString)),
      "refresh")._2 shouldBe true

    for (p <- Seq(adm, ann, stage.toString))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }

  test("source sketches: append ≡ rebuild-over-union, re-delivery a no-op, " +
      "serve matches the in-plan est matrix") {
    val dir = java.nio.file.Files.createTempDirectory("idxsketch").toString
    val first = docs.filter(bucket < 800)
    val rest = docs.filter(bucket >= 800)

    IndexStore.writeSourceSketches(first, dir)
    IndexStore.appendSourceSketches(rest, dir)
    def served = IndexStore.readSourceSketches(spark, dir).collect()
      .map(r => r.getString(0) ->
        (1 to graft.ext.HashDefs.K).map(r.getLong)).toMap

    // append-then-serve equals a one-shot build over the union —
    // min-merge absorbs the batch split exactly
    val oneShot = graft.ext.Dedup.groupMinhashSketch(
        graft.ext.Dedup.wordShingleHashes(docs, "source", "text")
          .select(col("id").as("grp"), col("h")))
      .collect().map(r => r.getString(0) ->
        (1 to graft.ext.HashDefs.K).map(r.getLong)).toMap
    served shouldBe oneShot

    // re-delivering a batch is a correctness no-op (idempotent merge)
    IndexStore.appendSourceSketches(rest, dir)
    served shouldBe oneShot

    // the served est matrix equals the in-plan sketch-only matrix
    val inPlan = graft.ext.Dedup.sourceOverlapMatrix(
      docs, "source", "text", exact = false)
    rowList(graft.ext.Dedup.sketchOverlapEst(
        IndexStore.readSourceSketches(spark, dir))
      .orderBy("source_a", "source_b")) shouldBe rowList(inPlan)

    // planner earn/clear cycle for the rows-per-group tidy: pile on
    // full-corpus re-deliveries until every group holds ≥ 5 batch
    // rows (> the 4.0 bar), compact, signal clears, serve unchanged
    def rowsPerGroupDue = IndexStore.maintenanceDue(spark, dir).collect()
      .map(r => (r.getString(1), r.getBoolean(4))).toMap
      .apply("rows_per_group")
    (1 to 4).foreach(_ => IndexStore.appendSourceSketches(docs, dir))
    rowsPerGroupDue shouldBe true
    IndexStore.compactSourceSketches(spark, dir)
    rowsPerGroupDue shouldBe false
    spark.read.parquet(s"$dir/${IndexStore.SourceSketchTable}")
      .count() shouldBe oneShot.size.toLong
    served shouldBe oneShot

    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "sketch"""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("dsir weights: write→read round trip equals the in-plan table; " +
      "resample from the store equals in-plan resample") {
    val dir = java.nio.file.Files.createTempDirectory("idxdsir").toString
    val isTarget = col("source").isin("src0", "src1")
    val d = docs
    val raw = d.filter(!isTarget)
    val target = d.filter(isTarget)
    IndexStore.writeDsirWeights(raw, target, dir)
    val inPlan = graft.ext.TrainingData.importanceWeightsMicro(
      raw, target, "text")
    rowSet(IndexStore.readDsirWeights(spark, dir)) shouldBe rowSet(inPlan)
    rowList(graft.ext.TrainingData.importanceResample(
        raw, IndexStore.readDsirWeights(spark, dir), "doc_id", "text", 10)
      .orderBy("id")) shouldBe
      rowList(graft.ext.TrainingData.importanceResample(
          raw, inPlan, "doc_id", "text", 10)
        .orderBy("id"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "dsir"""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("retrainAnnIndexes: serve equals a fresh build over the current " +
      "corpus, and the drift monitor goes green after the retrain") {
    val dir = java.nio.file.Files.createTempDirectory("annretrain").toString
    val freshDir = java.nio.file.Files.createTempDirectory("annfresh").toString
    val e = graft.Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    // regime change: the old corpus A, plus a new clustered mass B —
    // every B vector is an A vector pulled hard toward one axis
    // (shared component dominates ⇒ one tight cosine cluster, but
    // with enough variance that a retrained quantizer can dedicate
    // several cells to it)
    val bVecs = e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "CAST(x + CASE WHEN i = 0 THEN 8.0 ELSE 0.0 END AS FLOAT))")
        .as("embedding"))
    val current = e.unionByName(bVecs)

    // stale store: built before the regime change (A only)
    IndexStore.writeAnnIndexes(e, dir)
    def psiOf(d: String, fresh: org.apache.spark.sql.DataFrame): Double =
      IndexStore.annCellDrift(spark, d, fresh)
        .agg(sum(org.apache.spark.sql.functions.abs(col("psi_term"))))
        .head().getDouble(0)
    // the monitor's fresh slice is what ingest looks like NOW — a
    // hash-slice of the current (mixed) corpus: the stale store reads
    // heavy drift (half the mass piles into cells the old quantizer
    // never balanced for)...
    val vbucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
    val monitorSlice = current.filter(vbucket < 500)
    val psiStale = psiOf(dir, monitorSlice)
    psiStale should be > 0.25

    // ...the executor retrains on the current corpus and swaps; the
    // monitor goes green without touching its own configuration
    IndexStore.retrainAnnIndexes(current, dir)
    val psiRetrained = psiOf(dir, monitorSlice)
    psiRetrained should be < 0.25
    psiStale should be > psiRetrained * 3

    // the retrained store is byte-for-byte a fresh build: quantizer,
    // codebooks, and both serve faces
    IndexStore.writeAnnIndexes(current, freshDir)
    IndexStore.readAnnCentroids(spark, dir).map(_.toSeq).toSeq shouldBe
      IndexStore.readAnnCentroids(spark, freshDir).map(_.toSeq).toSeq
    IndexStore.readAnnCodebooks(spark, dir).map(_.map(_.toSeq).toSeq).toSeq shouldBe
      IndexStore.readAnnCodebooks(spark, freshDir).map(_.map(_.toSeq).toSeq).toSeq
    val q = current.filter(col("vec_id") < 5)
    def serveRows(d: String) = rowList(graft.ext.Similarity.ivfTopKFromIndex(
      IndexStore.readIvfAssigned(spark, d),
      IndexStore.readAnnCentroids(spark, d), q, k = 5)
      .orderBy("query_id", "rank"))
    serveRows(dir) shouldBe serveRows(freshDir)
    def adcRows(d: String) = rowList(graft.ext.Similarity.ivfPqTopKFromIndex(
      IndexStore.readAnnCodes(spark, d),
      IndexStore.readAnnCentroids(spark, d),
      IndexStore.readAnnCodebooks(spark, d), q, k = 5)
      .orderBy("query_id", "rank"))
    adcRows(dir) shouldBe adcRows(freshDir)
    // manifest swapped with the tables — still a valid ann manifest
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    manifest should include(""""kind": "ann"""")

    // an at-least-once ingest loop re-delivering an already-ingested
    // batch leaves exact duplicate (id, cell) rows — which duplicate
    // candidates and can shift serve top-k; compactAnnIndexes'
    // distinct-rewrite reclaims them and restores the serve
    val clean = serveRows(dir)
    val batch = current.filter(vbucket >= 900)
    IndexStore.appendAnnIndexes(batch, dir)
    IndexStore.appendAnnIndexes(batch, dir) // re-delivery
    val n = IndexStore.readIvfAssigned(spark, dir).count()
    IndexStore.compactAnnIndexes(spark, dir)
    IndexStore.readIvfAssigned(spark, dir).count() shouldBe
      (n - 2 * batch.count())
    serveRows(dir) shouldBe clean
    for (p <- Seq(dir, freshDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }

  test("ensureAdmissionIndexes builds once per corpus dir and memoizes") {
    IndexStore.resetBuilt()
    val d1 = IndexStore.ensureAdmissionIndexes(seen, sfDir)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(d1, "manifest.json")) shouldBe true
    // second call: same dir, no rebuild (manifest mtime unchanged)
    val t1 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(d1, "manifest.json"))
    val d2 = IndexStore.ensureAdmissionIndexes(seen, sfDir)
    d2 shouldBe d1
    java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(d1, "manifest.json")) shouldBe t1
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def rmDirs(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  test("admission serve path runs no schema-inference job and loads the " +
      "weight map once per store") {
    val dir = tmpDir("idxjobs")
    IndexStore.writeAdmissionIndexes(seen, dir)
    val sc = spark.sparkContext
    val fresh = slice // its own source read infers, outside the logs
    // the log sees inference: it is the one job here outside any SQL
    // execution
    JobLog(sc)(spark.read.parquet(s"$dir/${IndexStore.DigestsTable}"))._2
      .map(_.sqlExecution) shouldBe Seq(false)

    // building the frame, before its action, a warm call runs three
    // jobs: the slice checkpoint (its size estimate observed on that
    // same job, no probe job), the slice bands' broadcast and the
    // candidate-pair checkpoint (its row count observed the same way)
    val (first, cold) = JobLog(sc)(IndexStore.admitFromIndexes(fresh, spark, dir))
    val (second, warm) = JobLog(sc)(IndexStore.admitFromIndexes(fresh, spark, dir))
    (cold ++ warm).filterNot(_.sqlExecution) shouldBe empty
    warm should have size 3
    warm.map(_.callSite).count(_.startsWith("localCheckpoint at Dedup.scala")) shouldBe 2
    // the cold call also loads the weights: count (map stage + result)
    // and collect
    cold.size - warm.size should be >= 3
    val admitted = rowSet(first)
    admitted should not be empty
    rowSet(second) shouldBe admitted

    // compaction: one distinct-rewrite per table, no inference
    IndexStore.appendAdmissionIndexes(fresh, dir)
    val (_, compact) = JobLog(sc)(IndexStore.compactAdmissionIndexes(spark, dir))
    compact should not be empty
    compact.filterNot(_.sqlExecution) shouldBe empty
    // the compacted store still rejects everything it was appended
    rowSet(IndexStore.admitFromIndexes(fresh, spark, dir)) shouldBe empty
    rmDirs(dir)
  }

  test("weight-map memo: a rebuild under the same dir reloads; the vocab " +
      "cap fails loud on a memo hit") {
    val sc = spark.sparkContext
    def capOnHit(read: Int => Map[String, Long]): Unit = {
      val n = read(1 << 20).size
      val (r, jobs) = JobLog(sc)(scala.util.Try(read(n - 1)))
      jobs shouldBe empty // served from the memo
      r.failed.get shouldBe an[IllegalArgumentException]
      r.failed.get.getMessage should include(s"maxVocab=${n - 1}")
      read(n).size shouldBe n
    }

    val nbDir = tmpDir("idxmemo")
    val other = docs.filter(bucket >= 500)
    IndexStore.writeAdmissionIndexes(seen, nbDir)
    val a = IndexStore.readNbWeightsMicro(spark, nbDir)
    a shouldBe graft.ext.QualityModel.nbWeightsMicro(seen, "doc_id", "text")
    IndexStore.writeAdmissionIndexes(other, nbDir)
    val b = IndexStore.readNbWeightsMicro(spark, nbDir)
    b shouldBe graft.ext.QualityModel.nbWeightsMicro(other, "doc_id", "text")
    b should not be a
    capOnHit(IndexStore.readNbWeightsMicro(spark, nbDir, _))

    // the DSIR loader shares the memo
    val dsirDir = tmpDir("idxmemodsir")
    def dsir(target: org.apache.spark.sql.Column): Map[String, Long] = {
      val t = docs.filter(target)
      IndexStore.writeDsirWeights(docs.filter(!target), t, dsirDir)
      val got = IndexStore.readDsirWeightsMicro(spark, dsirDir)
      got shouldBe graft.ext.TrainingData.importanceWeightsMicro(
          docs.filter(!target), t, "text").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      got
    }
    val d1 = dsir(col("source").isin("src0", "src1"))
    dsir(col("source").isin("src2")) should not be d1
    capOnHit(IndexStore.readDsirWeightsMicro(spark, dsirDir, _))
    rmDirs(nbDir, dsirDir)
  }

  test("a manifest without id_type still serves the same admitted set " +
      "(inferred schema)") {
    val dir = tmpDir("idxnoidtype")
    IndexStore.writeAdmissionIndexes(seen, dir)
    val want = rowSet(IndexStore.admitFromIndexes(slice, spark, dir))
    val manifest = java.nio.file.Paths.get(dir, "manifest.json")
    val text = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
    text should include(""""id_type": "bigint"""")
    java.nio.file.Files.write(manifest,
      text.replaceAll("""\s*"id_type": "[^"]*",""", "").getBytes("UTF-8"))
    // the local FS checksums what it wrote; drop the stale checksum
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".manifest.json.crc"))
    val fresh = slice
    val (got, jobs) = JobLog(spark.sparkContext)(
      IndexStore.admitFromIndexes(fresh, spark, dir))
    // shingle_sets and band_index fall back to inference
    jobs.count(!_.sqlExecution) shouldBe 2
    rowSet(got) shouldBe want
    rmDirs(dir)
  }

  test("int and string ids round-trip through the pinned shingle_sets / " +
      "band_index schemas and admit the same set as bigint ids") {
    val want = {
      val dir = tmpDir("idxlong")
      IndexStore.writeAdmissionIndexes(seen, dir)
      val r = IndexStore.admitFromIndexes(slice, spark, dir)
        .collect().map(_.getLong(0).toString).toSet
      rmDirs(dir)
      r
    }
    want should not be empty
    for (t <- Seq("int", "string")) withClue(t) {
      val dir = tmpDir(s"idx$t")
      def typed(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id").cast(t).as("doc_id"), col("text"))
      IndexStore.writeAdmissionIndexes(typed(seen), dir)
      val sets = IndexStore.readShingleSets(spark, dir)
      val bands = IndexStore.readBandIndex(spark, dir)
      sets.schema("id").dataType.catalogString shouldBe t
      bands.schema("id").dataType.catalogString shouldBe t
      val inPlanSets = typed(seen).select(col("doc_id").as("id"),
        graft.functions.TextHashFunctions.shingle_hashes(
          col("text"), graft.ext.HashDefs.ShingleN).as("hs"))
      rowSet(sets) shouldBe rowSet(inPlanSets)
      rowSet(bands) shouldBe rowSet(graft.ext.Dedup.lshBands(
        graft.ext.Dedup.minhashSignature(inPlanSets)))
      IndexStore.admitFromIndexes(typed(slice), spark, dir)
        .collect().map(_.get(0).toString).toSet shouldBe want
      rmDirs(dir)
    }
  }

  /** The admission ladder composed as before the slice-side plan: the
    * exact and substring rungs' hash tables built from the store, the
    * fuzzy rung's pairs from [[graft.ext.Dedup.minhashCrossPairsFromIndex]],
    * hit ids distinct'd — the reference the plan's verdicts are held to.
    */
  private def ladderReplay(fresh: org.apache.spark.sql.DataFrame,
      dir: String): org.apache.spark.sql.DataFrame = {
    val exactNovel = fresh.withColumn("digest", md5(col("text")))
      .join(IndexStore.readDigests(spark, dir), Seq("digest"), "left_anti")
      .drop("digest")
    val substrHits = graft.ext.Dedup.spanHashIndex(fresh, "doc_id", "text", 8)
      .join(IndexStore.readSpanHashes(spark, dir), Seq("h"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    val fuzzyHits = graft.ext.Dedup.minhashCrossPairsFromIndex(
        IndexStore.readBandIndex(spark, dir),
        IndexStore.readShingleSets(spark, dir), fresh, "doc_id", "text")
      .select(col("new_id").as("doc_id")).distinct()
    graft.ext.QualityModel.admitByModel(
        exactNovel.join(substrHits, Seq("doc_id"), "left_anti")
          .join(fuzzyHits, Seq("doc_id"), "left_anti"),
        IndexStore.readNbWeightsMicro(spark, dir))
      .select("doc_id")
  }

  /** Admitted ids, sorted, with their multiplicity. */
  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  /** Every node of an executed plan: through adaptive wrappers, query
    * stages and subqueries.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
    }
  }

  test("admission plan: each store table streams against a slice-built " +
      "side; no broadcast of a store scan, no shuffle for hit ids") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    // what a broadcast's hash table is built from, through its
    // row-local (single-child) operators
    def buildSource(p: SparkPlan): SparkPlan = p match {
      case q: QueryStageExec => buildSource(q.plan)
      case o if o.children.size == 1 => buildSource(o.children.head)
      case o => o
    }
    // every query building and running the frame runs: the eager
    // checkpoints taken while it is built are plans of their own
    def executed(df: => org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
      org.apache.spark.JobLog.plans(spark)(df.collect())._2.flatMap(planNodes)
    def table(s: FileSourceScanExec) = s.relation.location.rootPaths.head.getName
    def storeBuilds(plan: Seq[SparkPlan]): Seq[String] = plan.collect {
      case b: BroadcastExchangeExec => buildSource(b.child)
    }.collect { case s: FileSourceScanExec => table(s) }
    def shuffles(plan: Seq[SparkPlan]) =
      plan.collect { case e: ShuffleExchangeExec => e }

    val dir = tmpDir("idxplan")
    IndexStore.writeAdmissionIndexes(seen, dir)
    // a stored document's copy gives every rung a hit: AQE drops the
    // subtree of an anti-join whose build side came out empty
    val probe = slice.union(seen
      .filter(org.apache.spark.sql.functions.length(col("text")) > 200)
      .limit(1).select(lit(900000002L).as("doc_id"), col("text")))
      .localCheckpoint() // its source scan stays out of the plans
    IndexStore.admitFromIndexes(probe, spark, dir) // loads the weights
    // the admission and the store-side ladder it runs the model rung
    // over (which the streaming full-ladder gate shares)
    for (plan <- Seq(executed(IndexStore.admitFromIndexes(probe, spark, dir)),
        executed(IndexStore.novelFromIndexes(probe, spark, dir, "doc_id",
          "text", 8, 0.5, graft.ext.HashDefs.CrossBroadcastMaxBytes)))) {
      plan.collect { case s: FileSourceScanExec => table(s) }.toSet shouldBe Set(
        IndexStore.DigestsTable, IndexStore.SpanHashesTable,
        IndexStore.BandIndexTable, IndexStore.ShingleSetsTable)
      plan.collect { case b: BroadcastExchangeExec => b } should not be empty
      storeBuilds(plan) shouldBe empty
      shuffles(plan) shouldBe empty
    }
    // control: the store-side composition builds from store scans and
    // shuffles its hit ids to distinct them
    val replay = executed(ladderReplay(probe, dir))
    storeBuilds(replay) should not be empty
    shuffles(replay) should not be empty
    rmDirs(dir)
  }

  test("store fan-out: candidates past the guard are not broadcast, " +
      "however small the slice, and the verdicts hold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val dir = tmpDir("idxfan")
    val page = seen.filter(org.apache.spark.sql.functions.length(col("text")) > 200)
      .select("text").head().getString(0)
    // 300 stored copies of one page, each with its own footer: the
    // probe's copy collides with every one of them in its bands
    val copies = (1L to 300L).map(i => (800000000L + i, s"$page footer $i"))
      .toDF("doc_id", "text")
    IndexStore.writeAdmissionIndexes(seen.select("doc_id", "text").union(copies), dir)
    val probe = slice.limit(2).union(
      Seq((900000003L, s"$page footer new")).toDF("doc_id", "text"))
      .localCheckpoint()
    // a guard the slice estimate just fits, so every slice-side frame
    // broadcasts; the candidates (300 copies × colliding bands, 64 B
    // a row) are priced over it
    val guard = probe.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("text")))).head().getLong(0) *
      8L + probe.count() * 64L
    // the candidate pairs' forced broadcast; past the guard the planner
    // and AQE pick build sides from their own size estimates
    def pairSides(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      plans.flatMap(planNodes).collect {
        case b: BroadcastExchangeExec => b.output.map(_.name)
      }.filter(_ == Seq("corpus_id", "new_id"))
    val want = ids(ladderReplay(probe, dir))
    want should not contain 900000003L
    val (free, freePlans) = org.apache.spark.JobLog.plans(spark)(
      ids(IndexStore.admitFromIndexes(probe, spark, dir)))
    free shouldBe want
    pairSides(freePlans) should not be empty // control: default guard
    val (capped, cappedPlans) = org.apache.spark.JobLog.plans(spark)(
      ids(IndexStore.admitPlan(probe, spark, dir, "doc_id", "text", 8, 0.5,
        maxBroadcastBytes = guard)))
    capped shouldBe want
    cappedPlans.flatMap(planNodes)
      .collect { case b: BroadcastExchangeExec => b } should not be empty
    pairSides(cappedPlans) shouldBe empty
    rmDirs(dir)
  }

  test("an over-guard slice (broadcast cap 0) admits the same set") {
    val dir = tmpDir("idxguard")
    IndexStore.writeAdmissionIndexes(seen, dir)
    val want = ids(IndexStore.admitFromIndexes(slice, spark, dir))
    want should not be empty
    ids(IndexStore.admitPlan(slice, spark, dir, "doc_id", "text", 8, 0.5,
      maxBroadcastBytes = 0L)) shouldBe want
    // an empty slice still gets its observed sizes (0), not a wait
    ids(IndexStore.admitFromIndexes(slice.filter(lit(false)), spark, dir)) shouldBe empty
    rmDirs(dir)
  }

  test("a null-text row and duplicate-id rows keep the store-side " +
      "ladder's verdicts") {
    import spark.implicits._
    val dir = tmpDir("idxedge")
    IndexStore.writeAdmissionIndexes(seen, dir)
    val base = slice.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val ok = ids(IndexStore.admitFromIndexes(slice, spark, dir))
    ok.size should be >= 2
    val Seq(a, b) = ok.take(2)
    val copy = seen.filter(org.apache.spark.sql.functions.length(col("text")) > 200)
      .select("text").head().getString(0)
    val nullId = 900000001L
    val edge = (base ++ Seq(
        nullId -> (null: String),
        a -> copy,                 // a stored document's copy under id a
        b -> base.toMap.apply(a))) // a second novel row under id b
      .toDF("doc_id", "text")
    val want = ids(ladderReplay(edge, dir))
    ids(IndexStore.admitFromIndexes(edge, spark, dir)) shouldBe want
    want should not contain nullId
    // the copy's exact hit drops only its own row; its span and fuzzy
    // hits drop every row of id a
    want should not contain a
    want.count(_ == b) shouldBe 2
    rmDirs(dir)
  }

  test("maintenance writes run concurrently under the caller's job group; " +
      "a failed table write fails the call after every write has finished") {
    val sc = spark.sparkContext
    val dir = tmpDir("idxconc")
    IndexStore.writeAdmissionIndexes(seen, dir)
    val s1 = docs.filter(bucket >= 500 && bucket < 550).select("doc_id", "text")
      .localCheckpoint()
    val s2 = docs.filter(bucket >= 550 && bucket < 600).select("doc_id", "text")
      .localCheckpoint()
    // every job of the append and the compaction, whichever thread
    // started it, carries the caller's job group
    val (_, started, _) = JobLog.record(sc) {
      IndexStore.appendAdmissionIndexes(s1, dir)
      IndexStore.compactAdmissionIndexes(spark, dir)
    }
    started.size should be >= 8 // a write per table, twice
    started.filterNot(_.tagged) shouldBe empty
    started.filterNot(_.job.sqlExecution) shouldBe empty

    // span_hashes becomes a plain file: its append and its compaction
    // read fail, the other three tables' writes succeed
    val spans = java.nio.file.Paths.get(dir, IndexStore.SpanHashesTable)
    rmDirs(spans.toString)
    java.nio.file.Files.write(spans, "not parquet".getBytes("UTF-8"))
    def messages(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    for ((name, call) <- Seq[(String, () => Unit)](
        "append" -> (() => IndexStore.appendAdmissionIndexes(s2, dir)),
        "compact" -> (() => IndexStore.compactAdmissionIndexes(spark, dir))))
      withClue(name) {
        val (r, jobs, returnedMs) =
          JobLog.record(sc, lingerMs = 1500L)(scala.util.Try(call()))
        messages(r.failed.get) should include(IndexStore.SpanHashesTable)
        jobs.filter(_.tagged) should not be empty
        jobs.filter(_.atMs > returnedMs) shouldBe empty
      }
    // the other tables took both calls: s2's documents are in the store
    val s2Ids = s2.select("doc_id").collect().map(_.getLong(0)).toSet
    IndexStore.readShingleSets(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet.intersect(s2Ids) shouldBe s2Ids
    rmDirs(dir)
  }
}
