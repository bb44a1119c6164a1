package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streaming.ViewEvent

/** The streaming GATE harness driven over calendar boundaries the
  * sf fixtures never cross (they span Jan 1–30 only): month and year
  * edges, and a degenerate single-day range. Reference semantic at
  * stake: date-partitioned daily logs (ETL_pipeline.py:22-29) cross
  * month boundaries routinely — a staging split keyed on a calendar
  * FIELD (day-of-month) rather than a full date would replay slices
  * out of event-time order there, push real events beyond the
  * watermark, and silently mis-sessionize.
  */
class StreamingGateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Deterministic per-day events for `contracts` over [startDay,
    * endDay]: a two-event morning session (09:00, 09:10) and a
    * midnight-straddling session (23:50, +15 min into the NEXT day) —
    * so sessions cross every day edge in the range, including the
    * month/year edge.
    */
  private def mkEvents(contracts: Seq[String], startDay: String,
      endDay: String): DataFrame = {
    val start = java.time.LocalDate.parse(startDay)
    val end = java.time.LocalDate.parse(endDay)
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end)).toSeq
    val rows = for {
      c <- contracts
      d <- days
    } yield Seq(
      (c, "content", 7L, Timestamp.valueOf(d.atTime(9, 0))),
      (c, "content", 3L, Timestamp.valueOf(d.atTime(9, 10))),
      (c, "content", 5L, Timestamp.valueOf(d.atTime(23, 50))),
      (c, "content", 2L, Timestamp.valueOf(d.plusDays(1).atTime(0, 5))))
    rows.flatten.toDF("contract", "category", "duration", "ts")
  }

  /** Independent batch comparator: gaps-and-islands sessionization
    * with window functions (the DuckDB oracle's formulation, in
    * Spark).
    */
  private def batchSessions(ev: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy("contract").orderBy("ts")
    val g = ev
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts").cast("double") - col("prev").cast("double") >=
          gapMinutes * 60.0, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    g.groupBy("contract", "sid")
      .agg(min("ts").as("session_start"),
        (max(col("ts")) + expr(s"INTERVAL $gapMinutes MINUTES")).as("session_end"),
        sum("duration").as("total_duration"),
        count(lit(1)).cast("int").as("n_events"))
      .drop("sid")
  }

  private def checkGateMatchesBatch(ev: DataFrame): DataFrame = {
    val got = StreamingGate.closedSessionsFromEvents(spark, ev,
      gapMinutes = 30, watermark = "1 hour")
    val want = batchSessions(ev, 30).select(
      "contract", "session_start", "session_end", "total_duration", "n_events")
    rowSet(got) shouldBe rowSet(want)
    got
  }

  test("gate: sessions crossing a MONTH boundary replay in order and match batch") {
    val ev = mkEvents(Seq("c1", "c2"), "2024-01-20", "2024-02-10")
    val got = checkGateMatchesBatch(ev)
    // the midnight session on the month edge actually straddles it
    val edge = got.filter(col("session_start") === ts("2024-01-31 23:50:00"))
      .collect()
    edge.length shouldBe 2 // one per contract
    edge.foreach(_.getTimestamp(2) shouldBe ts("2024-02-01 00:35:00"))
    // both months contribute closed sessions (nothing dropped as late)
    got.filter(month(col("session_start")) === 1).count() should be > 0L
    got.filter(month(col("session_start")) === 2).count() should be > 0L
  }

  test("gate: sessions crossing a YEAR boundary replay in order and match batch") {
    val ev = mkEvents(Seq("c1"), "2023-12-25", "2024-01-05")
    val got = checkGateMatchesBatch(ev)
    got.filter(col("session_start") === ts("2023-12-31 23:50:00"))
      .collect().map(_.getTimestamp(2)).toSeq shouldBe
      Seq(ts("2024-01-01 00:35:00"))
    got.filter(year(col("session_start")) === 2023).count() should be > 0L
    got.filter(year(col("session_start")) === 2024).count() should be > 0L
  }

  test("gate: single-day input degenerates to one slice and still matches batch") {
    val ev = Seq(
      ("c1", "content", 7L, ts("2024-03-15 09:00:00")),
      ("c1", "content", 3L, ts("2024-03-15 09:10:00")),
      ("c1", "content", 5L, ts("2024-03-15 12:00:00")))
      .toDF("contract", "category", "duration", "ts")
    checkGateMatchesBatch(ev).count() shouldBe 2L
  }

  test("closedSessions runs unchanged on the RocksDB state store (production profile)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.GraftSession.rocksDbStateStore(key))
    try {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ViewEvent]
      val q = Streaming.closedSessions(in.toDS(), gapMs = 30L * 60 * 1000,
        watermark = "1 hour")
        .writeStream.format("memory").queryName("cs_rocks").outputMode("append").start()
      try {
        in.addData(
          ViewEvent("c1", "content", 10L, ts("2024-01-31 23:50:00")),
          ViewEvent("c1", "content", 5L, ts("2024-02-01 00:05:00")))
        q.processAllAvailable()
        // a much later event closes the session in-batch — the state
        // round-trips through RocksDB across micro-batches
        in.addData(ViewEvent("c1", "content", 7L, ts("2024-02-01 12:00:00")))
        q.processAllAvailable()
        rowSet(spark.table("cs_rocks").selectExpr("contract", "session_start",
          "session_end", "totalDuration", "n_events")) shouldBe Set(
          Seq("c1", ts("2024-01-31 23:50:00"), ts("2024-02-01 00:35:00"), 15L, 2))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("windowedCategoryStats: daily windows split cleanly at a month boundary") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[ViewEvent]
    val q = Streaming.windowedCategoryStats(in.toDF(), "1 day", "1 day")
      .writeStream.format("memory").queryName("wcs_mb").outputMode("complete").start()
    try {
      in.addData(
        ViewEvent("c1", "content", 10L, ts("2024-01-31 23:30:00")),
        ViewEvent("c1", "content", 5L, ts("2024-01-31 23:59:00")),
        ViewEvent("c1", "content", 7L, ts("2024-02-01 00:01:00")))
      q.processAllAvailable()
      val out = spark.table("wcs_mb")
        .selectExpr("window.start", "TotalDuration", "n_events")
      rowSet(out) shouldBe Set(
        Seq(ts("2024-01-31 00:00:00"), 15L, 2L),
        Seq(ts("2024-02-01 00:00:00"), 7L, 1L))
    } finally q.stop()
  }

  test("sessionWatch: one session merges across the month boundary") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[ViewEvent]
    val q = Streaming.sessionWatch(in.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sw_mb").outputMode("complete").start()
    try {
      in.addData(
        ViewEvent("c1", "content", 10L, ts("2024-01-31 23:50:00")),
        ViewEvent("c1", "content", 5L, ts("2024-02-01 00:05:00")), // same session
        ViewEvent("c1", "content", 7L, ts("2024-02-01 06:00:00"))) // new session
      q.processAllAvailable()
      val out = spark.table("sw_mb")
        .selectExpr("contract", "session_start", "TotalDuration", "n_events")
      rowSet(out) shouldBe Set(
        Seq("c1", ts("2024-01-31 23:50:00"), 15L, 2L),
        Seq("c1", ts("2024-02-01 06:00:00"), 7L, 1L))
    } finally q.stop()
  }

  test("outer-join gate ≡ batch LEFT JOIN; the last window's unmatched views flush") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.searchJoinOuterFromFiles(spark, dir)
    val ev = graft.Tables(spark, dir, "events")
    val v = ev.filter(col("event_type") === "view").select(
      col("user_id"), col("event_id").as("view_event_id"),
      col("ts").as("view_ts"), floor(col("value")).cast("long").as("duration"))
    val s2 = ev.filter(col("event_type") === "click").select(
      col("user_id").as("__u"), col("event_id").as("search_event_id"),
      col("ts").as("search_ts"))
    val want = v.join(s2,
        col("user_id") === col("__u") &&
          col("search_ts") <= col("view_ts") &&
          col("search_ts") >= col("view_ts") - expr("INTERVAL 60 minutes"),
        "left_outer")
      .select("user_id", "view_event_id", "view_ts", "duration",
        "search_event_id", "search_ts")
    rowSet(got) shouldBe rowSet(want)
    // the regression this pins: views in the final watermark window
    // with no match must still emit (needs BOTH-side sentinels — the
    // global watermark is the min across branch watermark operators)
    val lastTs = ev.agg(max("ts")).head().getTimestamp(0)
    val lastView = want.orderBy(col("view_ts").desc).head()
    got.filter(col("view_event_id") === lastView.getLong(1))
      .count() should be >= 1L
    lastTs should not be null
  }

  test("stream-static enrich gate ≡ batch weighted windowed agg; dict misses drop") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamEnrichFromFiles(spark, dir)
    val ev = graft.Tables(spark, dir, "events")
    val dim = StreamingGate.EnrichDict.toDF("event_type", "weight")
    val want = ev.join(dim, Seq("event_type"))
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("user_id"), col("event_type"))
      .agg(sum(floor(col("value")).cast("long") * col("weight"))
          .as("weighted_duration"),
        count(lit(1)).as("n_events"))
      .select("window_start", "user_id", "event_type", "weighted_duration",
        "n_events")
    rowSet(got) shouldBe rowSet(want)
    // the stateless join's miss semantic: 'error' events exist
    // upstream but are not in the dictionary, so they must vanish —
    // and the far-future sentinel rows (category 'view', which IS in
    // the dictionary) must not survive into the output either
    ev.filter(col("event_type") === "error").count() should be > 0L
    got.filter(col("event_type") === "error").count() shouldBe 0L
  }

  test("streaming admission gate ≡ batch exact-novel; bloom positives recovered") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamAdmitFromFiles(spark, dir)
    val d = graft.Tables(spark, dir, "documents")
    val bucket = graft.ext.TrainingData.splitBucket(col("doc_id"), 1000)
    val seen = d.filter(bucket < 500)
    val fresh = d.filter(bucket >= 500 && bucket < 600)
    val want = fresh.join(
      seen.select(md5(col("text")).as("__dg")).distinct(),
      md5(col("text")) === col("__dg"), "left_anti").select("doc_id")
    rowSet(got) shouldBe rowSet(want)
    got.count() should be > 0L
  }

  test("streamAdmit drops planted duplicates and recovers bloom false positives") {
    import spark.implicits._
    val seen = Seq((100L, "alpha body"), (101L, "beta body"))
      .toDF("doc_id", "text")
    val probe = graft.ext.Dedup.bloomProbeEager(seen, "text",
      expectedSeen = 10L, fpp = 0.01)
    val seenDigests = seen.select(md5(col("text")).as("digest")).distinct()
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, "fresh one"), (2L, "alpha body"), (3L, "fresh two"))
    in.addData((4L, "beta body"), (5L, "fresh three"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = graft.streaming.Streaming.streamAdmit(
        in.toDF.toDF("doc_id", "text"), seenDigests, probe)
      .select("doc_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(_.getLong(0))
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    query.processAllAvailable()
    query.stop()
    // the two planted exact duplicates of the corpus drop (whether a
    // fresh text bloom-false-positives or not, the exact anti join
    // settles it); everything genuinely new is admitted
    buf.synchronized { buf.toSet } shouldBe Set(1L, 3L, 5L)
  }

  test("streamAdmit with a broadcast Bloom probe ≡ literal probe across micro-batches") {
    import spark.implicits._
    val seen = Seq((100L, "alpha body"), (101L, "beta body"))
      .toDF("doc_id", "text")
    val seenDigests = seen.select(md5(col("text")).as("digest")).distinct()
    def admitted(probe: org.apache.spark.sql.Column): Set[Long] = {
      val in = MemoryStream[(Long, String)](spark)
      in.addData((1L, "fresh one"), (2L, "alpha body"))
      in.addData((3L, "beta body"), (4L, "fresh two"))
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      val query = graft.streaming.Streaming.streamAdmit(
          in.toDF.toDF("doc_id", "text"), seenDigests, probe)
        .select("doc_id")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.collect().map(_.getLong(0))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      query.processAllAvailable()
      query.stop()
      buf.synchronized { buf.toSet }
    }
    // broadcastMinBytes=1 forces the torrent-broadcast expression —
    // the exact shape the per-micro-batch plan re-ship concern is
    // about; the admitted set must match the literal probe's
    val viaBroadcast = admitted(graft.ext.Dedup.bloomProbeEager(
      seen, "text", expectedSeen = 10L, fpp = 0.01, broadcastMinBytes = 1L))
    val viaLiteral = admitted(graft.ext.Dedup.bloomProbeEager(
      seen, "text", expectedSeen = 10L, fpp = 0.01))
    viaBroadcast shouldBe viaLiteral
    viaBroadcast shouldBe Set(1L, 4L)
  }

  test("streaming fuzzy admission gate ≡ batch minhashCrossPairs hit set") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamAdmitFuzzyFromFiles(spark, dir)
    val d = graft.Tables(spark, dir, "documents")
    val bucket = graft.ext.TrainingData.splitBucket(col("doc_id"), 1000)
    val seen = d.filter(bucket < 500)
    val fresh = d.filter(bucket >= 500 && bucket < 600)
    val want = graft.ext.Dedup.minhashCrossPairs(seen, fresh, "doc_id", "text")
      .select(col("new_id").as("doc_id")).distinct()
    rowSet(got) shouldBe rowSet(want)
  }

  test("streamFuzzyHits: planted near-dup flagged per batch, novel text not") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val seen = Seq((100L, base), (101L, "totally unrelated corpus text " +
      "about completely different things entirely separate from everything"))
      .toDF("doc_id", "text")
    val sets = graft.ext.Dedup.docShingleSets(seen, "doc_id", "text")
    val bandIndex = graft.ext.Dedup.lshBands(
        graft.ext.Dedup.minhashSignature(sets))
      .select(col("id").as("corpus_id"), col("band"), col("band_hash"))
    val corpusSets = sets
      .select(col("id").as("corpus_id"), col("hs").as("corpus_hs"))
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, base + " tail"), (2L, "novel words sharing nothing with " +
      "anything in the corpus at all whatsoever in any way"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = graft.streaming.Streaming.streamFuzzyHits(
        in.toDF.toDF("doc_id", "text"), bandIndex, corpusSets)
      .select("new_id", "corpus_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    query.processAllAvailable()
    query.stop()
    buf.synchronized { buf.toSet } shouldBe Set((1L, 100L))
  }

  test("streaming image admission gate ≡ batch banded Hamming hit set") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamAdmitImageFromFiles(spark, dir)
    // independent batch formulation: fingerprint EVERY doc's image,
    // band the whole set, keep pairs that cross the split
    import spark.implicits._
    val d = graft.Tables(spark, dir, "documents")
    val bucket = graft.ext.TrainingData.splitBucket(col("doc_id"), 1000)
    val fps = graft.ext.Multimodal.dHash64(
        graft.ext.Multimodal.synthPngMedia(d.select("doc_id")))
      .select(col("media_id").as("id"), col("dhash")).cache()
    val pairs = graft.ext.Dedup.hammingBandedPairs(fps, "dhash", 64, 3)
    val corpusIds = d.filter(bucket < 500).select(col("doc_id").as("cid"))
    val sliceIds = d.filter(bucket >= 500 && bucket < 600)
      .select(col("doc_id").as("sid"))
    val want = pairs.join(corpusIds, col("id_a") === col("cid"))
      .join(sliceIds, col("id_b") === col("sid")).select(col("id_b").as("doc_id"))
      .union(pairs.join(sliceIds, col("id_a") === col("sid"))
        .join(corpusIds, col("id_b") === col("cid")).select(col("id_a").as("doc_id")))
      .distinct()
    rowSet(got) shouldBe rowSet(want)
    fps.unpersist()
    ()
  }

  test("streamImageHits: planted image twin flagged per batch, unrelated not") {
    import spark.implicits._
    val corpus = Seq(
        (100L, graft.ext.Multimodal.synthPngBytes(5L)),
        (101L, graft.ext.Multimodal.synthPngBytes(33L)))
      .toDF("media_id", "content")
    val corpusChunks = graft.ext.Multimodal.dHash64(corpus)
      .select(col("media_id").as("corpus_id"), col("dhash").as("corpus_fp"),
        explode(graft.ext.Dedup.fpChunkArray(col("dhash"), 64, 3)).as("c"))
      .select(col("corpus_id"), col("corpus_fp"),
        col("c.chunk").as("chunk"), col("c.chunk_val").as("chunk_val"))
    val in = MemoryStream[(Long, Array[Byte])](spark)
    in.addData(
      (1L, graft.ext.Multimodal.synthPngBytes(5L, variant = 2)), // twin of 100
      (2L, graft.ext.Multimodal.synthPngBytes(77L)),             // unrelated
      (3L, "not an image".getBytes("UTF-8")))                    // unparseable
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = graft.streaming.Streaming.streamImageHits(
        in.toDF.toDF("media_id", "content"), corpusChunks)
      .select("new_id", "corpus_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    query.processAllAvailable()
    query.stop()
    buf.synchronized { buf.toSet } shouldBe Set((1L, 100L))
  }

  test("streaming substring admission gate ≡ batch shared-window formulation") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamAdmitSubstringFromFiles(spark, dir)
    val d = graft.Tables(spark, dir, "documents")
    val bucket = graft.ext.TrainingData.splitBucket(col("doc_id"), 1000)
    val seen = d.filter(bucket < 500)
    val fresh = d.filter(bucket >= 500 && bucket < 600)
    val corpusSpans = graft.ext.Dedup.spanHashIndex(seen, "doc_id", "text", 8)
      .select("h").distinct()
    val want = graft.ext.Dedup.spanHashIndex(fresh, "doc_id", "text", 8)
      .join(corpusSpans, Seq("h"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    rowSet(got) shouldBe rowSet(want)
  }

  test("streamSubstringHits: lifted window flagged, novel text passes") {
    import spark.implicits._
    val lifted = "w1 w2 w3 w4 w5 w6 w7 w8"
    val seen = Seq((100L, s"header text $lifted footer words here"))
      .toDF("doc_id", "text")
    val corpusSpans = graft.ext.Dedup.spanHashIndex(seen, "doc_id", "text", 8)
      .select("h").distinct()
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, s"$lifted and then some novel content too"),
      (2L, "entirely new words with no overlap against the corpus at all"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = graft.streaming.Streaming.streamSubstringHits(
        in.toDF.toDF("doc_id", "text"), corpusSpans)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(_.getLong(0))
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    query.processAllAvailable()
    query.stop()
    buf.synchronized { buf.distinct.toSet } shouldBe Set(1L)
  }

  test("streaming embedding admission gate ≡ batch LSH cross slice") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamAdmitEmbedFromFiles(spark, dir)
    val e = graft.Tables(spark, dir, "embeddings")
    val bucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
    // batch formulation: fresh vectors within cos ≥ 0.35 of any
    // corpus vector sharing a bucket in any table — the gate's SQL
    // oracle, restated with the library's own batch pieces
    val corpus = graft.ext.Similarity.withNorm(
      e.filter(bucket < 500).select(col("vec_id"), col("embedding").as("vec")))
    val fresh = graft.ext.Similarity.withNorm(
      e.filter(bucket >= 500 && bucket < 600)
        .select(col("vec_id"), col("embedding").as("vec")))
    def idx(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      posexplode(graft.functions.LshFunctions.lsh_buckets(col("vec"), 6, 8, 64))
        .as(Seq("table", "bucket")))
    val want = idx(fresh).as("n")
      .join(idx(corpus).as("c"),
        col("n.table") === col("c.table") && col("n.bucket") === col("c.bucket")
          && col("n.vec_id") =!= col("c.vec_id"))
      .select(col("n.vec_id").as("vec_id"), col("c.vec_id").as("cid")).distinct()
      .join(fresh.select(col("vec_id"), col("vec").as("nv"), col("norm").as("nn")), "vec_id")
      .join(corpus.select(col("vec_id").as("cid"), col("vec").as("cv"),
        col("norm").as("cn")), "cid")
      .filter(graft.ext.Similarity.cosineFromNorms(
        col("nv"), col("cv"), col("nn"), col("cn")) >= 0.35)
      .select("vec_id").distinct()
    rowSet(got) shouldBe rowSet(want)
  }

  test("streamEmbedHits: planted twin flagged per batch, orthogonal not") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else 0.5f)
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) -1.0f else 0.6f)
    val seen = Seq((100L, base)).toDF("vec_id", "embedding")
    val corpus = graft.ext.Similarity.withNorm(
      seen.select(col("vec_id"), col("embedding").as("vec")))
    val bucketIndex = corpus.select(col("vec_id").as("corpus_id"),
      posexplode(graft.functions.LshFunctions.lsh_buckets(col("vec"), 6, 8, 64))
        .as(Seq("table", "bucket")))
    val corpusVecs = corpus.select(col("vec_id").as("corpus_id"),
      col("vec").as("cvec"), col("norm").as("cnorm"))
    val in = MemoryStream[(Long, Array[Float])](spark)
    in.addData((1L, base.map(_ * 0.9f)), (2L, ortho))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = graft.streaming.Streaming.streamEmbedHits(
        in.toDF.toDF("vec_id", "embedding"), bucketIndex, corpusVecs,
        minCos = 0.9)
      .select("new_id", "corpus_id")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    query.processAllAvailable()
    query.stop()
    // scaled twin has cosine exactly 1.0 (collides in every table);
    // the sign-flipped vector can't clear 0.9
    buf.synchronized { buf.distinct.toSet } shouldBe Set((1L, 100L))
  }

  test("streaming drift gate ≡ batch psiNumeric on the same split") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingGate.streamDriftFromFiles(spark, dir)
    val d = graft.Tables(spark, dir, "documents")
    val bucket = graft.ext.TrainingData.splitBucket(col("doc_id"), 1000)
    val want = graft.ext.Drift.psiNumeric(
      d.filter(bucket < 500), d.filter(bucket >= 500 && bucket < 600),
      "n_chars", width = 64, nBuckets = 16)
    rowSet(got) shouldBe rowSet(want)
  }

  test("transformWithState gate ≡ the fMGWS gate on the same slices") {
    val dir = "/root/testdata/sf0.001"
    val tws = StreamingGate.closedSessionsTwsFromFiles(spark, dir)
    val fmgws = StreamingGate.closedSessionsFromFiles(spark, dir)
    rowSet(tws) shouldBe rowSet(fmgws)
  }

  test("cumulative paragraph gate: sink-written output ≡ driver-buffer output") {
    val dir = "/root/testdata/sf0.001"
    val viaBuffer =
      StreamingGate.streamAdmitParagraphCumulativeFromFiles(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-para-sink-spec")
    try {
      val out = tmp.resolve("out").toString
      val viaSink =
        StreamingGate.streamAdmitParagraphCumulativeSinked(spark, dir, out)
      // ordered comparison — both gates end in orderBy(doc_id); the
      // sink path must change WHERE survivors land, never WHAT survives
      rowList(viaSink) shouldBe rowList(viaBuffer)
      // the sink keeps one partition per epoch (the effectively-once
      // layout: a replayed epoch would overwrite only its own dir)
      val parts = new java.io.File(out).listFiles()
        .map(_.getName).filter(_.startsWith("batch_id=")).sorted
      parts shouldBe Array("batch_id=0", "batch_id=1", "batch_id=2")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("cumulative FUZZY paragraph gate: sink-written output ≡ " +
      "driver-buffer output, one committed epoch per batch") {
    val dir = "/root/testdata/sf0.001"
    val viaBuffer =
      StreamingGate.streamAdmitParagraphFuzzyCumulativeFromFiles(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pfz-sink-spec")
    try {
      val out = tmp.resolve("out").toString
      val viaSink = StreamingGate
        .streamAdmitParagraphFuzzyCumulativeSinked(spark, dir, out)
      // the sink path must change WHERE survivors land, never WHAT
      // survives — both gates end in orderBy(doc_id). The sinked face
      // also runs the every-2-batches store COMPACTION (its default
      // cadence) while the buffer face runs none, so this equality
      // additionally pins compaction-on ≡ compaction-off at the gate
      // level (the store-level twin is IndexStoreSpec's fuzzy test)
      rowList(viaSink) shouldBe rowList(viaBuffer)
      // effectively-once layout: one partition + one commit marker per
      // epoch (replay safety = marker guard on the sink half +
      // novel-only idempotent append on the store half, the latter
      // pinned in IndexStoreSpec's fuzzy-store test)
      val names = new java.io.File(out).listFiles().map(_.getName)
      names.filter(_.startsWith("batch_id=")).sorted shouldBe
        Array("batch_id=0", "batch_id=1", "batch_id=2")
      names.filter(_.startsWith("_committed_")).sorted shouldBe
        Array("_committed_0", "_committed_1", "_committed_2")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("gate runner: a failing onBatch surfaces its error; the query, " +
      "the stage dir and the shuffle-partition setting are cleaned up") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3") // not the runner's 4, so a restore shows
    try {
      var stage: java.nio.file.Path = null
      var inside = ""
      val err = intercept[Exception] {
        StreamingGate.runGate(spark) { st =>
          stage = st
          inside = spark.conf.get(key)
          val stream = StreamingGate.stagedStream(spark, st,
            spark.range(6).toDF("id"), "id")
          StreamingGate.drain(st, stream) { (_, _) =>
            throw new IllegalStateException("onBatch failed on purpose")
          }
        }
      }
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(
          _.contains("onBatch failed on purpose"))) shouldBe true
      inside shouldBe "4"
      spark.streams.active shouldBe empty
      java.nio.file.Files.exists(stage) shouldBe false
      spark.conf.get(key) shouldBe "3"
    } finally spark.conf.set(key, prev)
  }

  test("driver budget: MaxDriverBufferRows rows pass, one more fails " +
      "naming the sinked wiring") {
    StreamingGate.checkDriverBudget(StreamingGate.MaxDriverBufferRows)
    val e = intercept[IllegalStateException](
      StreamingGate.checkDriverBudget(StreamingGate.MaxDriverBufferRows + 1))
    e.getMessage should include("parquet-sinked gate wiring")
  }
}
