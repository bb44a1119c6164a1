package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** Structured Streaming variants of the interaction-branch analytics
  * (SURVEY.md §2.9, §7 extension): the reference is pure batch — its
  * "incremental" behavior is an externally re-scheduled re-run over a
  * filename date range (set-up.md:11-15, ETL_pipeline.py:217-220).
  * These operators compute the same aggregates continuously instead.
  *
  * Design rules (Spark-first):
  * - built-in event-time windows + watermarks wherever they express
  *   the semantics ([[windowedCategoryStats]], [[sessionWatch]]) —
  *   they get incremental state cleanup, AQE-free deterministic
  *   planning, and RocksDB-backed state for free;
  * - `mapGroupsWithState` ONLY for state no window can express:
  *   [[runningActiveness]]'s running distinct-date count per contract
  *   (a distinct-agg over an unbounded stream with live re-bucketing).
  *
  * Scale notes: state size is the whole game at 100 TB/day.
  * - windowed aggs keep one row per (window, key) and the watermark
  *   bounds retained windows;
  * - [[runningActiveness]] keeps ≤31 day-strings per contract (the
  *   bucket domain caps at 31 distinct days — beyond that the
  *   reference calls it "error" — so state is bounded by design);
  * - shuffles partition by the grouping key; skewed contracts are the
  *   same salting problem as batch.
  */
object Streaming {

  /** One viewing event — the stream-shaped `log_content` row. */
  final case class ViewEvent(
      contract: String,
      category: String,
      duration: Long,
      ts: Timestamp)

  /** Running activeness output row. */
  final case class ActivenessUpdate(
      contract: String,
      daysActive: Int,
      activeness: String)

  /** S1 as a stream: the JSON day-file directory read with
    * `readStream` — new files are discovered per micro-batch, which is
    * exactly the reference's "a new day landed, re-run" contract
    * without the external scheduler.
    */
  def readStreamJson(spark: SparkSession, schema: StructType,
      dir: String, maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** A3/A4 streaming — per-category watch seconds over tumbling
    * event-time windows. Late events beyond `watermark` are dropped
    * and their windows finalized (state evicted).
    */
  def windowedCategoryStats(events: DataFrame,
      windowDuration: String = "1 hour",
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration),
        col("contract"), col("category"))
      .agg(sum("duration").as("TotalDuration"),
        count(lit(1)).as("n_events"))

  /** Stream-static enrichment: the unbounded event stream joined to a
    * bounded dimension (here a category→weight dictionary) with an
    * explicit `broadcast` — the canonical "enrich the firehose from a
    * lookup table" topology. The join is STATELESS (each micro-batch
    * joins the static side; no join state, no watermark interplay —
    * only the downstream windowed agg holds state), and the static
    * side re-broadcasts only on restart. Dictionary misses drop (inner
    * join): unknown categories are quarantined upstream, the
    * reference's dictionary-join semantic. At 100 TB/day the static
    * side is a dimension table of at most a few hundred MB — exactly
    * the broadcast shape; a LARGE static side would instead bucket
    * (see [[graft.ops.Bucketed]]) so each micro-batch co-locates.
    */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame,
      windowDuration: String = "1 hour",
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("category"))
      .groupBy(window(col("ts"), windowDuration),
        col("contract"), col("category"))
      .agg(sum(col("duration") * col("weight")).as("weighted_duration"),
        count(lit(1)).as("n_events"))

  /** Streaming admission: the ingest-gate topology a training corpus
    * runs on every arriving document slice — EXACT "is this text
    * already in the corpus" semantics, fully STATELESS (no watermark,
    * no state store; the corpus knowledge rides in as a static side):
    *
    *  - `probe` is a pre-built Bloom predicate over the corpus texts
    *    ([[graft.ext.Dedup.bloomProbeEager]] — a literal, so each
    *    micro-batch evaluates it row-locally, zero extra jobs).
    *    Bloom-NEGATIVE documents are admitted outright (false
    *    negatives are impossible);
    *  - bloom-POSITIVE documents (true dups + fpp false positives)
    *    route through a stream-static LEFT ANTI join on the md5
    *    digest against the corpus digest set — the join mode Spark
    *    supports statelessly with the stream on the left — which
    *    recovers the false positives exactly.
    *
    * The union of the two branches equals batch "text not present in
    * corpus" — the oracle. At 100 TB the anti join's static side is
    * the corpus digest table (16 B a row): bucket it on digest so
    * each micro-batch co-locates instead of shuffling.
    */
  def streamAdmit(fresh: DataFrame, seenDigests: DataFrame,
      probe: org.apache.spark.sql.Column, textCol: String = "text"): DataFrame = {
    val pos = coalesce(probe, lit(false))
    val unseen = fresh.filter(col(textCol).isNull || !pos)
    val maybes = fresh.filter(col(textCol).isNotNull && pos)
      .withColumn("digest", md5(col(textCol)))
      .join(seenDigests, Seq("digest"), "left_anti")
      .drop("digest")
    unseen.unionByName(maybes)
  }

  /** Streaming FUZZY admission probe — the near-dup stage of the
    * ingest gate, run per micro-batch against a statically-indexed
    * corpus (the batch-built index is the "train offline, ship it"
    * artifact; [[graft.ext.Dedup.lshBands]] over the corpus is the
    * build):
    *
    *  - each arriving document computes its shingle-hash set, MinHash
    *    signature, and LSH bands ROW-LOCALLY (codegen'd projections —
    *    no state, no extra jobs);
    *  - a stream-static INNER equi-join on (band, band_hash) against
    *    `bandIndex` proposes candidates — the only corpus rows a
    *    fresh doc ever meets are same-bucket ones;
    *  - a second stream-static join pulls the candidate's shingle set
    *    from `corpusSets` and the exact Jaccard verify
    *    ([[graft.ext.Dedup.withSetJaccard]], row-local) keeps pairs ≥
    *    `minJaccard`.
    *
    * Fully stateless (no watermark, no state store): a document's
    * verdict completes within its own micro-batch because the static
    * side is the whole corpus index. Output is the verified near-dup
    * hits (new_id, corpus_id, jaccard) — the admission decision is
    * `exact-novel ANTI fuzzy-hit ids`, composed downstream (the
    * batch face is [[graft.ext.Dedup.minhashCrossPairs]], whose SQL
    * twin is this operator's oracle). A pair colliding in several
    * bands emits once per collision; distinct-ify downstream if pair
    * multiplicity matters.
    *
    * At 100 TB the static sides are the scale surface: `bandIndex` is
    * ~Bands rows × 44 B per corpus doc and `corpusSets` ~8 B per
    * corpus token — bucket BOTH on their join keys ((band, band_hash)
    * and corpus_id) so each micro-batch co-locates against them
    * instead of reshuffling, and let the small micro-batch side
    * stream against them (never broadcast the corpus).
    */
  def streamFuzzyHits(fresh: DataFrame, bandIndex: DataFrame,
      corpusSets: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minJaccard: Double = 0.5): DataFrame = {
    import graft.ext.HashDefs.ShingleN
    import graft.functions.TextHashFunctions.{minhash_signature, shingle_hashes}
    val withSets = fresh
      .withColumn("__hs", shingle_hashes(col(textCol), ShingleN))
      .filter(size(col("__hs")) > 0)
      .withColumn("__sig", minhash_signature(col("__hs")))
    graft.ext.Dedup.withSetJaccard(withSets
      .select(col(idCol).as("new_id"), col("__hs"),
        explode(graft.ext.Dedup.bandArray(col("__sig"))).as("__b"))
      .select(col("new_id"), col("__hs"),
        col("__b.band").as("band"), col("__b.band_hash").as("band_hash"))
      .join(bandIndex, Seq("band", "band_hash"))
      .filter(col("corpus_id") =!= col("new_id"))
      .join(corpusSets, Seq("corpus_id")), "__hs", "corpus_hs")
      .filter(col("jaccard") >= minJaccard)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** Streaming SUBSTRING admission probe — the middle rung of the
    * admission ladder (exact digest < shared verbatim span < fuzzy
    * near-dup): flag every arriving document that shares at least one
    * `spanWords`-word VERBATIM window with the corpus. Window hashes
    * are computed row-locally ([[graft.ext.Dedup.spanHashIndex]]'s
    * stride-1 formula as a projection + explode); the only join is a
    * stream-static LEFT SEMI against the corpus span-hash set
    * (`corpusSpans`: one `h` column, 8 B a row — at 100 TB bucket it
    * on h so micro-batches co-locate). Stateless end to end — the
    * semi-join emits each exploded (id, window) row at most once, so
    * a doc with several matching windows emits once per MATCHING
    * window; collapse to the doc SET downstream (a streaming
    * dropDuplicates here would drag in a state store for what is a
    * batch-local distinct — the gate does it at assembly).
    */
  def streamSubstringHits(fresh: DataFrame, corpusSpans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 8): DataFrame =
    fresh.select(col(idCol), explode(array_distinct(
        graft.functions.TextHashFunctions.span_hashes(
          col(textCol), spanWords))).as("h"))
      .join(corpusSpans.select("h"), Seq("h"), "left_semi")
      .select(idCol)

  /** Streaming PARAGRAPH admission — the paragraph-granularity rung
    * of the ingest ladder ([[graft.ext.Dedup.paragraphDedup]]'s
    * admission form): per micro-batch, each arriving document splits
    * ROW-LOCALLY into its non-blank paragraphs, each paragraph
    * hashes, and the ones the corpus already has are removed by a
    * stream-static LEFT ANTI join against the persisted corpus
    * paragraph-hash set ([[graft.io.IndexStore.readParagraphHashes]]
    * — 8 bytes per distinct corpus paragraph, the static side never
    * re-splits the corpus). Emits the SURVIVING (id, idx, para) rows:
    * the admitted unit is the paragraph — a doc arriving as pure
    * already-seen boilerplate contributes nothing — and document
    * reassembly is a deterministic order-by-idx fold over the
    * survivors at assembly time. Unlike the batch operator this rung
    * takes no position in WITHIN-slice duplication (two arriving
    * docs sharing a NEW paragraph both keep it — cross-batch state
    * is the store's job, via the append path). Stateless.
    */
  def streamParagraphSurvivors(fresh: DataFrame, corpusParas: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n\n"): DataFrame =
    graft.ext.Dedup.paragraphRows(fresh, idCol, textCol, sep)
      .withColumn("h", graft.ext.TextAnalysis.tokenHash60(col("para")))
      .join(corpusParas.select("h"), Seq("h"), "left_anti")
      .select(col("id").as(idCol), col("idx"), col("para"))

  /** Streaming IMAGE admission probe — the pixel-modality rung of the
    * ingest ladder (none of the text/embedding rungs can see a
    * re-encoded duplicate image). Per micro-batch: each arriving
    * payload decodes and fingerprints ROW-LOCALLY
    * ([[graft.ext.Multimodal.dHash64]] — real codec, one 64-bit
    * dHash per image, unparseable payloads dropped), explodes into
    * its `maxDist + 1` pigeonhole chunks, stream-static inner-joins
    * the batch-built corpus chunk table on (chunk, chunk_val), and
    * verifies exact `bit_count(xor)` against the candidate's stored
    * fingerprint — the streaming twin of
    * [[graft.ext.Dedup.hammingBandedPairs]]' candidate+verify split.
    * Stateless; a pair agreeing on several chunks emits per
    * agreement — collapse to the doc set at assembly. At 100 TB
    * `corpusChunks` (corpus_id, chunk, chunk_val, corpus_fp — 8 B of
    * payload per row) is bucketed on (chunk, chunk_val) so
    * micro-batches co-locate; pixels never reach the join.
    */
  def streamImageHits(freshMedia: DataFrame, corpusChunks: DataFrame,
      bits: Int = 64, maxDist: Int = 3): DataFrame =
    graft.ext.Multimodal.dHash64(freshMedia)
      .filter(col("dhash").isNotNull)
      .select(col("media_id").as("new_id"), col("dhash"),
        explode(graft.ext.Dedup.fpChunkArray(col("dhash"), bits, maxDist)).as("c"))
      .select(col("new_id"), col("dhash"),
        col("c.chunk").as("chunk"), col("c.chunk_val").as("chunk_val"))
      .join(corpusChunks, Seq("chunk", "chunk_val"))
      .filter(col("corpus_id") =!= col("new_id"))
      .withColumn("dist",
        bit_count(col("dhash").bitwiseXOR(col("corpus_fp"))).cast("int"))
      .filter(col("dist") <= maxDist)
      .select("new_id", "corpus_id", "dist")

  /** Streaming EMBEDDING admission probe — the vector rung of the
    * ingest ladder (exact digest < verbatim span < MinHash text <
    * embedding cosine: paraphrased near-dups share no shingles at all
    * but survive in embedding space). Per micro-batch:
    *
    *  - each arriving vector computes its norm and its buckets in all
    *    `nTables` LSH tables ROW-LOCALLY (one codegen'd
    *    [[graft.functions.LshBuckets]] loop over deterministic
    *    hash-seeded hyperplanes — the same planes the batch index was
    *    built with, which is what makes "train offline, probe online"
    *    coherent);
    *  - a stream-static INNER equi-join on (table, bucket) against
    *    `bucketIndex` proposes candidates;
    *  - a stream-static join pulls the candidate vector + norm from
    *    `corpusVecs` and ONE exact cosine per proposal keeps pairs
    *    ≥ `minCos`.
    *
    * Stateless like the other rungs (static side = whole corpus
    * index; verdicts complete within the micro-batch). A pair
    * colliding in several tables emits once per collision — collapse
    * at assembly. At 100 TB bucket `bucketIndex` on (table, bucket)
    * and `corpusVecs` on corpus_id so micro-batches co-locate; the
    * index is nTables rows × 20 B per corpus vector, the one
    * replicated artifact the OR-construction's recall buys.
    */
  def streamEmbedHits(fresh: DataFrame, bucketIndex: DataFrame,
      corpusVecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCos: Double = 0.45,
      nPlanes: Int = 6, nTables: Int = 8, dim: Int = 64): DataFrame = {
    import graft.ext.Similarity
    import graft.functions.LshFunctions.lsh_buckets
    Similarity.withNorm(
        fresh.select(col(idCol).as("new_id"), col(vecCol).as("vec")))
      .select(col("new_id"), col("vec"), col("norm"),
        posexplode(lsh_buckets(col("vec"), nPlanes, nTables, dim))
          .as(Seq("table", "bucket")))
      .join(bucketIndex, Seq("table", "bucket"))
      .filter(col("corpus_id") =!= col("new_id"))
      .join(corpusVecs, Seq("corpus_id"))
      .withColumn("cos", Similarity.cosineFromNorms(
        col("vec"), col("cvec"), col("norm"), col("cnorm")))
      .filter(col("cos") >= minCos)
      .select("new_id", "corpus_id", "cos")
  }

  /** Streaming drift histogram — the monitor face of
    * [[graft.ext.Drift]]: running fixed-width bucket counts of
    * `valueCol` over everything that has arrived (update mode; state
    * is ≤ nBuckets+1 rows — the histogram, nothing per-event). Bucket
    * formula is EXACTLY [[graft.ext.Drift.histogram]]'s, so the
    * upserted final counts feed
    * [[graft.ext.Drift.psiFromHistograms]] against a batch-built
    * reference and the PSI equals the batch computation on the same
    * slice — drift monitoring ON the ingest stream, priced at a
    * histogram of state. Fixed widths are what make this possible at
    * all: quantile edges would need retraining mid-stream.
    */
  def runningHistogram(events: DataFrame, valueCol: String,
      width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    events.filter(col(valueCol).isNotNull)
      .groupBy(least(lit(nBuckets - 1),
        floor(col(valueCol) / width)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt_cur"))
  }

  /** Per-source rate/volume anomaly verdicts — the admission-ladder
    * rung PSI drift doesn't cover: drift sees a DISTRIBUTION move,
    * this sees a VOLUME spike (a misbehaving crawler, a looping
    * upstream job, one source suddenly flooding the mix). Tumbling
    * event-time windows per source key; windows whose event count
    * exceeds `maxEventsPerWindow` emit a (window, key, n_events,
    * total_duration) verdict row — the block list an ingest
    * controller throttles or quarantines on.
    *
    * Scale shape: one watermark-finalized windowed aggregation
    * (map-side combinable; state = live windows × sources, bounded by
    * the watermark — never row-volume) and a row-local threshold.
    * Append mode, so each verdict emits exactly once when its window
    * finalizes; the verdict set is arrival-order-independent and
    * equals the batch GROUP BY / HAVING replay, which is the oracle.
    * The threshold is a SHIPPED SCALAR — calibrate it offline on
    * history (the gate harness uses rateFactor × the historical mean
    * per-(window, source) volume), the same train-offline/ship shape
    * as the NB weights and the Bloom bytes.
    */
  /** `maxVolumePerWindow` adds the VOLUME criterion the count alone
    * misses: a source can flood the mix with few-but-huge events
    * (one crawler shipping concatenated dumps) without tripping the
    * count threshold — a window is anomalous when EITHER signal
    * exceeds its (offline-calibrated) ceiling. Default ∞ keeps the
    * rung count-only.
    */
  def rateAnomalies(events: DataFrame, keyCol: String,
      windowDuration: String = "1 hour", watermark: String = "1 hour",
      maxEventsPerWindow: Double,
      maxVolumePerWindow: Double = Double.PositiveInfinity): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum("duration").as("total_duration"))
      .filter(col("n_events") > maxEventsPerWindow ||
        col("total_duration") > maxVolumePerWindow)
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n_events"), col("total_duration"))

  /** Viewing sessions per contract: built-in `session_window` — events
    * within `gap` of each other merge into one session row (start,
    * end, total watch time, event count). The built-in merges session
    * state incrementally; no custom state code.
    */
  def sessionWatch(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("contract"))
      .agg(sum("duration").as("TotalDuration"), count(lit(1)).as("n_events"))
      .select(col("contract"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("TotalDuration"),
        col("n_events"))

  /** Streaming exact dedup: drop rows whose content digest was already
    * seen, with state bounded by the watermark (a duplicate arriving
    * later than `watermark` after the original passes through — the
    * standard bounded-state tradeoff; route the output through the
    * batch [[graft.ext.Dedup.exactDedup]] for a final exact pass).
    */
  def streamingExactDedup(df: DataFrame, textCol: String,
      tsCol: String = "ts", watermark: String = "1 day"): DataFrame =
    df.withColumn("__digest", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("__digest")
      .drop("__digest")

  /** Micro-batch load path: route each micro-batch through a batch
    * [[graft.io.Sink]] (JDBC/parquet) — the streaming face of the
    * reference's load stage. `foreachBatch` hands over a normal
    * DataFrame per epoch, so the existing sinks work unchanged; Spark
    * guarantees at-least-once per epoch (sinks overwrite or upsert for
    * effectively-once).
    */
  def sinkEachBatch(df: DataFrame, sink: graft.io.Sink,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink.write(batch.toDF())
      }
      .start()

  /** One search event — the stream-shaped `log_search` row. */
  final case class SearchEvent(contract: String, keyword: String, ts: Timestamp)

  /** Stream-stream interval join: attach to each view event the search
    * events the same contract issued in the preceding `interval` — the
    * streaming face of the Merge stage's "what did they search before
    * watching". Both sides are watermarked, and the time-range
    * predicate bounds the join state Spark must retain (each side keeps
    * only `watermark + interval` of history — without the range
    * condition a stream-stream join's state grows forever).
    */
  def searchesBeforeView(views: DataFrame, searches: DataFrame,
      interval: String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("contract"), col("category"), col("duration"),
        col("ts").as("view_ts"))
    val s = searches.withWatermark("ts", watermark)
      .select(col("contract").as("s_contract"), col("keyword"),
        col("ts").as("search_ts"))
    v.join(s,
      col("contract") === col("s_contract") &&
        col("search_ts") <= col("view_ts") &&
        col("search_ts") >= col("view_ts") - expr(s"INTERVAL $interval"))
      .select("contract", "category", "duration", "view_ts",
        "keyword", "search_ts")
  }

  /** LEFT-OUTER variant of [[searchesBeforeView]]: every view emits —
    * matched rows eagerly, unmatched rows with null search columns
    * once the watermark proves no in-window search can still arrive
    * (view_ts + interval behind the watermark). This is the streaming
    * face of "views with and without an attributable search": the
    * null rows are the unattributed traffic a marketing join must not
    * silently drop.
    *
    * `views` must carry (contract, view_id, duration, ts) — the view's
    * own event id makes the output row identity explicit, which an
    * outer join needs (an unmatched view has no search id to anchor
    * on). State stays bounded exactly as the inner join: each side
    * buffers only rows newer than watermark − interval; the OUTER
    * semantics change only WHEN unmatched rows emit, not what is
    * retained.
    */
  def searchesBeforeViewOuter(views: DataFrame, searches: DataFrame,
      interval: String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("contract"), col("view_id"), col("duration"),
        col("ts").as("view_ts"))
    val s = searches.withWatermark("ts", watermark)
      .select(col("contract").as("s_contract"), col("keyword"),
        col("ts").as("search_ts"))
    v.join(s,
      col("contract") === col("s_contract") &&
        col("search_ts") <= col("view_ts") &&
        col("search_ts") >= col("view_ts") - expr(s"INTERVAL $interval"),
      "leftOuter")
      .select("contract", "view_id", "duration", "view_ts",
        "keyword", "search_ts")
  }

  /** One finalized viewing session (emitted exactly once, on close). */
  final case class SessionSummary(
      contract: String,
      session_start: Timestamp,
      session_end: Timestamp,
      totalDuration: Long,
      n_events: Int)

  /** Internal per-key state of [[closedSessions]] (public: the state
    * encoder's generated code constructs it reflectively). Times are
    * epoch MICROseconds — `Timestamp.getTime` is millis and would
    * silently truncate the micros the event-time column carries
    * (session bounds must round-trip exactly for the oracle gate).
    */
  final case class SessionState(
      start: Long, lastTs: Long, total: Long, n: Int)

  private def epochMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def tsFromMicros(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Emit-on-close sessions — the `flatMapGroupsWithState` face of
    * [[sessionWatch]]: where the built-in `session_window` re-emits a
    * session row every time it grows, this emits each session EXACTLY
    * ONCE, when it closes — either a later event opens the next session
    * (in-batch close) or the event-time watermark passes the session's
    * gap timeout (`EventTimeTimeout`, which is what finalizes the last
    * session of an idle key). That once-per-session contract is the one
    * downstream consumers like billing or training-example emission
    * need, and no built-in window expresses it.
    *
    * State per key is one fixed-size [[SessionState]] — bounded no
    * matter how long the stream runs; the timeout clears idle keys.
    */
  def closedSessions(events: Dataset[ViewEvent],
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "1 hour"): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.contract)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (contract: String, batch: Iterator[ViewEvent], state: GroupState[SessionState]) =>
          def close(s: SessionState): SessionSummary =
            SessionSummary(contract, tsFromMicros(s.start),
              tsFromMicros(s.lastTs + gapUs), s.total, s.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val evs = batch.toArray.sortBy(e => epochMicros(e.ts))
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            evs.foreach { e =>
              val t = epochMicros(e.ts)
              cur = cur match {
                case Some(s) if t - s.lastTs < gapUs && s.start - t < gapUs =>
                  // within the gap of the session interval on either
                  // side (min on start: a late-but-in-watermark event
                  // may precede the session's first event)
                  Some(SessionState(math.min(s.start, t), math.max(s.lastTs, t),
                    s.total + e.duration, s.n + 1))
                case Some(s) if t < s.start =>
                  // late by MORE than the gap: it cannot join the open
                  // session, and retro-sessionizing against other late
                  // events would need the full event buffer — emit it
                  // as its own closed session (bounded-state tradeoff,
                  // same spirit as the watermark cutoff)
                  closed ::= SessionSummary(contract, tsFromMicros(t),
                    tsFromMicros(t + gapUs), e.duration, 1)
                  Some(s)
                case Some(s) =>
                  closed ::= close(s)
                  Some(SessionState(t, t, e.duration, 1))
                case None =>
                  Some(SessionState(t, t, e.duration, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // setTimeoutTimestamp is epoch millis — round UP so the
              // timeout never fires sub-millisecond early
              state.setTimeoutTimestamp((s.lastTs + gapUs + 999L) / 1000L)
            }
            closed.reverse.iterator
          }
      }
  }

  /** [[closedSessions]] re-expressed on Spark 4's `transformWithState`
    * (the StatefulProcessor API that supersedes
    * flatMapGroupsWithState): same once-per-session emit-on-close
    * contract, same in-batch fold, with the event-time timeout
    * expressed as an explicit REGISTERED TIMER (fired when the
    * watermark passes lastTs + gap) instead of the implicit
    * per-group timeout slot.
    *
    * Semantics parity with [[closedSessions]] is oracle-gated
    * (q_stream_sessions_tws shares q_closed_sessions' oracle). One
    * operational difference worth the new API: timers are explicit
    * objects — re-keying a session DELETES the stale timer rather
    * than overwriting a single slot, which is the part
    * flatMapGroupsWithState hid and the part that goes wrong first
    * in hand-rolled processors.
    */
  def closedSessionsTws(events: Dataset[ViewEvent],
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "1 hour"): Dataset[SessionSummary] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.contract)(Encoders.STRING)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[SessionSummary])

  /** The [[closedSessionsTws]] state machine. Public top-level class:
    * the processor is serialized into the stateful operator and its
    * state encoder generates code against it.
    */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[String, ViewEvent, SessionSummary] {
    private val gapUs = gapMs * 1000L
    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    private def closeSession(contract: String, s: SessionState): SessionSummary =
      SessionSummary(contract, tsFromMicros(s.start),
        tsFromMicros(s.lastTs + gapUs), s.total, s.n)

    /** Timer slot for a session: epoch millis, rounded UP so the
      * timeout never fires sub-millisecond early (same rule as the
      * fMGWS face).
      */
    private def timerFor(s: SessionState): Long =
      (s.lastTs + gapUs + 999L) / 1000L

    override def handleInputRows(contract: String, rows: Iterator[ViewEvent],
        tv: TimerValues): Iterator[SessionSummary] = {
      val evs = rows.toArray.sortBy(e => epochMicros(e.ts))
      val prev = if (session.exists()) Some(session.get()) else None
      var closed = List.empty[SessionSummary]
      var cur = prev
      evs.foreach { e =>
        val t = epochMicros(e.ts)
        cur = cur match {
          case Some(s) if t - s.lastTs < gapUs && s.start - t < gapUs =>
            Some(SessionState(math.min(s.start, t), math.max(s.lastTs, t),
              s.total + e.duration, s.n + 1))
          case Some(s) if t < s.start =>
            // late by more than the gap: its own closed session (the
            // same bounded-state tradeoff closedSessions documents)
            closed ::= SessionSummary(contract, tsFromMicros(t),
              tsFromMicros(t + gapUs), e.duration, 1)
            Some(s)
          case Some(s) =>
            closed ::= closeSession(contract, s)
            Some(SessionState(t, t, e.duration, 1))
          case None =>
            Some(SessionState(t, t, e.duration, 1))
        }
      }
      cur.foreach { s =>
        // explicit timer hygiene: drop the previous session's timer
        // before arming the new one (timers accumulate, they are not
        // a single slot like fMGWS's setTimeoutTimestamp)
        prev.filter(p => timerFor(p) != timerFor(s))
          .foreach(p => getHandle.deleteTimer(timerFor(p)))
        session.update(s)
        getHandle.registerTimer(timerFor(s))
      }
      closed.reverse.iterator
    }

    override def handleExpiredTimer(contract: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionSummary] = {
      if (session.exists()) {
        val s = session.get()
        // stale-timer guard: only the timer armed for the CURRENT
        // lastTs may close the session
        if (info.getExpiryTimeInMs() >= timerFor(s)) {
          session.clear()
          Iterator.single(closeSession(contract, s))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** A2 streaming — running distinct-active-days count and activeness
    * bucket per contract, updated every micro-batch. No built-in
    * window expresses "distinct dates ever seen, re-bucketed live", so
    * this is the custom-state case: `mapGroupsWithState` holding the
    * set of seen day-strings (bounded: the bucket domain tops out at
    * 31 days, so state per contract is ≤31 short strings).
    *
    * Bucket edges mirror [[graft.ops.Interaction.activenessBucket]]
    * (ETL_pipeline.py:52-57), including the "error" bucket once a
    * contract exceeds 31 distinct days.
    */
  def runningActiveness(events: Dataset[ViewEvent]): Dataset[ActivenessUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.contract)
      .mapGroupsWithState[Set[String], ActivenessUpdate](
        GroupStateTimeout.NoTimeout) {
        (contract: String, batch: Iterator[ViewEvent], state: GroupState[Set[String]]) =>
          val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
          // explicit UTC (the session timezone), not the executor
          // JVM's default zone — day bucketing must not depend on
          // where the executor runs
          val newDays = batch.map(e =>
            e.ts.toInstant.atOffset(java.time.ZoneOffset.UTC)
              .toLocalDate.format(fmt)).toSet
          val days = state.getOption.getOrElse(Set.empty) ++ newDays
          state.update(days)
          val n = days.size
          val bucket =
            if (n >= 1 && n <= 7) "very low"
            else if (n <= 14) "low"
            else if (n <= 21) "moderate"
            else if (n <= 28) "high"
            else if (n <= 31) "very high"
            else "error"
          ActivenessUpdate(contract, n, bucket)
      }
  }
}
