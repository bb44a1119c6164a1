package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.io.IndexStore

/** Drives the STATEFUL streaming paths under the same hard oracle gate
  * as the batch registry: REAL Structured Streaming executions
  * (file source → micro-batches → stateful operator → `foreachBatch`),
  * not batch faces — the [[Streaming.closedSessions]] state machine,
  * the [[Streaming.searchesBeforeView]] stream-stream interval join,
  * and the [[Streaming.runningActiveness]] custom state all actually
  * run, with watermark advancement and event-time timeouts live.
  *
  * Determinism story (what makes a streaming run oracle-checkable):
  * - the input table is staged into files split on a FULL DATE
  *   threshold (the midpoint of the event date range) with strictly
  *   increasing modification times, so the file source
  *   (`maxFilesPerTrigger = 1`) replays them as micro-batches in
  *   event-time order — the watermark only ever moves forward past
  *   data that has already arrived, so no event is ever late and the
  *   late-data tradeoffs documented on [[Streaming.closedSessions]]
  *   never trigger. A calendar-field split (day-of-month) would
  *   interleave slices across a month boundary; the date threshold
  *   holds for ANY input range;
  * - each staged file's CONTENT is byte-deterministic: one scan + one
  *   hash shuffle on the slice id writes all slices, and a
  *   partition-local sort on (slice, ts, …all columns) pins row order
  *   (slice leads so the partitioned write inserts no extra — and not
  *   guaranteed-stable — sort of its own; equal-key rows are fully
  *   identical rows, so their relative order cannot matter);
  * - where a state timeout must fire ([[closedSessionsFromFiles]]),
  *   two sentinel files follow the real slices: the first advances max
  *   event time far past every real session (data-driven: max real ts
  *   + 1 year), the second triggers the micro-batch whose watermark
  *   fires the event-time timeout that closes every still-open real
  *   session. Sentinel rows are filtered from the output;
  * - therefore: emitted results = EXACTLY the batch formulation of the
  *   same query over the same events, which is the DuckDB oracle.
  *
  * Every gate is a short definition over ONE runner: [[runGate]] (stage
  * dir + state partitions + cleanup), [[stagedStream]] (slices → file
  * stream), [[drain]] (the only streaming query start in this file)
  * and its two collectors, [[collected]] and [[latestByKey]].
  *
  * At 100 TB/day the same topologies run unbounded: the staging step
  * is replaced by the real landing directory, the sentinels by the
  * continuous arrival of newer days, and foreachBatch by a parquet/
  * JDBC sink — state stays bounded either way (one fixed-size
  * SessionState per key; join state bounded by watermark + interval;
  * ≤31 day-strings per contract).
  */
object StreamingGate {

  /** Watermark-advancement marker value for contract/props in the
    * staged sentinel slices. Contains a NUL byte precisely so it can
    * NEVER equal real data: gate outputs filter rows whose key or
    * props equals this value, and user-domain strings (cast numeric
    * ids, free-text props) cannot contain NUL in the parquet-staged
    * corpus — a user document that happened to be the old
    * "__sentinel__" literal would have been silently dropped.
    */
  private val Sentinel = "\u0000graft.sentinel\u0000"

  /** Move the single part file under `srcDir` to `data/f<i>.parquet`
    * with a deterministic, strictly increasing modification time — the
    * file source orders batches by modTime, so this pins replay order.
    */
  private def promoteSlice(srcDir: java.io.File, stage: Path, i: Int,
      baseMs: Long): Unit = {
    val part = srcDir.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $srcDir"))
    val dest = stage.resolve("data").resolve(f"f$i%02d.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest)
    dest.toFile.setLastModified(baseMs + i * 60000L)
  }

  /** The boilerplate-augmented SYNTH face of a documents frame — the
    * paragraph gates' shared derived corpus (a 3-variant footer every
    * doc carries, plus a conditional body replacement that makes some
    * docs pure boilerplate). ONE definition on purpose: the
    * "-para-seen" store is memoized content-blind on (corpusDir,
    * variant), so every builder of that variant must produce
    * byte-identical text or the first face to run in a session
    * silently decides what the others read — and the faces' oracles
    * replay this construction literally, so a drifted copy would
    * fail verify order-dependently. Mirrored in SQL by the paragraph
    * faces' `synth` CTEs.
    */
  def paragraphSynthText(id: Column, text: Column): Column = {
    def boilerOf(v: Column): Column =
      concat(lit("subscribe to the graft newsletter variant "),
        v.cast("string"))
    concat_ws("\n\n",
      when(id % 10 === 7, boilerOf((id + 1) % 3)).otherwise(text),
      boilerOf(id % 3))
  }

  /** Write `df` as a single parquet file slice (tiny frames only). */
  private def writeSlice(df: DataFrame, stage: Path, i: Int, baseMs: Long): Unit = {
    val tmp = stage.resolve(s"tmp$i")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    promoteSlice(tmp.toFile, stage, i, baseMs)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Stage `df` as `n` pmod(idCol)-keyed slice files in ONE
    * partitioned write — the per-slice [[writeSlice]] loop paid one
    * source scan + one write job PER slice (3× the staging cost of
    * every ingest gate; guide §2.4). Byte-equal slices: slice k holds
    * exactly the `pmod(id, n) = k` rows sorted by id (one task per
    * slice value → one part file per slice dir; two slice values
    * hashing to one task still land in separate dirs, each internally
    * id-sorted because the task sort is (slice, id)). An empty slice
    * writes no dir under partitionBy, so it falls back to the
    * single-slice writer to keep the file count — and therefore the
    * micro-batch/trigger count — identical at every scale factor.
    */
  private def writeModSlices(df: DataFrame, idCol: String, stage: Path,
      baseMs: Long, n: Int): Unit = {
    val tmp = stage.resolve("tmpmod")
    df.withColumn("__slice", pmod(col(idCol), lit(n)).cast("int"))
      .repartition(n, col("__slice"))
      .sortWithinPartitions(col("__slice"), col(idCol))
      .write.partitionBy("__slice").mode("overwrite").parquet(tmp.toString)
    (0 until n).foreach { k =>
      val d = tmp.resolve(s"__slice=$k").toFile
      if (d.isDirectory) promoteSlice(d, stage, k, baseMs)
      else writeSlice(
        df.filter(pmod(col(idCol), lit(n)) === k).orderBy(idCol),
        stage, k, baseMs)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Midpoint date of `df`'s `ts` range — the slice threshold. */
  private def midpointDate(lo: java.sql.Date, hi: java.sql.Date): java.sql.Date =
    java.sql.Date.valueOf(lo.toLocalDate.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(lo.toLocalDate, hi.toLocalDate) / 2))

  /** Stage `ev` (must carry a `ts` timestamp column) into `stage/data`
    * as event-time-ordered slice files, then two sentinel slices. Rows
    * with `to_date(ts) <= cutoff` (the midpoint date) form slice 0,
    * the rest slice 1 — so slice 0 is entirely earlier in EVENT TIME
    * than slice 1 whatever calendar range the input spans (one slice
    * when one side of the threshold is empty). The sentinels are
    * data-driven: `sentinel(t)` rows at max real ts + 1 year, then an
    * hour later, so the final watermark closes every real session
    * whatever range the input spans (month/year boundaries included).
    */
  private def stageByEventTime(ev: DataFrame, stage: Path)(
      sentinel: Timestamp => DataFrame): Unit = {
    val baseMs = System.currentTimeMillis() - 3600000L
    val bounds = ev.agg(
      min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"),
      max(col("ts")).as("maxTs")).head()
    val cutoff = midpointDate(bounds.getDate(0), bounds.getDate(1))
    val tmp = stage.resolve("sliced")
    val orderCols = ("slice" +: "ts" +: ev.columns.filterNot(_ == "ts").toSeq)
      .map(col)
    ev.withColumn("slice",
        when(to_date(col("ts")) <= lit(cutoff), 0).otherwise(1))
      .repartition(2, col("slice"))
      .sortWithinPartitions(orderCols: _*)
      .write.partitionBy("slice").parquet(tmp.toString)
    val sliceDirs = tmp.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("slice="))
      .sortBy(_.getName)
    sliceDirs.zipWithIndex.foreach { case (d, i) =>
      promoteSlice(d, stage, i, baseMs)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    val farFuture = new Timestamp(
      bounds.getTimestamp(2).getTime + 365L * 24 * 3600 * 1000)
    Seq(farFuture, new Timestamp(farFuture.getTime + 3600000L))
      .zipWithIndex.foreach { case (t, i) =>
        writeSlice(sentinel(t), stage, sliceDirs.length + i, baseMs)
      }
  }

  private def newStage(): Path = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target", "streamtmp").toAbsolutePath),
    "gate_")

  /** Fail-loud driver budget for the foreachBatch sinks (guide §5,
    * VERDICT r18 §5): each per-batch `collect()` is already bounded
    * LOUD by `spark.driver.maxResultSize`, but the across-batch driver
    * buffer these gates accumulate was not — at 100 TB/day a hot
    * stream would grow it to an unexplained driver OOM. Called inside
    * every sink's synchronized upsert with the buffer's NEW size;
    * exceeding the budget names the production remedy (the
    * parquet-`sinked` gate variants keep results executor-side).
    */
  private[streaming] val MaxDriverBufferRows = 8L << 20
  private[streaming] def checkDriverBudget(bufRows: Long): Unit =
    if (bufRows > MaxDriverBufferRows)
      throw new IllegalStateException(
        s"foreachBatch driver buffer exceeded $MaxDriverBufferRows rows — " +
          "use the parquet-sinked gate wiring for hot streams")

  /** Run `body` with `spark.sql.shuffle.partitions` = `n`, restoring
    * the previous value after. Stateful streaming commits one state
    * store PER shuffle partition PER micro-batch — at the gate's key
    * cardinality (hundreds of contracts) 32 stores are pure commit
    * overhead (measured 6.7 s → 3.8 s per run at 8). This is the
    * deployment knob "size state partitions to key cardinality", made
    * explicit; correctness is partition-count-invariant (hash
    * aggregation), which the oracle gate itself re-proves every run.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** The gate runner's frame: a fresh stage dir (staged slices, the
    * query checkpoint, any per-run store) for `body`, run under
    * [[withStatePartitions]] 4. The stage is deleted however `body`
    * ends, so a gate's returned frame must not read it: results are
    * driver rows or `localCheckpoint`ed. Corpus-side work that ran
    * before a gate's state partitions were set (memoized index
    * builds, offline calibration) stays outside the call.
    */
  private[streaming] def runGate[T](s: SparkSession)(body: Path => T): T = {
    val stage = newStage()
    try withStatePartitions(s, 4)(body(stage))
    finally org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
  }

  /** The slices under `stage/data` as a file-source stream: one file
    * per micro-batch, in modification-time order. `schema` is the
    * staged frame's own, every field nullable (as a file source reads
    * it anyway).
    */
  private def fileStream(s: SparkSession, stage: Path,
      schema: StructType): DataFrame =
    s.readStream
      .schema(StructType(schema.map(_.copy(nullable = true))))
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.resolve("data").toString)

  /** Stage `frame` as `n` id-keyed slices ([[writeModSlices]]) and
    * replay them as a file stream — the staging of every gate whose
    * input carries no event time.
    */
  private[streaming] def stagedStream(s: SparkSession, stage: Path,
      frame: DataFrame, idCol: String, n: Int = 3): DataFrame = {
    writeModSlices(frame, idCol, stage, System.currentTimeMillis() - 3600000L, n)
    fileStream(s, stage, frame.schema)
  }

  /** Run `out` to completion: every staged file is processed, each
    * micro-batch handed to `onBatch` (sequentially, in batch order),
    * the checkpoint kept under `stage`. The one streaming query start
    * in this file; the query is stopped however the drain ends, and an
    * `onBatch` failure surfaces from here.
    */
  private[streaming] def drain[T](stage: Path, out: Dataset[T],
      mode: String = "append")(onBatch: (Dataset[T], Long) => Unit): Unit = {
    val query = out.writeStream
      .option("checkpointLocation", stage.resolve("ckpt").toString)
      .outputMode(mode)
      .foreachBatch(onBatch)
      .start()
    try query.processAllAvailable() finally query.stop()
  }

  /** Append `rows` to a driver buffer kept across micro-batches, under
    * [[checkDriverBudget]].
    */
  private def buffered[A](buf: ArrayBuffer[A], rows: Array[A]): Unit =
    buf.synchronized { buf ++= rows; checkDriverBudget(buf.length) }

  /** Every row `out` emits, as one driver-side frame with `out`'s
    * schema — the oracle-harness collector (bounded: the staged
    * fixtures are small; the sinked gate variants are the serving
    * shape).
    */
  private[streaming] def collected(stage: Path, out: DataFrame): DataFrame = {
    val buf = ArrayBuffer.empty[Row]
    drain(stage, out)((batch, _) => buffered(buf, batch.collect()))
    out.sparkSession.createDataFrame(buf.synchronized(buf.toList).asJava,
      out.schema)
  }

  /** The LAST row `out` emitted per `key` in update mode — upserted
    * batch by batch, exactly what a downstream serving table would
    * hold. foreachBatch runs epochs sequentially, so last write wins
    * in batch order.
    */
  private[streaming] def latestByKey(stage: Path, out: DataFrame,
      key: String): DataFrame = {
    val last = HashMap.empty[Any, Row]
    drain(stage, out, "update") { (batch, _) =>
      val rows = batch.collect()
      last.synchronized {
        rows.foreach(r => last(r.getAs[Any](key)) = r)
        checkDriverBudget(last.size)
      }
    }
    out.sparkSession.createDataFrame(
      last.synchronized(last.values.toList).asJava, out.schema)
  }

  /** `df` without the rows the sentinel slices produced in column `c`
    * (null-safe: a null key is real data and stays).
    */
  private def dropSentinel(df: DataFrame, c: String): DataFrame =
    df.filter(!(col(c) <=> lit(Sentinel)))

  /** The admission gates' split of `df`: the SEEN corpus (id bucket
    * < 500 of 1000) and the FRESH slice that arrives as micro-batches
    * (bucket 500–599). The faces' oracles replay the same buckets.
    */
  private def seenFresh(df: DataFrame,
      idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val bucket = graft.ext.TrainingData.splitBucket(col(idCol), 1000)
    (df.filter(bucket < 500), df.filter(bucket >= 500 && bucket < 600))
  }

  /** One staged slice set per events dir per JVM, shared by every
    * FromFiles gate. Staging was the gates' common fixed tax — a
    * bounds aggregation plus a shuffle-write of the whole events
    * table, paid once per gate per run (~1 s × 7 gates at sf0.1);
    * every gate replays a PROJECTION of the same table, so one
    * superset stage serves them all. The two sentinel slices carry a
    * `v` AND an `s` row each (the global watermark is the MIN across
    * branch watermark operators — a one-sided sentinel would pin the
    * outer join's eviction watermark at the real-data max), which
    * also serves the single-input gates: they see two far-future
    * sentinel rows and filter the [[Sentinel]] contract/props from
    * their output. Gates that need no sentinel (inner join, dedup,
    * activeness) replay them as two extra tiny batches — strictly
    * cheaper than re-staging. The staged files are inputs only
    * (checkpoints stay per-gate in their own temp dirs), so sharing
    * cannot couple gate state; a shutdown hook removes the files.
    * Each entry keeps the stage and its superset schema: `side` tags
    * the join roles (`v` = view, `s` = search/click, `o` = other
    * event types — the session/window/dedup gates consume all three).
    */
  private val sharedStages =
    new java.util.concurrent.ConcurrentHashMap[String, (Path, StructType)]()

  /** Cache key = dir + a listing fingerprint (relative path, size,
    * mtime of every file under events.parquet): if the dataset at
    * the path is regenerated in-process, the next gate sees a new
    * key and re-stages instead of silently replaying stale slices.
    * A superseded entry's files linger until the JVM-exit hook —
    * bounded by how often a session rewrites its own input.
    */
  private def eventsFingerprint(dir: String): String = {
    val root = Paths.get(dir, "events.parquet")
    if (!Files.exists(root)) "absent"
    else {
      val walk = Files.walk(root)
      try {
        val listing = walk.filter(p => Files.isRegularFile(p))
          .sorted()
          .map[String](p => s"${root.relativize(p)}:${Files.size(p)}:" +
            s"${Files.getLastModifiedTime(p).toMillis}")
          .toArray.mkString("|")
        java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5")
            .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      } finally walk.close()
    }
  }

  private def sharedSlices(s: SparkSession, dir: String): (Path, StructType) =
    sharedStages.computeIfAbsent(s"$dir@${eventsFingerprint(dir)}", { _ =>
      import s.implicits._
      val stage = newStage()
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile): Unit))
      val tagged = Tables(s, dir, "events").select(
        col("user_id").cast("string").as("contract"),
        col("event_type").as("category"),
        floor(col("value")).cast("long").as("duration"),
        col("event_id").cast("string").as("keyword"),
        col("props"),
        col("ts"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "s")
          .otherwise("o").as("side"))
      stageByEventTime(tagged, stage)(t => Seq(
          (Sentinel, "view", 0L, "0", Sentinel, t, "v"),
          (Sentinel, "view", 0L, "0", Sentinel, t, "s"))
        .toDF(tagged.columns.toSeq: _*))
      (stage, tagged.schema)
    })

  /** Build the shared slice set for `dir` eagerly (idempotent). A
    * harness that runs several gates — especially concurrently — can
    * pay the one-time staging up front so no single gate's wall clock
    * absorbs it.
    */
  def prestage(s: SparkSession, dir: String): Unit = {
    sharedSlices(s, dir); ()
  }

  /** The shared slice set as a file-source stream (one slice per
    * micro-batch, event-time ordered).
    */
  private def sharedStream(s: SparkSession, dir: String): DataFrame = {
    val (stage, schema) = sharedSlices(s, dir)
    fileStream(s, stage, schema)
  }

  /** Sessionize arbitrary prepared events (contract, category,
    * duration, ts) through the real streaming stack and return the
    * closed sessions as a batch DataFrame: (contract, session_start,
    * session_end, total_duration, n_events), ordered.
    */
  def closedSessionsFromEvents(s: SparkSession, ev: DataFrame,
      gapMinutes: Int = 30, watermark: String = "1 hour",
      sessionize: (Dataset[Streaming.ViewEvent], Long, String) =>
        Dataset[Streaming.SessionSummary] = Streaming.closedSessions(_, _, _)): DataFrame =
    runGate(s) { stage =>
      import s.implicits._
      val staged = ev.select("contract", "category", "duration", "ts")
      stageByEventTime(staged, stage)(t =>
        Seq((Sentinel, "view", 0L, t)).toDF(staged.columns.toSeq: _*))
      sessionRows(s, stage, fileStream(s, stage, staged.schema), gapMinutes,
        watermark, sessionize)
    }

  /** Drive `sessionize` over a prepared event stream, collecting the
    * closed sessions (sentinel contracts filtered).
    */
  private def sessionRows(s: SparkSession, stage: Path, stream: DataFrame,
      gapMinutes: Int, watermark: String,
      sessionize: (Dataset[Streaming.ViewEvent], Long, String) =>
        Dataset[Streaming.SessionSummary]): DataFrame = {
    import s.implicits._
    val sessions = sessionize(stream.as[Streaming.ViewEvent],
      gapMinutes * 60000L, watermark)
    dropSentinel(collected(stage, sessions.toDF()), "contract")
      .select(col("contract"), col("session_start"), col("session_end"),
        col("totalDuration").as("total_duration"), col("n_events"))
      .orderBy("contract", "session_start")
  }

  /** The registry face: sessionize the events table; duration =
    * floor(value) so the sum is exact integer arithmetic on both
    * engines. Replays the SHARED slice set (sessions consume every
    * event type, so the superset projects straight down).
    */
  def closedSessionsFromFiles(s: SparkSession, dir: String,
      gapMinutes: Int = 30, watermark: String = "1 hour",
      sessionize: (Dataset[Streaming.ViewEvent], Long, String) =>
        Dataset[Streaming.SessionSummary] = Streaming.closedSessions(_, _, _)): DataFrame =
    runGate(s) { stage =>
      val stream = sharedStream(s, dir)
        .select("contract", "category", "duration", "ts")
      sessionRows(s, stage, stream, gapMinutes, watermark, sessionize)
        .select(col("contract").cast("long").as("user_id"),
          col("session_start"), col("session_end"),
          col("total_duration"), col("n_events"))
        .orderBy("user_id", "session_start")
    }

  /** [[closedSessionsFromFiles]] on the `transformWithState` session
    * machine ([[Streaming.closedSessionsTws]]): same staged slices,
    * same batch oracle. transformWithState needs state-store column
    * families, so the RocksDB provider (the production profile) is
    * pinned for the run and restored after — this gate is therefore
    * also the registry's standing RocksDB execution.
    */
  def closedSessionsTwsFromFiles(s: SparkSession, dir: String,
      gapMinutes: Int = 30, watermark: String = "1 hour"): DataFrame = {
    // the provider flip lives on a CLONED session (shared context,
    // isolated SQLConf): a streaming query started concurrently on
    // `s` can neither inherit nor lose the RocksDB provider mid-run
    val iso = s.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.GraftSession.rocksDbStateStore(
        "spark.sql.streaming.stateStore.providerClass"))
    closedSessionsFromFiles(iso, dir, gapMinutes, watermark,
      sessionize = Streaming.closedSessionsTws(_, _, _))
  }

  /** STREAM-STREAM interval join under the gate: views (event_type =
    * 'view') joined to the searches (event_type = 'click', keyword =
    * the click's event id) the same user issued in the preceding
    * `intervalMinutes` — a REAL [[Streaming.searchesBeforeView]] run.
    *
    * Both sides are staged into ONE tagged file stream and split with
    * filters, so every micro-batch carries the same time range of both
    * sides by construction — no cross-source batch-alignment hazard:
    * a boundary match (search late in slice 0, view early in slice 1)
    * is still found because the join buffers each side in state until
    * the watermark passes beyond its join window. Inner-join matches
    * emit eagerly in append mode, so no sentinel is needed: once all
    * files are processed the emitted set IS the batch interval join,
    * which is the DuckDB oracle.
    */
  def searchJoinFromFiles(s: SparkSession, dir: String,
      intervalMinutes: Int = 60, watermark: String = "1 hour"): DataFrame =
    runGate(s) { stage =>
      val stream = sharedStream(s, dir)
      val joined = Streaming.searchesBeforeView(
          stream.filter(col("side") === "v")
            .select("contract", "category", "duration", "ts"),
          stream.filter(col("side") === "s").select("contract", "keyword", "ts"),
          interval = s"$intervalMinutes minutes", watermark = watermark)
        .select("contract", "duration", "view_ts", "keyword", "search_ts")
      // the shared sentinels are same-timestamp v+s rows, so they
      // inner-join each other — drop them with the usual filter
      dropSentinel(collected(stage, joined), "contract")
        .select(col("contract").cast("long").as("user_id"),
          col("view_ts"), col("duration"),
          col("keyword").cast("long").as("search_event_id"),
          col("search_ts"))
        .orderBy("user_id", "view_ts", "search_event_id")
    }

  /** STREAM-STREAM LEFT-OUTER interval join under the gate: a REAL
    * [[Streaming.searchesBeforeViewOuter]] run. Unlike the inner
    * gate, unmatched views only emit when the watermark passes their
    * join window, so this needs the session gate's sentinel pattern:
    * two far-future slices advance the watermark past every real
    * view's window (closing the outer state), and the sentinel's own
    * rows are filtered from the output. Emitted set = the batch LEFT
    * JOIN with the same interval predicate, which is the oracle.
    * Each emitted row has its view side always present;
    * keyword/search_ts are null when no in-window search existed.
    */
  def searchJoinOuterFromFiles(s: SparkSession, dir: String,
      intervalMinutes: Int = 60, watermark: String = "1 hour"): DataFrame =
    runGate(s) { stage =>
      // keyword doubles as the generic event-id carrier on BOTH sides
      // of the shared stage: the view's own id on 'v' rows, the search
      // id on 's' rows. The shared sentinel slices carry both sides —
      // the global watermark is the MIN across the two branch
      // watermark operators, so a views-only sentinel would leave the
      // searches branch (and with it the join's eviction watermark)
      // pinned at the real-data max.
      val stream = sharedStream(s, dir)
      val joined = Streaming.searchesBeforeViewOuter(
          stream.filter(col("side") === "v")
            .select(col("contract"), col("keyword").as("view_id"),
              col("duration"), col("ts")),
          stream.filter(col("side") === "s").select("contract", "keyword", "ts"),
          interval = s"$intervalMinutes minutes", watermark = watermark)
        .select("contract", "view_id", "duration", "view_ts", "keyword",
          "search_ts")
      dropSentinel(collected(stage, joined), "contract")
        .select(col("contract").cast("long").as("user_id"),
          col("view_id").cast("long").as("view_event_id"),
          col("view_ts"), col("duration"),
          col("keyword").cast("long").as("search_event_id"),
          col("search_ts"))
        .orderBy(col("user_id"), col("view_event_id"),
          coalesce(col("search_event_id"), lit(-1L)))
    }

  /** WINDOWED AGGREGATION under the gate: a REAL append-mode
    * [[Streaming.windowedCategoryStats]] run — the watermark must
    * finalize every hourly window (windows emit only when the
    * watermark passes their end, so this exercises the state-eviction
    * machinery, not just the agg), driven by the same sentinel pattern
    * as the session gate. The finalized-window set must equal the
    * batch `date_trunc` aggregation, which is the oracle.
    */
  def windowStatsFromFiles(s: SparkSession, dir: String,
      windowDuration: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    runGate(s) { stage =>
      // append mode: only watermark-finalized windows emit
      val windows = Streaming.windowedCategoryStats(
          sharedStream(s, dir).select("contract", "category", "duration", "ts"),
          windowDuration = windowDuration, watermark = watermark)
        .select(col("window.start").as("window_start"), col("contract"),
          col("category").as("event_type"),
          col("TotalDuration").as("total_duration"), col("n_events"))
      dropSentinel(collected(stage, windows), "contract")
        .select(col("window_start"),
          col("contract").cast("long").as("user_id"),
          col("event_type"), col("total_duration"), col("n_events"))
        .orderBy("window_start", "user_id", "event_type")
    }

  /** STREAMING RATE-ANOMALY ADMISSION under the gate: a REAL
    * [[Streaming.rateAnomalies]] run over the staged event slices —
    * per-source tumbling-window volume counts, windows over the
    * threshold emitted as the gate's block-list verdict when the
    * watermark finalizes them. Sentinel rows ride far-future windows
    * (never finalized) and count 1 ≤ threshold besides, so they
    * cannot reach the verdict; the batch GROUP BY / HAVING replay is
    * the oracle.
    */
  def streamAdmitRateFromFiles(s: SparkSession, dir: String,
      windowDuration: String = "1 hour",
      rateFactor: Double = 2.0, volFactor: Double = 2.0): DataFrame = {
    // offline calibration: the shipped-scalar thresholds are factor ×
    // the historical mean per-(window, source) event count AND data
    // volume — exact integer sums/counts then one division each, so
    // both engines compute the identical binary64 and neither verdict
    // boundary can drift. The volume criterion catches the flood the
    // count misses: few-but-huge events from one source.
    val stats = Tables(s, dir, "events")
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("c"),
        sum(floor(col("value")).cast("long")).as("d"))
      .agg(avg("c"), avg("d")).head()
    val threshold = rateFactor * stats.getDouble(0)
    val volThreshold = volFactor * stats.getDouble(1)
    runGate(s) { stage =>
      // append mode: verdicts emit once, watermark-finalized
      collected(stage, Streaming.rateAnomalies(
          sharedStream(s, dir).select("contract", "category", "duration", "ts"),
          "category", windowDuration, watermark = "1 hour", threshold,
          volThreshold)
        .withColumnRenamed("category", "event_type"))
        .orderBy("window_start", "event_type")
    }
  }

  /** The enrich gate's category→weight dictionary — the ONE source
    * the gate's dim frame, the spec's batch comparator, and the
    * registry oracle's SQL VALUES list are all built from, so the
    * three can't drift. "view" is deliberately present (sentinel
    * category — filtered by contract, not by dictionary miss) and
    * "error" deliberately absent (the miss-drop semantic under test).
    */
  val EnrichDict: Seq[(String, Long)] =
    Seq(("signup", 3L), ("purchase", 10L), ("view", 1L), ("click", 2L))

  /** STREAM-STATIC ENRICH under the gate: a REAL
    * [[Streaming.streamStaticEnrich]] run — every micro-batch joins
    * the broadcast category→weight dictionary before the windowed
    * agg, so the gate pins BOTH the stateless stream-static join
    * (dictionary misses drop: the sentinel category "view" is in the
    * dict, so sentinels are filtered by contract as usual; the
    * events corpus's "error" category is NOT, and must vanish) and
    * the watermark-finalized window emission downstream of it. The
    * weighted sums are integer-exact (long × long), so the full
    * surface hashes cross-engine.
    */
  def streamEnrichFromFiles(s: SparkSession, dir: String,
      windowDuration: String = "1 hour"): DataFrame =
    runGate(s) { stage =>
      import s.implicits._
      // append mode: only watermark-finalized windows emit
      val windows = Streaming.streamStaticEnrich(
          sharedStream(s, dir).select("contract", "category", "duration", "ts"),
          EnrichDict.toDF("category", "weight"),
          windowDuration = windowDuration)
        .select(col("window.start").as("window_start"), col("contract"),
          col("category").as("event_type"), col("weighted_duration"),
          col("n_events"))
      dropSentinel(collected(stage, windows), "contract")
        .select(col("window_start"),
          col("contract").cast("long").as("user_id"),
          col("event_type"), col("weighted_duration"), col("n_events"))
        .orderBy("window_start", "user_id", "event_type")
    }

  /** STREAMING EXACT DEDUP under the gate: a REAL
    * [[Streaming.streamingExactDedup]] run over the staged slices.
    * The gate pins the state CONTRACT — every distinct payload is
    * emitted exactly once across micro-batch boundaries (a state miss
    * would re-emit a seen key; a state over-hold would drop a new
    * one) — so the output projects the payload column only: which
    * carrier ROW survives for a duplicated payload is
    * arrival-order-dependent, but the surviving SET is exact. The
    * watermark is set far past the replayed range so no state evicts
    * (the eviction tradeoff is spec-covered); the result must equal
    * the batch DISTINCT, which is the oracle.
    */
  def streamDedupFromFiles(s: SparkSession, dir: String): DataFrame =
    runGate(s) { stage =>
      val kept = Streaming.streamingExactDedup(
          sharedStream(s, dir).select("props", "ts"), textCol = "props",
          watermark = "3650 days")
        .select("props")
      // the shared sentinels carry a synthetic props payload — not
      // part of the events DISTINCT the oracle computes
      dropSentinel(collected(stage, kept), "props").orderBy("props")
    }

  /** STREAMING ADMISSION under the gate: a REAL
    * [[Streaming.streamAdmit]] run — the fresh documents slice
    * arrives as micro-batches (staged by doc_id band, three files)
    * and each batch splits on a pre-built corpus Bloom: negatives
    * admit outright, positives route through the stream-static LEFT
    * ANTI digest join (the one join mode no other gate exercises).
    * Fully stateless: no watermark, no state store, no sentinels —
    * output must equal the batch "text not in corpus" formulation,
    * which is the DuckDB oracle. Uses its own tiny stage (documents
    * carry no event time, so the shared event slices don't apply).
    */
  def streamAdmitFromFiles(s: SparkSession, dir: String): DataFrame = {
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    runGate(s) { stage =>
      // three arrival batches, deterministic content (sorted single
      // files, increasing mtimes) — arrival order cannot affect the
      // admitted SET (stateless ops), the slicing just proves the
      // per-micro-batch path end-to-end
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      val probe = graft.ext.Dedup.bloomProbeEager(seen, "text",
        expectedSeen = 1000L, fpp = 0.01)
      val seenDigests = seen.select(md5(col("text")).as("digest")).distinct()
      collected(stage, Streaming.streamAdmit(stream, seenDigests, probe)
        .select("doc_id")).orderBy("doc_id")
    }
  }

  /** STREAMING ADMISSION FROM PERSISTED INDEXES: the exact + model
    * rungs served from [[graft.io.IndexStore]]'s parquet artifacts —
    * the production wiring where the gate process never sees the
    * corpus, only the nightly-built index directory. The digest
    * anti-join's static side is the persisted digest table; the model
    * filter's weight map loads from the persisted weight table. Both
    * rungs are stateless (no watermark, no state store), so the
    * admitted set is arrival-order-independent and equals the batch
    * formulation — the DuckDB oracle replays both rungs from the raw
    * tables, pinning the write→read round trip.
    */
  def streamAdmitPersistedFromFiles(s: SparkSession, dir: String): DataFrame = {
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    val idxDir = IndexStore.ensureAdmissionIndexes(seen, dir)
    runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      val digests = IndexStore.readDigests(s, idxDir)
      val weights = IndexStore.readNbWeightsMicro(s, idxDir)
      collected(stage, graft.ext.QualityModel.admitByModel(
          stream.withColumn("digest", md5(col("text")))
            .join(digests, Seq("digest"), "left_anti")
            .drop("digest"),
          weights)
        .select("doc_id")).orderBy("doc_id")
    }
  }

  /** STREAMING INDEX-STORE MAINTENANCE under the gate: the ingest
    * loop for the per-source overlap sketches run as a REAL stream —
    * each arriving micro-batch is sketched and appended to the
    * persisted store from inside `foreachBatch` (batch 0 writes the
    * store + manifest, later batches
    * [[graft.io.IndexStore.appendSourceSketches]]), and after the
    * stream drains the overlap matrix is SERVED from the store. The
    * gate pins the mergeable-sketch exactness claim live: min-merge
    * is associative/commutative/idempotent, so however the planner
    * slices the corpus into micro-batches, serve-after-stream must
    * equal the one-shot batch matrix — which is exactly the DuckDB
    * oracle (the same est replay as the batch faces). Stateless on
    * the stream side (the STORE is the state), like every
    * maintenance job should be.
    */
  def streamSketchMaintenanceFromFiles(s: SparkSession, dir: String): DataFrame =
    runGate(s) { stage =>
      val storeDir = stage.resolve("store").toString
      val stream = stagedStream(s, stage,
        Tables(s, dir, "documents").select("doc_id", "source", "text"), "doc_id")
      drain(stage, stream) { (batch, batchId) =>
        if (batchId == 0L) IndexStore.writeSourceSketches(batch, storeDir)
        else IndexStore.appendSourceSketches(batch, storeDir)
      }
      graft.ext.Dedup.sketchOverlapEst(IndexStore.readSourceSketches(s, storeDir))
        .orderBy("source_a", "source_b")
        .localCheckpoint() // materialize before the stage dir is deleted
    }

  /** Gopher structural-rules rung of the streaming admission ladder:
    * each arriving micro-batch is filtered by the five
    * language-agnostic Gopher rules
    * ([[graft.ext.TextAnalysis.gopherStructuralPass]] — word count,
    * mean word length, alpha fraction, symbol ratio, duplicate
    * bigrams; the English stop-word prior stays out of an ingest
    * gate). Stateless pure projection like the quality rung, so the
    * admitted set must equal the batch replay bit-for-bit.
    */
  def streamAdmitGopherFromFiles(s: SparkSession, dir: String): DataFrame = {
    val (_, fresh) = seenFresh(Tables(s, dir, "documents"))
    runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      collected(stage, stream
        .filter(graft.ext.TextAnalysis.gopherStructuralPass(col("text")))
        .select("doc_id")).orderBy("doc_id")
    }
  }

  /** STREAMING MODEL-QUALITY ADMISSION under the gate: the model rung
    * of the ingest ladder — NB weights are trained OFFLINE on the
    * corpus half ([[graft.ext.QualityModel.nbWeightsMicro]], the
    * train-then-ship artifact), and each arriving micro-batch is
    * filtered by the row-local integer micro-llr fold
    * ([[graft.ext.QualityModel.admitByModel]]). Fully stateless — no
    * watermark, no state store, no join even: scoring is a pure
    * projection, so the admitted SET is arrival-order-independent and
    * must equal the batch formulation, which is the DuckDB oracle
    * (the model replayed in SQL end-to-end: integer teacher labels,
    * integer count surfaces, one rounded-to-micro llr per term, exact
    * BIGINT sums).
    */
  def streamAdmitQualityFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.QualityModel
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      val weights = QualityModel.nbWeightsMicro(seen, "doc_id", "text")
      collected(stage, QualityModel.admitByModel(stream, weights)
        .select("doc_id")).orderBy("doc_id")
    }
  }

  /** STREAMING DSIR ADMISSION under the gate: the target-relevance
    * rung — the PERSISTED DSIR weight table
    * ([[graft.io.IndexStore.ensureDsirWeights]], trained offline on
    * the raw-vs-target split the batch resample faces use) is shipped
    * as a literal map and each arriving micro-batch is filtered by
    * the row-local exact-integer fold
    * ([[graft.ext.QualityModel.nbScoreMicro]] — DSIR with unigram
    * features IS that two-class model, with "drawn from the target
    * corpus" as the class). The calibrated bar is sum_llr > 0: the
    * document reads as more target-like than raw-like, the zero-point
    * the micro-llr construction defines (the NB quality gate's own
    * bar). Fully stateless — no watermark, no state store, no join —
    * so the admitted SET is arrival-order-independent and must equal
    * the batch replay (weights, exact BIGINT sums) bit-for-bit, which
    * is the DuckDB oracle. Unlike the Gumbel-noised resample faces
    * this rung THRESHOLDS rather than samples: an ingest gate decides
    * per document as it arrives; the diversity-preserving sampling
    * pass stays a batch job over admitted documents.
    */
  def streamAdmitDsirFromFiles(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val isTarget = col("source").isin("src0", "src1")
    val idxDir = IndexStore.ensureDsirWeights(
      d.filter(!isTarget), d.filter(isTarget), dir, tag = "src01")
    val weights = IndexStore.readDsirWeightsMicro(s, idxDir)
    val (_, fresh) = seenFresh(d)
    runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      collected(stage, stream
        .filter(graft.ext.QualityModel.nbScoreMicro(col("text"), weights) > 0)
        .select("doc_id")).orderBy("doc_id")
    }
  }

  /** STREAMING FUZZY ADMISSION under the gate: a REAL
    * [[Streaming.streamFuzzyHits]] run — the fresh slice arrives as
    * micro-batches and each batch bands row-locally, candidates via a
    * stream-static equi-join on (band, band_hash) against the
    * batch-built corpus band index, exact-Jaccard verify against the
    * corpus shingle sets. Stateless like the exact gate; the emitted
    * SET of fuzzy-hit doc ids must equal the batch
    * [[graft.ext.Dedup.minhashCrossPairs]] fuzzy stage of
    * q_admit_slice, which is the DuckDB oracle. Static sides are
    * cached for the replay (at scale: bucketed tables, see the
    * operator doc).
    */
  def streamAdmitFuzzyFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Dedup
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    val sets = Dedup.docShingleSets(seen, "doc_id", "text").cache()
    val bandIndex = Dedup.lshBands(Dedup.minhashSignature(sets))
      .select(col("id").as("corpus_id"), col("band"), col("band_hash"))
      .cache()
    val corpusSets = sets
      .select(col("id").as("corpus_id"), col("hs").as("corpus_hs"))
    try runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      // a pair colliding in several bands emits per collision; the
      // gate contract is the fuzzy-hit doc SET
      collected(stage, Streaming.streamFuzzyHits(stream, bandIndex, corpusSets)
          .select(col("new_id").as("doc_id")))
        .distinct().orderBy("doc_id")
    } finally {
      sets.unpersist()
      bandIndex.unpersist()
    }
  }

  /** STREAMING IMAGE ADMISSION under the gate: a REAL
    * [[Streaming.streamImageHits]] run — the pixel-modality rung.
    * Every document materializes as a REAL synthetic PNG
    * (seed = doc_id/4, one perturbed pixel per variant —
    * [[graft.ext.Multimodal.synthPngBytes]]), the corpus half
    * batch-builds the (chunk, chunk_val → fingerprint) table, and
    * each arriving slice payload decodes + fingerprints in-stream,
    * banding against the static table with exact Hamming verify.
    * The flagged doc SET must equal the batch pixels-to-pairs replay
    * restricted across the split (the DuckDB oracle) — a wrong
    * decode, grid, bit-pack, chunk split, or verify cannot
    * hash-match.
    */
  def streamAdmitImageFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Multimodal
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    // the corpus side serves from the PERSISTED fingerprint table
    // (io.IndexStore, built once per session+corpus): the expensive
    // codec pass never re-runs per gate — chunks explode row-locally
    // from 8-byte stored fingerprints
    val idxDir = IndexStore.ensureImageIndex(
      Multimodal.synthPngMedia(seen.select("doc_id")), dir, variant = "-img-seen")
    val corpusChunks = IndexStore.readImageHashes(s, idxDir)
      .select(col("id").as("corpus_id"), col("dhash").as("corpus_fp"),
        explode(graft.ext.Dedup.fpChunkArray(col("dhash"), 64, 3)).as("c"))
      .select(col("corpus_id"), col("corpus_fp"),
        col("c.chunk").as("chunk"), col("c.chunk_val").as("chunk_val"))
      .cache()
    try runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      val media = Multimodal.synthPngMedia(stream.select("doc_id"))
      // a pair agreeing on several chunks emits per agreement; the
      // gate contract is the image-hit doc SET
      collected(stage, Streaming.streamImageHits(media, corpusChunks)
          .select(col("new_id").as("doc_id")))
        .distinct().orderBy("doc_id")
    } finally corpusChunks.unpersist()
  }

  /** STREAMING SUBSTRING ADMISSION under the gate: a REAL
    * [[Streaming.streamSubstringHits]] run — the middle rung of the
    * admission ladder. Fresh slice as micro-batches, row-local
    * stride-1 window hashing, stream-static LEFT SEMI against the
    * corpus span-hash set served from the PERSISTED admission store
    * ([[graft.io.IndexStore.readSpanHashes]] — the `span_hashes`
    * table is written pre-distinct'd, so the gate's static side is a
    * thin scan of 8-byte hashes, never a per-run corpus rebuild; the
    * store is the same one the exact/model persisted rung serves
    * from, built once per session+corpus). The flagged doc SET must
    * equal the batch formulation ("slice docs sharing ≥1 verbatim
    * 8-word window with the corpus"), which is the DuckDB oracle.
    */
  def streamAdmitSubstringFromFiles(s: SparkSession, dir: String): DataFrame = {
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    val idxDir = IndexStore.ensureAdmissionIndexes(seen, dir)
    val corpusSpans = IndexStore.readSpanHashes(s, idxDir).cache()
    try runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text"), "doc_id")
      // one emit per matching window; the gate contract is the SET
      collected(stage, Streaming.streamSubstringHits(stream, corpusSpans))
        .distinct().orderBy("doc_id")
    } finally corpusSpans.unpersist()
  }

  /** STREAMING PARAGRAPH ADMISSION under the gate: a REAL
    * [[Streaming.streamParagraphSurvivors]] run — the
    * paragraph-granularity rung between the exact-digest and
    * substring rungs. The derived corpus gives every doc two
    * paragraphs (its own text + a 3-variant boilerplate footer;
    * doc_id % 10 == 7 docs are PURE boilerplate — both paragraphs
    * corpus-known, the fully-stripped case). Fresh docs arrive as
    * micro-batches, split row-locally, and their already-seen
    * paragraphs are removed by the stream-static LEFT ANTI join
    * against the PERSISTED corpus paragraph-hash store
    * ([[graft.io.IndexStore.ensureParagraphIndex]] — built once per
    * session+corpus, the gate's static side is a thin 8-byte-hash
    * scan). After the drain the admitted paragraphs reassemble into
    * (doc_id, clean_text, n_paras, n_kept) — exactly the batch
    * formulation the DuckDB oracle replays; a fully-boilerplate doc
    * stays in the output at n_kept = 0.
    */
  def streamAdmitParagraphFromFiles(s: SparkSession, dir: String): DataFrame = {
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents").select(col("doc_id"),
      paragraphSynthText(col("doc_id"), col("text")).as("text")))
    // "-para-seen": the memo keys on (corpusDir, variant) and this is
    // a SYNTHETIC face (boilerplate-augmented, bucket<500 slice) of
    // the corpus dir — the default "-para" stays free for plain-corpus
    // callers (the "-img-seen"/"-ann-seen" convention of the sibling
    // gates)
    val idxDir = IndexStore.ensureParagraphIndex(seen, dir, variant = "-para-seen")
    val corpusParas = IndexStore.readParagraphHashes(s, idxDir).cache()
    try runGate(s) { stage =>
      val kept = collected(stage, Streaming.streamParagraphSurvivors(
        stagedStream(s, stage, fresh, "doc_id"), corpusParas))
      // per-doc totals ROW-LOCALLY from the same slice under the same
      // split rule — fully-stripped docs must still emit their row
      graft.ext.Dedup.reassembleWithTotals(fresh, "doc_id", "text",
          kept.withColumnRenamed("doc_id", "id"))
        .orderBy("doc_id")
    } finally corpusParas.unpersist()
  }

  /** A stripped document row (doc_id, clean_text, n_paras, n_kept) —
    * the output contract of [[graft.ext.Dedup.stripSeenParagraphs]]
    * and its fuzzy twin — for the gates that buffer it per batch.
    */
  private def strippedRow(r: Row): (Long, String, Long, Long) =
    (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))

  private def strippedFrame(s: SparkSession,
      rows: Seq[(Long, String, Long, Long)]): DataFrame = {
    import s.implicits._
    rows.toDF("doc_id", "clean_text", "n_paras", "n_kept")
  }

  /** The FUZZY paragraph rung under the gate — the admission hole
    * every exact-hash paragraph gate shares: an EDITED boilerplate
    * paragraph (tracking token, issue number — here an 18-word footer
    * whose final "edition" token varies) hashes to a fresh digest per
    * variant and passes the exact anti-join in every batch forever.
    * Arriving docs run [[graft.ext.Dedup.stripFuzzySeenParagraphs]]
    * per micro-batch against the PERSISTED fuzzy paragraph store
    * ([[graft.io.IndexStore.ensureParagraphFuzzyIndex]] — exact hash
    * set + band index + shingle sets over the corpus's DISTINCT
    * paragraphs, variant "-para-fuzzy"): exact-seen paragraphs strip
    * at the digest, surviving distinct texts band row-locally and
    * probe the stored (band, band_hash) index, candidates verify with
    * the exact shingle Jaccard against the stored rep sets. Fixture:
    * corpus docs carry footer editions 0-3, fresh docs editions 4-7 —
    * never byte-identical to anything seen (the exact rung is blind),
    * pairwise Jaccard ≈ 0.88 (last-word edit on 18 words), so the
    * fuzzy rung must strip the footer from EVERY fresh doc; the
    * 3-variant short boilerplate still strips at the exact rung. The
    * store is frozen for the run, so the admitted set is
    * batch-split-independent and the DuckDB oracle replays the whole
    * composition as one batch query.
    */
  def streamAdmitParagraphFuzzyFromFiles(s: SparkSession,
      dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    def synth(edition: Column): DataFrame = d.select(col("doc_id"),
      concat_ws("\n\n",
        paragraphSynthText(col("doc_id"), col("text")),
        concat(lit("subscribe to the graft newsletter and get the weekly " +
          "brief of the best new items in edition "),
          edition.cast("string"))).as("text"))
    val idxDir = IndexStore.ensureParagraphFuzzyIndex(
      seenFresh(synth(col("doc_id") % 4))._1, dir)
    val paraHashes = IndexStore.readParagraphHashes(s, idxDir).cache()
    val paraBands = IndexStore.readParagraphBands(s, idxDir).cache()
    val paraShingles = IndexStore.readParagraphShingles(s, idxDir)
    try runGate(s) { stage =>
      val stream = stagedStream(s, stage,
        seenFresh(synth(col("doc_id") % 4 + 4))._2, "doc_id")
      val buf = ArrayBuffer.empty[(Long, String, Long, Long)]
      drain(stage, stream) { (batch, _) =>
        buffered(buf, graft.ext.Dedup.stripFuzzySeenParagraphs(batch,
            paraHashes, paraBands, paraShingles, "doc_id", "text")
          .collect().map(strippedRow))
      }
      strippedFrame(s, buf.synchronized(buf.toSeq)).orderBy("doc_id")
    } finally {
      paraHashes.unpersist()
      paraBands.unpersist()
    }
  }

  /** The CUMULATIVE fuzzy paragraph rung — the fuzzy store GROWS as
    * the stream admits, the
    * [[streamAdmitParagraphCumulativeFromFiles]] convention one rung
    * up: each batch strips against the store as of batch start
    * (exact digest anti-join + band-probe/Jaccard-verify,
    * [[graft.ext.Dedup.stripFuzzySeenParagraphs]] with FRESH static
    * reads per batch), then the batch's NOVEL distinct paragraphs
    * append to all three tables
    * ([[graft.io.IndexStore.appendParagraphFuzzyIndex]]) before the
    * next batch's probe. Fixture: fresh docs carry a 16-word "weekly
    * digest … issue X" footer family (X = doc_id % 5, pairwise
    * Jaccard ≈ 0.87 across the last-word edit) the CORPUS has never
    * seen — so the first batch's carriers all keep their footers
    * (nothing earlier is similar; within-batch duplication is the
    * store's job, not the gate's), and every LATER batch's carriers
    * lose them, exact or edited alike, against the batch-0 appends.
    * The oracle replays the whole run as min-appearance-LEVEL logic:
    * a paragraph survives iff nothing with its digest and nothing
    * fuzzy-similar appeared at a strictly earlier level (corpus =
    * level −1, batch k = level k).
    */
  def streamAdmitParagraphFuzzyCumulativeFromFiles(s: SparkSession,
      dir: String): DataFrame = {
    val buf = ArrayBuffer.empty[(Long, String, Long, Long)]
    paragraphFuzzyCumulativeRun(s, dir,
      emitKept = (kept, _) => buffered(buf, kept.collect().map(strippedRow)),
      keptAfterDrain = () => strippedFrame(s, buf.synchronized(buf.toSeq)))
  }

  /** PRODUCTION-shaped twin of
    * [[streamAdmitParagraphFuzzyCumulativeFromFiles]] — the
    * [[streamAdmitParagraphCumulativeSinked]] pattern extended to the
    * rung a real ingest runs: each batch's stripped rows land in a
    * [[graft.io.EpochParquetSink]] under `sinkDir` instead of a
    * driver buffer, and the final frame reads back from the SINK —
    * the full write→read round trip a downstream consumer takes.
    *
    * Replay safety has TWO halves here, both idempotent: the sink
    * half is the `committed(batchId)` guard (the strip is computed
    * against the store as of batch start, which the first attempt's
    * append already advanced — a replayed recompute would wrongly
    * strip the batch's own novel paragraphs, so the first COMMITTED
    * write is the one that stands); the STORE half needs no guard at
    * all, because [[graft.io.IndexStore.appendParagraphFuzzyIndex]]'s
    * novel-only anti-join makes a re-append of the same batch a
    * no-op — no duplicate hash rows, no compaction debt
    * (spec-pinned in StreamingGateSpec).
    *
    * Compaction CADENCE: the no-op story above holds only when the
    * append COMPLETES — a crash inside the append's residual window
    * (shingle/band rows landed; the hash table, written LAST, did
    * not) re-detects the batch as novel on replay and re-appends,
    * accumulating duplicate shingle/band rows paid on every later
    * probe. This face runs
    * [[graft.io.IndexStore.compactParagraphFuzzyIndex]] every
    * `compactEvery` batches (the maintenance slot a production loop
    * schedules anyway), bounding that debt to `compactEvery` batches'
    * worth; the probe answer is identical with compaction on or off
    * (duplicates never change it — spec-pinned), and this face runs
    * WITH it under the oracle gate.
    */
  def streamAdmitParagraphFuzzyCumulativeSinked(s: SparkSession,
      dir: String, sinkDir: String, compactEvery: Int = 2): DataFrame = {
    val sink = graft.io.EpochParquetSink(sinkDir)
    paragraphFuzzyCumulativeRun(s, dir,
      emitKept = (kept, batchId) => {
        if (!sink.committed(batchId))
          sink.writeEpoch(kept, batchId)
      },
      compactEvery = compactEvery,
      keptAfterDrain = () =>
        if (sink.hasData)
          s.read.parquet(sinkDir)
            .select("doc_id", "clean_text", "n_paras", "n_kept")
        else strippedFrame(s, Nil))
  }

  /** Shared core of the two cumulative FUZZY paragraph gates — the
    * [[paragraphCumulativeRun]] convention one rung up: drives the
    * stream, strips each batch against the store AS OF batch start
    * (fresh static reads + an eager localCheckpoint pin the
    * materialization BEFORE the append advances the store), hands the
    * stripped frame (doc_id, clean_text, n_paras, n_kept) to
    * `emitKept`, then appends the batch's novel distinct paragraphs
    * to all three store tables; after the drain, `keptAfterDrain`
    * supplies the accumulated rows from whichever medium `emitKept`
    * stored them in. `compactEvery` > 0 additionally runs the store's
    * distinct-rewrite compaction after every that-many batches — the
    * cadence that bounds crash-replay duplicate-row growth.
    */
  private def paragraphFuzzyCumulativeRun(s: SparkSession, dir: String,
      emitKept: (DataFrame, Long) => Unit,
      keptAfterDrain: () => DataFrame,
      compactEvery: Int = 0): DataFrame = {
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    runGate(s) { stage =>
      val storeDir = stage.resolve("store").toString
      // a FRESH store per run — appends mutate it, so the session memo
      // must not own this directory (the paragraphCumulativeRun rule)
      IndexStore.writeParagraphFuzzyIndex(
        seen.select(col("doc_id"),
          paragraphSynthText(col("doc_id"), col("text")).as("text")),
        storeDir)
      val stream = stagedStream(s, stage, fresh.select(col("doc_id"),
        concat_ws("\n\n",
          paragraphSynthText(col("doc_id"), col("text")),
          concat(lit("weekly digest of the graft data engineering " +
            "news and updates for paying subscribers in issue "),
            (col("doc_id") % 5).cast("string"))).as("text")), "doc_id")
      drain(stage, stream) { (batch, batchId) =>
        // eager checkpoint: materialize the strip against the
        // PRE-append store; only then may the append advance it
        val kept = graft.ext.Dedup.stripFuzzySeenParagraphs(batch,
            IndexStore.readParagraphHashes(s, storeDir),
            IndexStore.readParagraphBands(s, storeDir),
            IndexStore.readParagraphShingles(s, storeDir),
            "doc_id", "text")
          .localCheckpoint()
        emitKept(kept, batchId)
        IndexStore.appendParagraphFuzzyIndex(batch, storeDir)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          IndexStore.compactParagraphFuzzyIndex(s, storeDir)
      }
      keptAfterDrain()
        .orderBy("doc_id")
        .localCheckpoint() // materialize before the stage dir is deleted
    }
  }

  /** STREAMING EMBEDDING ADMISSION under the gate: a REAL
    * [[Streaming.streamEmbedHits]] run — the vector rung of the
    * admission ladder. Fresh embedding slice as micro-batches,
    * row-local norm + LSH bucketing over the deterministic plane
    * family, stream-static (table, bucket) candidate join against the
    * batch-built corpus bucket index, exact-cosine verify against the
    * corpus vectors. The emitted hit SET must equal the batch LSH
    * near-dup slice (cosine ≥ 0.35 among any-table collisions — the
    * flat testdata embeddings cluster weakly, so the gate threshold
    * sits below the near-dup 0.45 to keep the fixture non-vacuous), which
    * is the DuckDB oracle (plane-by-plane literal replay, the same
    * twin q_embed_neardup_lsh uses).
    */
  def streamAdmitEmbedFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.LshFunctions.lsh_buckets
    val (seen, fresh) = seenFresh(Tables(s, dir, "embeddings"), "vec_id")
    val corpus = graft.ext.Similarity.withNorm(
      seen.select(col("vec_id"), col("embedding").as("vec")))
    val bucketIndex = corpus.select(col("vec_id").as("corpus_id"),
        posexplode(lsh_buckets(col("vec"), 6, 8, 64))
          .as(Seq("table", "bucket")))
      .cache()
    val corpusVecs = corpus.select(col("vec_id").as("corpus_id"),
      col("vec").as("cvec"), col("norm").as("cnorm"))
    try runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("vec_id", "embedding"),
        "vec_id")
      // one emit per table collision; the gate contract is the SET
      collected(stage, Streaming.streamEmbedHits(stream, bucketIndex, corpusVecs,
          minCos = 0.35).select(col("new_id").as("vec_id")))
        .distinct().orderBy("vec_id")
    } finally bucketIndex.unpersist()
  }

  /** STREAMING EMBEDDING ADMISSION FROM THE PERSISTED ANN STORE —
    * the build-once/serve-many wiring for the vector rung, closing
    * the last gate whose static side was rebuilt in-plan per run:
    * the seen half's cell-partitioned inverted file
    * ([[graft.io.IndexStore.ensureAnnIndexes]], `-ann-seen` variant)
    * is the candidate index; each arriving vector probes its nProbe=2
    * cells row-locally (the frozen quantizer ships as a literal) and
    * joins ONLY those cells' stored vectors, exact-cosine verified at
    * the rung's 0.35 bar. Stateless; the hit SET equals the batch
    * IVF-probe formulation, which is the DuckDB oracle (centroid
    * pick + assignment restricted to the seen half, probes over the
    * fresh slice). Complementary to [[streamAdmitEmbedFromFiles]]'s
    * LSH rung the way q_ann_ivf is to q_ann_lsh: cells give
    * byte-pruned candidate generation from a persisted artifact;
    * LSH gives table-OR recall without training anything.
    */
  def streamAdmitEmbedPersistedFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Similarity
    import graft.functions.IvfFunctions.ivf_cells
    val (seen, fresh) = seenFresh(Tables(s, dir, "embeddings"), "vec_id")
    val idxDir = IndexStore.ensureAnnIndexes(
      seen.select("vec_id", "embedding"), dir, variant = "-ann-seen")
    val cents = IndexStore.readAnnCentroids(s, idxDir)
    val assigned = IndexStore.readIvfAssigned(s, idxDir)
      .select(col("id").as("corpus_id"), col("cell"),
        col("vec").as("cvec"), col("norm").as("cnorm"))
    runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("vec_id", "embedding"),
        "vec_id")
      val probed = Similarity.withNorm(
          stream.select(col("vec_id"), col("embedding").as("vec")))
        .withColumn("cell", explode(ivf_cells(col("vec"), cents, 2)))
      // one emit per (probed cell, stored vector) hit; the gate
      // contract is the flagged vector SET
      collected(stage, probed.join(assigned, Seq("cell"))
          .filter(Similarity.cosineFromNorms(col("vec"), col("cvec"),
            col("norm"), col("cnorm")) >= 0.35)
          .select("vec_id"))
        .distinct().orderBy("vec_id")
    }
  }

  /** CUMULATIVE streaming paragraph admission — the cross-batch half
    * of [[streamAdmitParagraphFromFiles]]: there the store is frozen
    * (one build, every batch anti-joins it), here each processed
    * batch's paragraph hashes APPEND to the store
    * ([[graft.io.IndexStore.appendParagraphIndex]] from inside
    * `foreachBatch` — the ingest-loop pattern
    * [[streamAnnMaintenanceFromFiles]] established), so a paragraph
    * first admitted in batch k is STRIPPED from every batch after k —
    * the true Dolma semantics where the corpus grows as it admits.
    * The static side is re-read per batch (a fresh `spark.read`
    * resolves the file listing AFTER the previous batch's append; a
    * plan-cached frame would pin the listing at stream start and
    * silently serve the frozen semantics). Fresh docs carry a third
    * paragraph — a 7-variant "weekly digest" footer the corpus does
    * NOT have — so each variant survives exactly in the first batch
    * that carries it and strips everywhere later; the oracle replays
    * this as h ∉ corpus ∧ batch = min-batch-carrying-h (batch order
    * is deterministic: staged files carry strictly increasing
    * modification times, the file source replays oldest-first).
    *
    * This variant collects each batch's survivors to a DRIVER buffer —
    * the oracle-HARNESS shape (bounded: 100 fresh docs at any sf the
    * harness stages), not the serving one; the production twin is
    * [[streamAdmitParagraphCumulativeSinked]], which routes the same
    * survivors per batch through a [[graft.io.EpochParquetSink]] and
    * is spec-pinned output-identical to this buffer on the same slices.
    */
  def streamAdmitParagraphCumulativeFromFiles(s: SparkSession,
      dir: String): DataFrame = {
    val buf = ArrayBuffer.empty[(Long, Int, String)]
    paragraphCumulativeRun(s, dir,
      emitKept = (kept, _) => buffered(buf, kept.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2)))),
      keptAfterDrain = () => {
        import s.implicits._
        buf.synchronized(buf.toSeq).toDF("id", "idx", "para")
      })
  }

  /** PRODUCTION-shaped twin of [[streamAdmitParagraphCumulativeFromFiles]]:
    * the same grow-as-it-admits ingest loop, but each batch's admitted
    * paragraph rows land in a [[graft.io.EpochParquetSink]] under
    * `sinkDir` (partitioned by `batch_id`, dynamic overwrite — a
    * replayed epoch rewrites only its own partition, so the at-least-
    * once foreachBatch contract becomes effectively-once on disk)
    * instead of a driver buffer. After the stream drains, the final
    * frame is assembled from the SINK's rows — what a downstream
    * consumer would read — so the returned DataFrame exercises the
    * full write→read round trip. The sink directory is the caller's:
    * it outlives the gate's staging dir (the real deployment keeps it
    * as the admitted-corpus landing zone).
    */
  def streamAdmitParagraphCumulativeSinked(s: SparkSession, dir: String,
      sinkDir: String): DataFrame = {
    val sink = graft.io.EpochParquetSink(sinkDir)
    paragraphCumulativeRun(s, dir,
      emitKept = (kept, batchId) => {
        // replay guard (foreachBatch is at-least-once): this epoch's
        // kept set is computed against the store, which the FIRST
        // attempt's append already advanced — a replayed recompute
        // anti-joins away the batch's own paragraphs and would
        // overwrite the partition with wrongly-shrunk content. The
        // first COMMITTED write is the correct one; keep it and let
        // the re-append land its harmless duplicate hash rows.
        if (!sink.committed(batchId))
          sink.writeEpoch(kept, batchId)
      },
      keptAfterDrain = () =>
        // a run whose every batch was fully already-seen commits no
        // data files (markers only — the dynamic committer skips
        // empty partitions) — the valid-empty case the buffer twin
        // returns as an empty frame, not a read error
        if (sink.hasData)
          s.read.parquet(sinkDir).select("id", "idx", "para")
        else {
          import s.implicits._
          Seq.empty[(Long, Int, String)].toDF("id", "idx", "para")
        })
  }

  /** Shared core of the two cumulative-paragraph gates: drives the
    * stream and hands each batch's admitted rows (id, idx, para) to
    * `emitKept`; after the stream drains, `keptAfterDrain` supplies
    * the accumulated survivor rows (from whichever medium `emitKept`
    * stored them in) for the final reassembly. The admitted frame is
    * eagerly `localCheckpoint`ed BEFORE both the emit and the store
    * append — the anti-join's static side must be the PRE-append store
    * (a lazy emit executing after the append would strip the batch's
    * own paragraphs), and pinning materialization here keeps that
    * ordering correct for any emit implementation.
    */
  private def paragraphCumulativeRun(s: SparkSession, dir: String,
      emitKept: (DataFrame, Long) => Unit,
      keptAfterDrain: () => DataFrame): DataFrame = {
    import graft.ext.Dedup
    val (seen, synthFresh) = seenFresh(Tables(s, dir, "documents").select(
      col("doc_id"), paragraphSynthText(col("doc_id"), col("text")).as("text")))
    // fresh docs gain the 7-variant digest footer the corpus lacks —
    // the cross-batch duplication this face exists to exercise
    val fresh = synthFresh.select(col("doc_id"),
      concat_ws("\n\n", col("text"),
        concat(lit("weekly digest issue "),
          (col("doc_id") % 7).cast("string"))).as("text"))
    runGate(s) { stage =>
      val storeDir = stage.resolve("store").toString
      // a FRESH store per run — appends mutate it, so the session memo
      // (ensureParagraphIndex) must not own this directory
      IndexStore.writeParagraphIndex(seen, storeDir)
      drain(stage, stagedStream(s, stage, fresh, "doc_id")) { (batch, batchId) =>
        val store = IndexStore.readParagraphHashes(s, storeDir)
        // eager checkpoint: materialize the anti-join against the
        // PRE-append store before the append below mutates it
        val kept = Dedup.paragraphRows(batch, "doc_id", "text")
          .withColumn("h", graft.ext.TextAnalysis.tokenHash60(col("para")))
          .join(store, Seq("h"), "left_anti")
          .select("id", "idx", "para")
          .localCheckpoint()
        emitKept(kept, batchId)
        // the admitted batch is now corpus: its paragraphs join the
        // store BEFORE the next batch's anti-join reads it
        IndexStore.appendParagraphIndex(batch, storeDir)
      }
      Dedup.reassembleWithTotals(fresh, "doc_id", "text", keptAfterDrain())
        .orderBy("doc_id")
        .localCheckpoint() // materialize before the stage dir is deleted
    }
  }

  /** STREAMING five-rung Dolma ingest — the composed admission
    * pipeline (`q_admit_full_paragraph`'s semantics) run as a REAL
    * stream with every static side a PERSISTED artifact: arriving
    * docs are judged at DOC grain against the admission store's
    * digest / span-hash / band+shingle tables — the exact, substring
    * and fuzzy rungs are [[graft.io.IndexStore.novelFromIndexes]],
    * the very plan the batch admission serves ([[graft.io.IndexStore.admitFromIndexes]]),
    * so the corpus is never touched at admit time — plus the in-plan
    * corpus-half LSH index for the embedding rung (cached once, reused
    * by every batch — the vector travels WITH the doc row, staged by
    * one static join, so the rung is a batch-local probe), and each
    * batch's ADMITTED docs are then stripped of already-seen
    * paragraphs against the persisted paragraph store (variant
    * "-para-seen", the synth boilerplate corpus the paragraph gates
    * share) and reassembled. All five static sides are FROZEN for the
    * run, so the admitted set is independent of the batch split and
    * the gate shares the batch face's oracle — the composition, not
    * any one rung, is what this face pins (each rung's own gate
    * already exists).
    */
  def streamAdmitFullParagraphFromFiles(s: SparkSession,
      dir: String): DataFrame = {
    import graft.ext.{Dedup, HashDefs, Similarity}
    import graft.functions.LshFunctions.lsh_buckets
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    val idxDir = IndexStore.ensureAdmissionIndexes(seen, dir)
    val paraDir = IndexStore.ensureParagraphIndex(
      seen.select(col("doc_id"),
        paragraphSynthText(col("doc_id"), col("text")).as("text")),
      dir, variant = "-para-seen")
    // corpus half of the embedding rung's LSH index (q_admit_full's
    // parameters), cached across batches — ~vec count rows of
    // (id, table, bucket) + the norm'd vectors for the verify
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val cN = Similarity.withNorm(seenFresh(e, "vec_id")._1
      .select(col("vec_id"), col("embedding").as("vec"))).cache()
    val cIdx = cN.select(col("vec_id"),
      posexplode(lsh_buckets(col("vec"), 6, 8, 64)).as(Seq("tbl", "bucket")))
      .cache()
    try runGate(s) { stage =>
      // the vector rides the staged row (one static equi-join at
      // staging time) — an arriving doc carries everything its
      // admission needs, the stream-enrich convention
      val stream = stagedStream(s, stage, fresh.select("doc_id", "text")
        .join(e.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"), "left"), "doc_id")
      val paraHashes = IndexStore.readParagraphHashes(s, paraDir)
      val buf = ArrayBuffer.empty[(Long, String, Long, Long)]
      drain(stage, stream) { (batch, _) =>
        val novel = IndexStore.novelFromIndexes(batch, s, idxDir, "doc_id",
          "text", 8, 0.5, HashDefs.CrossBroadcastMaxBytes)
        // hits feed an anti-join, which is set-semantic: no distinct
        val embHits = Similarity.withNorm(
            batch.filter(col("embedding").isNotNull)
              .select(col("doc_id"), col("embedding").as("vec")))
          .select(col("doc_id"), col("vec"), col("norm"),
            posexplode(lsh_buckets(col("vec"), 6, 8, 64))
              .as(Seq("tbl", "bucket")))
          .join(cIdx.withColumnRenamed("vec_id", "cid"), Seq("tbl", "bucket"))
          .filter(col("doc_id") =!= col("cid"))
          .select("doc_id", "cid", "vec", "norm").distinct()
          .join(cN.select(col("vec_id").as("cid"), col("vec").as("cv"),
            col("norm").as("cn")), Seq("cid"))
          .filter(Similarity.cosineFromNorms(
            col("vec"), col("cv"), col("norm"), col("cn")) >= 0.35)
          .select("doc_id")
        val admitted = novel.select("doc_id")
          .join(embHits, Seq("doc_id"), "left_anti")
        buffered(buf, Dedup.stripSeenParagraphs(
            batch.select(col("doc_id"),
                paragraphSynthText(col("doc_id"), col("text")).as("text"))
              .join(admitted, Seq("doc_id"), "left_semi"),
            paraHashes, "doc_id", "text")
          .collect().map(strippedRow))
      }
      strippedFrame(s, buf.synchronized(buf.toSeq)).orderBy("doc_id")
    } finally {
      cN.unpersist()
      cIdx.unpersist()
    }
  }

  /** STREAMING training-batch EMISSION — the engine's end product
    * ([[graft.ext.TrainingData.emitBatches]]) run as a continuous
    * ingest loop: each arriving micro-batch is encoded with the
    * PERSISTED tokenizer, truncated, ordered by the seeded
    * permutation WITHIN the batch, and packed into token-budget bins
    * whose numbering CONTINUES across batches — the offset is derived
    * from the sink's own committed content (the latest committed
    * epoch's running-total column, one partition read — O(1) in epoch
    * count), so the SINK IS THE STATE (the streamAnnMaintenance
    * convention; no driver-side counter to lose on restart) and the
    * [[graft.io.EpochParquetSink.committed]] replay guard makes the
    * whole loop effectively-once: a replayed epoch neither rewrites
    * its partition nor double-counts its tokens. Semantics note, the
    * honest difference from the batch face: the batch operator
    * permutes GLOBALLY; a continuous emitter can only permute within
    * what has arrived, so the stream order is (arrival batch, seeded
    * order) — exactly what the oracle replays. Within-batch packing
    * is the single-stream window (micro-batches are small by
    * construction); a high-volume deployment shards it per source,
    * the emitBatches `shard` contract.
    */
  def streamEmitBatchesFromFiles(s: SparkSession, dir: String,
      nSlices: Int = 3): DataFrame =
    emitStreamRun(s, dir, nSlices,
      shape = packed => packed
        .withColumn("bin", floor(col("tokens_before") / 2000).cast("int"))
        .select(col("id").as("doc_id"), col("order_key"),
          col("n_tok"), col("tokens_before"), col("bin"),
          try_element_at(col("toks"), lit(1)).as("first_tok")),
      // each row is a whole doc: its absolute end is before + n
      endExpr = col("tokens_before") + col("n_tok"),
      finalShape = read => read
        .select("doc_id", "order_key", "n_tok", "tokens_before", "bin",
          "first_tok")
        .orderBy("tokens_before", "doc_id"))

  /** STREAMING EXACT-token-block emission — the chunked end product
    * ([[graft.ext.TrainingData.emitChunks]]' cut) as the same
    * continuous loop: per epoch, encode with the persisted tokenizer,
    * truncate, order by the seeded permutation within the batch,
    * offset by the sink-derived running total, and SPLIT at exact
    * 2000-token boundaries. Because the offset carries the exact
    * token total, block numbering AND block fill continue seamlessly
    * across epochs: an epoch ending mid-block leaves a partial block
    * whose remainder the NEXT epoch's first piece fills — the stream
    * emits the same exact-budget blocks the batch operator cuts over
    * the (arrival batch, seeded order) stream, replay-guarded
    * effectively-once like the bin-grain loop.
    */
  def streamEmitChunksFromFiles(s: SparkSession, dir: String,
      nSlices: Int = 3): DataFrame =
    emitStreamRun(s, dir, nSlices,
      shape = packed => graft.ext.TrainingData.chunkAtBoundaries(
        packed, 2000,
        Seq(col("id").as("doc_id"), col("order_key"),
          col("tokens_before")))
        .withColumn("first_tok", when(col("off") === 0,
          try_element_at(col("toks"), lit(1))))
        .select("doc_id", "order_key", "tokens_before", "block", "off",
          "n_tok", "first_tok"),
      // rows are PIECES: a piece's absolute end is before + off + len,
      // and the epoch's max over pieces is still the running total
      endExpr = col("tokens_before") + col("off") + col("n_tok"),
      finalShape = read => read
        .select("doc_id", "order_key", "tokens_before", "block", "off",
          "n_tok", "first_tok")
        .orderBy("tokens_before", "doc_id", "block"))

  /** Shared core of the two emission loops: the staged epoch stream
    * (`nSlices` doc_id-keyed slices, each sorted by id), the
    * persisted-tokenizer encode + within-batch seeded order +
    * sink-offset running sum (the `packed` frame: id, toks,
    * order_key, n_tok, tokens_before), with `shape` mapping it to the
    * epoch's sink rows, `endExpr` the absolute-end expression the O(1)
    * offset derivation reads off the latest committed partition, and
    * `finalShape` the drained-sink projection. Bin/block continuity:
    * tokens already emitted by EARLIER epochs ride the offset — O(1)
    * in epoch count: epoch k's tokens_before already carries every
    * epoch before it, so the LATEST committed data partition's
    * max(endExpr) IS the running total — one partition-dir read,
    * never a whole-sink scan (which would make a long-running stream
    * O(epochs²) in sink reads). Strictly batch_id < this epoch, so a
    * replay (whose own partition is uncommitted by the writeEpoch
    * guard) computes the same offset as the first attempt;
    * committed-but-empty epochs write no partition and carry no
    * tokens (dataEpochs skips them).
    */
  private def emitStreamRun(s: SparkSession, dir: String, nSlices: Int,
      shape: DataFrame => DataFrame, endExpr: Column,
      finalShape: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ext.{TextAnalysis, TrainingData}
    val d = Tables(s, dir, "documents")
    val idxDir = IndexStore.ensureBpeMerges(d, dir, "text", merges = 20)
    val merges = IndexStore.readBpeMerges(s, idxDir)
    runGate(s) { stage =>
      val sinkDir = stage.resolve("sink").toString
      val sink = graft.io.EpochParquetSink(sinkDir)
      val stream = stagedStream(s, stage, d.select("doc_id", "text"), "doc_id",
        n = nSlices)
      drain(stage, stream) { (batch, batchId) =>
        if (!sink.committed(batchId)) {
          val offset = sink.committedEpochs.toSet
            .intersect(sink.dataEpochs.toSet)
            .filter(_ < batchId)
            .maxOption
            .map { k =>
              s.read.parquet(s"$sinkDir/batch_id=$k")
                .agg(max(endExpr)).head().getLong(0)
            }
            .getOrElse(0L)
          val enc = TextAnalysis.bpeEncode(batch, "text", merges)
            .select(col("doc_id").as("id"),
              slice(col("subwords"), 1, 256).as("toks"))
            .withColumn("order_key",
              TrainingData.trainingOrderKey(Seq(col("id")), "42"))
            .withColumn("n_tok", size(col("toks")))
          val w = Window.orderBy(col("order_key"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val packed = enc
            .withColumn("tokens_before", lit(offset) +
              coalesce(sum(col("n_tok").cast("long")).over(w)
                - col("n_tok"), lit(0L)))
          sink.writeEpoch(shape(packed), batchId)
        }
      }
      finalShape(s.read.parquet(sinkDir))
        .localCheckpoint() // materialize before the stage dir is deleted
    }
  }

  /** STREAMING ANN-STORE MAINTENANCE under the gate — the ingest
    * loop for the vector index run as a REAL stream, the ANN mirror
    * of [[streamSketchMaintenanceFromFiles]]: the quantizer is
    * trained OFFLINE over the full corpus (the production split that
    * makes appends exact), batch 0 writes the store from its slice,
    * every later micro-batch [[graft.io.IndexStore.appendAnnIndexes]]
    * against the frozen quantizer from inside `foreachBatch`, and
    * after the stream drains the maintenance PLANNER decides what the
    * store needs: the per-append small files trip `files_per_cell`,
    * the gate executes [[graft.io.IndexStore.compactAnnIndexes]], and
    * the post-maintenance serve must equal a one-shot full build —
    * which is exactly q_ann_ivf's oracle, so the whole
    * append→plan→compact→serve cycle is hash-gated. Stateless on the
    * stream side (the STORE is the state).
    */
  def streamAnnMaintenanceFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Similarity
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    // offline-trained quantizer: the day-0 artifact every batch
    // (including batch 0) encodes against
    val cents = Similarity.ivfCentroids(e, 16)
    // nCells == ks == 16: the PQ picks are the SAME hash-ordered
    // prefix the centroid pick just fetched — slice them instead of
    // paying the corpus TakeOrdered scan a second time (the
    // writeAnnIndexes one-pick rule, applied to this gate's offline
    // training step)
    val cb = Similarity.pqCodebooksFromPicks(cents, 4, 16, 64)
    runGate(s) { stage =>
      val storeDir = stage.resolve("store").toString
      drain(stage, stagedStream(s, stage, e, "vec_id")) { (batch, batchId) =>
        if (batchId == 0L)
          IndexStore.writeAnnIndexes(batch, storeDir,
            centroids = Some(cents), codebooks = Some(cb))
        else
          IndexStore.appendAnnIndexes(batch, storeDir)
      }
      // the maintenance slot: act on exactly what the planner says is
      // due (the per-append small files), never unconditionally
      val due = IndexStore.maintenanceDue(s, storeDir, filesPerCellBar = 1.0)
        .filter(col("action") === "compact" && col("due"))
        .count()
      require(due >= 1, "streamAnnMaintenance: appends must earn compaction")
      IndexStore.compactAnnIndexes(s, storeDir)

      Similarity.ivfTopKFromIndex(
          IndexStore.readIvfAssigned(s, storeDir),
          IndexStore.readAnnCentroids(s, storeDir),
          e.filter(col("vec_id") < 10), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
        .localCheckpoint() // materialize before the stage dir is deleted
    }
  }

  /** STREAMING ANN RETRAIN under the gate — the drift loop's OTHER
    * remedy run live, completing [[streamAnnMaintenanceFromFiles]]
    * (whose planner only ever fires the compaction): a store built
    * before a REGIME CHANGE takes the drifted ingest — a new source's
    * embeddings shifted +3.0 per component, the clustered-new-mass
    * shape IndexStoreSpec's retrain fixture validates, arriving as
    * real micro-batches appended against the frozen stale quantizer —
    * and after the stream drains,
    * [[graft.io.IndexStore.maintenanceDue]]'s `retrain_quantizer`
    * occupancy-PSI signal must FIRE (the gate requires it — the
    * expensive action executes from the planner's verdict, never
    * unconditionally; an in-distribution slice staying below the bar
    * is pinned in IndexStoreSpec) before the slot runs
    * [[graft.io.IndexStore.retrainAnnIndexes]] over the CURRENT
    * corpus and serves. The shift points every drifted vector near
    * the all-ones diagonal, so they crowd the stale quantizer's few
    * diagonal-most cells — the occupancy skew the monitor watches
    * for, at ANY corpus size (a held-out-region construction was
    * tried first and its PSI faded below the 0.25 bar as the flat
    * corpus grew — measured in SCALE.md). The shift is double-add +
    * cast-to-float, so the DuckDB oracle replays the drifted corpus
    * bit-exactly: the full IVF replay over
    * seen ∪ shifted hash-tail hash-gates the whole
    * ingest→drift→detect→retrain→serve cycle.
    */
  def streamAnnRetrainFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Similarity, TrainingData}
    val bucket = TrainingData.splitBucket(col("vec_id"), 1000)
    val shifted = transform(col("embedding"),
      x => (x.cast("double") + lit(3.0)).cast("float"))
    val corpus = Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        when(bucket >= 800, shifted).otherwise(col("embedding"))
          .as("embedding"))
    val seen = corpus.filter(bucket < 800)
    val fresh = corpus.filter(bucket >= 800)
    runGate(s) { stage =>
      val storeDir = stage.resolve("store").toString
      // day-0 build: quantizer trained on `seen` only — the stale
      // state a drifted ingest leaves behind
      IndexStore.writeAnnIndexes(seen, storeDir)
      drain(stage, stagedStream(s, stage, fresh, "vec_id")) { (batch, _) =>
        IndexStore.appendAnnIndexes(batch, storeDir)
      }
      // the maintenance slot: the PSI monitor must CALL for the
      // retrain (the drifted slice against the stale quantizer's
      // occupancy), and only then does the executor run — over the
      // corpus SOURCE, never the store's own tables
      val due = IndexStore.maintenanceDue(s, storeDir, freshVectors = Some(fresh))
        .filter(col("action") === "retrain_quantizer" && col("due"))
        .count()
      require(due == 1L,
        "streamAnnRetrain: the drifted slice must trip the PSI signal " +
          "(an empty or in-distribution fresh slice reads PSI ~0 and " +
          "correctly does NOT earn a retrain)")
      IndexStore.retrainAnnIndexes(corpus, storeDir)

      Similarity.ivfTopKFromIndex(
          IndexStore.readIvfAssigned(s, storeDir),
          IndexStore.readAnnCentroids(s, storeDir),
          corpus.filter(col("vec_id") < 10), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
        .localCheckpoint() // materialize before the stage dir is deleted
    }
  }

  /** STREAMING DRIFT MONITOR under the gate: a REAL
    * [[Streaming.runningHistogram]] run (update-mode streaming
    * aggregation, state = the histogram) over the fresh slice's
    * micro-batches; per batch the upserted bucket counts replace the
    * previous ones (serving-table semantics, like runningActiveness),
    * and the FINAL histogram feeds
    * [[graft.ext.Drift.psiFromHistograms]] against the batch-built
    * corpus reference. The report must equal the batch
    * [[graft.ext.Drift.psiNumeric]] on the same split — the DuckDB
    * oracle.
    */
  def streamDriftFromFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Drift
    val (seen, fresh) = seenFresh(Tables(s, dir, "documents"))
    val refHist = Drift.histogram(seen, "n_chars", width = 64, nBuckets = 16,
      "cnt_ref")
    runGate(s) { stage =>
      val stream = stagedStream(s, stage, fresh.select("doc_id", "n_chars"),
        "doc_id")
      val curHist = latestByKey(stage, Streaming.runningHistogram(stream,
        "n_chars", width = 64, nBuckets = 16), "bucket")
      Drift.psiFromHistograms(refHist, curHist).orderBy("bucket")
    }
  }

  /** STATEFUL running activeness under the gate: a REAL
    * [[Streaming.runningActiveness]] (`mapGroupsWithState`, update
    * mode) run over the staged event slices; the LAST update emitted
    * per contract — upserted batch by batch, exactly what a downstream
    * serving table would hold — is the contract's final distinct-day
    * count and bucket, which equals the batch activeness aggregation,
    * the DuckDB oracle. No sentinel: `NoTimeout` state emits on every
    * batch a key appears in, so the final upsert is complete once all
    * files are processed.
    */
  def runningActivenessFromFiles(s: SparkSession, dir: String): DataFrame =
    runGate(s) { stage =>
      import s.implicits._
      val stream = sharedStream(s, dir)
        .select("contract", "category", "duration", "ts")
      val last = latestByKey(stage,
        Streaming.runningActiveness(stream.as[Streaming.ViewEvent]).toDF(),
        "contract")
      // shared sentinel rows create a __sentinel__ contract key in
      // state — not a real user; drop it before the long cast
      dropSentinel(last, "contract")
        .select(col("contract").cast("long").as("user_id"),
          col("daysActive").as("days_active"), col("activeness"))
        .orderBy("user_id")
    }
}
