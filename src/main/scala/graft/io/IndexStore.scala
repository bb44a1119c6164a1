package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted index artifacts — the build-once/serve-many faces of the
  * admission ladder. Every rung of the streaming/batch ingest gate
  * joins a *fresh slice* against a *batch-built corpus index*; until
  * now those indexes were rebuilt inside every query plan. At 100 TB
  * they are nightly build artifacts: computed once by an offline job,
  * written as parquet tables + a manifest, and served to every
  * admission query and streaming gate until the next corpus refresh.
  *
  * Layout under `dir` (all plain parquet — any engine can audit them):
  * {{{
  *   manifest.json                       build parameters + row counts;
  *                                       `id_type` is the id column's
  *                                       type (e.g. "bigint")
  *   digests/       (digest string)      exact rung (md5 of text)
  *   span_hashes/   (h long)             substring rung (distinct
  *                                       8-word span hashes)
  *   shingle_sets/  (id, hs array<long>) fuzzy rung verify side
  *   band_index/    (id, band, band_hash) fuzzy rung candidate side
  *   nb_weights/    (term, llr_micro)    model rung (micro-unit NB llr)
  * }}}
  *
  * Every admission table is read with its schema pinned — fixed types,
  * and the manifest's `id_type` for the two id-bearing tables — so no
  * read runs Spark's parquet schema-inference job (one per
  * `spark.read.parquet` without a schema, even with mergeSchema off).
  * A manifest without `id_type` (a store built before it was recorded)
  * falls back to inference for those two tables. The loaded NB/DSIR
  * weight map is memoized in one slot keyed by the table path plus its
  * (path, length, mtime) file listing — the [[corpusFingerprint]]
  * signal — so a rebuild or retrain under the same dir reloads it.
  *
  * Scale notes: each table is exactly the shuffle currency its rung
  * already used (16-byte digests, 8-byte span hashes, banded minhash
  * rows — never document text), so serving cost equals the in-plan
  * join cost minus the whole corpus-side build. The digest/span tables
  * are written pre-distinct'd so gate-side semi-joins need no
  * re-aggregation. Writes go through the Hadoop FS API, so `dir` can
  * be any supported scheme (local, HDFS, cloud object store).
  *
  * Serve and maintenance shape: [[admitFromIndexes]] hashes the slice
  * once and streams every store table against broadcast sides built
  * from the slice or from its priced candidate pairs, so no hash table
  * is ever built from a store scan. The admission build and append,
  * and every compaction and delete that goes through [[swapRewrite]],
  * write their tables at once, one thread per table
  * ([[writeConcurrently]]); each write reads only its own table plus
  * frames materialized before the call.
  */
object IndexStore {

  val DigestsTable = "digests"
  val SpanHashesTable = "span_hashes"
  val ShingleSetsTable = "shingle_sets"
  val BandIndexTable = "band_index"
  val NbWeightsTable = "nb_weights"

  /** Build every admission-ladder index from `corpus` and persist it
    * under `dir`. One corpus pass per rung (each is the rung's
    * existing one-scan build), each written as parquet.
    */
  def writeAdmissionIndexes(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 8,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    import graft.ext.{Dedup, QualityModel}
    val spark = corpus.sparkSession

    val sets = corpus.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions.shingle_hashes(
        col(textCol), graft.ext.HashDefs.ShingleN).as("hs"))
    val idType = sets.schema("id").dataType

    writeConcurrently(spark)(
      () => corpus.select(md5(col(textCol)).as("digest")).distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$DigestsTable"),
      () => Dedup.spanHashIndex(corpus, idCol, textCol, spanWords)
        .select("h").distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$SpanHashesTable"),
      { () =>
        sets.write.mode(SaveMode.Overwrite).parquet(s"$dir/$ShingleSetsTable")
        // bands derive from the PERSISTED sets, so the two fuzzy tables
        // can never drift apart across a partial rebuild
        Dedup.lshBands(Dedup.minhashSignature(readTable(spark,
            s"$dir/$ShingleSetsTable", Some(shingleSetsSchema(idType)))))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$BandIndexTable")
      },
      () => QualityModel.nbTermWeightsMicro(corpus, idCol, textCol)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$NbWeightsTable"))

    writeManifest(spark, dir, Seq(
      "kind" -> "\"admission\"",
      "id_col" -> s""""$idCol"""",
      "id_type" -> s""""${idType.catalogString}"""",
      "text_col" -> s""""$textCol"""",
      "span_words" -> spanWords.toString,
      "shingle_n" -> graft.ext.HashDefs.ShingleN.toString,
      "minhash_k" -> graft.ext.HashDefs.K.toString,
      "bands" -> graft.ext.HashDefs.Bands.toString,
      "rows_per_band" -> graft.ext.HashDefs.RowsPerBand.toString,
      "tables" -> Seq(DigestsTable, SpanHashesTable, ShingleSetsTable,
        BandIndexTable, NbWeightsTable)
        .map("\"" + _ + "\"").mkString("[", ",", "]")) ++ manifestExtra)
  }

  private val DigestsSchema = StructType(Seq(StructField("digest", StringType)))
  private val SpanHashesSchema = StructType(Seq(StructField("h", LongType)))
  private val WeightsSchema = StructType(Seq(
    StructField("term", StringType), StructField("llr_micro", LongType)))
  private def shingleSetsSchema(idType: DataType) = StructType(Seq(
    StructField("id", idType), StructField("hs", ArrayType(LongType))))
  private def bandIndexSchema(idType: DataType) = StructType(Seq(
    StructField("id", idType), StructField("band", IntegerType),
    StructField("band_hash", StringType)))

  /** A parquet table read with `schema` pinned, or by inference when
    * there is none.
    */
  private def readTable(spark: SparkSession, path: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(path)

  private val IdTypeField = """"id_type": "([^"]+)"""".r

  /** The id column's type as the manifest records it; None for a store
    * whose manifest predates the field (or has no manifest).
    */
  private def storeIdType(spark: SparkSession, dir: String): Option[DataType] =
    readManifestIfAny(spark, dir)
      .flatMap(m => IdTypeField.findFirstMatchIn(m))
      .map(m => DataType.fromDDL(m.group(1)))

  def readDigests(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, s"$dir/$DigestsTable", Some(DigestsSchema))
  def readSpanHashes(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, s"$dir/$SpanHashesTable", Some(SpanHashesSchema))
  def readShingleSets(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, s"$dir/$ShingleSetsTable",
      storeIdType(spark, dir).map(shingleSetsSchema))
  def readBandIndex(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, s"$dir/$BandIndexTable",
      storeIdType(spark, dir).map(bandIndexSchema))

  private def readAdmissionTable(spark: SparkSession, dir: String,
      table: String): DataFrame = table match {
    case DigestsTable => readDigests(spark, dir)
    case SpanHashesTable => readSpanHashes(spark, dir)
    case ShingleSetsTable => readShingleSets(spark, dir)
    case BandIndexTable => readBandIndex(spark, dir)
  }

  /** The model rung's ship-to-executors artifact, loaded from the
    * persisted weight table (same fail-loud cap discipline as
    * [[graft.ext.QualityModel.nbWeightsMicro]]).
    */
  def readNbWeightsMicro(spark: SparkSession, dir: String,
      maxVocab: Int = 1 << 20): Map[String, Long] =
    readWeightTable(spark, s"$dir/$NbWeightsTable", "readNbWeightsMicro",
      maxVocab)

  /** One (term, llr_micro) table → shipped map loader for every
    * weight artifact (NB quality, DSIR importance): count-then-collect
    * (never limit(n+1) — the AQE replan hazard
    * [[graft.ext.QualityModel.nbWeightsMicro]] documents) with the
    * fail-loud vocab cap in ONE place.
    *
    * The last map loaded is memoized: a slice loop admits every slice
    * against the same frozen table, which appends never touch, and
    * reloading it cost three Spark jobs per slice. The key is the path
    * plus the table's file listing ([[corpusFingerprint]]), so a
    * rebuild or retrain under the same path reloads; the vocab cap is
    * checked on every call, hit or miss.
    */
  private def readWeightTable(spark: SparkSession, path: String,
      label: String, maxVocab: Int): Map[String, Long] = {
    val key = s"$path|${corpusFingerprint(spark, path)}"
    weightMemo.get() match {
      case WeightMemo(`key`, n, weights) =>
        checkVocab(label, n, maxVocab)
        weights
      case _ =>
        val rows = readTable(spark, path, Some(WeightsSchema))
        val n = rows.count()
        checkVocab(label, n, maxVocab)
        val weights = rows.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        weightMemo.set(WeightMemo(key, n, weights))
        weights
    }
  }

  private final case class WeightMemo(key: String, rows: Long,
      weights: Map[String, Long])
  private val weightMemo =
    new java.util.concurrent.atomic.AtomicReference[WeightMemo]()

  private def checkVocab(label: String, n: Long, maxVocab: Int): Unit =
    require(n <= maxVocab,
      s"$label: persisted vocabulary has $n terms > " +
        s"maxVocab=$maxVocab — prune the tail or use a broadcast-join scorer")

  /** Full four-rung admission of `fresh` against the PERSISTED
    * indexes: exact (digest anti-join) ∖ substring (span semi-join) ∖
    * fuzzy (band-index candidates + stored-set Jaccard verify), then
    * the model rung's row-local micro-llr filter. Admits exactly what
    * the in-plan ladder + quality gate admit (oracle-pinned by
    * q_admit_persisted) while never touching the corpus — the serve
    * path a nightly-built 100 TB index feeds.
    *
    * Plan shape: the slice is hashed ONCE into one eagerly
    * checkpointed frame (id, text, digest, shingle set), its size
    * estimate observed on that same job
    * ([[graft.ext.Dedup.checkpointPriced]]: no probe job; an
    * over-guard slice is materialized too, and why that is the
    * cheaper side is said there). Every store table is then the
    * STREAMED side of its join, and no hash table is built from a
    * store scan:
    *  - `digests` semi-joins the slice's digests, `span_hashes` joins
    *    its (span hash, id) rows; both build sides are broadcast when
    *    the slice estimate fits [[HashDefs.CrossBroadcastMaxBytes]];
    *  - the fuzzy rung is [[graft.ext.Dedup.crossPairsFromSets]], the
    *    implementation [[graft.ext.Dedup.minhashCrossPairsFromIndex]]
    *    runs too: `band_index` streams against the slice's bands,
    *    `shingle_sets` against the candidate pairs, which are
    *    checkpointed and broadcast only when their OBSERVED count
    *    fits the guard (their size grows with the store's fan-out,
    *    which no slice estimate bounds).
    * Past a guard, plain joins: degraded, never a driver OOM. The
    * exact rung stays row-wise (anti-join on the digest); the
    * substring and fuzzy hit ids are anti-joined as one union with no
    * `distinct` (anti-joins are set-semantic, so duplicate hit rows
    * never change a verdict). The two hit frames that come back
    * broadcast are bounded by the slice: matched store digests and
    * span hashes number at most the slice's own, because those tables
    * hold each hash once — written distinct, appended from admitted
    * documents whose hashes the exact and substring rungs just proved
    * absent, and re-distinct'd by [[compactAdmissionIndexes]] — and
    * the fuzzy hits at most the priced candidates. So admit cost
    * scales with the slice and its candidates plus one streamed scan
    * of each store table.
    */
  def admitFromIndexes(fresh: DataFrame, spark: SparkSession, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 8, minJaccard: Double = 0.5): DataFrame =
    admitPlan(fresh, spark, dir, idCol, textCol, spanWords, minJaccard,
      graft.ext.HashDefs.CrossBroadcastMaxBytes)

  /** [[admitFromIndexes]] with its broadcast guard as a parameter, so a
    * spec can force the over-guard path: the model rung over
    * [[novelFromIndexes]].
    */
  private[io] def admitPlan(fresh: DataFrame, spark: SparkSession,
      dir: String, idCol: String, textCol: String, spanWords: Int,
      minJaccard: Double, maxBroadcastBytes: Long): DataFrame =
    graft.ext.QualityModel.admitByModel(
        novelFromIndexes(fresh, spark, dir, idCol, textCol, spanWords,
          minJaccard, maxBroadcastBytes),
        readNbWeightsMicro(spark, dir), textCol)
      .select(idCol)

  /** The exact, substring and fuzzy rungs of [[admitFromIndexes]]: the
    * hashed slice rows (`idCol`, `textCol`, `__digest`, `__hs`) that
    * no store table matches, with the plan shape documented there.
    * The one copy of the store-side ladder: the batch admission runs
    * the model rung over it, and the streaming full-ladder gate its
    * embedding rung.
    */
  private[graft] def novelFromIndexes(fresh: DataFrame, spark: SparkSession,
      dir: String, idCol: String, textCol: String, spanWords: Int,
      minJaccard: Double, maxBroadcastBytes: Long): DataFrame = {
    import graft.ext.{Dedup, HashDefs}
    val (slice, estBytes) = Dedup.checkpointPriced(fresh, textCol)(
      _.select(col(idCol), col(textCol),
        md5(col(textCol)).as("__digest"),
        graft.functions.TextHashFunctions.shingle_hashes(
          col(textCol), HashDefs.ShingleN).as("__hs")))
    val small = estBytes <= maxBroadcastBytes
    def sized(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    val exactHits = readDigests(spark, dir)
      .join(sized(slice.select(col("__digest").as("digest"))), Seq("digest"),
        "left_semi")
      .select(col("digest").as("__digest"))
    val substrHits = readSpanHashes(spark, dir)
      .join(sized(Dedup.spanHashIndex(slice, idCol, textCol, spanWords)
        .select("h", "id")), Seq("h"))
      .select(col("id").as("__hit"))
    val (fuzzyPairs, pairsFit) = Dedup.crossPairsFromSets(
      readBandIndex(spark, dir), readShingleSets(spark, dir),
      slice.select(col(idCol).as("id"), col("__hs").as("hs")),
      small, minJaccard, maxBroadcastBytes)
    val hits = substrHits.union(fuzzyPairs.select(col("new_id").as("__hit")))
    slice
      .join(sized(exactHits), Seq("__digest"), "left_anti")
      .join(if (small && pairsFit) broadcast(hits) else hits,
        col(idCol) === col("__hit"), "left_anti")
  }

  /** Incremental maintenance — the production ingest loop's other
    * half: after a slice is ADMITTED, append its index rows so the
    * next slice is gated against corpus ∪ admitted without a rebuild.
    * The three dedup indexes are pure unions, so appending the new
    * docs' rows (parquet append — one new file set, no rewrite) makes
    * the store EXACTLY equal to a from-scratch build over the grown
    * corpus, with two caveats by design: `digests` and `span_hashes`
    * are written pre-distinct'd per batch, so cross-batch duplicates
    * can appear as extra ROWS — harmless for the semi/anti-join
    * consumers (set semantics) and reclaimed by the next full
    * rebuild/compaction; and the NB weight table is NOT appendable
    * (llr depends on global totals) — retrain it on the next corpus
    * refresh, like every shipped model artifact. Equality of
    * append-then-serve vs rebuild-over-union is pinned in
    * IndexStoreSpec. The four appends run concurrently, so `newDocs`
    * must not read the store's own tables — materialize it first (the
    * ingest loop's admitted frame is a checkpoint).
    */
  def appendAdmissionIndexes(newDocs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 8): Unit = {
    import graft.ext.Dedup
    val sets = newDocs.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions.shingle_hashes(
        col(textCol), graft.ext.HashDefs.ShingleN).as("hs"))
    writeConcurrently(newDocs.sparkSession)(
      () => newDocs.select(md5(col(textCol)).as("digest")).distinct()
        .write.mode(SaveMode.Append).parquet(s"$dir/$DigestsTable"),
      () => Dedup.spanHashIndex(newDocs, idCol, textCol, spanWords)
        .select("h").distinct()
        .write.mode(SaveMode.Append).parquet(s"$dir/$SpanHashesTable"),
      () => sets.write.mode(SaveMode.Append).parquet(s"$dir/$ShingleSetsTable"),
      () => Dedup.lshBands(Dedup.minhashSignature(sets))
        .write.mode(SaveMode.Append).parquet(s"$dir/$BandIndexTable"))
  }

  /** Compaction — the maintenance face [[appendAdmissionIndexes]]
    * documents as its debt: `digests`/`span_hashes` are written
    * pre-distinct'd PER BATCH, so months of daily appends accumulate
    * cross-batch duplicate ROWS (and a doc re-appended twice would
    * duplicate its `band_index`/`shingle_sets` rows too) that inflate
    * every semi/anti-join build side without changing its answer.
    * This distinct-rewrites each dedup table through a temp dir and
    * swaps it in via the Hadoop FS API (write `.compact_<t>` →
    * delete old → rename; the one non-atomic window is
    * delete-to-rename, the standard FS-level swap — run it in the
    * same maintenance slot as the nightly rebuild would occupy).
    * Serve-equality before/after and strict row-count shrink on an
    * appended store are pinned in IndexStoreSpec; SCALE.md §indexes
    * notes the trigger heuristic.
    */
  def compactAdmissionIndexes(spark: SparkSession, dir: String): Unit =
    swapRewrite(spark, dir,
      Seq(DigestsTable, SpanHashesTable, ShingleSetsTable, BandIndexTable),
      read = Some(readAdmissionTable(spark, dir, _))) {
      (df, out) => df.distinct().write.mode(SaveMode.Overwrite).parquet(out)
    }

  /** Takedown / opt-out delete for the admission store: remove `ids`
    * (one `id` column) from the DOC-BEARING tables — `shingle_sets`
    * and `band_index` — so removed documents stop appearing as fuzzy
    * candidates (spec-pinned). `digests` and `span_hashes` are
    * DELIBERATELY retained: they carry no document ids (pre-
    * distinct'd hash sets), and for a takedown that is the direction
    * you want — an identical or span-overlapping re-submission of
    * removed content stays BLOCKED at the exact/substring rungs.
    * A scheduled full rebuild reclaims the orphaned hashes if the
    * policy is "forget entirely" rather than "never re-admit".
    */
  def deleteFromAdmissionIndexes(ids: DataFrame, dir: String): Unit = {
    // eager checkpoint: same self-reference hazard as
    // [[deleteFromAnnIndexes]] — an `ids` plan derived from
    // shingle_sets must not be re-evaluated after that table is
    // rewritten; and mustExist because a delete that silently no-ops
    // against a typo'd/unbuilt dir would record a takedown as done
    val del = ids.select(col(ids.columns.head).as("id")).localCheckpoint()
    swapRewrite(ids.sparkSession, dir, Seq(ShingleSetsTable, BandIndexTable),
        mustExist = true,
        read = Some(readAdmissionTable(ids.sparkSession, dir, _))) {
      (df, out) => df.join(del, Seq("id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
  }

  /** The rewrite-through-tmp + FS-rename swap both compaction faces
    * share: read each existing table, apply the per-table rewrite
    * into `.compact_<t>`, delete the original, rename the rewrite in
    * — each table on its own thread ([[writeConcurrently]]; a rewrite
    * reads only its own table and frames materialized before the
    * call, as every delete face's checkpointed id set is).
    * The one non-atomic window is delete-to-rename — the standard
    * FS-level swap; run compactions in a maintenance slot.
    * `mustExist` picks the missing-table semantics: skipping is right
    * for compaction (nothing to compact), fail-loud is right for a
    * delete (a takedown against an absent table is an operator error,
    * not a no-op). `read` loads a table by name (default: by schema
    * inference; the admission store pins its schemas).
    */
  private def swapRewrite(spark: SparkSession, dir: String,
      tables: Seq[String], mustExist: Boolean = false,
      read: Option[String => DataFrame] = None)(
      write: (DataFrame, String) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    writeConcurrently(spark)(tables.map { t => () =>
      val cur = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/.compact_$t")
      val fs = cur.getFileSystem(conf)
      if (fs.exists(cur)) {
        write(read.fold(spark.read.parquet(cur.toString))(_(t)), tmp.toString)
        require(fs.delete(cur, true), s"compact: could not delete $cur")
        require(fs.rename(tmp, cur), s"compact: could not swap in $tmp")
      } else require(!mustExist,
        s"swapRewrite: required table $cur does not exist")
    }: _*)
  }

  /** Runs independent table writes at once, one thread per write, and
    * returns when every one has finished. Each write goes through
    * `SQLExecution.withThreadLocalCaptured` — the wrapper Spark runs
    * its broadcast futures under — so its jobs carry the caller's
    * local properties (job group, streaming query properties, root
    * execution id) and active session. A failure never cuts the wait
    * short: the first failure in `writes` order is rethrown with the
    * later ones suppressed, and no job of the call starts after it
    * returns.
    *
    * CONTRACT: each write reads only its own table plus frames
    * materialized before the call — never a table another write of
    * the same call mutates. Writes whose ORDER is a crash contract
    * ([[appendParagraphFuzzyIndex]]' hash-table-last append) stay
    * sequential and must not come through here.
    */
  private def writeConcurrently(spark: SparkSession)(writes: (() => Unit)*): Unit =
    if (writes.size <= 1) writes.foreach(_())
    else {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val failures = writes
        .map(w => org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, writePool)(w()))
        .flatMap(f => scala.util.Try(f.join()).failed.toOption)
        .map {
          case e: java.util.concurrent.CompletionException if e.getCause != null =>
            e.getCause
          case e => e
        }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    }

  /** The writers' threads: cached daemon threads, reused across calls
    * and retired after a minute idle (the shape of the pool Spark runs
    * broadcast builds on), so a call runs one thread per table it
    * writes.
    */
  private lazy val writePool = java.util.concurrent.Executors.newCachedThreadPool {
    (r: Runnable) =>
      val t = new Thread(r, "indexstore-write")
      t.setDaemon(true)
      t
  }

  /** Session-scoped build-once memo: the first call for a (session,
    * corpus-dir) pair builds + writes the admission indexes under
    * target/indexes/<key>; later calls (bench reps, other registry
    * queries, streaming gates) reuse the files — the measured
    * "rebuild avoided" datapoint in SCALE.md §indexes. The memo key
    * folds in a CONTENT fingerprint of the corpus directory (file
    * paths + lengths + mtimes) and the build parameters, so changed
    * corpus content or a different build configuration under the same
    * path rebuilds instead of silently serving a stale index; the
    * fingerprint is also recorded in the manifest for offline audit.
    */
  // dir → the (fingerprint, params) key it was LAST built with: a
  // Map, not a Set, because different parameterizations share one
  // destination dir — remembering every key ever built would let an
  // A→B→A parameter sequence serve A's dir while it holds B's build
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Cheap content fingerprint of a corpus directory: md5 over the
    * recursive (path, length, mtime) listing — a driver-side FS
    * listing, no data read, the same freshness signal incremental
    * frameworks key caches on. Any file added, removed, grown, or
    * rewritten in place changes it — up to the filesystem's mtime
    * granularity: an in-place rewrite that preserves the byte length
    * within one mtime tick (a same-second overwrite on a seconds-
    * resolution FS) is invisible, the standard metadata-heuristic
    * blind spot (make's, too). Corpus dirs here are write-once
    * parquet (writers replace files, never patch them in place), so
    * the listing is the right cost/fidelity point; a pipeline that
    * DOES rewrite in place should mix a content sample (e.g. parquet
    * footer bytes) into its freshness key instead.
    */
  def corpusFingerprint(spark: SparkSession, corpusDir: String): String = {
    val root = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return "absent"
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(entries.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Run `build(dir)` once per (destination, fingerprint, params) key
    * — the shared memo discipline of every ensure* face. The
    * destination dir encodes the corpus path + variant; the key adds
    * the content fingerprint and build parameters, so staleness or a
    * parameter change forces an Overwrite rebuild into the same dir.
    */
  private def ensureBuilt(spark: SparkSession, corpusDir: String,
      variant: String, params: String)(build: String => Unit): String = {
    // the PARAMS digest is part of the directory key, not just the
    // memo key: two callers sharing a variant with different params
    // (e.g. the vocab-60 and vocab-80 unigram faces) must get two
    // dirs — with a shared dir the memo mismatch silently RETRAINED
    // and rewrote the store on every alternation (measured ~0.4 s per
    // flip on the unigram table at sf0.1, round 18), exactly the
    // rebuild churn the build-once memo exists to prevent
    val pDigest = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(params.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest().map("%02x".format(_)).mkString.take(8)
    }
    val key = corpusDir.replaceAll("[^A-Za-z0-9._-]", "_") + variant +
      "-" + pDigest
    val dir = java.nio.file.Paths.get("target", "indexes", key)
      .toAbsolutePath.toString
    val memoKey = s"${corpusFingerprint(spark, corpusDir)}|$params"
    if (built.get(dir) != memoKey) built.synchronized {
      if (built.get(dir) != memoKey) {
        build(dir)
        built.put(dir, memoKey)
        ()
      }
    }
    dir
  }

  def ensureAdmissionIndexes(corpus: DataFrame, corpusDir: String,
      idCol: String = "doc_id", textCol: String = "text"): String = {
    val spark = corpus.sparkSession
    ensureBuilt(spark, corpusDir, "", s"adm|$idCol|$textCol") { dir =>
      writeAdmissionIndexes(corpus, dir, idCol, textCol,
        manifestExtra = fingerprintField(spark, corpusDir))
    }
  }

  /** The one regex that knows how [[writeManifest]] serializes the
    * fingerprint field — requireFresh and recordFingerprint both go
    * through it, so a format change breaks in one place, loudly.
    */
  private val FingerprintField = """"corpus_fingerprint": "([0-9a-f]+|absent)"""".r

  private def readManifest(spark: SparkSession, indexDir: String): String = {
    val manifest = readManifestIfAny(spark, indexDir)
    require(manifest.isDefined, s"no manifest under $indexDir")
    manifest.get
  }

  private def readManifestIfAny(spark: SparkSession,
      indexDir: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(s"$indexDir/manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Serve-side freshness check for a store that was built OUTSIDE
    * this session (the memo only protects in-session callers): fail
    * loud if the manifest's recorded corpus fingerprint no longer
    * matches the corpus directory's current listing. A nightly serve
    * job calls this once at startup — one FS metadata listing, no
    * data read — instead of discovering staleness as silently-wrong
    * admission verdicts.
    */
  def requireFresh(spark: SparkSession, indexDir: String,
      corpusDir: String): Unit = {
    val recorded = FingerprintField
      .findFirstMatchIn(readManifest(spark, indexDir)).map(_.group(1))
    require(recorded.isDefined,
      s"requireFresh: manifest under $indexDir records no corpus " +
        "fingerprint — rebuild with a fingerprint-recording ensure*/write face")
    val current = corpusFingerprint(spark, corpusDir)
    require(recorded.contains(current),
      s"requireFresh: index under $indexDir was built from a different " +
        s"state of $corpusDir (recorded ${recorded.get}, current $current) " +
        "— rebuild before serving")
  }

  /** Re-stamp the manifest's corpus fingerprint to the corpus dir's
    * CURRENT listing — the append-maintenance companion of
    * [[requireFresh]]: an `append*Indexes` call that incorporates the
    * batch which changed the corpus leaves the store correct but the
    * recorded fingerprint stale, and without this the freshness check
    * would demand the very rebuild the append avoided. Call it after
    * each append that brings the store in line with the corpus dir;
    * a crash between append and stamp fails SAFE (requireFresh
    * rejects, the maintenance job re-runs).
    */
  def recordFingerprint(spark: SparkSession, indexDir: String,
      corpusDir: String): Unit = {
    val manifest = readManifest(spark, indexDir)
    val fp = corpusFingerprint(spark, corpusDir)
    val field = s""""corpus_fingerprint": "$fp""""
    val updated =
      if (FingerprintField.findFirstIn(manifest).isDefined)
        FingerprintField.replaceAllIn(manifest,
          java.util.regex.Matcher.quoteReplacement(field))
      else manifest.replaceFirst("\\{", java.util.regex.Matcher
        .quoteReplacement(s"{\n  $field,"))
    // tmp + ATOMIC overwrite-rename (FileContext, Rename.OVERWRITE):
    // this runs against a LIVE store, and neither a crash mid-write
    // nor a crash mid-swap may leave the store without its manifest
    // (whose build metadata only a full rebuild could restore) — a
    // delete-then-rename swap would have exactly that window
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(conf)
    val path = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$indexDir/manifest.json"))
    val tmp = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$indexDir/.manifest_tmp"))
    val out = fs.create(tmp, true)
    try out.write(updated.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(path.toUri, conf)
      .rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // keep the in-session memo in step: an ensure* call after the
    // append must SERVE the appended store, not Overwrite-rebuild it
    // from the caller's (pre-append) corpus slice — re-key every memo
    // entry for this dir to the fingerprint just recorded
    built.computeIfPresent(java.nio.file.Paths.get(indexDir)
        .toAbsolutePath.toString,
      (_, old) => fp + old.substring(old.indexOf('|')))
    ()
  }

  /** Order-insensitive content digest of a (small) id set — the memo
    * ingredient for ensure* faces parameterized by an id list (delete
    * sets are takedown lists: thousands, not corpus-sized — the cap
    * keeps a mis-wired corpus-scale frame from becoming a silent
    * driver collect).
    */
  private def idSetDigest(ids: DataFrame, cap: Int = 1 << 20): String = {
    val vals = ids.select(col(ids.columns.head).cast("string"))
      .limit(cap + 1).collect().map(r => String.valueOf(r.get(0)))
    require(vals.length <= cap,
      s"idSetDigest: id set exceeds $cap rows — not a takedown-sized set")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(vals.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Test hook: forget the build memo (forces a rebuild). */
  private[graft] def resetBuilt(): Unit = built.clear()

  // ---- ANN index family (IVF inverted file + PQ codebooks/codes) ----

  val AnnCentroidsTable = "ann_centroids"
  val AnnCodebooksTable = "ann_codebooks"
  val AnnCodesTable = "ann_codes"
  val IvfAssignedTable = "ivf_assigned"

  /** Build and persist the ANN index family from `corpus`:
    * {{{
    *   ann_centroids/ (cell, vec)        the IVF coarse quantizer
    *   ann_codebooks/ (s, j, vec)        PQ sub-space codebooks
    *   ann_codes/     (id, cell, codes)  m bytes + a cell per vector
    *   ivf_assigned/  (id, cell, vec, norm)  the full-precision
    *                                     inverted file (exact-cosine
    *                                     IVF serving and PQ rerank)
    * }}}
    * The quantizer tables are tiny (nCells + m·ks rows); `ann_codes`
    * is the 16×-compressed scan body; `ivf_assigned` is corpus-sized
    * — the standard IndexIVFPQ storage split. At 100 TB one would
    * additionally partition `ivf_assigned` BY cell so a probe prunes
    * files, the same layout discipline as
    * [[graft.ops.Layout]]'s Z-order cells.
    */
  def writeAnnIndexes(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 4, ks: Int = 16, dim: Int = 64, trainIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Array[Array[Double]]] = None,
      codebooks: Option[Array[Array[Array[Double]]]] = None,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    import graft.ext.Similarity
    val spark = corpus.sparkSession
    import spark.implicits._
    // `centroids`/`codebooks` let the quantizer be TRAINED ELSEWHERE
    // (a representative offline sample) and only APPLIED here — the
    // production split that makes [[appendAnnIndexes]] exact: day-1
    // builds and day-N appends encode against the identical frozen
    // quantizer regardless of which slice they saw
    // one hash-ordered TakeOrdered scan serves BOTH quantizer picks
    // when neither is supplied: pqCodebooks' picks are ivfCentroids
    // with limit ks, and ivfCentroids is deterministic-prefix-stable
    // (hash-ordered), so the first ks of a max(nCells, ks) pick ARE
    // pqCodebooks' picks — the untrained build paid the corpus scan
    // twice for identical prefixes (guide §1.2: fewer passes)
    val (cents, cb) = (centroids, codebooks) match {
      case (None, None) if trainIters == 0 =>
        val picks = Similarity.ivfCentroids(corpus, math.max(nCells, ks),
          idCol, vecCol)
        (picks.take(nCells),
          Similarity.pqCodebooksFromPicks(picks.take(ks), m, ks, dim))
      case _ =>
        val ce = centroids.getOrElse {
          if (trainIters > 0)
            Similarity.ivfCentroidsTrained(corpus, nCells, idCol, vecCol,
              trainIters)
          else Similarity.ivfCentroids(corpus, nCells, idCol, vecCol)
        }
        (ce, codebooks.getOrElse(
          Similarity.pqCodebooks(corpus, m, ks, dim, idCol, vecCol)))
    }

    cents.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$AnnCentroidsTable")
    cb.zipWithIndex.flatMap { case (sub, s) =>
        sub.zipWithIndex.map { case (v, j) => (s, j, v.toSeq) }
      }.toSeq.toDF("s", "j", "vec")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$AnnCodebooksTable")

    writeAnnRows(corpus, dir, cents, cb, idCol, vecCol, SaveMode.Overwrite)

    writeManifest(spark, dir, Seq(
      "kind" -> "\"ann\"",
      "id_col" -> s""""$idCol"""",
      "vec_col" -> s""""$vecCol"""",
      "n_cells" -> cents.length.toString,
      "m" -> cb.length.toString,
      "ks" -> cb.headOption.map(_.length).getOrElse(ks).toString,
      "dim" -> dim.toString,
      "train_iters" -> trainIters.toString,
      "quantizer" ->
        (if (centroids.isDefined) "\"explicit\"" else "\"corpus\""),
      "tables" -> Seq(AnnCentroidsTable, AnnCodebooksTable, AnnCodesTable,
        IvfAssignedTable).map("\"" + _ + "\"").mkString("[", ",", "]"))
      ++ manifestExtra)
  }

  /** The two corpus-sized ANN tables (codes + inverted file) for
    * `vecs` under a FIXED quantizer — the shared body of the full
    * build and the incremental append.
    */
  private def writeAnnRows(vecs: DataFrame, dir: String,
      cents: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      idCol: String, vecCol: String, mode: SaveMode): Unit = {
    import graft.ext.Similarity
    import graft.functions.IvfFunctions.ivf_cells
    // codes are cell-partitioned like the inverted file: the IVF-PQ
    // serve's cell equi-join prunes code files the same way (DPP)
    vecs
      .select(col(idCol).as("id"), col(vecCol).as("rv"),
        Similarity.normalizedGuarded(col(vecCol)).as("nv"))
      .select(col("id"),
        element_at(ivf_cells(col("rv"), cents, 1), 1).as("cell"),
        Similarity.pqEncode(col("nv"), cb).as("codes"))
      .write.mode(mode).partitionBy("cell")
      .parquet(s"$dir/$AnnCodesTable")

    // the inverted file is PARTITIONED BY cell — the layout that makes
    // "inverted" physical: a probe's cell equi-join prunes whole files
    // (statically for literal cells, via dynamic partition pruning for
    // the broadcast probe side), so an nProbe/nCells query reads
    // nProbe/nCells of the bytes, not just of the rows
    Similarity.withNorm(vecs.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .withColumn("cell", element_at(ivf_cells(col("vec"), cents, 1), 1))
      .write.mode(mode).partitionBy("cell")
      .parquet(s"$dir/$IvfAssignedTable")
  }

  /** Incremental ANN maintenance — FAISS `add()` semantics for the
    * persisted index: new vectors are encoded and cell-assigned
    * against the FROZEN persisted quantizer (centroids + codebooks
    * read back from the store, never retrained) and their rows
    * appended to the cell-partitioned `ann_codes`/`ivf_assigned` —
    * one new file set per touched cell partition, no rewrite of the
    * existing inverted file. Because the quantizer is frozen,
    * append-then-serve is EXACTLY rebuild-over-union under the same
    * quantizer (pinned in IndexStoreSpec for both the IVF and IVF-PQ
    * serve faces); what an append can NOT do is adapt the quantizer
    * to a drifted vector distribution — that is the scheduled full
    * rebuild, the same contract as the admission store's NB table.
    */
  def appendAnnIndexes(newVecs: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    val cents = readAnnCentroids(spark, dir)
    val cb = readAnnCodebooks(spark, dir)
    writeAnnRows(newVecs, dir, cents, cb, idCol, vecCol, SaveMode.Append)
  }

  /** Surgical delete from the persisted ANN store — the takedown /
    * opt-out face every training-data index eventually needs: remove
    * `ids` (one `id` column) from `ann_codes` and `ivf_assigned`
    * WITHOUT rewriting the whole inverted file. The cell partition
    * layout is what makes it surgical: one thin semi-join finds the
    * affected cells, and a dynamic-partition-overwrite write replaces
    * ONLY those cell directories with their surviving rows (untouched
    * cells' files are not rewritten — pinned by mtime in
    * IndexStoreSpec); a cell whose rows are all deleted is removed
    * explicitly (dynamic overwrite can't replace a partition with
    * nothing). Serve-equality with a rebuild-over-survivors under the
    * same frozen quantizer is pinned; the quantizer itself is
    * untouched (like FAISS `remove_ids` — retrain on schedule, not
    * per delete).
    */
  def deleteFromAnnIndexes(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    // materialize the delete set BEFORE any mutation: `ids` is a lazy
    // plan and may legitimately derive from the very tables this
    // rewrites (readAnnCodes(...).filter(pred)) — without the eager
    // checkpoint, the second table's rewrite would re-evaluate it
    // against the already-mutated first table and silently keep the
    // rows it was asked to remove
    val del = ids.select(col(ids.columns.head).as("id")).localCheckpoint()
    val conf = spark.sparkContext.hadoopConfiguration
    // both tables cell-assign the same vectors under the same frozen
    // quantizer, so ONE thin semi-join (against the inverted file)
    // discovers the affected cells for both rewrites
    val affectedCells = spark.read.parquet(s"$dir/$IvfAssignedTable")
      .join(del, Seq("id"), "left_semi")
      .select("cell").distinct().collect().map(_.get(0))
    Seq(AnnCodesTable, IvfAssignedTable).foreach { t =>
      val path = s"$dir/$t"
      val cur = spark.read.parquet(path)
      if (affectedCells.nonEmpty) {
        // survivors of ONLY the affected cells land in a temp dir
        // (never read-and-overwrite the same path), then each
        // affected cell directory is swapped: drop the old dir,
        // rename the rewritten one in — a cell emptied entirely
        // simply has nothing to rename in
        val tmp = s"$dir/.delete_$t"
        cur.filter(col("cell").isin(affectedCells.toIndexedSeq: _*))
          .join(del, Seq("id"), "left_anti")
          .repartition(col("cell"))
          .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(tmp)
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
        affectedCells.foreach { c =>
          val oldCell = new org.apache.hadoop.fs.Path(s"$path/cell=$c")
          val newCell = new org.apache.hadoop.fs.Path(s"$tmp/cell=$c")
          if (fs.exists(oldCell)) {
            require(fs.delete(oldCell, true),
              s"deleteFromAnnIndexes: could not drop $oldCell")
            ()
          }
          if (fs.exists(newCell)) {
            require(fs.rename(newCell, oldCell),
              s"deleteFromAnnIndexes: could not swap in $newCell")
            ()
          }
        }
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        ()
      }
    }
  }

  /** Small-files compaction for the append-maintained ANN store —
    * the layout debt [[appendAnnIndexes]] accumulates: every append
    * adds a new parquet file set to each touched `cell=N` directory,
    * and months of daily appends turn the nProbe-pruned serve scan
    * into a many-small-files read (task-per-file overhead, footer
    * reads). This rewrites `ann_codes`/`ivf_assigned` repartitioned
    * BY cell — one task owns each cell's rows, so each cell dir
    * lands as one file — through a temp dir + FS-rename swap (same
    * discipline as [[compactAdmissionIndexes]]); rows, cells, and
    * serve results are unchanged, pinned in IndexStoreSpec. Run it
    * in the same maintenance slot. Appends carry new ids in the happy
    * path, but an at-least-once ingest loop can RE-DELIVER a batch —
    * [[appendAnnIndexes]] has no dedup of its own, and duplicate
    * (id, cell) rows would duplicate serve candidates forever — so
    * the rewrite goes through `distinct()` (rows are exact
    * duplicates: same id, cell, codes/vec under the frozen quantizer),
    * reclaiming re-delivered batches exactly like the admission
    * compaction does.
    */
  def compactAnnIndexes(spark: SparkSession, dir: String): Unit =
    swapRewrite(spark, dir, Seq(AnnCodesTable, IvfAssignedTable)) {
      (df, out) => df.distinct().repartition(col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(out)
    }

  /** The RETRAIN executor — the action [[annCellDrift]] and
    * [[maintenanceDue]]'s `retrain_quantizer` signal call for: train
    * a fresh quantizer (centroids + PQ codebooks) on the CURRENT
    * corpus, re-encode every vector under it, and swap the WHOLE
    * STORE DIRECTORY in (build into a sibling tmp, two renames).
    * Directory-level on purpose: a retrain changes the quantizer AND
    * every row derived from it, and per-table swaps would open a
    * window where new centroids serve against old cell assignments —
    * a silently MIXED quantizer, the one failure mode an index swap
    * must never have. With the directory swap the only crash window
    * is store-briefly-absent (reads fail loudly; the previous build
    * survives at `<dir>.retrain_old` for manual recovery — re-running
    * the retrain is the documented remedy). This closes the drift
    * loop: append-freeze ([[appendAnnIndexes]]) → detect
    * ([[annCellDrift]]) → plan ([[maintenanceDue]]) → retrain (here)
    * — FAISS's `train()`-again-and-rebuild, scheduled by the PSI
    * monitor instead of by the calendar. The result is byte-for-byte
    * a fresh [[writeAnnIndexes]] over `corpus` (spec-pinned):
    * retraining is a full re-encode by definition — the cost a
    * drifted distribution has already justified — so unlike
    * append/delete there is no incremental shortcut to document.
    *
    * `corpus` must be the SOURCE vectors (the corpus dir), never a
    * frame derived from the store's own tables — the build replaces
    * those mid-plan.
    */
  def retrainAnnIndexes(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 4, ks: Int = 16, dim: Int = 64, trainIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    val spark = corpus.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = new org.apache.hadoop.fs.Path(dir)
    // tmp and graveyard are SIBLINGS of the store dir, so the store
    // itself can be renamed as one unit
    val tmp = new org.apache.hadoop.fs.Path(s"$dir.retrain")
    val grave = new org.apache.hadoop.fs.Path(s"$dir.retrain_old")
    val fs = cur.getFileSystem(conf)
    require(fs.exists(cur),
      s"retrainAnnIndexes: no store at $dir — nothing to retrain " +
        "(a crashed prior retrain leaves the old build at " +
        s"$grave; restore or rebuild)")
    fs.delete(tmp, true) // a previous crashed retrain's leftovers
    fs.delete(grave, true)
    writeAnnIndexes(corpus, tmp.toString, nCells, m, ks, dim,
      trainIters, idCol, vecCol, manifestExtra = manifestExtra)
    require(fs.rename(cur, grave), s"retrain: could not retire $cur")
    require(fs.rename(tmp, cur), s"retrain: could not swap in $tmp")
    fs.delete(grave, true)
    ()
  }

  /** The "when to retrain the quantizer" signal — the decision
    * [[appendAnnIndexes]]' frozen-quantizer contract delegates to a
    * schedule unless something measures it: per-cell PSI between the
    * stored inverted file's cell occupancy and a fresh batch's
    * assignment under the SAME frozen quantizer. A drifted embedding
    * distribution piles new vectors into few cells (recall decays at
    * fixed nProbe; probed cells balloon), and that skew is exactly
    * what the occupancy histogram sees — same conventional read as
    * every PSI monitor here (Σ psi_term > 0.25 ⇒ schedule the full
    * rebuild). Cost: one thin scan of the stored `cell` column + one
    * row-local assignment pass over the (small) fresh batch, both
    * reduced map-side to ≤ nCells rows — the ship-the-stats shape of
    * [[graft.ext.Drift]], which supplies the tail.
    */
  def annCellDrift(spark: SparkSession, dir: String, fresh: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.IvfFunctions.ivf_cells
    val cents = readAnnCentroids(spark, dir)
    val ref = readIvfAssigned(spark, dir)
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("cnt_ref"))
    val cur = fresh
      .select(element_at(ivf_cells(col(vecCol), cents, 1), 1).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt_cur"))
    graft.ext.Drift.psiFromHistograms(ref, cur, "cell")
  }

  /** The coarse quantizer, cell-ordered. */
  def readAnnCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/$AnnCentroidsTable")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /** PQ codebooks as codebooks(s)(j). */
  def readAnnCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/$AnnCodebooksTable")
      .orderBy("s", "j").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2)).toArray
  }

  def readAnnCodes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$AnnCodesTable")
  def readIvfAssigned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$IvfAssignedTable")

  /** Session-scoped build-once memo for the ANN indexes (same
    * discipline as [[ensureAdmissionIndexes]]).
    */
  private def fingerprintField(spark: SparkSession,
      corpusDir: String): Seq[(String, String)] =
    Seq("corpus_fingerprint" ->
      s""""${corpusFingerprint(spark, corpusDir)}"""")

  /** `variant` distinguishes different corpus SLICES of the same
    * corpus dir (the memo keys on the directory + variant, never the
    * FRAME): the registry's search faces index the full embeddings
    * table, the streaming gate indexes the seen half. CONTRACT: each
    * distinct slice of one corpus dir MUST use a distinct variant —
    * the memo cannot see which rows `corpus` selects, so two callers
    * reusing one variant with different slices would silently share
    * whichever store was built first (the same convention
    * [[ensureDsirWeights]] enforces through its `tag`, where the
    * selection is likewise a build parameter the path doesn't
    * encode).
    */
  def ensureAnnIndexes(corpus: DataFrame, corpusDir: String,
      variant: String = "-ann"): String =
    ensureBuilt(corpus.sparkSession, corpusDir, variant, s"ann$variant") { dir =>
      writeAnnIndexes(corpus, dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  /** Memoized build of an ANN store exercised through the INGEST
    * CYCLE: the quantizer is trained once over the full corpus (the
    * offline "representative sample" of production), the index is
    * built from the first ~80% of vectors, and the remaining slice
    * arrives via [[appendAnnIndexes]] against the frozen quantizer.
    * Because the quantizer equals the full-corpus one, the appended
    * store serves IDENTICALLY to a single full build — which is what
    * lets q_ann_ivf_appended share q_ann_ivf's oracle.
    */
  def ensureAnnAppendedIndexes(corpus: DataFrame, corpusDir: String): String =
    ensureBuilt(corpus.sparkSession, corpusDir, "-ann-app", "ann-app") { dir =>
      import graft.ext.Similarity
      val cents = Similarity.ivfCentroids(corpus, 16)
      val cb = Similarity.pqCodebooks(corpus, 4, 16, 64)
      val bucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
      writeAnnIndexes(corpus.filter(bucket < 800), dir,
        centroids = Some(cents), codebooks = Some(cb),
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
      appendAnnIndexes(corpus.filter(bucket >= 800), dir)
    }

  /** Memoized build of an ANN store exercised through the RETRAIN
    * cycle: day-1 build whose quantizer saw only the first ~80% of
    * vectors (the stale-quantizer state a drifted ingest leaves
    * behind), then [[retrainAnnIndexes]] over the full corpus — the
    * executor the drift monitor's `retrain_quantizer` signal fires.
    * Because retrain trains on and re-encodes the CURRENT corpus,
    * the final store must serve exactly like a from-scratch
    * [[writeAnnIndexes]] over it — which is what lets the registry
    * face share q_ann_ivf's oracle (full-corpus centroid replay).
    */
  def ensureAnnRetrainedIndexes(corpus: DataFrame, corpusDir: String): String =
    ensureBuilt(corpus.sparkSession, corpusDir, "-ann-ret", "ann-ret") { dir =>
      val bucket = graft.ext.TrainingData.splitBucket(col("vec_id"), 1000)
      writeAnnIndexes(corpus.filter(bucket < 800), dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
      retrainAnnIndexes(corpus, dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  /** Memoized build of an ANN store exercised through the TAKEDOWN
    * cycle: full build under a full-corpus quantizer, then
    * [[deleteFromAnnIndexes]] removes `deleteIds` surgically — the
    * registry face serving from this store must equal a build that
    * never contained the deleted vectors (same frozen quantizer),
    * which is what its oracle replays.
    */
  def ensureAnnDeletedIndexes(corpus: DataFrame, corpusDir: String,
      deleteIds: DataFrame): String =
    // the delete set is a BUILD PARAMETER: fold its content digest
    // into the memo key so a second call with different ids rebuilds
    // instead of serving the first call's takedown state
    ensureBuilt(corpus.sparkSession, corpusDir, "-ann-del",
        s"ann-del|${idSetDigest(deleteIds)}") { dir =>
      import graft.ext.Similarity
      writeAnnIndexes(corpus, dir,
        centroids = Some(Similarity.ivfCentroids(corpus, 16)),
        codebooks = Some(Similarity.pqCodebooks(corpus, 4, 16, 64)),
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
      deleteFromAnnIndexes(deleteIds, dir)
    }

  // ---- persisted perceptual fingerprints (image dHash) ----

  val ImageHashTable = "image_dhash"

  /** Persist the corpus's perceptual image fingerprints — the
    * pixel-modality admission artifact: one 64-bit dHash per decoded
    * payload ([[graft.ext.Multimodal.dHash64]] — the expensive real
    * codec pass runs ONCE at build time), unparseable payloads
    * dropped. 8 bytes of payload per row; the image rung and any
    * batch near-dup job then explode chunks from THIS table instead
    * of re-decoding the corpus — the same build-once/serve-many
    * contract as the text digest set.
    */
  def writeImageIndex(media: DataFrame, dir: String,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    imageHashRows(media)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$ImageHashTable")
    writeManifest(media.sparkSession, dir, Seq(
      "kind" -> "\"image\"",
      "bits" -> "64",
      "tables" -> s""""$ImageHashTable"""") ++ manifestExtra)
  }

  def readImageHashes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$ImageHashTable")

  /** Session-scoped build-once memo for the image fingerprint table.
    * `media` must be the (media_id, content) face of `corpusDir`'s
    * corpus — the fingerprint memo keys on the DIRECTORY, like every
    * ensure* face; `variant` distinguishes different media slices of
    * the same corpus dir (the gate fingerprints the seen half, the
    * batch near-dup faces the whole corpus).
    */
  def ensureImageIndex(media: DataFrame, corpusDir: String,
      variant: String = "-img"): String =
    ensureBuilt(media.sparkSession, corpusDir, variant, s"img$variant") { dir =>
      writeImageIndex(media, dir,
        manifestExtra = fingerprintField(media.sparkSession, corpusDir))
    }

  val ParagraphHashTable = "paragraph_hashes"

  /** Persist the corpus's distinct paragraph-hash set — the
    * paragraph-granularity admission artifact (the static side of the
    * Dolma/RefinedWeb paragraph pass, [[graft.ext.Dedup.paragraphDedup]]'s
    * streaming counterpart): one 60-bit hash per distinct non-blank
    * paragraph (split on `sep`), pre-distinct'd so the serving gate's
    * static side is a thin scan of 8-byte hashes, never a per-run
    * corpus re-split — the `span_hashes` contract one granularity up.
    */
  def writeParagraphIndex(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n\n",
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    paragraphHashRows(corpus, idCol, textCol, sep)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$ParagraphHashTable")
    writeManifest(corpus.sparkSession, dir, Seq(
      "kind" -> "\"paragraph\"",
      "tables" -> s""""$ParagraphHashTable"""") ++ manifestExtra)
  }

  def readParagraphHashes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$ParagraphHashTable")

  /** Session-scoped build-once memo for the paragraph-hash table —
    * `corpus` must be a deterministic face of `corpusDir`'s corpus
    * (the memo keys on the DIRECTORY + variant, the ensure*
    * convention: each distinct slice needs a distinct variant).
    */
  def ensureParagraphIndex(corpus: DataFrame, corpusDir: String,
      variant: String = "-para"): String =
    ensureBuilt(corpus.sparkSession, corpusDir, variant, s"para$variant") { dir =>
      writeParagraphIndex(corpus, dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  /** One 60-bit hash per distinct non-blank paragraph, under the
    * canonical [[graft.ext.Dedup.paragraphRows]] split rule the gate
    * and the batch operator share.
    */
  private def paragraphHashRows(corpus: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame =
    graft.ext.Dedup.paragraphRows(corpus, idCol, textCol, sep)
      .select(graft.ext.TextAnalysis.tokenHash60(col("para")).as("h"))
      .distinct()

  val ParagraphBandTable = "paragraph_bands"
  val ParagraphShingleTable = "paragraph_shingles"

  /** The FUZZY paragraph admission store: [[writeParagraphIndex]]'s
    * exact hash set PLUS the band index (h, band, band_hash) and
    * shingle sets (h, hs) of the corpus's DISTINCT paragraph texts,
    * keyed by the same 60-bit text hash — the static side of
    * [[graft.ext.Dedup.stripFuzzySeenParagraphs]], so a serving gate
    * strips both verbatim AND edited boilerplate without ever
    * re-splitting the corpus. One row per distinct paragraph in every
    * table: verbatim copies collapse at build time (the
    * [[graft.ext.Dedup.paragraphNearDupPairs]] collapse front,
    * persisted), so band fan-out is bounded by variant count, not
    * document frequency. Bands derive from the PERSISTED shingle
    * table, the [[writeAdmissionIndexes]] no-drift rule.
    */
  def writeParagraphFuzzyIndex(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n\n",
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    val spark = corpus.sparkSession
    val reps = graft.ext.Dedup.paragraphRows(corpus, idCol, textCol, sep)
      .select(graft.ext.TextAnalysis.tokenHash60(col("para")).as("h"),
        col("para"))
      .distinct()
    reps.select("h")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$ParagraphHashTable")
    reps.select(col("h"),
        graft.functions.TextHashFunctions.shingle_hashes(
          col("para"), graft.ext.HashDefs.ShingleN).as("hs"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$ParagraphShingleTable")
    graft.ext.Dedup.lshBands(graft.ext.Dedup.minhashSignature(
        spark.read.parquet(s"$dir/$ParagraphShingleTable")
          .select(col("h").as("id"), col("hs"))))
      .select(col("id").as("h"), col("band"), col("band_hash"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$ParagraphBandTable")
    writeManifest(spark, dir, Seq(
      "kind" -> "\"paragraph_fuzzy\"",
      "shingle_n" -> graft.ext.HashDefs.ShingleN.toString,
      "minhash_k" -> graft.ext.HashDefs.K.toString,
      "bands" -> graft.ext.HashDefs.Bands.toString,
      "rows_per_band" -> graft.ext.HashDefs.RowsPerBand.toString,
      "tables" -> Seq(ParagraphHashTable, ParagraphShingleTable,
        ParagraphBandTable).map("\"" + _ + "\"").mkString("[", ",", "]"))
      ++ manifestExtra)
  }

  /** Grow the fuzzy paragraph store with a batch's NOVEL distinct
    * paragraphs — the ingest-loop maintenance path: split, collapse to
    * distinct (h, para), anti-join the stored hash set, and append
    * the novel rows to all three tables. Appending novel-only keeps
    * every table one-row-per-distinct-text by construction (no
    * cross-batch duplicate debt, unlike [[appendAdmissionIndexes]]'
    * per-batch distinct — the paragraph key IS the content hash, so
    * the anti-join is exact; a re-run of the SAME batch appends
    * nothing, making the whole append idempotent under foreachBatch's
    * at-least-once replay). The novel frame is eagerly
    * localCheckpoint'ed BEFORE any write: its plan reads the hash
    * table the appends mutate, and all three appends must see the
    * same pre-append snapshot.
    *
    * Append ORDER is a durability invariant: shingles, then bands,
    * then the hash table LAST. Novelty detection keys on the hash
    * table, so a crash after a partial append leaves those paragraphs
    * still-novel — the next batch re-detects and re-appends them, and
    * the only debt is duplicate shingle/band rows, which the probe
    * path dedups ([[graft.ext.Dedup.stripFuzzySeenParagraphs]]'
    * candidate and verify steps are both DISTINCT). Hash-first would
    * invert that: a crash between the hash append and the others
    * leaves paragraphs exact-blocked yet invisible to the fuzzy rung
    * FOREVER — edited variants of that boilerplate admit in every
    * later batch, and the store cannot self-heal because the
    * anti-join says "seen". Every crash window checks out only with
    * the hash table last (enumerated in SCALE.md).
    */
  def appendParagraphFuzzyIndex(batch: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n\n"): Unit = {
    val spark = batch.sparkSession
    val novel = graft.ext.Dedup.paragraphRows(batch, idCol, textCol, sep)
      .select(graft.ext.TextAnalysis.tokenHash60(col("para")).as("h"),
        col("para"))
      .distinct()
      .join(readParagraphHashes(spark, dir), Seq("h"), "left_anti")
      .localCheckpoint()
    val sets = novel.select(col("h"),
      graft.functions.TextHashFunctions.shingle_hashes(
        col("para"), graft.ext.HashDefs.ShingleN).as("hs"))
    sets.write.mode(SaveMode.Append).parquet(s"$dir/$ParagraphShingleTable")
    graft.ext.Dedup.lshBands(graft.ext.Dedup.minhashSignature(
        sets.select(col("h").as("id"), col("hs"))))
      .select(col("id").as("h"), col("band"), col("band_hash"))
      .write.mode(SaveMode.Append).parquet(s"$dir/$ParagraphBandTable")
    novel.select("h")
      .write.mode(SaveMode.Append).parquet(s"$dir/$ParagraphHashTable")
  }

  /** Takedown / opt-out delete for the fuzzy paragraph store: remove
    * the given paragraph HASHES (one `h` column — the store's key is
    * the content hash, so the caller identifies content, not
    * documents) from ALL THREE tables. Unlike
    * [[deleteFromAdmissionIndexes]] — which retains the exact-hash
    * rungs so removed content stays blocked — a paragraph-store
    * delete removes the exact rung too: the store's job is "strip
    * what the corpus carries", and content REMOVED from the corpus
    * must become admissible again, or the takedown silently keeps
    * suppressing it everywhere (the opposite policy is one
    * table-subset away; both are a policy choice the doc states).
    * Same rewrite-through-tmp + FS-rename swap as every store delete;
    * the ids are eagerly materialized first (the self-reference
    * hazard: an `h` set derived from the store must not re-evaluate
    * mid-rewrite).
    */
  def deleteFromParagraphFuzzyIndex(hashes: DataFrame, dir: String): Unit = {
    val del = hashes.select(col(hashes.columns.head).as("h"))
      .localCheckpoint()
    swapRewrite(hashes.sparkSession, dir,
      Seq(ParagraphHashTable, ParagraphShingleTable, ParagraphBandTable),
      mustExist = true) {
      (df, out) => df.join(del, Seq("h"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
  }

  /** Compact the fuzzy paragraph store: rewrite all three tables
    * DISTINCT through the same tmp-and-rename swap every store
    * compaction uses. In normal operation the novel-only append keeps
    * every table one-row-per-distinct-text and this is a file-count
    * compaction only; after a crash-window self-heal
    * ([[appendParagraphFuzzyIndex]]'s hash-table-LAST order re-appends
    * a partially-landed batch) the shingle/band tables can carry
    * duplicate rows — harmless to the probe (which dedups) but paid
    * on every read, and this removes them.
    */
  def compactParagraphFuzzyIndex(spark: SparkSession, dir: String): Unit =
    swapRewrite(spark, dir,
      Seq(ParagraphHashTable, ParagraphShingleTable, ParagraphBandTable)) {
      (df, out) => df.distinct().write.mode(SaveMode.Overwrite).parquet(out)
    }

  def readParagraphBands(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$ParagraphBandTable")

  def readParagraphShingles(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$ParagraphShingleTable")

  /** Session-scoped build-once memo for the fuzzy paragraph store —
    * the [[ensureParagraphIndex]] convention (distinct slice →
    * distinct variant).
    */
  def ensureParagraphFuzzyIndex(corpus: DataFrame, corpusDir: String,
      variant: String = "-para-fuzzy"): String =
    ensureBuilt(corpus.sparkSession, corpusDir, variant,
      s"parafuzzy$variant") { dir =>
      writeParagraphFuzzyIndex(corpus, dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  /** Session-scoped STAGED end-to-end takedown audit
    * ([[graft.ext.Takedown.takedownEndToEnd]]) — the cycle MUTATES
    * every surface it runs against, so the query face cannot operate
    * on shared session stores: this builds a fresh admission store,
    * fresh fuzzy paragraph store, and a fresh committed-epoch sink
    * (the corpus' [[graft.ext.TrainingData.emitChunks]] pieces,
    * epoch = block div `blocksPerEpoch`) under one staging dir, runs
    * the full takedown, and persists the audit as `audit/` parquet.
    * The delete set is a build parameter (id-set digest in the memo
    * key, the [[ensureAnnDeletedIndexes]] rule); any staging leftovers
    * from a previous session are deleted first, because a purge
    * half-done by a killed session would otherwise fail the rebuild
    * loud on its recovery guard.
    */
  def ensureTakedownAudit(corpus: DataFrame, corpusDir: String,
      ids: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      maxTokens: Int = 256, budget: Int = 2000, seed: String = "42",
      blocksPerEpoch: Int = 4): String = {
    val spark = corpus.sparkSession
    ensureBuilt(spark, corpusDir, "-td-e2e",
        s"tde2e|$idCol|$textCol|$maxTokens|$budget|$seed|$blocksPerEpoch|" +
          idSetDigest(ids)) { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(root))
        require(f.delete(root, true), s"takedown staging: cannot reset $dir")
      val admDir = s"$dir/adm"
      val fuzzyDir = s"$dir/fuzzy"
      writeAdmissionIndexes(corpus, admDir, idCol, textCol)
      writeParagraphFuzzyIndex(corpus, fuzzyDir, idCol, textCol)
      val sink = graft.io.EpochParquetSink(s"$dir/sink")
      sink.write(graft.ext.TrainingData.emitChunks(corpus, idCol, textCol,
          merges, maxTokens, budget, seed)
        .withColumn("batch_id",
          expr(s"CAST(block DIV $blocksPerEpoch AS BIGINT)")))
      graft.ext.Takedown.takedownEndToEnd(corpus, ids, idCol, textCol,
          admDir, fuzzyDir, sink)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/audit")
      writeManifest(spark, dir, Seq(
        "kind" -> "\"takedown_e2e\"",
        "id_col" -> s""""$idCol"""",
        "blocks_per_epoch" -> blocksPerEpoch.toString)
        ++ fingerprintField(spark, corpusDir))
    }
  }

  def readTakedownAudit(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/audit")

  val AudioHashTable = "audio_ahash"

  /** The audio twin of [[writeImageIndex]]: one 64-bit aHash per
    * parseable PCM payload ([[graft.ext.Multimodal.aHash64]] — the
    * decode pass runs once at build time), non-audio rows dropped.
    */
  def writeAudioIndex(media: DataFrame, dir: String,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    audioHashRows(media)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$AudioHashTable")
    writeManifest(media.sparkSession, dir, Seq(
      "kind" -> "\"audio\"",
      "bits" -> "64",
      "tables" -> s""""$AudioHashTable"""") ++ manifestExtra)
  }

  def readAudioHashes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$AudioHashTable")

  def ensureAudioIndex(media: DataFrame, corpusDir: String,
      variant: String = "-aud"): String =
    ensureBuilt(media.sparkSession, corpusDir, variant, s"aud$variant") { dir =>
      writeAudioIndex(media, dir,
        manifestExtra = fingerprintField(media.sparkSession, corpusDir))
    }

  // ---- perceptual store maintenance (image + audio share the shape) ----

  /** The decode→fingerprint projection both image write faces share:
    * one 64-bit dHash per parseable payload, unparseable rows dropped.
    */
  private def imageHashRows(media: DataFrame): DataFrame =
    graft.ext.Multimodal.dHash64(media)
      .filter(col("dhash").isNotNull)
      .select(col("media_id").as("id"), col("dhash"))

  private def audioHashRows(media: DataFrame): DataFrame =
    graft.ext.Multimodal.aHash64(media)
      .filter(col("ahash").isNotNull)
      .select(col("media_id").as("id"), col("ahash"))

  /** Incremental maintenance for the perceptual stores — the same
    * ingest-loop contract as [[appendAdmissionIndexes]], and the EASY
    * case of it: a perceptual fingerprint is row-local (no global
    * totals, no banding state), so appending the new batch's
    * fingerprint rows makes the store EXACTLY a rebuild over the
    * union (spec-pinned), with the one shared caveat that a batch
    * re-appended twice duplicates its rows until
    * [[compactImageIndex]]/[[compactAudioIndex]] reclaims them. The
    * decode pass — the expensive part — runs only over the new batch.
    * After appending, re-stamp the corpus fingerprint with
    * [[recordFingerprint]] so the serve-side freshness check stays
    * green without the rebuild the append exists to avoid.
    */
  def appendImageIndex(media: DataFrame, dir: String): Unit =
    imageHashRows(media)
      .write.mode(SaveMode.Append).parquet(s"$dir/$ImageHashTable")

  def appendAudioIndex(media: DataFrame, dir: String): Unit =
    audioHashRows(media)
      .write.mode(SaveMode.Append).parquet(s"$dir/$AudioHashTable")

  /** Takedown / opt-out delete for a perceptual store: remove `ids`
    * (one media-id column) from the fingerprint table. Unlike the
    * admission store there is no retained blocklist half — the hash
    * IS the doc-bearing row — so a takedown here fully forgets the
    * payload: it stops being a near-dup candidate AND an identical
    * re-submission would be re-admitted. If "never re-admit" is the
    * policy, keep the id on an external blocklist; the store's job is
    * serving candidates, and ghost fingerprints of removed media are
    * exactly what a takedown must not leave behind.
    */
  def deleteFromImageIndex(ids: DataFrame, dir: String): Unit =
    deleteFromHashTable(ids, dir, ImageHashTable)

  def deleteFromAudioIndex(ids: DataFrame, dir: String): Unit =
    deleteFromHashTable(ids, dir, AudioHashTable)

  private def deleteFromHashTable(ids: DataFrame, dir: String,
      table: String): Unit = {
    // same discipline as the other delete faces: materialize a
    // possibly-self-referential delete plan before the rewrite, and
    // fail loud against an unbuilt store
    val del = ids.select(col(ids.columns.head).as("id")).localCheckpoint()
    swapRewrite(ids.sparkSession, dir, Seq(table), mustExist = true) {
      (df, out) => df.join(del, Seq("id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
  }

  /** Compaction for an append-maintained perceptual store: distinct-
    * rewrite (reclaims re-appended duplicate rows) that also merges
    * the per-append small files into the session's shuffle-partition
    * count — deliberately NOT `coalesce(1)`: at corpus scale the
    * fingerprint table is billions of 16-byte rows, and the compacted
    * layout should stay a parallel scan.
    */
  def compactImageIndex(spark: SparkSession, dir: String): Unit =
    compactHashTable(spark, dir, ImageHashTable)

  def compactAudioIndex(spark: SparkSession, dir: String): Unit =
    compactHashTable(spark, dir, AudioHashTable)

  /** Incremental maintenance for the paragraph store — the
    * cross-batch state behind [[graft.streaming.Streaming.streamParagraphSurvivors]]:
    * after a batch is admitted, append ITS paragraph hashes so the
    * next batch's anti-join sees them. A paragraph hash is row-local
    * (the easy [[appendImageIndex]] case): append ≡ rebuild-over-union
    * up to duplicate rows, which a re-appended batch (or a paragraph
    * two batches both introduced) accumulates until the
    * distinct-rewrite [[compactParagraphIndex]] reclaims them —
    * duplicates never change an anti-join verdict, only its bytes.
    * Re-stamp the corpus fingerprint after appending
    * ([[recordFingerprint]]) to keep the serve-side freshness check
    * green without the rebuild the append exists to avoid.
    */
  def appendParagraphIndex(batch: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n\n"): Unit =
    paragraphHashRows(batch, idCol, textCol, sep)
      .write.mode(SaveMode.Append).parquet(s"$dir/$ParagraphHashTable")

  def compactParagraphIndex(spark: SparkSession, dir: String): Unit =
    compactHashTable(spark, dir, ParagraphHashTable)

  private def compactHashTable(spark: SparkSession, dir: String,
      table: String): Unit =
    swapRewrite(spark, dir, Seq(table)) {
      (df, out) => df.distinct().write.mode(SaveMode.Overwrite).parquet(out)
    }

  // ---- persisted tokenizer (BPE merge table) ----

  val BpeMergesTable = "bpe_merges"

  /** Persist a trained BPE merge table — the one build-once/serve-many
    * artifact of the tokenizer: nightly training
    * ([[graft.ext.TextAnalysis.bpeTrainLocal]]) writes (round, left,
    * right, freq) + a manifest recording the rule semantics
    * (casefold, tie-break), and every encode job compiles its rank
    * map from the table instead of retraining. One tiny file —
    * `coalesce(1)` so the rule order is one reader's scan.
    */
  def writeBpeMerges(rules: DataFrame, dir: String,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    rules.select("round", "left", "right", "freq").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$BpeMergesTable")
    writeManifest(rules.sparkSession, dir, Seq(
      "kind" -> "\"bpe\"",
      "merges" -> rules.count().toString,
      "casefold" -> "\"lower\"",
      "tie_break" -> "\"freq desc, utf8-byte pair asc\"",
      "tables" -> s""""$BpeMergesTable"""") ++ manifestExtra)
  }

  /** The merge rules back, in training order — the input
    * [[graft.ext.TextAnalysis.bpeEncode]] compiles its rank map from.
    */
  def readBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    spark.read.parquet(s"$dir/$BpeMergesTable")
      .orderBy("round").select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Session-scoped train-once memo for the tokenizer artifact. */
  def ensureBpeMerges(corpus: DataFrame, corpusDir: String,
      textCol: String = "text", merges: Int = 20): String =
    ensureBuilt(corpus.sparkSession, corpusDir, "-bpe", s"bpe|$textCol|$merges") {
      dir => writeBpeMerges(
        graft.ext.TextAnalysis.bpeTrainLocal(corpus, textCol, merges), dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  // ---- persisted tokenizer (unigram-LM piece table) ----

  val UnigramPiecesTable = "unigram_pieces"

  /** Persist a trained unigram-LM piece table
    * ([[graft.ext.UnigramTok.unigramTrain]]'s (rank, piece, logp)) —
    * the SentencePiece sibling of [[writeBpeMerges]]: nightly
    * training writes the table + a manifest recording the encode
    * semantics (casefold, Viterbi tie rule), and every encode job
    * compiles its lookup table from it instead of retraining. One
    * tiny file — `coalesce(1)`, the table is vocab-sized.
    */
  def writeUnigramPieces(table: DataFrame, dir: String,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    table.select("rank", "piece", "logp").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$UnigramPiecesTable")
    writeManifest(table.sparkSession, dir, Seq(
      "kind" -> "\"unigram\"",
      "pieces" -> table.count().toString,
      "casefold" -> "\"lower\"",
      "viterbi_tie" -> "\"strict >, piece length asc (shortest final piece)\"",
      "tables" -> s""""$UnigramPiecesTable"""") ++ manifestExtra)
  }

  /** The piece table back, rank order — the input
    * [[graft.ext.UnigramTok.unigramEncode]] compiles its Viterbi
    * lookup from.
    */
  def readUnigramPieces(spark: SparkSession, dir: String): Seq[(String, Double)] =
    spark.read.parquet(s"$dir/$UnigramPiecesTable")
      .orderBy("rank").select("piece", "logp").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** Session-scoped train-once memo for the unigram tokenizer. */
  def ensureUnigramPieces(corpus: DataFrame, corpusDir: String,
      textCol: String = "text", vocabSize: Int = 80): String =
    ensureBuilt(corpus.sparkSession, corpusDir, "-unigram",
      s"unigram|$textCol|$vocabSize") { dir =>
      writeUnigramPieces(
        graft.ext.UnigramTok.unigramTrain(corpus, textCol, vocabSize), dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  // ---- persisted CCNet tercile cuts (quality-gate calibration) ----

  val CcnetCutsTable = "ccnet_cuts"

  /** Persist the per-language CCNet tercile cuts
    * ([[graft.ext.TextAnalysis.ccnetCuts]]) — the calibrate-offline/
    * serve-online shape the rate rung already uses for its threshold
    * scalar, here as a #languages-row parquet artifact: nightly
    * calibration on a reference corpus, and every bucketing job
    * broadcasts the table instead of re-sorting per language.
    */
  def writeCcnetCuts(cuts: DataFrame, dir: String,
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    cuts.select("lang_pred", "t_lo", "t_hi").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$CcnetCutsTable")
    writeManifest(cuts.sparkSession, dir, Seq(
      "kind" -> "\"ccnet\"",
      "languages" -> cuts.count().toString,
      "terciles" -> "\"exact percentile(1/3, 2/3) of fluency\"",
      "tables" -> s""""$CcnetCutsTable"""") ++ manifestExtra)
  }

  def readCcnetCuts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$CcnetCutsTable")

  /** Session-scoped calibrate-once memo for the cut table. */
  def ensureCcnetCuts(corpus: DataFrame, corpusDir: String,
      idCol: String = "doc_id", textCol: String = "text"): String =
    ensureBuilt(corpus.sparkSession, corpusDir, "-ccnet",
      s"ccnet|$idCol|$textCol") { dir =>
      writeCcnetCuts(
        graft.ext.TextAnalysis.ccnetCuts(corpus, idCol, textCol), dir,
        manifestExtra = fingerprintField(corpus.sparkSession, corpusDir))
    }

  // ---- persisted source-overlap sketches (mergeable MinHash) ----

  val SourceSketchTable = "source_sketch"

  /** The shingle→group-sketch projection every sketch face shares:
    * one K-slot MinHash row per group over the batch's shingle
    * hashes ([[graft.ext.Dedup.groupMinhashSketch]]).
    */
  private def sketchRows(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    graft.ext.Dedup.groupMinhashSketch(
      graft.ext.Dedup.wordShingleHashes(docs, groupCol, textCol)
        .select(col("id").as("grp"), col("h")))

  /** Persist per-source MinHash sketches — the corpus-overlap
    * artifact: G×K longs however big the corpus is, continuously
    * maintainable because min-merge is associative, commutative and
    * idempotent ([[graft.ext.Dedup.mergeSketches]]). The store keeps
    * one row per (group, batch); serve collapses them. Uniquely among
    * the stores here, duplicate appends need no compaction for
    * CORRECTNESS (re-merging a batch is a no-op) — compaction is
    * only ever a row-count tidy.
    */
  def writeSourceSketches(docs: DataFrame, dir: String,
      groupCol: String = "source", textCol: String = "text",
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    sketchRows(docs, groupCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$SourceSketchTable")
    writeManifest(docs.sparkSession, dir, Seq(
      "kind" -> "\"sketch\"",
      "group_col" -> s""""$groupCol"""",
      "text_col" -> s""""$textCol"""",
      "shingle_n" -> graft.ext.HashDefs.ShingleN.toString,
      "minhash_k" -> graft.ext.HashDefs.K.toString,
      "tables" -> s""""$SourceSketchTable"""") ++ manifestExtra)
  }

  /** Ingest-cycle append: sketch ONLY the new batch and add its rows.
    * Unlike every other append face this one is exact under
    * arbitrary batch splits AND re-delivery — serve-side min-merge
    * absorbs both (spec-pinned). Re-stamp the corpus fingerprint via
    * [[recordFingerprint]] after the batch lands.
    */
  def appendSourceSketches(newDocs: DataFrame, dir: String,
      groupCol: String = "source", textCol: String = "text"): Unit =
    sketchRows(newDocs, groupCol, textCol)
      .write.mode(SaveMode.Append).parquet(s"$dir/$SourceSketchTable")

  /** The merged one-row-per-group sketch frame the overlap report
    * reads — feed to [[graft.ext.Dedup.sketchOverlapEst]].
    */
  def readSourceSketches(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.mergeSketches(
      spark.read.parquet(s"$dir/$SourceSketchTable"))

  /** Row-count tidy for an append-maintained sketch store: rewrite
    * the per-batch rows as their merged one-row-per-group form. Pure
    * housekeeping — serve-side merge makes the un-compacted store
    * correct forever — but after months of daily batches the serve
    * agg reads batches×G rows for a G-row answer, and the planner's
    * rows-per-group signal says when that's worth reclaiming.
    */
  def compactSourceSketches(spark: SparkSession, dir: String): Unit =
    swapRewrite(spark, dir, Seq(SourceSketchTable)) { (df, out) =>
      graft.ext.Dedup.mergeSketches(df)
        .write.mode(SaveMode.Overwrite).parquet(out)
    }

  /** Memoized build exercised through the ingest cycle: first ~80%
    * of docs at build, the rest appended — the serve face equaling a
    * one-shot full build IS the mergeability property, so the
    * registry face shares the from-scratch oracle.
    */
  def ensureSourceSketches(docs: DataFrame, corpusDir: String,
      groupCol: String = "source", textCol: String = "text",
      idCol: String = "doc_id"): String =
    ensureBuilt(docs.sparkSession, corpusDir, "-sketch",
        s"sketch|$groupCol|$textCol|$idCol") { dir =>
      val bucket = graft.ext.TrainingData.splitBucket(col(idCol), 1000)
      writeSourceSketches(docs.filter(bucket < 800), dir, groupCol, textCol,
        manifestExtra = fingerprintField(docs.sparkSession, corpusDir))
      appendSourceSketches(docs.filter(bucket >= 800), dir, groupCol, textCol)
    }

  // ---- persisted DSIR importance weights ----

  val DsirWeightsTable = "dsir_weights"

  /** Persist a trained DSIR weight table
    * ([[graft.ext.TrainingData.importanceWeightsMicro]]) — the same
    * train-nightly/ship contract as the NB weights: vocab-sized
    * (term, llr_micro) rows; every resample job reads the table
    * instead of re-scanning raw + target. Like the NB table this is
    * NOT appendable (the llr folds both corpora's totals into every
    * term) — retrain to refresh, which is one pass over each corpus.
    */
  def writeDsirWeights(raw: DataFrame, target: DataFrame, dir: String,
      textCol: String = "text",
      manifestExtra: Seq[(String, String)] = Nil): Unit = {
    graft.ext.TrainingData.importanceWeightsMicro(raw, target, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$DsirWeightsTable")
    writeManifest(raw.sparkSession, dir, Seq(
      "kind" -> "\"dsir\"",
      "text_col" -> s""""$textCol"""",
      "tables" -> s""""$DsirWeightsTable"""") ++ manifestExtra)
  }

  def readDsirWeights(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$DsirWeightsTable")

  /** The weight table as the ship-to-executors map a row-local scorer
    * folds ([[graft.ext.QualityModel.nbScoreMicro]] — DSIR with
    * unigram features IS that two-class model). Same fail-loud vocab
    * cap as [[readNbWeightsMicro]].
    */
  def readDsirWeightsMicro(spark: SparkSession, dir: String,
      maxVocab: Int = 1 << 20): Map[String, Long] =
    readWeightTable(spark, s"$dir/$DsirWeightsTable", "readDsirWeightsMicro",
      maxVocab)

  /** Session-scoped train-once memo. `tag` names the raw/target
    * SELECTION (a build parameter the frames encode but the corpus
    * path does not), so two different target definitions over the
    * same corpus dir build separate stores.
    */
  def ensureDsirWeights(raw: DataFrame, target: DataFrame,
      corpusDir: String, tag: String, textCol: String = "text"): String =
    ensureBuilt(raw.sparkSession, corpusDir, "-dsir",
        s"dsir|$tag|$textCol") { dir =>
      writeDsirWeights(raw, target, dir, textCol,
        manifestExtra = fingerprintField(raw.sparkSession, corpusDir))
    }

  // ---- maintenance planner ----

  private val KindField = """"kind": "(\w+)"""".r

  /** The "when" half of the maintenance cycle: one planner scan over
    * a store dir that turns SCALE.md §maintenance's trigger
    * heuristics into (action, value, threshold, due) rows a nightly
    * maintenance job can act on directly — instead of every operator
    * re-deriving "is compaction worth it yet?" from first principles.
    * Signals, routed by the manifest's `kind`:
    *
    * - `compact` (admission/image/audio): duplicate-row ratio of the
    *   store's cheapest hash table (`digests` for admission — every
    *   table in the family accumulates duplicates from the SAME
    *   re-appended batches, so the smallest currency is the sentinel
    *   for all of them). The one signal here that reads data: a
    *   distinct-count over a table of 8-16-byte hashes, map-side
    *   combinable — still orders of magnitude cheaper than the
    *   compaction it gates, and run at planner cadence, not per query.
    * - `compact` (ann): mean part-files per `cell=N` directory — the
    *   small-files debt [[appendAnnIndexes]] accrues — from the FS
    *   listing alone, no data read.
    * - `compact` (sketch): batch rows per group — a pure serve-cost
    *   tidy (min-merge keeps the un-compacted store correct forever).
    * - `retrain_quantizer` (ann, when `freshVectors` is given): the
    *   [[annCellDrift]] occupancy-PSI monitor with its conventional
    *   0.25 bar — the measured retrain trigger (recall is the WRONG
    *   signal; see SCALE.md §maintenance for the 500× separation).
    * - `refresh` (any store, when `corpusDir` is given): the
    *   manifest's recorded corpus fingerprint vs the dir's current
    *   listing — due means batches landed that the store has not
    *   incorporated: append them + [[recordFingerprint]], or rebuild.
    *
    * The planner's output is a handful of driver-built rows — the
    * bounded-by-construction shape, like every stats frame here.
    */
  def maintenanceDue(spark: SparkSession, dir: String,
      corpusDir: Option[String] = None,
      freshVectors: Option[DataFrame] = None,
      dupRatioBar: Double = 0.2, filesPerCellBar: Double = 4.0,
      psiBar: Double = 0.25, rowsPerGroupBar: Double = 4.0): DataFrame = {
    val manifest = readManifest(spark, dir)
    val kind = KindField.findFirstMatchIn(manifest).map(_.group(1))
      .getOrElse(sys.error(s"maintenanceDue: manifest under $dir has no kind"))
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Double, Double, Boolean)]

    def dupRatio(table: String): Unit = {
      val df = spark.read.parquet(s"$dir/$table")
      // one aggregation job, not count() + distinct().count() (two
      // full scans at planner cadence): distinct full-row tuples ==
      // count_distinct of the all-columns struct (never null)
      val a = df.agg(count(lit(1)).as("n"),
        count_distinct(struct(df.columns.toIndexedSeq.map(col): _*)).as("nd")).head()
      val total = a.getLong(0)
      val ratio =
        if (total == 0) 0.0
        else 1.0 - a.getLong(1).toDouble / total
      rows += (("compact", s"dup_ratio:$table", ratio, dupRatioBar,
        ratio > dupRatioBar))
    }
    kind match {
      case "admission" => dupRatio(DigestsTable)
      case "image" => dupRatio(ImageHashTable)
      case "audio" => dupRatio(AudioHashTable)
      // the cumulative paragraph gate appends every batch's hash set;
      // already-seen paragraphs re-append as exact duplicate rows
      // (correctness is duplicate-insensitive — an anti-join verdict
      // never changes — so this signal is purely the serve-cost tidy
      // that gates compactParagraphIndex's distinct-rewrite)
      case "paragraph" => dupRatio(ParagraphHashTable)
      case "ann" =>
        val root = new org.apache.hadoop.fs.Path(s"$dir/$IvfAssignedTable")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cells = fs.listStatus(root).filter(_.isDirectory)
        val parts = cells.map(c => fs.listStatus(c.getPath)
          .count(_.getPath.getName.startsWith("part-")))
        val perCell =
          if (cells.isEmpty) 0.0 else parts.sum.toDouble / cells.length
        rows += (("compact", "files_per_cell", perCell, filesPerCellBar,
          perCell > filesPerCellBar))
        // at-least-once re-delivery leaves exact duplicate rows that
        // duplicate serve candidates — compactAnnIndexes'
        // distinct-rewrite reclaims them, and this is its trigger.
        // FULL-ROW distinct on purpose (dupRatio's semantic), matching
        // the remedy exactly: an id re-appended with a RECOMPUTED
        // embedding is not an exact duplicate, the compaction would
        // not remove it, and a row-count signal that counted ids
        // would re-fire forever with a no-op remedy (that case is a
        // content UPDATE — route it through deleteFromAnnIndexes +
        // append, like any upsert). Cost note: this is the one ann
        // signal that reads data — two scans of the inverted file at
        // planner cadence, still orders of magnitude cheaper than the
        // compaction it gates.
        dupRatio(IvfAssignedTable)
        freshVectors.foreach { f =>
          // coalesce: an EMPTY fresh batch yields an all-null PSI
          // frame (p_cur = x/0) whose sum is null — no evidence of
          // drift reads as 0.0 / not-due, never as an opaque NPE
          val psi = annCellDrift(spark, dir, f)
            .agg(coalesce(sum(abs(col("psi_term"))), lit(0.0)))
            .head().getDouble(0)
          rows += (("retrain_quantizer", "sum_abs_psi", psi, psiBar,
            psi > psiBar))
        }
      case "sketch" =>
        // correctness never needs this compaction (min-merge absorbs
        // duplicate rows), so the signal is purely a serve-cost tidy:
        // batch rows per group, i.e. how much wider than G the serve
        // agg's input has grown
        val df = spark.read.parquet(s"$dir/$SourceSketchTable")
        val total = df.count()
        val groups = df.select("grp").distinct().count()
        val perGroup = if (groups == 0) 0.0 else total.toDouble / groups
        rows += (("compact", "rows_per_group", perGroup, rowsPerGroupBar,
          perGroup > rowsPerGroupBar))
      case _ => () // bpe/unigram: freshness is the only maintenance signal
    }
    corpusDir.foreach { cd =>
      val recorded = FingerprintField.findFirstMatchIn(manifest)
        .map(_.group(1)).getOrElse("unrecorded")
      val stale = recorded != corpusFingerprint(spark, cd)
      rows += (("refresh", "fingerprint_stale", if (stale) 1.0 else 0.0,
        0.5, stale))
    }
    import spark.implicits._
    rows.toSeq.toDF("action", "signal", "value", "threshold", "due")
  }

  /** Tiny dependency-free JSON manifest via the Hadoop FS API (works
    * on any scheme `dir` itself works on). Values arrive pre-encoded.
    */
  private def writeManifest(spark: SparkSession, dir: String,
      fields: Seq[(String, String)]): Unit = {
    val json = fields.map { case (k, v) => s""""$k": $v""" }
      .mkString("{\n  ", ",\n  ", "\n}\n")
    val path = new org.apache.hadoop.fs.Path(s"$dir/manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
