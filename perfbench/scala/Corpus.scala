package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{CorpusPipeline, PrepareStages, Similarity}
import graft.io.ParquetSink

/** Seeded English-like text: content words from a generated vocabulary
  * interleaved with stopwords, so documents pass the language and
  * quality gates unless built not to.
  */
final class Words(rng: SplittableRandom, n: Int) {
  private val letters = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"
  val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + rng.nextInt(2)
      seen += (0 until syl).map { _ =>
        s"${letters(rng.nextInt(letters.length))}${vowels(rng.nextInt(vowels.length))}"
      }.mkString + letters(rng.nextInt(letters.length))
    }
    seen.toArray
  }
  private val stop = Array("the", "a", "of", "and", "is", "to", "in")

  /** `n` tokens, every third a stopword. */
  def text(rng: SplittableRandom, tokens: Int): String =
    (0 until tokens).map { i =>
      if (i % 3 == 1) stop(rng.nextInt(stop.length)) else vocab(rng.nextInt(vocab.length))
    }.mkString(" ")
}

/** `corpus_prepare`: a seeded corpus with planted exact-duplicate groups,
  * near-duplicate clusters (one-word edits of a base text), off-language
  * and low-quality documents, and doc-aligned embeddings where planted
  * semantic pairs share one vector, through `CorpusPipeline.prepare`
  * with the semantic stage into a parquet sink.
  *
  * Because every planted relation is unambiguous (edits keep Jaccard
  * near 0.97, shared vectors have cosine 1, unrelated 64-d vectors stay
  * far below the 0.9 cut) the survivor set is known exactly: the
  * minimum id of each exact group, near-dup cluster and semantic pair,
  * plus every other clean document. The check compares ids with that
  * set and the full output with the first pass's digest.
  */
object Corpus extends BatchWorkload {
  val name = "corpus_prepare"
  val smallScale = 0.0075
  // no JSON, no Customer 360 operators, IndexStore or stream here
  val bypasses = Seq("sources.", "interaction.", "behavior.", "merge.",
    "sinks.jdbc_", "indexstore.", "sinks.epoch_", "stream.")
  /** `prepareFunnel`'s stages, in order. */
  private val Stages = Seq("input", "lang_gate", "quality_gate",
    "exact_dedup", "near_dup", "semantic_dedup")
  private val Dim = 64
  private val Tau = 0.9

  final case class In(docs: String, vecs: String, out: String,
      expected: Set[Long], var digest: Option[String])

  def generate(ctx: Ctx, dir: Path, seed: Long, scale: Double): In = {
    val rng = new SplittableRandom(seed)
    val words = new Words(rng, 4000)
    val units = math.max(200, (6000 * scale).toInt)
    val docs = mutable.ArrayBuffer.empty[(String, Int)] // text, vector group
    val expectedUnits = mutable.ArrayBuffer.empty[Seq[Int]] // doc positions per unit
    def add(text: String, vecGroup: Int = -1): Int = {
      docs += ((text, vecGroup)); docs.size - 1
    }
    var vecGroups = 0
    (0 until units).foreach { _ =>
      val u = rng.nextInt(100)
      val len = 60 + rng.nextInt(80)
      if (u < 10) { // exact-duplicate group
        val t = words.text(rng, len)
        expectedUnits += (0 until 2 + rng.nextInt(4)).map(_ => add(t))
      } else if (u < 20) { // near-duplicate cluster: one-word edits
        // long bases keep every edit's Jaccard near 0.97, where MinHash
        // LSH (8 bands of 4) misses an edge with probability ~1e-7
        val base = words.text(rng, 160 + rng.nextInt(60)).split(' ')
        val members = add(base.mkString(" ")) +: (0 until 1 + rng.nextInt(3)).map { _ =>
          val e = base.clone()
          e(1 + rng.nextInt(e.length - 2)) = words.vocab(rng.nextInt(words.vocab.length))
          add(e.mkString(" "))
        }
        expectedUnits += members
      } else if (u < 25) { // semantic pair: distinct texts, one vector
        vecGroups += 1
        expectedUnits += Seq(add(words.text(rng, len), vecGroups),
          add(words.text(rng, len), vecGroups))
      } else if (u < 30) { // off-language
        add((0 until len).map(i =>
          if (i % 3 == 1) Seq("der", "die", "das", "und", "ist")(rng.nextInt(5))
          else words.vocab(rng.nextInt(words.vocab.length))).mkString(" "))
      } else if (u < 35) { // low quality: short, no stopwords, punctuation
        add((0 until 4 + rng.nextInt(6)).map(_ =>
          words.vocab(rng.nextInt(words.vocab.length)) + "!?#").mkString(" "))
      } else expectedUnits += Seq(add(words.text(rng, len)))
    }
    // ids: a seeded shuffle of positions, so groups are not id-adjacent
    val ids = Seeded.perm(docs.size, rng).map(_.toLong + 1)
    val vecOf = mutable.Map.empty[Int, Array[Float]]
    def gaussian(): Array[Float] = Array.fill(Dim)(rng.nextGaussian().toFloat)
    val docRows = docs.indices.map(i => Row(ids(i), docs(i)._1))
    val vecRows = docs.indices.map { i =>
      val g = docs(i)._2
      val v = if (g < 0) gaussian() else vecOf.getOrElseUpdate(g, gaussian())
      Row(ids(i), v.toSeq)
    }
    val spark = ctx.spark
    val docPath = dir.resolve("documents").toString
    val vecPath = dir.resolve("embeddings").toString
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), StructType(Seq(
      StructField("doc_id", LongType, false), StructField("text", StringType))))
      .write.mode("overwrite").parquet(docPath)
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 4), StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false)))))
      .write.mode("overwrite").parquet(vecPath)
    val expected = expectedUnits.map(_.map(ids(_)).min).toSet
    In(docPath, vecPath, dir.resolve("prepared").toString,
      if (ctx.opts.expectWrong) expected + 0L else expected, None)
  }

  private def prepared(ctx: Ctx, in: In): DataFrame =
    CorpusPipeline.prepare(ctx.spark.read.parquet(in.docs), "doc_id", "text",
      allowedLangs = Seq("en"), minQuality = 0.5,
      semanticVectors = Some(ctx.spark.read.parquet(in.vecs)), semanticTau = Tau)

  def runOnce(ctx: Ctx, in: In): Unit = ParquetSink(in.out).write(prepared(ctx, in))

  def check(ctx: Ctx, in: In): Option[String] = {
    val rows = ctx.spark.read.parquet(in.out).orderBy("doc_id").collect()
    val ids = rows.map(_.getLong(0)).toSet
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.mkString("|").getBytes("UTF-8")))
    val digest = md.digest().map("%02x".format(_)).mkString
    if (ids != in.expected) {
      val extra = (ids -- in.expected).take(5)
      val missing = (in.expected -- ids).take(5)
      Some(s"survivors ${ids.size} vs expected ${in.expected.size}; " +
        s"unexpected ${extra.mkString(",")} missing ${missing.mkString(",")}")
    } else if (rows.exists(r => r.getString(1) != "en" || r.getDouble(2) < 0.5))
      Some("a gated document survived")
    else if (in.digest.exists(_ != digest)) Some("output digest differs from the first pass")
    else { in.digest = Some(digest); None }
  }

  def layers(ctx: Ctx, in: In, res: Result): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(in.docs)
    val st = graft.functions.LangScoreFunctions.scored_text(col("text"))
    val score = Batch.prefix(ctx, "functions.scored_text") {
      Batch.noop(docs.select(col("doc_id"), st.as("st")))
    }
    res.putLayer("functions.score_s", score.seconds)

    // prepare's stages one by one, each over its predecessor's
    // materialized output: the gates, the exact-dedup collapse, the
    // near-dup clustering, then SemDeDup over the near-dup survivors
    val carry = Seq("lang_pred", "quality", "n_tokens")
    val gated = docs
      .select(col("doc_id") +: col("text") +: carry.map(c => st.getField(c).as(c)): _*)
      .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
      .localCheckpoint()
    val exact = Batch.prefix(ctx, "dedup.collapsedShingleSets") {
      Batch.noop(PrepareStages.exactReps(gated, "doc_id", "text", carry))
    }
    Batch.fresh(ctx)
    val reps = PrepareStages.exactReps(gated, "doc_id", "text", carry).localCheckpoint()
    val near = Batch.prefix(ctx, "dedup.nearDupClusters") {
      Batch.noop(PrepareStages.nearDupReps(reps))
    }
    Batch.fresh(ctx)
    val nearReps = PrepareStages.nearDupReps(reps).localCheckpoint()
    res.putLayer("dedup.exact_s", exact.seconds)
    res.putLayer("dedup.neardup_s", near.seconds)
    res.putLayer("dedup.shuffle_mb",
      exact.counters("spark.shuffle_write_mb") + near.counters("spark.shuffle_write_mb"))

    val repVecs = spark.read.parquet(in.vecs)
      .select(col("vec_id").as("id"), col("embedding"))
      .join(nearReps, Seq("id"), "left_semi")
      .localCheckpoint()
    val sem = Batch.prefix(ctx, "similarity.semDedupSurvivors") {
      Batch.noop(Similarity.semDedupSurvivors(repVecs, 0, Tau, "id", "embedding"))
    }
    res.putLayer("similarity.semantic_s", sem.seconds)

    Batch.fresh(ctx)
    val funnel = ctx.tracer.span("corpus.prepareFunnel") {
      CorpusPipeline.prepareFunnel(docs, "doc_id", "text", Seq("en"), 0.5,
        semanticVectors = Some(spark.read.parquet(in.vecs)), semanticTau = Tau)
        .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("docs").toDouble).toMap
    }
    Stages.foreach(s => res.putLayer(s"corpus.stage_docs.$s", funnel.getOrElse(s, 0.0)))
    res.putLayer("dedup.survivor_ratio",
      funnel.getOrElse("near_dup", 0.0) / math.max(1.0, funnel.getOrElse("quality_gate", 0.0)))

    Batch.fresh(ctx)
    val out = prepared(ctx, in).localCheckpoint()
    ctx.tracer.span("sinks.ParquetSink.write") {
      ParquetSink(in.out + "_traced").write(out)
    }
    res.putLayer("sinks.parquet_write_s", ctx.tracer.named("sinks.ParquetSink.write").last.seconds)
    Batch.fresh(ctx)
  }
}
