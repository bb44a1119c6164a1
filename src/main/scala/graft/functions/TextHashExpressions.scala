package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side text hashing helpers shared by the codegen'd expressions.
  *
  * The hash formula is pinned to the cross-engine definition in
  * [[graft.ext.HashDefs]]: a token/shingle hashes to the first 15 hex
  * digits of its md5 (60 bits, always a non-negative int64) — the same
  * value DuckDB computes as `CAST('0x' || substr(md5(x), 1, 15) AS
  * BIGINT)`, which is what keeps the dedup family oracle-checkable.
  */
object TextHashing {

  /** First 15 hex digits of md5(s) as a long: the first 8 digest bytes
    * big-endian, dropping the 16th hex digit (>>> 4).
    */
  def hash60(s: String): Long = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** ALL stride-1 `w`-word window hashes of `text` in document order
    * (array index = window position; duplicates kept — unlike
    * [[shingleHashes]], the substring family needs positions). Same
    * `split(text, " ")` tokenization and space-joined-window
    * [[hash60]] formula, so it is value-identical to the composed
    * `transform(sequence(...), i => tokenHash60(array_join(slice(...))))`
    * pipeline it replaces — without the per-window Column-expression
    * stack (slice allocation, 32-char md5 hex string, substring, hex
    * parse), which at 4 cores was the dominant cost of the substring
    * dedup family's index stage.
    */
  def spanHashes(text: UTF8String, w: Int): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    if (tokens.length < w) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](tokens.length - w + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= tokens.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      out(i) = hash60(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** WINNOWED span-hash fingerprints (Schleimer/Wilkerson/Aiken): the
    * per-window minima of the stride-1 [[spanHashes]] under a sliding
    * window of `window` positions, deduped in first-selection order;
    * docs with 1 ≤ spans < window keep their single global min. One
    * pass over the spans with a monotonic deque (O(n) total, not
    * O(n·window)) — and, critically, ONE evaluation of the span
    * hashing itself: the composed Column form re-evaluated the
    * span_hashes child once per lambda iteration inside `transform`
    * (~window·spans md5 walks per document — measured 0.16 s → 4.5 s
    * at sf0.1, SCALE.md §Winnowed substring index).
    */
  def winnowedSpanHashes(text: UTF8String, w: Int, window: Int): ArrayData = {
    val spansData = spanHashes(text, w)
    val n = spansData.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val spans = new Array[Long](n)
    var i = 0
    while (i < n) { spans(i) = spansData.getLong(i); i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n < window) {
      var m = spans(0)
      i = 1
      while (i < n) { if (spans(i) < m) m = spans(i); i += 1 }
      seen.add(m)
    } else {
      // monotonic deque of candidate indices; equal values pop so the
      // deque head is always the window minimum VALUE (tie position
      // is irrelevant — selection is by value)
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0
      i = 0
      while (i < n) {
        while (tail > head && spans(dq(tail - 1)) >= spans(i)) tail -= 1
        dq(tail) = i
        tail += 1
        if (dq(head) <= i - window) head += 1
        if (i >= window - 1) seen.add(spans(dq(head)))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** 60-bit tf-weighted SimHash of `text`, matching the explode +
    * 60-conditional-sum aggregation form bit for bit: every whitespace
    * token (duplicates included — term-frequency weighting; `split`
    * semantics identical to `split(text, " ")`) votes ±1 per bit of its
    * [[hash60]]; fingerprint bit j is set iff the vote is positive.
    * Row-local: the aggregation form shuffles every token to compute a
    * per-DOCUMENT value — this computes it where the document already
    * is, so the simhash pipelines' only shuffle is the pair join's.
    */
  def simhash60(text: UTF8String, bits: Int): Long = {
    val tokens = text.toString.split(" ", -1)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < tokens.length) {
      val h = hash60(tokens(i))
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Distinct 60-bit hashes of the word `n`-shingles of `text`,
    * matching `split(text, " ")` Spark semantics (single-space regex,
    * trailing empties kept) followed by space-joined windows of `n`
    * consecutive tokens. One pass, no allocation beyond the result.
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    if (tokens.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      seen.add(hash60(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** MinHash evaluation over a document's shingle-hash array — the JVM
  * twin of the cross-engine family in [[graft.ext.HashDefs]]:
  * `min((a_i * (h mod p) + b_i) mod p)` over the array, for each of
  * the K seed pairs, p = 2^31 − 1.
  */
object MinhashSupport {
  import graft.ext.HashDefs.{K, P, seeds}

  private val as: Array[Long] = seeds.map(_._1).toArray
  private val bs: Array[Long] = seeds.map(_._2).toArray

  def signature(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val mins = Array.fill[Long](K)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = hashes.getLong(i) % P
      var j = 0
      while (j < K) {
        val v = (as(j) * x + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** MinHash signature (K minima) of an `array<long>` of shingle hashes,
  * as one codegen'd projection — replaces the explode + groupBy(K min
  * aggs) shape, whose exploded shuffle was the dominant cost of the
  * MinHash pipeline. Callers must exclude empty shingle arrays first
  * (a doc with no shingles has no signature — the aggregation form
  * simply produced no row; here it would produce MaxValue minima).
  */
case class MinhashSignatureExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_signature needs array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinhashSupport.signature(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashSupport.signature($c)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpr =
    copy(child = newChild)
}

/** Distinct word-n-shingle 60-bit hashes of a text column, as one
  * codegen'd projection.
  *
  * The composable form — posexplode + window `lead` + `concat_ws` +
  * `md5` + `conv` + `distinct` ([[graft.ext.Dedup.wordShingleHashes]]'
  * previous implementation) — shuffles twice (window sort by (id,pos),
  * then the distinct) and runs the hash through four Column expressions
  * per shingle. This expression does the whole thing row-local in one
  * compiled loop; the only remaining shuffle in the dedup pipelines is
  * the one their joins genuinely need.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes needs a string input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextHashing.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** All stride-1 w-word window hashes of a text column, in document
  * order, as one codegen'd projection — the substring family's index
  * currency ([[graft.ext.Dedup.spanHashIndex]]).
  */
case class SpanHashes(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"span_hashes needs a string input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextHashing.spanHashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.spanHashes($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

/** Winnowed span-hash fingerprints of a text column as one codegen'd
  * projection — see [[TextHashing.winnowedSpanHashes]].
  */
case class WinnowedSpanHashes(child: Expression, w: Int, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnowed_span_hashes needs a string input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextHashing.winnowedSpanHashes(input.asInstanceOf[UTF8String], w, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.winnowedSpanHashes($c, $w, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowedSpanHashes =
    copy(child = newChild)
}

/** tf-weighted SimHash fingerprint of a text column as one codegen'd
  * projection — the zero-shuffle twin of the explode + groupBy
  * aggregation form (equivalence pinned in DedupSpec).
  */
case class SimhashExpr(child: Expression, bits: Int) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash needs a string input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextHashing.simhash60(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.simhash60($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

object TextHashFunctions {
  /** Distinct 60-bit hashes of the word n-shingles of `text`. */
  def shingle_hashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes(
      GraftColumnBridge.expression(text), n))

  /** All stride-1 w-word window hashes of `text`, in order. */
  def span_hashes(text: Column, w: Int): Column =
    GraftColumnBridge.column(SpanHashes(
      GraftColumnBridge.expression(text), w))

  /** Winnowed span-hash fingerprints of `text` (w-word spans,
    * `window`-wide min selection).
    */
  def winnowed_span_hashes(text: Column, w: Int, window: Int): Column =
    GraftColumnBridge.column(WinnowedSpanHashes(
      GraftColumnBridge.expression(text), w, window))

  /** tf-weighted SimHash fingerprint of `text` (`bits` low bits). */
  def simhash(text: Column, bits: Int): Column =
    GraftColumnBridge.column(SimhashExpr(
      GraftColumnBridge.expression(text), bits))

  /** K-element MinHash signature of an `array<long>` hash set. */
  def minhash_signature(hashes: Column): Column =
    GraftColumnBridge.column(MinhashSignatureExpr(
      GraftColumnBridge.expression(hashes)))
}
