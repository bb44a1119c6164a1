package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group TOP-K: the k best (score, id) rows of each
  * group under the ranking every top-k tail in this engine uses —
  * `row_number() OVER (ORDER BY score DESC, id ASC) <= k` — returned
  * as an `array<struct<score, id, p0, ...>>` in rank order (element
  * i is the rank-(i+1) row; `payloads` ride along with their row
  * like [[ArgMaxScoreMinId]]'s).
  *
  * Why this exists (guide §2.3 "aggregate before you shuffle"): the
  * window form shuffles EVERY scored candidate row to its group's
  * partition and sorts the whole relation there — at
  * |queries|·|corpus| candidate volume that is the dominant exchange
  * of the ANN/bitext serve plans. As an aggregate, the partial pass
  * combines map-side: each map task ships at most k entries per
  * group it saw, so the exchange carries |groups|·k rows instead of
  * the full scored relation, and nothing is ever sorted (a k-slot
  * insertion buffer replaces the sort).
  *
  * Ordering contract, replicated from the window form exactly:
  *  - scores compare like Spark SQL doubles: NaN above everything,
  *    NaN = NaN, -0.0 = 0.0 (comparison is on the CANONICAL value;
  *    the ORIGINAL double is what the output carries);
  *  - null scores sort LAST (desc NULLS LAST), so they fill trailing
  *    slots only when a group has fewer than k scored rows —
  *    exactly row_number's behavior, which keeps them countable
  *    (the bitext neighborhood mean divides by kept rows INCLUDING
  *    null-cosine ones);
  *  - ties break to the LOWER id; null ids sort FIRST among equal
  *    scores (`id ASC` = NULLS FIRST), matching the window.
  *
  * The buffer is a k-slot object array (TypedImperativeAggregate →
  * ObjectHashAggregate): not whole-stage-codegen'd, but map-side
  * combinable and O(k) per row with k in the single digits for every
  * caller; `k <= [[TopKFunctions.MaxK]]` is enforced so a
  * misconfigured caller cannot turn the buffer into a per-group sort. Payloads must be
  * fixed-width types (the [[ArgMaxScoreMinId]] rule) so the buffer
  * serialization stays a flat byte walk.
  */
case class TopKScoreMinId(
    score: Expression, id: Expression, k: Int,
    payloads: Seq[Expression] = Nil,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  require(k >= 1 && k <= TopKFunctions.MaxK,
    s"topk_score_min_id: k must be in [1, ${TopKFunctions.MaxK}], got $k")

  override def children: Seq[Expression] = score +: id +: payloads
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(
    StructField("score", DoubleType) +: StructField("id", LongType) +:
      payloads.zipWithIndex.map { case (p, i) =>
        StructField(s"p$i", p.dataType)
      }), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"topk score must be double, got ${score.dataType.catalogString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk id must be bigint, got ${id.dataType.catalogString}")
    else if (!payloads.forall(p => TopKBuffer.supported(p.dataType)))
      TypeCheckResult.TypeCheckFailure(
        "topk payloads must be fixed-width (mutable) types — a " +
          "var-length payload would bloat the k-slot buffer this " +
          "aggregate exists to keep small")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val payTypes: Array[DataType] = payloads.map(_.dataType).toArray

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(k, payTypes)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    val pays =
      if (payloads.isEmpty) TopKBuffer.NoPays
      else {
        val a = new Array[Any](payloads.length)
        var j = 0
        while (j < payloads.length) { a(j) = payloads(j).eval(input); j += 1 }
        a
      }
    buf.insert(
      if (s == null) 0.0 else s.asInstanceOf[Double], s == null,
      if (i == null) 0L else i.asInstanceOf[Long], i == null,
      pays)
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val n = buf.size
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      val fields = new Array[Any](2 + payTypes.length)
      fields(0) =
        if (buf.scoreNull(i)) null else java.lang.Double.valueOf(buf.score(i))
      fields(1) =
        if (buf.idNull(i)) null else java.lang.Long.valueOf(buf.id(i))
      var j = 0
      while (j < payTypes.length) { fields(2 + j) = buf.pay(i, j); j += 1 }
      rows(i) = new GenericInternalRow(fields)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.fromBytes(bytes, k, payTypes)

  override def withNewMutableAggBufferOffset(o: Int): TopKScoreMinId =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKScoreMinId =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKScoreMinId =
    copy(score = newChildren(0), id = newChildren(1),
      payloads = newChildren.drop(2))
}

/** k-slot insertion buffer, kept sorted by the window's total order:
  * (score DESC with SQL double semantics, nulls last; id ASC, nulls
  * first). Flat parallel arrays so serialization is a fixed-width
  * byte walk; payload cells hold the evaluated values boxed.
  */
final class TopKBuffer(val k: Int, payTypes: Array[DataType]) {
  private val scores = new Array[Double](k)
  private val sNull = new Array[Boolean](k)
  private val ids = new Array[Long](k)
  private val iNull = new Array[Boolean](k)
  private val pays: Array[Array[Any]] =
    if (payTypes.length == 0) null else new Array[Array[Any]](k)
  private var n = 0

  def size: Int = n
  def score(i: Int): Double = scores(i)
  def scoreNull(i: Int): Boolean = sNull(i)
  def id(i: Int): Long = ids(i)
  def idNull(i: Int): Boolean = iNull(i)
  def pay(i: Int, j: Int): Any = pays(i)(j)

  /** SQL-double canonical value for COMPARISON only: -0.0 → 0.0 (the
    * original double is preserved in the slot for output).
    */
  @inline private def canon(d: Double): Double = if (d == 0.0) 0.0 else d

  /** true when (s1, i1) ranks strictly BEFORE (s2, i2). */
  private def before(s1: Double, s1n: Boolean, i1: Long, i1n: Boolean,
      s2: Double, s2n: Boolean, i2: Long, i2n: Boolean): Boolean = {
    if (s1n != s2n) return s2n // non-null score first (DESC NULLS LAST)
    if (!s1n) {
      // SQL double total order: NaN greatest, NaN = NaN, -0.0 = 0.0
      val c = java.lang.Double.compare(canon(s1), canon(s2))
      if (c != 0) return c > 0 // higher score first
    }
    if (i1n != i2n) return i1n // null id first (ASC NULLS FIRST)
    !i1n && i1 < i2
  }

  def insert(s: Double, sn: Boolean, i: Long, in: Boolean,
      p: Array[Any]): Unit = {
    if (n == k && !before(s, sn, i, in,
        scores(n - 1), sNull(n - 1), ids(n - 1), iNull(n - 1))) return
    var pos = if (n < k) n else n - 1 // drop the current worst on overflow
    while (pos > 0 && before(s, sn, i, in,
        scores(pos - 1), sNull(pos - 1), ids(pos - 1), iNull(pos - 1))) {
      scores(pos) = scores(pos - 1); sNull(pos) = sNull(pos - 1)
      ids(pos) = ids(pos - 1); iNull(pos) = iNull(pos - 1)
      if (pays != null) pays(pos) = pays(pos - 1)
      pos -= 1
    }
    scores(pos) = s; sNull(pos) = sn; ids(pos) = i; iNull(pos) = in
    if (pays != null) pays(pos) = p
    if (n < k) n += 1
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) {
      insert(other.scores(i), other.sNull(i), other.ids(i), other.iNull(i),
        if (pays == null) TopKBuffer.NoPays else other.pays(i))
      i += 1
    }
  }

  def toBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(4 + n * (17 + 9 * payTypes.length))
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(n)
    var i = 0
    while (i < n) {
      out.writeByte((if (sNull(i)) 1 else 0) | (if (iNull(i)) 2 else 0))
      out.writeDouble(scores(i)); out.writeLong(ids(i))
      var j = 0
      while (j < payTypes.length) {
        val v = pays(i)(j)
        out.writeBoolean(v == null)
        if (v != null) payTypes(j) match {
          case IntegerType => out.writeInt(v.asInstanceOf[Int])
          case LongType => out.writeLong(v.asInstanceOf[Long])
          case DoubleType => out.writeDouble(v.asInstanceOf[Double])
          case FloatType => out.writeFloat(v.asInstanceOf[Float])
          case BooleanType => out.writeBoolean(v.asInstanceOf[Boolean])
          case ShortType => out.writeShort(v.asInstanceOf[Short].toInt)
          case ByteType => out.writeByte(v.asInstanceOf[Byte].toInt)
          case dt => throw new IllegalStateException(
            s"unreachable: unsupported payload type $dt was type-checked")
        }
        j += 1
      }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }
}

object TopKBuffer {
  val NoPays: Array[Any] = Array.empty[Any]

  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType | BooleanType |
        ShortType | ByteType => true
    case _ => false
  }

  def fromBytes(bytes: Array[Byte], k: Int,
      payTypes: Array[DataType]): TopKBuffer = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKBuffer(k, payTypes)
    var i = 0
    while (i < n) {
      val bits = in.readByte()
      val s = in.readDouble(); val id = in.readLong()
      val p =
        if (payTypes.length == 0) NoPays
        else {
          val a = new Array[Any](payTypes.length)
          var j = 0
          while (j < payTypes.length) {
            val isNull = in.readBoolean()
            a(j) =
              if (isNull) null
              else payTypes(j) match {
                case IntegerType => java.lang.Integer.valueOf(in.readInt())
                case LongType => java.lang.Long.valueOf(in.readLong())
                case DoubleType => java.lang.Double.valueOf(in.readDouble())
                case FloatType => java.lang.Float.valueOf(in.readFloat())
                case BooleanType => java.lang.Boolean.valueOf(in.readBoolean())
                case ShortType => java.lang.Short.valueOf(in.readShort())
                case ByteType => java.lang.Byte.valueOf(in.readByte())
                case dt => throw new IllegalStateException(
                  s"unreachable: unsupported payload type $dt was type-checked")
              }
            j += 1
          }
          a
        }
      // entries arrive in rank order, so each insert appends in O(1)
      buf.insert(s, (bits & 1) != 0, id, (bits & 2) != 0, p)
      i += 1
    }
    buf
  }
}

object TopKFunctions {

  /** Largest k the bounded aggregate serves — past it (a caller
    * ranking "everything"), the k-slot buffer would degenerate toward
    * a per-group sort, so callers rank with the `row_number` window
    * instead.
    */
  val MaxK = 4096

  /** Per group: the k best (score, id, payloads...) rows under
    * (score DESC NULLS LAST, id ASC NULLS FIRST), as an
    * array<struct<score, id, p0...>> in rank order — the aggregate
    * form of `row_number() OVER (...) <= k`.
    */
  def topk_score_min_id(score: Column, id: Column, k: Int,
      payloads: Column*): Column =
    GraftColumnBridge.column(TopKScoreMinId(
      GraftColumnBridge.expression(score),
      GraftColumnBridge.expression(id), k,
      payloads.map(GraftColumnBridge.expression)).toAggregateExpression())
}
