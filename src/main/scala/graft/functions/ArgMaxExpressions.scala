package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types._

/** Hash-aggregable ARGMAX: per group, the row with the highest
  * `score`, ties broken to the LOWEST `id`, carrying `payloads`
  * along; null scores never win (an all-null group evaluates to a
  * null struct). Exactly `max(struct(score, -id, payloads...))` for
  * inputs whose (score, id) is unique per row — but that struct-max
  * has a struct-typed aggregation buffer, which HashAggregateExec
  * cannot hold in its mutable row, so the whole aggregation (and its
  * partial pass) fell to SortAggregate: every scored row sorted by
  * group key before the partial agg, twice per query at sf0.1's 4M
  * scored pairs (measured: the sort dominated q_training_triplets /
  * q_bitext_mine). This DeclarativeAggregate keeps the buffer as flat
  * nullable primitives — (score double, id long, payload...) — which
  * is HashAggregate-eligible and whole-stage-codegen'd, restoring the
  * map-side-combining hash plan the argmax faces were designed
  * around.
  *
  * Null-id rows are skipped like null-score rows (enforced in
  * updateExpressions, not doc-only — ADVICE r18): a null-id winner
  * would otherwise null the tie-break comparison later. NaN scores
  * rank ABOVE all non-NaN values and equal each other, exactly like
  * the struct-max ordering (Spark's SQL comparison semantics for
  * doubles — spec-pinned in ArgMaxSpec's NaN case).
  */
case class ArgMaxScoreMinId(score: Expression, id: Expression,
    payloads: Seq[Expression]) extends DeclarativeAggregate {

  override def children: Seq[Expression] = score +: id +: payloads

  override def nullable: Boolean = true

  override def dataType: DataType = StructType(
    StructField("score", DoubleType) +: StructField("id", LongType) +:
      payloads.zipWithIndex.map { case (p, i) =>
        StructField(s"p$i", p.dataType)
      })

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"argmax score must be double, got ${score.dataType.catalogString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"argmax id must be bigint, got ${id.dataType.catalogString}")
    else if (!payloads.forall(p => UnsafeRow.isMutable(p.dataType)))
      TypeCheckResult.TypeCheckFailure(
        "argmax payloads must be fixed-width (mutable) types — a " +
          "var-length payload would push the aggregate off the hash path " +
          "this expression exists to keep")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val bScore = AttributeReference("argmax_score", DoubleType)()
  private lazy val bId = AttributeReference("argmax_id", LongType)()
  private lazy val bPays = payloads.zipWithIndex.map { case (p, i) =>
    AttributeReference(s"argmax_p$i", p.dataType)()
  }

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    bScore +: bId +: bPays

  override lazy val initialValues: Seq[Expression] =
    Literal(null, DoubleType) +: Literal(null, LongType) +:
      payloads.map(p => Literal(null, p.dataType))

  /** (newScore, newId) beats the buffer: non-null score and either an
    * empty buffer, a strictly higher score, or an exact score tie
    * with a lower id. (`IsNull(bScore)` short-circuits the Or, so the
    * null-buffer comparisons never decide.)
    */
  private def beats(nS: Expression, nI: Expression,
      s: Expression, i: Expression): Expression =
    And(IsNotNull(nS),
      Or(IsNull(s),
        Or(GreaterThan(nS, s),
          And(EqualTo(nS, s), LessThan(nI, i)))))

  override lazy val updateExpressions: Seq[Expression] = {
    // null-id rows never win (ADVICE r18): without this guard a
    // null-id winner would make LessThan(nId, bufId) null on a later
    // exact-score tie, turning beats() false and silently keeping the
    // wrong row. Nulling the score keeps the invariant enforced, not
    // doc-only; buffers then hold non-null id whenever score is
    // non-null by induction, so merge needs no guard.
    val s = If(IsNull(id), Literal(null, DoubleType), score)
    val b = beats(s, id, bScore, bId)
    If(b, s, bScore) +: If(b, id, bId) +:
      payloads.zip(bPays).map { case (p, bp) => If(b, p, bp) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val b = beats(bScore.right, bId.right, bScore.left, bId.left)
    If(b, bScore.right, bScore.left) +: If(b, bId.right, bId.left) +:
      bPays.map(bp => If(b, bp.right, bp.left))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(bScore), Literal(null, dataType),
      CreateNamedStruct(
        Literal("score") +: bScore +: Literal("id") +: bId +:
          bPays.zipWithIndex.flatMap { case (bp, i) =>
            Seq(Literal(s"p$i"), bp)
          }))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgMaxScoreMinId =
    copy(score = newChildren(0), id = newChildren(1),
      payloads = newChildren.drop(2))
}

object ArgMaxFunctions {

  /** The rank-1 window [[ArgMaxScoreMinId]] replaces, kept as the
    * fallback for inputs the flat buffer cannot hold (a non-bigint id,
    * a non-double score): per `group`, the row first by `score` desc
    * (nulls last, NaN first) then `id` asc — the same winner, for any
    * orderable id type.
    */
  def rankOneRows(df: DataFrame, group: String, score: String,
      id: String): DataFrame = {
    val w = Window.partitionBy(group)
      .orderBy(df(score).desc_nulls_last, df(id).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Per group: struct(score, id, p0, p1, ...) of the max-score row,
    * ties to the min id; null when no non-null score was seen.
    */
  def argmax_min_id(score: Column, id: Column, payloads: Column*): Column =
    GraftColumnBridge.column(ArgMaxScoreMinId(
      GraftColumnBridge.expression(score),
      GraftColumnBridge.expression(id),
      payloads.map(GraftColumnBridge.expression)).toAggregateExpression())
}
