package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native backward as-of join — the whole-operator tier of the custom-
  * operator ladder (custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`), for the one operator whose composed form
  * (`operators/AsOfJoin`: tagged union + window) pays real overhead:
  * the union null-pads every row with the other side's struct, and the
  * window buffers frames per partition. This exec is the direct
  * algorithm — both sides hash-partitioned by key and sorted by
  * (key, ts), then one streaming merge per partition holding O(1)
  * state: the last right row at-or-before the left cursor.
  *
  * Scale shape: identical to a sort-merge join (one shuffle + sort per
  * side), minus the window buffer and the padded union — and the merge
  * never materializes a candidate set, so wide time gaps cost
  * nothing (vs the N×M blow-up of a range-predicate join).
  *
  * Semantics (parity with `AsOfJoin.backward`): for each
  * left row, the right row of the same key with the greatest
  * `rightTs <= leftTs`; ties on `rightTs` pinned by the greatest
  * `tieBreak` (the required child ordering sorts it ascending, the
  * merge keeps the last seen). Null keys group together (window-
  * partition semantics, matching the composed form). Timestamps must
  * be non-null (micros-encoded `TimestampType` or integral).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    payload: Seq[Attribute],
    tieBreak: Expression,
    matchedTsOut: Attribute) // constructor-fixed: exprId must survive copy()
  extends BinaryNode {

  val payloadOut: Seq[Attribute] = payload.map(_.withNullability(true))

  override def output: Seq[Attribute] = left.output ++ payloadOut :+ matchedTsOut

  // matched_ts is minted BY this node (constructor-fixed id); without
  // this, CheckAnalysis reads it as an unresolvable reference
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(matchedTsOut))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. Self-registered by
  * `NativeAsOfJoin` via `spark.experimental.extraStrategies`.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTs, p.rightTs, p.payload,
        p.tieBreak, p.output,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

/** Streaming-merge backward as-of join exec. Child distribution and
  * ordering requirements make EnsureRequirements insert the hash
  * exchanges and sorts — the operator itself is a single pass.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    payload: Seq[Attribute],
    tieBreak: Expression,
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // ascending (key, ts[, tie]) on both sides; the merge keeps the LAST
  // seen right row ⇒ max tie-break among equal timestamps wins
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      Seq(SortOrder(rightTs, Ascending), SortOrder(tieBreak, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output.takeRight(1))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val matchExprs = (payload :+ rightTs).map(e => e: Expression)
    val nMatchFields = payload.size + 1
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val rMatchProj = UnsafeProjection.create(matchExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val resultProj =
        UnsafeProjection.create(outAttrs.map(a => a: Expression),
          lOut ++ outAttrs.drop(lOut.size))
      val joined = new JoinedRow
      val nullMatch = new GenericInternalRow(nMatchFields)

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        advanceRight()

        // last right row at-or-before the left cursor (O(1) state)
        private var cur: InternalRow = _ // copied match projection
        private var curKey: InternalRow = _ // copied key

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyProj(rHead).copy()
          } else { rHead = null; rHeadKey = null }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lrow = lIter.next()
          val lkey = lKeyProj(lrow)
          val ltsRow = lTsProj(lrow)
          val ltsNull = ltsRow.isNullAt(0)
          val lts = if (ltsNull) Long.MinValue else ltsRow.getLong(0)
          if (curKey != null && keyOrd.compare(curKey, lkey) != 0) {
            cur = null; curKey = null
          }
          var advancing = true
          while (advancing && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lkey)
            if (c < 0) advanceRight()
            else if (c == 0) {
              val rtsRow = rTsProj(rHead)
              val rts = if (rtsRow.isNullAt(0)) Long.MinValue else rtsRow.getLong(0)
              if (rts <= lts) {
                cur = rMatchProj(rHead).copy()
                if (curKey == null) curKey = lkey.copy()
                advanceRight()
              } else advancing = false
            } else advancing = false
          }
          val m = if (cur != null && !ltsNull) cur else nullMatch
          resultProj(joined(lrow, m))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
