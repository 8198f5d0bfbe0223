package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** The as-of join operator — the layer-(c) path from SURVEY.md §7.1:
  * custom LogicalPlan + SparkStrategy + SparkPlan, built by
  * [[graft.operators.AsOfJoin.backward]]. Reference:
  * TemporalRowTimeJoinOperator.java:78 (event-time temporal join) and
  * BatchExecSortMergeJoin's merge machinery.
  *
  * Semantics: for each left row, attach the single latest right row with
  * the same key and right.ts <= left.ts (backward, inclusive), or nulls.
  * The right side must be unique per (key, ts); pre-aggregate if not.
  *
  * Execution: both children are hash-distributed on the key and sorted
  * by (key, ts) — Catalyst's EnsureRequirements inserts the exchanges /
  * sorts — then one streaming merge pass per partition keeps O(1) state
  * (the current candidate). Keys and timestamps are compared with
  * generated orderings of their Catalyst types, the same orderings the
  * sorts use, so any orderable type merges correctly. Versus a union +
  * window formulation this avoids row widening, null-padding and the
  * window buffer; versus a range join (Spark's `RewriteAsOfJoin`) it
  * never materializes the per-key cross product. At 100 TB it is one
  * co-partitioned shuffle per side and a linear merge.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightVals: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))
  // keys/timestamps must survive column pruning even when the parent
  // only selects a subset of rightVals
  override def references: AttributeSet =
    AttributeSet(Seq(leftKey, rightKey, leftTs, rightTs) ++ rightVals)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): LogicalPlan = copy(left = l, right = r)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, rv) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rv) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightVals: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // capture only serializable expression metadata; code-generated
    // projections are built per partition on the executor
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lts, rts, rv) = (leftKey, rightKey, leftTs, rightTs, rightVals)
    val out = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(Seq(lk), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rOut)
      val lTsProj = UnsafeProjection.create(Seq(lts), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rts), rOut)
      val rValProj = UnsafeProjection.create(rv, rOut)
      def ordering(a: Attribute) = RowOrdering.create(
        Seq(SortOrder(BoundReference(0, a.dataType, a.nullable), Ascending)),
        Seq.empty)
      val keyOrdering = ordering(lk)
      val tsOrdering = ordering(lts)
      val nullRightRow = new GenericInternalRow(rv.length)
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val outProj = UnsafeProjection.create(out, out)
        private var rRow: InternalRow = _        // lookahead right row
        private var rKey: UnsafeRow = _
        private var rTs: UnsafeRow = _  // rTsProj's buffer: valid until the next advance
        private var rValid = false
        private var candVals: UnsafeRow = _      // latest right <= ts, projected
        private var candKey: UnsafeRow = _
        // Null keys/timestamps never match (SQL join semantics; the
        // reference temporal join likewise drops null-keyed builds) —
        // skip them on the right, null-pad on the left. Safe w.r.t. the
        // merge order: nulls sort first, so the right cursor has not
        // passed any valid key when a null-keyed left row is emitted.
        private def advanceRight(): Unit = {
          rValid = false
          while (!rValid && rIter.hasNext) {
            rRow = rIter.next()
            val k = rKeyProj(rRow)
            val t = rTsProj(rRow)
            if (!k.anyNull && !t.anyNull) {
              rKey = k.copy()
              rTs = t
              rValid = true
            }
          }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTsRow = lTsProj(lRow)
          if (lKey.anyNull || lTsRow.anyNull) {
            return outProj(joined(lRow, nullRightRow))
          }
          // drop candidate from a previous key
          if (candKey != null && keyOrdering.compare(candKey, lKey) != 0) {
            candKey = null; candVals = null
          }
          // consume right rows with key < lKey, or key == lKey && ts <= lTs
          var cont = rValid
          while (cont) {
            val c = keyOrdering.compare(rKey, lKey)
            if (c < 0) advanceRight()
            else if (c == 0 && tsOrdering.compare(rTs, lTsRow) <= 0) {
              candKey = rKey
              candVals = rValProj(rRow).copy()
              advanceRight()
            } else cont = false
            cont = cont && rValid
          }
          val rv: InternalRow =
            if (candVals != null && candKey != null &&
              keyOrdering.compare(candKey, lKey) == 0) candVals
            else nullRightRow
          outProj(joined(lRow, rv))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): SparkPlan = copy(left = l, right = r)
}
