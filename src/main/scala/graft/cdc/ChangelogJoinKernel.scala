package graft.cdc

import scala.collection.mutable

/** The per-key state machine of a changelog ⋈ changelog join: the one
  * statement of its emission rule, run by the streaming operator
  * ([[graft.streaming.StreamingChangelogJoin]]) and the batch replay
  * ([[ChangelogJoin.updateStream]]). Reference:
  * StreamingJoinOperator.java:37 with the association counting of
  * OuterJoinRecordStateViews.java:336.
  *
  * State: each side's live multiset (content → net count, net-zero
  * entries dropped) and the running total of its counts — the key's
  * association count for the other side's padded rows. A change of
  * weight w = ±1 on side A, against side B, emits in this order:
  *  1. padding retractions: if B pads and A's total is 0 on an insert,
  *     `-U` (nulls, b) for every live b;
  *  2. (a, b) for every live b, with b's multiplicity, in the change's
  *     kind — or (a, nulls) when no b is live and A pads;
  *  3. padding restorations: if B pads and a retraction takes A's total
  *     to 0, `+U` (nulls, b) for every live b;
  * then A's multiset takes the change. Under a null join key a change
  * never matches and never associates: it only pads, and the state is
  * never touched. */
final class ChangelogJoinKernel[L, R](joinType: String, nullKey: Boolean,
    left: Iterable[(L, Int)] = Nil, right: Iterable[(R, Int)] = Nil) {
  import ChangelogJoinKernel._

  private val padsLeft = joinType == "left" || joinType == "full"
  private val padsRight = joinType == "right" || joinType == "full"
  private val ls = new Multiset(left)
  private val rs = new Multiset(right)

  /** Applies one change — `Left(l)` or `Right(r)` — and hands each
    * emission to `emit(kind, left, right, multiplicity)`. */
  def apply(change: Either[L, R], kind: String)(
      emit: (String, Option[L], Option[R], Int) => Unit): Unit =
    change match {
      case Left(l) => step(l, kind, ls, rs, padsLeft, padsRight)(emit)
      case Right(r) => step(r, kind, rs, ls, padsRight, padsLeft) {
        (k, ro, lo, n) => emit(k, lo, ro, n) }
    }

  def isEmpty: Boolean = ls.counts.isEmpty && rs.counts.isEmpty
  def state: (Seq[(L, Int)], Seq[(R, Int)]) = (ls.counts.toSeq, rs.counts.toSeq)

  private def step[A, B](a: A, kind: String, own: Multiset[A],
      other: Multiset[B], padsOwn: Boolean, padsOther: Boolean)(
      emit: (String, Option[A], Option[B], Int) => Unit): Unit = {
    val w = ChangelogAgg.weightOf(kind).toInt
    def pad(): Unit = if (padsOwn) emit(kind, Some(a), None, 1)
    def transition(k: String): Unit = other.counts.foreach {
      case (b, n) => if (n > 0) emit(k, None, Some(b), n) }
    if (nullKey) pad()
    else {
      if (padsOther && own.total == 0 && w > 0) transition("-U")
      var matched = false
      other.counts.foreach { case (b, n) =>
        if (n > 0) { matched = true; emit(kind, Some(a), Some(b), n) }
      }
      if (!matched) pad()
      if (padsOther && own.total + w == 0 && w < 0) transition("+U")
      own.bump(a, w)
    }
  }
}

object ChangelogJoinKernel {

  val JoinTypes: Set[String] = Set("inner", "left", "right", "full")

  /** One side's live contents with their net counts, in first-arrival
    * order, and the running total of those counts. */
  private final class Multiset[T](init: Iterable[(T, Int)]) {
    val counts: mutable.LinkedHashMap[T, Int] = mutable.LinkedHashMap.from(init)
    var total: Long = counts.valuesIterator.map(_.toLong).sum

    def bump(c: T, w: Int): Unit = {
      val n = counts.getOrElse(c, 0) + w
      if (n == 0) counts.remove(c) else counts(c) = n
      total += w
    }
  }
}
