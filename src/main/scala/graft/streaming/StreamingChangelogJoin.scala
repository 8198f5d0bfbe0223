package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

import graft.cdc.ChangelogJoinKernel

/** Unbounded stream-stream equi-join whose inputs are CHANGELOGS —
  * every input row carries a row kind (+I/-U/+U/-D), both sides may
  * update, and the operator emits the joined change stream with outer
  * null-padding driven by association counting. This is the streaming
  * twin of [[graft.cdc.ChangelogJoin]]'s batch replay (same reference:
  * StreamingJoinOperator.java:37 + OuterJoinRecordStateViews.java:336);
  * the batch operator replays arrival order from sequence columns,
  * this one processes arrival order as it happens.
  *
  * Per arriving change the operator runs
  * [[graft.cdc.ChangelogJoinKernel]], the single statement of the
  * emission rule: padding retractions, the joined rows with their
  * multiplicity (or the null-padded row), padding restorations, then
  * the change applies to its own side's multiset. A change under a
  * null join key never matches and never associates — it only pads,
  * and its key keeps no state.
  *
  * Scale: state is the kernel's two multisets per key — the reference's
  * JoinRecordStateView (count per live row content), hash-distributed
  * on the join key; one shuffle per side.
  *
  * Ordering: every input row carries an explicit SEQUENCE number, and
  * a key's buffered rows are applied in (seq, side) order (left wins
  * ties) inside each trigger — flatMapGroupsWithState gives no
  * intra-micro-batch ordering guarantee, so when several changes for
  * one key (possibly from both sides) land in a single trigger, the
  * group iterator would otherwise apply them in arbitrary shuffle
  * order. The (seq, side) rule is exactly the batch twin's global
  * processing order, so the two operators stay emission-equivalent at
  * ANY micro-batch granularity, not just one-event-per-trigger.
  */
object StreamingChangelogJoin {

  /** Changelog emission: (rowKind, left, right). */
  type Out[L, R] = (String, Option[L], Option[R])

  /** `joinType`: inner | left | right | full. Input rows are
    * (payload, rowKind, seq) — `seq` totally orders each side's
    * changes and is comparable across sides (the batch twin's
    * contract, [[graft.cdc.ChangelogJoin.updateStream]]).
    *
    * `stateTtlMs`: idle state retention — the reference's
    * table.exec.state.ttl applied to the regular streaming join
    * (StreamingJoinOperator's StateTtlConfig): a key whose state sees
    * no change for the TTL (processing time) is DROPPED, so unbounded
    * two-sided state stays bounded by key churn instead of key
    * cardinality. As in the reference, this deliberately trades
    * correctness for boundedness: a change arriving after its key
    * expired joins against EMPTY state (documented Flink behavior).
    * Default Long.MaxValue = keep state forever. The expiry rule is
    * [[IdleStateTtl]]'s. */
  def join[K, L, R](left: Dataset[(L, String, Long)],
      right: Dataset[(R, String, Long)],
      lKey: L => K, rKey: R => K, joinType: String,
      stateTtlMs: Long = Long.MaxValue)(
      implicit kEnc: Encoder[K],
      inEnc: Encoder[(Option[(L, String, Long)], Option[(R, String, Long)])],
      stEnc: Encoder[(Seq[(L, Int)], Seq[(R, Int)])],
      outEnc: Encoder[Out[L, R]]): Dataset[Out[L, R]] = {
    require(ChangelogJoinKernel.JoinTypes(joinType),
      s"unsupported join type: $joinType")
    val tagged = left
      .map(l => (Option(l), Option.empty[(R, String, Long)]))
      .unionByName(right.map(r => (Option.empty[(L, String, Long)], Option(r))))
    tagged.groupByKey {
      case (Some((l, _, _)), _) => lKey(l)
      case (_, Some((r, _, _))) => rKey(r)
      case _ => throw new IllegalStateException("empty tagged row")
    }.flatMapGroupsWithState(OutputMode.Append,
        IdleStateTtl.timeout(stateTtlMs))(
      applyKey[K, L, R](joinType, stateTtlMs) _)
  }

  /** One key's rows of one trigger, applied to its stored state. A null
    * key keeps no state: its changes only pad, and state stored under
    * it by an earlier version, which joined null keys with each other,
    * is dropped. */
  private[streaming] def applyKey[K, L, R](joinType: String, stateTtlMs: Long)(
      key: K, rows: Iterator[(Option[(L, String, Long)], Option[(R, String, Long)])],
      state: GroupState[(Seq[(L, Int)], Seq[(R, Int)])]): Iterator[Out[L, R]] =
    IdleStateTtl(state, stateTtlMs) {
      val (ls0, rs0) = state.getOption.filter(_ => key != null)
        .getOrElse((Seq.empty[(L, Int)], Seq.empty[(R, Int)]))
      val kernel = new ChangelogJoinKernel[L, R](joinType, key == null,
        ls0, rs0)
      val out = scala.collection.mutable.ArrayBuffer.empty[Out[L, R]]
      // apply in the global (seq, side) order — left wins seq ties —
      // regardless of how the shuffle interleaved this trigger's rows
      rows.map {
        case (Some((l, kind, s)), _) => (s, 0, kind, Left[L, R](l))
        case (_, Some((r, kind, s))) => (s, 1, kind, Right[L, R](r))
        case _ => throw new IllegalStateException("empty tagged row")
      }.toSeq.sortBy(c => (c._1, c._2)).foreach { case (_, _, kind, change) =>
        kernel(change, kind) { (k, l, r, n) =>
          (1 to n).foreach(_ => out += ((k, l, r))) }
      }
      if (kernel.isEmpty) state.remove() else state.update(kernel.state)
      out.iterator
    }
}
