package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Unbounded stream-stream OUTER equi-join with retraction semantics —
  * reference: StreamingJoinOperator.java (flink-table-runtime/.../
  * operators/join/stream/, outer-join null padding + retraction when a
  * match later arrives) and the state views in JoinRecordStateViews.
  *
  * Semantics (Flink's): a row with no current match on the other side
  * emits its null-padded result immediately (+I with the other side
  * NULL); when the first match arrives later, the null-padded row is
  * retracted (-D) and the joined rows are emitted (+I). Downstream
  * consumers apply the changelog exactly as for any retract stream
  * (graft.cdc conventions).
  *
  * Spark-first placement: Structured Streaming's built-in outer joins
  * require a watermark bound and emit the null-padded row only when the
  * watermark closes the match window — APPEND semantics. The reference's
  * UNBOUNDED outer join instead emits eagerly and retracts; that is a
  * changelog the append-only built-in cannot express, hence this
  * flatMapGroupsWithState operator (the round-1/2 documented delta this
  * closes).
  *
  * Scale: state is O(rows per key) on both sides — the same as the
  * reference's join state views; `stateTtlMs` bounds it in wall-clock
  * (reference table.exec.state.ttl), expiring lazily on key access.
  * Keys are hash-distributed; each micro-batch touches only arriving
  * keys. One shuffle per side on the join key — the minimum any
  * streaming join does.
  *
  * A null join key never matches (SQL equality): its rows only pad and
  * it keeps no state.
  */
object StreamingOuterJoin {

  /** Changelog emission: (rowKind, left, right) with "+I"/"-D" kinds. */
  type Out[L, R] = (String, Option[L], Option[R])

  /** Full/left/right outer controlled by which sides null-pad. */
  def outer[K, L, R](left: Dataset[L], right: Dataset[R],
      lKey: L => K, rKey: R => K,
      padLeft: Boolean = true, padRight: Boolean = true,
      stateTtlMs: Long = Long.MaxValue)(
      implicit kEnc: Encoder[K], lEnc: Encoder[L], rEnc: Encoder[R],
      inEnc: Encoder[(Option[L], Option[R])],
      stEnc: Encoder[(Seq[(L, Long)], Seq[(R, Long)])],
      outEnc: Encoder[Out[L, R]]): Dataset[Out[L, R]] = {
    // tag and union the two inputs; key on the join key
    val tagged = left.map(l => (Option(l), Option.empty[R]))
      .unionByName(right.map(r => (Option.empty[L], Option(r))))
    tagged.groupByKey {
      case (Some(l), _) => lKey(l)
      case (_, Some(r)) => rKey(r)
      case _ => throw new IllegalStateException("empty tagged row")
    }.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, rows: Iterator[(Option[L], Option[R])],
          state: GroupState[(Seq[(L, Long)], Seq[(R, Long)])]) =>
        if (key == null) nullKey(rows, state, padLeft, padRight)
        else {
          val now = System.currentTimeMillis()
          val fresh = (p: (_, Long)) =>
            stateTtlMs == Long.MaxValue || now - p._2 < stateTtlMs
          var (ls, rs) = state.getOption.getOrElse(
            (Seq.empty[(L, Long)], Seq.empty[(R, Long)]))
          ls = ls.filter(fresh); rs = rs.filter(fresh) // lazy TTL expiry
          val out = scala.collection.mutable.ArrayBuffer.empty[Out[L, R]]
          rows.foreach {
            case (Some(l), _) =>
              if (rs.nonEmpty)
                rs.foreach { case (r, _) => out += (("+I", Some(l), Some(r))) }
              else if (padLeft) out += (("+I", Some(l), None))
              // right side that was null-padded (no left existed) retracts
              if (padRight && ls.isEmpty && rs.nonEmpty)
                rs.foreach { case (r, _) => out += (("-D", None, Some(r))) }
              ls = ls :+ ((l, now))
            case (_, Some(r)) =>
              if (ls.nonEmpty)
                ls.foreach { case (l, _) => out += (("+I", Some(l), Some(r))) }
              else if (padRight) out += (("+I", None, Some(r)))
              // left rows that were null-padded retract their padding
              if (padLeft && rs.isEmpty && ls.nonEmpty)
                ls.foreach { case (l, _) => out += (("-D", Some(l), None)) }
              rs = rs :+ ((r, now))
            case _ => ()
          }
          state.update((ls, rs))
          out.iterator
        }
    }
  }

  /** Rows under a null join key: a null key never matches, so each row
    * only pads (under `padLeft`/`padRight`) and the key keeps no state —
    * state stored under it by an earlier version, which joined null
    * keys with each other, is dropped. */
  private def nullKey[L, R](rows: Iterator[(Option[L], Option[R])],
      state: GroupState[_], padLeft: Boolean, padRight: Boolean)
      : Iterator[Out[L, R]] = {
    if (state.exists) state.remove()
    rows.collect {
      case (l @ Some(_), _) if padLeft => ("+I", l, Option.empty[R])
      case (None, r @ Some(_)) if padRight => ("+I", Option.empty[L], r)
    }
  }

  def leftOuter[K, L, R](left: Dataset[L], right: Dataset[R],
      lKey: L => K, rKey: R => K, stateTtlMs: Long = Long.MaxValue)(
      implicit kEnc: Encoder[K], lEnc: Encoder[L], rEnc: Encoder[R],
      inEnc: Encoder[(Option[L], Option[R])],
      stEnc: Encoder[(Seq[(L, Long)], Seq[(R, Long)])],
      outEnc: Encoder[Out[L, R]]): Dataset[Out[L, R]] =
    outer(left, right, lKey, rKey, padLeft = true, padRight = false,
      stateTtlMs = stateTtlMs)

  def fullOuter[K, L, R](left: Dataset[L], right: Dataset[R],
      lKey: L => K, rKey: R => K, stateTtlMs: Long = Long.MaxValue)(
      implicit kEnc: Encoder[K], lEnc: Encoder[L], rEnc: Encoder[R],
      inEnc: Encoder[(Option[L], Option[R])],
      stEnc: Encoder[(Seq[(L, Long)], Seq[(R, Long)])],
      outEnc: Encoder[Out[L, R]]): Dataset[Out[L, R]] =
    outer(left, right, lKey, rKey, padLeft = true, padRight = true,
      stateTtlMs = stateTtlMs)

  /** Apply the emitted changelog to a materialized multiset — the same
    * fold any retract-aware sink performs (test/verification helper). */
  def materialize[L, R](emissions: Seq[Out[L, R]]): Seq[(Option[L], Option[R])] = {
    val bag = scala.collection.mutable.ArrayBuffer.empty[(Option[L], Option[R])]
    emissions.foreach {
      case ("+I", l, r) => bag += ((l, r))
      case ("-D", l, r) =>
        val i = bag.indexOf((l, r))
        require(i >= 0, s"retraction for absent row ($l, $r)")
        bag.remove(i)
      case (k, _, _) => throw new IllegalArgumentException(s"row kind $k")
    }
    bag.toSeq
  }
}
