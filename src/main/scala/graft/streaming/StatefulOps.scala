package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming operators on `flatMapGroupsWithState` — the
  * Spark substrate for the reference's per-key stateful operators
  * (ProcessFunction/KeyedProcessFunction, flink-runtime/.../functions/;
  * dedup keep-last DeduplicateFunctionHelper.java:29; TopN
  * AbstractTopNFunction.java:48; streaming OVER
  * RowTimeRowsBoundedPrecedingFunction.java:57; count windows
  * flink-runtime/.../windowing/assigners/ count variants).
  *
  * State discipline at scale: every operator keeps O(1) or O(n) state
  * per key (n = TopN size / window size), never unbounded row buffers.
  * These run identically on a 1000-executor cluster: state lives in the
  * per-partition state store, keys are hash-distributed, and each
  * micro-batch touches only keys present in the batch.
  *
  * All operators also work on batch Datasets (Spark runs
  * flatMapGroupsWithState in batch mode with empty initial state),
  * which is how the driver's batch gate exercises them, and under
  * both state-store providers (HDFS-backed and RocksDB). Idle-state
  * TTL follows one rule, [[IdleStateTtl]], shared with the changelog
  * join and aggregate.
  */
object StatefulOps {

  /** Deduplicate keep-last: emit the latest row per key (by `seqFn`,
    * e.g. event-time micros) whenever it changes — update semantics,
    * exactly Flink's deduplication with keep-last-row. O(1) state.
    *
    * `stateTtlMs`: idle state retention (table.exec.state.ttl) under
    * [[IdleStateTtl]]'s rule; a row for an expired key is emitted as the
    * key's first. Every row re-arms the key's timer, also one that does
    * not replace the stored row. Default Long.MaxValue = keep forever. */
  def keepLast[K, T](ds: Dataset[T], keyFn: T => K, seqFn: T => Long,
      stateTtlMs: Long = Long.MaxValue)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T]): Dataset[T] = {
    implicit val stateEnc: Encoder[(Long, T)] =
      Encoders.tuple(Encoders.scalaLong, tEnc)
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Update,
          IdleStateTtl.timeout(stateTtlMs)) {
        (_: K, rows: Iterator[T], state: GroupState[(Long, T)]) =>
          IdleStateTtl(state, stateTtlMs) {
            val prev = state.getOption
            var cur = prev
            rows.foreach { r =>
              val s = seqFn(r)
              if (cur.isEmpty || s >= cur.get._1) cur = Some((s, r))
            }
            cur match {
              case Some(c) if prev.isEmpty || prev.get._1 != c._1 ||
                  prev.get._2 != c._2 =>
                state.update(c)
                Iterator.single(c._2)
              case _ => Iterator.empty
            }
          }
      }
  }

  /** Deduplicate keep-first: emit only the first row ever seen per key —
    * Flink's deduplication with keep-first-row. O(1) state (a presence
    * marker per key); later duplicates are swallowed. Among same-key
    * rows of the key's first micro-batch the LOWEST `seqFn` value wins
    * (event-time keep-first), so reruns and task retries emit the same
    * survivor. With the default constant `seqFn` the first row of the
    * batch wins, and that order after the shuffle is arbitrary —
    * exactly Flink's proctime keep-first semantics.
    * The streaming face of exact corpus dedup: key on the normalized
    * text hash. */
  def keepFirst[K, T](ds: Dataset[T], keyFn: T => K,
      seqFn: T => Long = (_: T) => 0L)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T]): Dataset[T] = {
    implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(rows.minBy(seqFn)) }
      }
  }

  /** Streaming TopN per key: maintains the top `n` rows by `scoreFn`
    * (desc) in state; emits the full refreshed ranking of a key whenever
    * it changes. Output rows are (key, rank, row). O(n) state per key —
    * the AppendOnlyTopNFunction strategy. */
  def topN[K, T](ds: Dataset[T], keyFn: T => K, scoreFn: T => Double, n: Int)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      outEnc: Encoder[(K, Int, T)], stateEnc: Encoder[Seq[T]]): Dataset[(K, Int, T)] = {
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[T], state: GroupState[Seq[T]]) =>
          val old = state.getOption.getOrElse(Seq.empty)
          val merged = (old ++ rows).sortBy(r => -scoreFn(r)).take(n)
          if (merged == old) Iterator.empty
          else {
            state.update(merged)
            merged.iterator.zipWithIndex
              .map { case (r, i) => (key, i + 1, r) }
          }
      }
  }

  /** Count-based tumbling windows per key (reference: count windows,
    * GlobalWindows + CountTrigger): buffer `size` rows, emit the full
    * window batch once complete. Emits (key, windowIndex, rows). */
  def countWindow[K, T](ds: Dataset[T], keyFn: T => K, size: Int)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      outEnc: Encoder[(K, Long, Seq[T])],
      stateEnc: Encoder[(Long, Seq[T])]): Dataset[(K, Long, Seq[T])] = {
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[T], state: GroupState[(Long, Seq[T])]) =>
          var (windowIdx, buf) = state.getOption.getOrElse((0L, Seq.empty[T]))
          val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long, Seq[T])]
          rows.foreach { r =>
            buf = buf :+ r
            if (buf.size == size) {
              out += ((key, windowIdx, buf))
              windowIdx += 1
              buf = Seq.empty
            }
          }
          state.update((windowIdx, buf))
          out.iterator
      }
  }

  /** Temporal sort (reference RowTimeSortOperator.java /
    * StreamExecTemporalSort.java): emit each key's rows in strict
    * event-time order once the watermark passes them — the
    * reorder-on-watermark operator that turns an out-of-order stream
    * into an ordered one. State: the immature buffer only. */
  def eventTimeSort[K, T](ds: Dataset[T], keyFn: T => K, tsFn: T => Long,
      tieFn: T => Long = (_: T) => 0L)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      seqEnc: Encoder[Seq[T]]): Dataset[T] = {
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[Seq[T]]) =>
          val wm = state.getCurrentWatermarkMs()
          val all = (state.getOption.getOrElse(Seq.empty) ++ rows)
            .sortBy(t => (tsFn(t), tieFn(t)))
          val (mature, pending) = all.partition(t => tsFn(t) <= wm)
          if (pending.isEmpty) state.remove()
          else {
            state.update(pending)
            state.setTimeoutTimestamp(tsFn(pending.head) + 1)
          }
          mature.iterator
      }
  }

  /** Streaming OVER aggregate, ROWS BETWEEN (n-1) PRECEDING AND CURRENT
    * ROW in strict event-time order — reference:
    * RowTimeRowsBoundedPrecedingFunction.java:57. Rows are buffered until
    * the watermark passes them (so late rows up to the watermark delay
    * land in their correct position), then emitted in order with the
    * aggregate over the trailing window of `n` values. State: the
    * immature buffer plus the last n-1 matured values (a ring of
    * doubles) — O(n) per key.
    * Emits (key, ts, windowSum) in append mode; pair with a watermarked
    * input (event-time timeouts flush keys with no further input). */
  def rowsBoundedSum[K, T](ds: Dataset[T], keyFn: T => K, tsFn: T => Long,
      valFn: T => Double, n: Int)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T], seqEnc: Encoder[Seq[T]],
      outEnc: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] = {
    implicit val stEnc: Encoder[(Seq[T], Seq[Double])] =
      Encoders.tuple(seqEnc, org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Double]]())
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: K, rows: Iterator[T], state: GroupState[(Seq[T], Seq[Double])]) =>
          val (buffered, tail) =
            state.getOption.getOrElse((Seq.empty[T], Seq.empty[Double]))
          val wm = state.getCurrentWatermarkMs()
          val all = (buffered ++ rows).sortBy(tsFn)
          val (mature, pending) = all.partition(t => tsFn(t) <= wm)
          var window = tail
          val out = mature.map { t =>
            window = (window :+ valFn(t)).takeRight(n)
            (key, tsFn(t), window.sum)
          }
          if (pending.isEmpty && window.isEmpty) state.remove()
          else {
            state.update((pending, window.takeRight(n - 1)))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(tsFn(pending.head) + 1)
          }
          out.iterator
      }
  }

  /** Streaming LIMIT (reference StreamExecLimit: limit over an
    * append-only stream is stateful — a count survives micro-batches).
    * Emits at most `n` rows per key across the whole stream; use a
    * constant key for a global limit. O(1) state per key. */
  def streamingLimit[K, T](ds: Dataset[T], keyFn: T => K, n: Long)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T]): Dataset[T] = {
    implicit val cntEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[Long]) =>
          val seen = state.getOption.getOrElse(0L)
          val out = rows.take(math.max(0L, n - seen).toInt).toVector
          state.update(seen + out.size)
          out.iterator
      }
  }

  /** Streaming OVER aggregate, RANGE BETWEEN `rangeMs` PRECEDING AND
    * CURRENT ROW in strict event-time order — reference:
    * RowTimeRangeBoundedPrecedingFunction.java:67 (which keeps per-
    * timestamp state and retracts entries leaving the range). Rows
    * buffer until the watermark passes them, then emit in order with
    * the sum over values whose ts lies in [ts - rangeMs, ts]. State:
    * the immature buffer plus the matured (ts, value) pairs still
    * inside the range of the last emitted row — O(rows-in-range) per
    * key, the same bound as the reference's per-ts map. */
  def rangeBoundedSum[K, T](ds: Dataset[T], keyFn: T => K, tsFn: T => Long,
      valFn: T => Double, rangeMs: Long)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T], seqEnc: Encoder[Seq[T]],
      outEnc: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] = {
    implicit val stEnc: Encoder[(Seq[T], Seq[(Long, Double)])] =
      Encoders.tuple(seqEnc, org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Double)]]())
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: K, rows: Iterator[T],
            state: GroupState[(Seq[T], Seq[(Long, Double)])]) =>
          val (buffered, tail) =
            state.getOption.getOrElse((Seq.empty[T], Seq.empty[(Long, Double)]))
          val wm = state.getCurrentWatermarkMs()
          val all = (buffered ++ rows).sortBy(tsFn)
          val (mature, pending) = all.partition(t => tsFn(t) <= wm)
          var window = tail
          val out = mature.map { t =>
            val ts = tsFn(t)
            window = (window :+ (ts, valFn(t))).dropWhile(_._1 < ts - rangeMs)
            (key, ts, window.map(_._2).sum)
          }
          if (pending.isEmpty && window.isEmpty) state.remove()
          else {
            state.update((pending, window))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(tsFn(pending.head) + 1)
          }
          out.iterator
      }
  }

  /** Streaming OVER aggregate, ROWS UNBOUNDED PRECEDING flavor
    * (reference AbstractRowTimeUnboundedPrecedingOver): per-key running
    * sum in event-time order. Within a micro-batch rows are sorted by
    * `tsFn`; across batches the accumulator persists. Emits
    * (key, seq, runningSum). O(1) state.
    *
    * Caveat vs the reference (documented semantic delta): rows arriving
    * out of order ACROSS micro-batches are accumulated in arrival order;
    * Flink buffers until the watermark. Pair with a watermark-delayed
    * source for strict event-time ordering.
    */
  def runningSum[K, T](ds: Dataset[T], keyFn: T => K, tsFn: T => Long,
      valFn: T => Double)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      outEnc: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] = {
    implicit val accEnc: Encoder[Double] = Encoders.scalaDouble
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[T], state: GroupState[Double]) =>
          var acc = state.getOption.getOrElse(0.0)
          val out = rows.toSeq.sortBy(tsFn).map { r =>
            acc += valFn(r)
            (key, tsFn(r), acc)
          }
          state.update(acc)
          out.iterator
      }
  }
}

/** Idle state retention — the reference's StateTtlConfig /
  * table.exec.state.ttl — for the `flatMapGroupsWithState` operators
  * that take a `stateTtlMs` ([[StatefulOps.keepLast]],
  * [[StreamingChangelogJoin.join]], [[StreamingChangelogAgg.updateStream]]).
  * The one statement of the rule: a key whose state sees no input for
  * the TTL (processing time) times out and is removed SILENTLY — no
  * emission, no retraction — and a later input runs against empty
  * state. Every call with input re-arms the timer while the key keeps
  * state (Spark clears a processing-time timeout whenever the function
  * runs for a key). Long.MaxValue = no TTL: the plan has no timeout.
  *
  * Spark runs batches continuously while processing-time timeouts are
  * registered (shouldRunAnotherBatch) — pair a TTL with a
  * processing-time trigger to bound the idle batch rate. */
private[streaming] object IdleStateTtl {

  def timeout(stateTtlMs: Long): GroupStateTimeout =
    if (stateTtlMs == Long.MaxValue) GroupStateTimeout.NoTimeout
    else GroupStateTimeout.ProcessingTimeTimeout

  /** One call of a key's function: drop the key if it timed out,
    * otherwise run `body` (which does its state work before it returns)
    * and re-arm the timer if the key still holds state. */
  def apply[S, O](state: GroupState[S], stateTtlMs: Long)(
      body: => Iterator[O]): Iterator[O] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = body
      if (stateTtlMs != Long.MaxValue && state.exists)
        state.setTimeoutDuration(stateTtlMs)
      out
    }
}
