package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

/** Streaming twin of [[graft.cdc.ChangelogAgg.updateStream]] — the
  * per-change UPDATE STREAM of a running grouped COUNT/SUM over a
  * changelog input, emitted live (reference: GroupAggFunction.java:43's
  * accumulate/retract path and its emit discipline inside
  * FlinkChangelogModeInferenceProgram's retract scenarios): the first
  * change of a key emits +I(state); every later change emits
  * -U(previous state) then +U(new state); a change that drives the net
  * count to zero emits -D(previous state) (the group died); a revival
  * after a death emits +I again. With `emitUpdateBefore = false` the
  * -U rows are suppressed at the source (DropUpdateBefore applied
  * inside the operator, as the batch twin does).
  *
  * Input rows: (key, value, rowKind, seq). `seq` totally orders the
  * key's changes and must be globally unique when this stream feeds
  * [[StreamingChangelogJoin]]; buffered rows are applied in seq order
  * within each trigger (flatMapGroupsWithState gives no intra-batch
  * order). Output rows: (key, cnt, sum, rowKind, outSeq) where
  * `outSeq = seq * 2 + (0 for the retraction | 1 for the add)` — the
  * same (driving change, retract-before-add) total order the batch
  * twin's (__seq_*, __sub) columns encode, ready to feed a downstream
  * changelog join.
  *
  * State per key: (net count, signed sum) — O(1), identical to the
  * reference's accumulator state.
  */
object StreamingChangelogAgg {

  /** `stateTtlMs`: idle state retention (table.exec.state.ttl) — a
    * key's accumulator untouched for the TTL (processing time) is
    * dropped; a later change starts from zero and re-emits +I, the
    * reference's documented expired-state behavior. Default
    * Long.MaxValue = keep forever. The expiry rule is
    * [[IdleStateTtl]]'s. */
  def updateStream[K](ds: Dataset[(K, Double, String, Long)],
      emitUpdateBefore: Boolean = true,
      stateTtlMs: Long = Long.MaxValue)(
      implicit kEnc: Encoder[K],
      inEnc: Encoder[(K, Double, String, Long)],
      stEnc: Encoder[(Long, Double)],
      outEnc: Encoder[(K, Long, Double, String, Long)])
      : Dataset[(K, Long, Double, String, Long)] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
          IdleStateTtl.timeout(stateTtlMs)) {
        (key: K, rows: Iterator[(K, Double, String, Long)],
            state: GroupState[(Long, Double)]) =>
          IdleStateTtl(state, stateTtlMs) {
            var (cnt, sum) = state.getOption.getOrElse((0L, 0.0))
            val out =
              scala.collection.mutable.ArrayBuffer
                .empty[(K, Long, Double, String, Long)]
            rows.toSeq.sortBy(_._4).foreach { case (_, v, kind, seq) =>
              val w = graft.cdc.ChangelogAgg.weightOf(kind)
              val (pc, ps) = (cnt, sum)
              cnt += w
              sum += w * v
              if (pc > 0) {
                val retKind = if (cnt > 0) "-U" else "-D"
                // DropUpdateBefore keeps deaths visible as -D
                if (emitUpdateBefore || retKind == "-D")
                  out += ((key, pc, ps, retKind, seq * 2))
              }
              if (cnt > 0) {
                val addKind = if (pc <= 0) "+I" else "+U"
                out += ((key, cnt, sum, addKind, seq * 2 + 1))
              }
            }
            if (cnt == 0L) state.remove() else state.update((cnt, sum))
            out.iterator
          }
      }
}
