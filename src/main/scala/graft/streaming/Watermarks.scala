package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

/** CURRENT_WATERMARK() surface — reference: FlinkSqlOperatorTable's
  * CURRENT_WATERMARK function (returns the operator's current event-time
  * watermark). Spark exposes the watermark through two channels, both
  * wrapped here: the query progress (driver-side observability) and
  * GroupState.getCurrentWatermarkMs inside stateful operators (in-query
  * per-row annotation). */
object Watermarks {

  /** The running query's current global watermark in epoch millis, from
    * StreamingQueryProgress (None before the first progress event or for
    * queries without event-time). */
  def currentWatermarkMs(q: StreamingQuery): Option[Long] =
    Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(ts => java.time.Instant.parse(ts).toEpochMilli)

  /** Idle-source watermark policy — reference:
    * WatermarkStrategy.withIdleness (flink-core/.../eventtime/
    * WatermarkStrategy.java) and WatermarksWithIdleness.java: a source
    * that stops emitting is marked idle so it no longer holds back the
    * combined watermark of a multi-input operator.
    *
    * Spark computes one global watermark across all sources of a query;
    * by default it is the MINIMUM over per-source watermarks, so one
    * idle source stalls every window — precisely the problem withIdleness
    * solves. Spark's engine-level switch is the session conf
    * `spark.sql.streaming.multipleWatermarkPolicy=max`: the combined
    * watermark follows the fastest source, so idle inputs are ignored —
    * the same effect as marking them idle. (Per-source idleness timeouts
    * are a finer grain than Spark exposes; with micro-batch unions the
    * max policy is the faithful equivalent, documented here rather than
    * simulated with synthetic keep-alive rows.) */
  def advanceWatermarkPastIdleSources(
      spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")

  /** Watermark ALIGNMENT (reference: FLIP-182,
    * WatermarkStrategy.withWatermarkAlignment /
    * WatermarkAlignmentParams.java): bound how far any source may run
    * ahead of the group watermark. The reference THROTTLES the fast
    * source's reads; Spark's micro-batch model has no in-flight
    * bounding, so this operator delivers the alignment guarantee the
    * only honest way available: rows whose event time exceeds
    * `currentWatermark + maxDriftMs` are HELD in keyed state and
    * released once the group watermark catches up (an event-time
    * timeout wakes the key even if its source goes quiet). Apply it to
    * the UNION of per-source watermarked streams keyed by a source tag
    * — the group watermark is Spark's MIN over the member watermarks,
    * exactly the reference's combined watermark.
    *
    * Alignment-by-buffering bounds what DOWNSTREAM sees (windows,
    * joins and aggregates never observe a drift beyond the bound) but
    * the buffered rows live in the aligner's state, whereas source
    * throttling keeps them unread — state here grows with the fast
    * source's excess rate × drift window. For genuine source-side
    * throttling (held rows stay UNREAD, zero executor state) use
    * [[graft.sources.AlignedFileSource]], a DataSourceV2 micro-batch
    * source whose `SupportsAdmissionControl.latestOffset` stops
    * advancing past the alignment bound; this operator remains the
    * right tool when the source is not admission-controllable (e.g. a
    * MemoryStream or an external connector you cannot wrap). Until the first watermark is computed (Spark initializes
    * it to 0) everything buffers for one micro-batch — the same
    * cold-start stall FLIP-182 alignment imposes on unaligned starts.
    *
    * Composing with downstream stateful operators: the aligner emits in
    * APPEND mode (the only mode Spark permits upstream of aggregations).
    * Do NOT re-`withWatermark` after it — Spark's global watermark is
    * the MIN over every watermark node in the query, a post-aligner
    * node sees no rows until the aligner releases, so its watermark
    * pins the global MIN at 0 and the aligner deadlocks (holds
    * forever). Run downstream aggregations in UPDATE mode off the
    * upstream (pre-aligner) watermarks; Spark's chained-stateful
    * correctness checker flags the pattern (released rows can sit
    * below a jumped watermark — the buffering-vs-throttling delta), so
    * composing THIS variant requires
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=
    * false` — the checker is a static plan-pattern test, so no emission
    * discipline inside flatMapGroupsWithState can satisfy it. For
    * checker-ON composition use [[alignedBufferChained]], which
    * declares its output event-time column through transformWithState's
    * chaining support. */
  def alignedBuffer[K, T](ds: Dataset[T], keyFn: T => K, tsFn: T => Long,
      maxDriftMs: Long)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      seqEnc: Encoder[Seq[T]]): Dataset[T] = {
    require(maxDriftMs > 0, "maxDriftMs must be positive")
    // Append mode: the only flatMapGroupsWithState mode Spark allows
    // UPSTREAM of aggregations — which is where an aligner lives
    // (Update mode here would AnalysisException any downstream
    // window/agg and defeat the operator's purpose)
    ds.groupByKey(keyFn).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (_: K, rows: Iterator[T],
          state: org.apache.spark.sql.streaming.GroupState[Seq[T]]) =>
        val wm = state.getCurrentWatermarkMs()
        val limit = wm + maxDriftMs
        val all = state.getOption.getOrElse(Seq.empty) ++ rows
        val (release, hold) = all.partition(t => tsFn(t) <= limit)
        if (hold.isEmpty) {
          if (state.exists) state.remove()
        } else {
          state.update(hold)
          // wake when the watermark reaches minHeld - drift (strictly
          // ahead of the current watermark by the hold invariant)
          state.setTimeoutTimestamp(
            math.max(hold.map(tsFn).min - maxDriftMs, wm + 1))
        }
        release.iterator
    }
  }

  /** Annotate each row with the watermark the stateful operator observed
    * when processing it — the in-query CURRENT_WATERMARK() analogue
    * (e.g. to measure lateness or route near-late rows). Keyed so state
    * machinery engages, but it stores no state (like its
    * transformWithState twin [[withCurrentWatermarkTws]]); emits
    * (row, watermarkMs) in update mode. */
  def withCurrentWatermark[K, T](ds: Dataset[T], keyFn: T => K)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      outEnc: Encoder[(T, Long)]): Dataset[(T, Long)] = {
    implicit val stEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val wm = state.getCurrentWatermarkMs()
          rows.map(r => (r, wm))
      }
  }

  /** CURRENT_WATERMARK() as a true PER-ROW expression — reference:
    * BuiltInFunctionDefinitions.CURRENT_WATERMARK (flink-table-common):
    * every processed row is annotated with the event-time watermark the
    * operator held while processing it. This is the Spark-4-sanctioned
    * materialization the progress surface above cannot give:
    * `StatefulProcessor`'s TimerValues exposes
    * `getCurrentWatermarkInMs` inside the query, per micro-batch, so
    * the annotation is computed where the reference computes it — in
    * the operator, not the driver. A pass-through processor with ZERO
    * state: one shuffle on the key (the reference's CURRENT_WATERMARK
    * also only materializes inside keyed operators), no buffering, no
    * timers. Requires the RocksDB state store provider (as all
    * transformWithState operators do). */
  def withCurrentWatermarkTws[K, T](ds: Dataset[T], keyFn: T => K)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      outEnc: Encoder[(T, Long)]): Dataset[(T, Long)] =
    ds.groupByKey(keyFn)
      .transformWithState(new WatermarkAnnotator[K, T](),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())

  /** Stateless pass-through behind [[withCurrentWatermarkTws]]. */
  private final class WatermarkAnnotator[K, T]
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        K, T, (T, Long)] {
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = ()
    override def handleInputRows(key: K, rows: Iterator[T],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(T, Long)] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      rows.map(r => (r, wm))
    }
  }

  /** Output row of [[alignedBufferChained]]: the original value plus
    * the DECLARED event-time column downstream operators key on.
    * `aligned_ts` = the row's own event time, clamped up to
    * watermark+1ms when the group watermark jumped past a held row
    * (the row would otherwise be late-dropped by every downstream
    * window — with FLIP-182 throttling the same jump makes the same
    * row late on read, so the clamp is the at-least-as-faithful
    * translation). */
  final case class Aligned[T](value: T, aligned_ts: java.sql.Timestamp)

  /** The [[alignedBuffer]] semantics re-expressed on Spark 4's
    * `transformWithState` with a DECLARED output event-time column —
    * the engine-sanctioned way to chain stateful operators after a
    * custom stateful transform (the `eventTimeColumnName` overload
    * inserts a watermark re-assignment on `aligned_ts`), so downstream
    * windows/aggregations run WITHOUT disabling
    * `statefulOperator.checkCorrectness` (the escape hatch
    * [[alignedBuffer]]'s flatMapGroupsWithState composition needs —
    * that checker is a static plan-pattern test, so no emission
    * discipline can satisfy it from inside FMGWS).
    *
    * Same hold/release rule: rows with ts > watermark + maxDriftMs are
    * buffered in keyed state; an event-time timer releases them when
    * the group watermark catches up. Requires the RocksDB state store
    * provider (as all transformWithState operators do). */
  def alignedBufferChained[K, T](ds: Dataset[T], keyFn: T => K,
      tsFn: T => Long, maxDriftMs: Long)(
      implicit kEnc: Encoder[K], tEnc: Encoder[T],
      heldEnc: Encoder[Seq[T]],
      outEnc: Encoder[Aligned[T]]): Dataset[Aligned[T]] = {
    require(maxDriftMs > 0, "maxDriftMs must be positive")
    ds.groupByKey(keyFn)
      .transformWithState(new AlignerProcessor[K, T](tsFn, maxDriftMs),
        "aligned_ts", OutputMode.Append())
  }

  /** StatefulProcessor behind [[alignedBufferChained]]. */
  private final class AlignerProcessor[K, T](tsFn: T => Long,
      maxDriftMs: Long)(implicit heldEnc: Encoder[Seq[T]])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        K, T, Aligned[T]] {
    @transient private var held:
      org.apache.spark.sql.streaming.ValueState[Seq[T]] = _
    @transient private var timerAt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      held = getHandle.getValueState[Seq[T]]("held", heldEnc,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Partition pending rows against wm+drift; emit the releases with
      * the clamped event-time column, park the rest + a wake-up timer.
      * The previous timer is deleted before registering the new one —
      * a persistently lagging key otherwise accumulates one stale
      * timer per micro-batch (each firing a redundant flush). */
    private def flush(pending: Seq[T], wm: Long): Iterator[Aligned[T]] = {
      val limit = wm + maxDriftMs
      val (release, hold) = pending.partition(t => tsFn(t) <= limit)
      val prevTimer = if (timerAt.exists()) Some(timerAt.get()) else None
      if (hold.isEmpty) {
        if (held.exists()) held.clear()
        prevTimer.foreach { t => getHandle.deleteTimer(t); timerAt.clear() }
      } else {
        held.update(hold)
        val next = math.max(hold.map(tsFn).min - maxDriftMs, wm + 1)
        if (!prevTimer.contains(next)) {
          prevTimer.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(next)
          timerAt.update(next)
        }
      }
      release.iterator.map(t =>
        Aligned(t, new java.sql.Timestamp(math.max(tsFn(t), wm + 1))))
    }

    override def handleInputRows(key: K, rows: Iterator[T],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Aligned[T]] =
      flush(Option(held.get()).getOrElse(Seq.empty) ++ rows,
        timerValues.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: K,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Aligned[T]] =
      flush(Option(held.get()).getOrElse(Seq.empty),
        timerValues.getCurrentWatermarkInMs())
  }
}
