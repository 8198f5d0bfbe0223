package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Retraction-aware aggregation over changelog rows — reference: the
  * retractable accumulators (flink-table-runtime/.../functions/aggregate/
  * MinWithRetractAggFunction.java, MaxWithRetract..., SumWithRetract...)
  * and GroupAggFunction.java:43's retract() path, which let a grouped
  * aggregate stay correct when the input carries -U/-D rows.
  *
  * Batch shape ("materialize the changelog"): every row gets a signed
  * weight (+1 for +I/+U, -1 for -U/-D). SUM/COUNT/AVG are weighted sums
  * — one partial-aggregated groupBy, exact. MIN/MAX need the surviving
  * value multiset: a first groupBy on (key, value) computes net counts,
  * values with net > 0 survive, a second groupBy takes min/max — the
  * declarative equivalent of the reference's value-multiset accumulator,
  * and the same two-shuffle cost shape it pays in state. Both levels
  * partial-aggregate, so at 100 TB the exchanges carry one row per
  * distinct (key, value), not the changelog.
  *
  * Streaming shape: per-key state holds the signed (count, sum) plus the
  * value->net-count multiset (the reference's MapView state); emits in
  * update mode. State is O(distinct live values per key), identical to
  * MinWithRetractAggFunction's map state.
  */
object ChangelogAgg {

  /** +1 for insert-like kinds, -1 for retract-like kinds. */
  def weight(rowKind: Column): Column =
    when(rowKind.isin("+I", "+U"), lit(1)).otherwise(lit(-1))

  /** Scala-side twin of [[weight]] for row-at-a-time operators. */
  def weightOf(rowKind: String): Long =
    if (rowKind == "+I" || rowKind == "+U") 1L else -1L

  /** Batch materialization: net COUNT/SUM/AVG/MIN/MAX per key over a
    * changelog with a `__row_kind` column. */
  def materialize(df: DataFrame, keys: Seq[String], valCol: String,
      rowKindCol: String = ChangelogFormats.RowKindCol): DataFrame = {
    val w = weight(col(rowKindCol))
    // value-level net counts (partial agg: one row per (key, value))
    val perValue = df.groupBy((keys.map(col) :+ col(valCol)): _*)
      .agg(sum(w).as("__net"),
        sum(w.cast("long") * col(valCol)).as("__wsum"))
    perValue.groupBy(keys.map(col): _*)
      .agg(
        sum(col("__net")).cast("long").as("cnt"),
        sum(col("__wsum")).as("sum_val"),
        min(when(col("__net") > 0, col(valCol))).as("min_val"),
        max(when(col("__net") > 0, col(valCol))).as("max_val"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))
      // a fully-retracted group leaves the materialized state
      // (reference GroupAggFunction emits -D when count hits zero)
      .filter(col("cnt") > 0)
  }

  /** The per-change UPDATE STREAM of a running grouped COUNT/SUM — the
    * rows a retractable aggregate EMITS downstream, not just its final
    * state (reference GroupAggFunction.java emit semantics inside
    * FlinkChangelogModeInferenceProgram's agg→agg scenario): the first
    * change of a key emits +I(state); every later change emits
    * -U(previous state) then +U(new state); a change that drives the
    * net count to zero emits only the -U (the group died). Feeding
    * this stream into a second [[materialize]] is the two-stage
    * retraction chain — the downstream aggregate stays correct ONLY if
    * it nets the -U/+U pairs.
    *
    * Input: a changelog with `keys`, `valCol`, `rowKindCol` and a
    * deterministic per-key ordering `seqCols`. Output: (keys..., cnt,
    * sum_val, rowKind) update-stream rows.
    *
    * Scale shape: one window shuffle keyed on `keys` (running signed
    * prefix sums per key), then a 2-element explode — no driver state,
    * parallel across keys; the inherently-sequential part is the
    * per-key prefix, exactly the order dependency the semantics
    * require. */
  def updateStream(df: DataFrame, keys: Seq[String], valCol: String,
      seqCols: Seq[Column],
      rowKindCol: String = ChangelogFormats.RowKindCol): DataFrame =
    updateStream(df, keys, valCol, seqCols, rowKindCol,
      emitUpdateBefore = true, emitSeq = false)

  /** As above, with the two knobs [[ChangelogInference]] derives:
    *
    *  - `emitUpdateBefore = false` is the DropUpdateBefore optimization
    *    (reference FlinkChangelogModeInferenceProgram + the
    *    DropUpdateBefore physical node) applied INSIDE the operator:
    *    when every downstream consumer keys on this aggregate's group
    *    key (an upsert sink), the -U rows are never produced at all —
    *    each change emits one +I/+U, and a group death emits -D(last
    *    state). Halves the update-stream volume at the source.
    *  - `emitSeq = true` appends the driving change's sequence columns
    *    (`__seq_0..n` = seqCols of the input row, `__sub` = 0 for the
    *    retraction, 1 for the add) so a SECOND stateful stage can order
    *    this operator's emissions deterministically — the batch
    *    replay of arrival order.
    */
  def updateStream(df: DataFrame, keys: Seq[String], valCol: String,
      seqCols: Seq[Column], rowKindCol: String,
      emitUpdateBefore: Boolean, emitSeq: Boolean): DataFrame =
    replayDeltas(df, keys,
      weight(col(rowKindCol)).cast("long"),
      weight(col(rowKindCol)).cast("long") * col(valCol),
      seqCols, rowKindCol, emitUpdateBefore, emitSeq)

  /** Two-stage LOCAL/GLOBAL update stream — the reference's mini-batch
    * local/global aggregate split (flink-table-planner/.../exec/stream/
    * StreamExecLocalGroupAggregate.java + StreamExecGlobalGroupAggregate
    * .java, runtime MiniBatchGlobalGroupAggFunction.java:242): the LOCAL
    * stage nets the signed (count, sum) deltas per (group key, bucket)
    * with a fully parallel partial aggregation — order inside a bucket
    * is irrelevant because the net is commutative, exactly why the
    * reference's local agg can run pre-shuffle on arbitrary input
    * partitions — and the GLOBAL stage replays one delta per bucket in
    * bucket order through the per-key sequential window.
    *
    * Why it exists (scale): the plain [[updateStream]] replays EVERY
    * change through a window partitioned by the group key, so its
    * usable parallelism is the key cardinality — a 25-nation final
    * aggregate replays 100× more events per nation at 100× data. Here
    * the sequential part sees `localBuckets` events per key REGARDLESS
    * of data volume; the per-change work rides Spark's partial/final
    * hash aggregation, parallel across (key, bucket).
    *
    * Semantics: the emitted stream is the mini-batch stream — one
    * -U/+U (or +I/-D) transition per (key, bucket with a net change)
    * instead of per input change, the same suppression of intermediate
    * updates MiniBatchGroupAggFunction performs per mini-batch. Per key
    * the visited states telescope to the same net state, so any
    * weight-based consumer (a downstream [[ChangelogAgg]], an upsert
    * sink compaction) sees results identical to the per-change stream;
    * only the granularity of intermediate updates differs. Buckets are
    * assigned by hashing the change's sequence columns (deterministic,
    * uniform); emitted order columns are (bucket, __sub).
    */
  def updateStreamLocalGlobal(df: DataFrame, keys: Seq[String],
      valCol: String, seqCols: Seq[Column], rowKindCol: String,
      emitUpdateBefore: Boolean, emitSeq: Boolean,
      localBuckets: Int): DataFrame = {
    require(localBuckets > 0, "localBuckets must be positive")
    val w = weight(col(rowKindCol)).cast("long")
    val bucket = pmod(hash(seqCols: _*), lit(localBuckets)).cast("long")
    // LOCAL: one partial-aggregated shuffle keyed on (keys, bucket) —
    // Spark's HashAggregateExec partial/final pair is the local/global
    // exchange shape; buckets with no net effect are dropped (the
    // reference emits nothing for an unchanged accumulator)
    val local = df
      .groupBy((keys.map(col) :+ bucket.as("__bucket")): _*)
      .agg(sum(w).as("__dcnt"), sum(w * col(valCol)).as("__dsum"))
      // a bucket with zero net effect on BOTH accumulators is a no-op
      // (null __dsum = only null-valued changes, which SUM skips)
      .filter(col("__dcnt") =!= 0 ||
        (col("__dsum").isNotNull && col("__dsum") =!= 0))
    replayDeltas(local, keys, col("__dcnt"), col("__dsum"),
      Seq(col("__bucket")), rowKindCol, emitUpdateBefore, emitSeq)
  }

  /** Order-free NET state of a changelog grouped aggregate: what an
    * upsert sink keyed on the group key holds AFTER the whole changelog
    * — `(keys..., cnt, sum_val)` for groups with net count > 0. This is
    * the full two-stage local/global collapse: when no consumer needs
    * the per-change emissions, the sequential per-key window replay of
    * [[updateStream]] is unnecessary, because last-writer-wins
    * compaction of the update stream telescopes to exactly the net
    * (commutative) aggregate — which Spark executes as a parallel
    * partial/final hash aggregate with no per-key ordering at all.
    * [[ChangelogInference]] applies this automatically when a GroupAgg
    * feeds an upsert sink keyed on its own group key (the decision the
    * reference's TwoStageOptimizedAggregateRule +
    * FlinkChangelogModeInferenceProgram make for the same plan). */
  def netState(df: DataFrame, keys: Seq[String], valCol: String,
      rowKindCol: String = ChangelogFormats.RowKindCol): DataFrame = {
    val w = weight(col(rowKindCol)).cast("long")
    df.groupBy(keys.map(col): _*)
      .agg(sum(w).as("cnt"), sum(w * col(valCol)).as("sum_val"))
      .filter(col("cnt") > 0)
  }

  /** Shared replay core: running per-key state from signed
    * (count, sum) deltas ordered by `seqCols`, emitting the reference
    * GroupAggFunction's transition rows. */
  private def replayDeltas(df: DataFrame, keys: Seq[String],
      dCnt: Column, dSum: Column, seqCols: Seq[Column], rowKindCol: String,
      emitUpdateBefore: Boolean, emitSeq: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(keys.map(col): _*).orderBy(seqCols: _*)
    val run = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = df
      .withColumn("__rn", row_number().over(win))
      .withColumn("__cnt", sum(dCnt).over(run))
      .withColumn("__sum", sum(dSum).over(run))
      .withColumn("__pcnt", lag(col("__cnt"), 1).over(win))
      .withColumn("__psum", lag(col("__sum"), 1).over(win))
    def emit(kind: Column, cnt: Column, sm: Column, sub: Int) =
      struct((kind.as("kind") +: cnt.as("cnt") +: sm.as("sum_val") +:
        lit(sub).as("__sub") +: Nil): _*)
    // a group whose previous state was dead (first change, or revival
    // after a death) INSERTS; a live group UPDATES — the reference
    // GroupAggFunction clears state at count zero and emits INSERT on
    // the next change, so a rebirth must not surface as +U
    val addKind =
      when(col("__rn") === 1 || col("__pcnt") <= 0, "+I").otherwise("+U")
    val events =
      if (emitUpdateBefore) Seq(
        // the retraction of the previous state: -U when a new state
        // follows, -D when the group DIES (reference GroupAggFunction
        // emits RowKind.DELETE at count zero in retract mode too) —
        // keeping the kinds distinct is what lets a downstream
        // DropUpdateBefore branch discard -U without losing deaths
        when(col("__rn") > 1 && col("__pcnt") > 0,
          emit(when(col("__cnt") > 0, "-U").otherwise("-D"),
            col("__pcnt"), col("__psum"), 0)),
        when(col("__cnt") > 0,
          emit(addKind, col("__cnt"), col("__sum"), 1)))
      else Seq(
        // upsert mode: one row per change — +I/+U with the new state,
        // or -D carrying the dying state
        when(col("__cnt") > 0,
          emit(addKind, col("__cnt"), col("__sum"), 1)),
        when(col("__cnt") <= 0 && col("__pcnt") > 0,
          emit(lit("-D"), col("__pcnt"), col("__psum"), 1)))
    val seqOut =
      if (emitSeq) seqCols.zipWithIndex.map { case (c, i) =>
        c.as(s"__seq_$i") }
      else Nil
    val seqNames =
      if (emitSeq) seqCols.indices.map(i => col(s"__seq_$i")) else Nil
    staged
      .select((keys.map(col) ++ seqOut :+
        explode(array_compact(array(events: _*))).as("__e")): _*)
      .select((keys.map(col) ++ seqNames ++
        Seq(col("__e.cnt"), col("__e.sum_val"),
          col("__e.kind").as(rowKindCol)) ++
        (if (emitSeq) Seq(col("__e.__sub").as("__sub")) else Nil)): _*)
  }

  /** Streaming retractable aggregate: emits (key, cnt, sum, min, max)
    * per update. Input rows are (key, value, rowKind). */
  def streamingMaterialize[K](ds: Dataset[(K, Double, String)])(
      implicit kEnc: Encoder[K],
      inEnc: Encoder[(K, Double, String)],
      outEnc: Encoder[(K, Long, Double, Double, Double)])
      : Dataset[(K, Long, Double, Double, Double)] = {
    // state: (net count, signed sum, value -> net multiplicity)
    implicit val stEnc: Encoder[(Long, Double, Map[Double, Long])] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Map[Double, Long]]())
    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(K, Double, String)],
            state: GroupState[(Long, Double, Map[Double, Long])]) =>
          var (cnt, sum, multiset) =
            state.getOption.getOrElse((0L, 0.0, Map.empty[Double, Long]))
          rows.foreach { case (_, v, kind) =>
            val w = weightOf(kind)
            cnt += w
            sum += w * v
            val m = multiset.getOrElse(v, 0L) + w
            multiset = if (m == 0L) multiset - v else multiset + (v -> m)
          }
          if (cnt == 0L && multiset.isEmpty) {
            state.remove()
            Iterator((key, 0L, 0.0, Double.NaN, Double.NaN))
          } else {
            state.update((cnt, sum, multiset))
            val live = multiset.collect { case (v, n) if n > 0 => v }
            Iterator((key, cnt, sum,
              if (live.isEmpty) Double.NaN else live.min,
              if (live.isEmpty) Double.NaN else live.max))
          }
      }
  }
}
