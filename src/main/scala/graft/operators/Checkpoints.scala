package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Deterministic release for iterative localCheckpoints.
  *
  * `Dataset.localCheckpoint(eager)` persists the materialized blocks
  * but exposes no unpersist handle; a Pregel-style loop therefore
  * accumulates one checkpointed copy of its working set PER ROUND
  * until the ContextCleaner notices the unreferenced RDDs at some
  * future driver GC — nondeterministic, and in practice far too late:
  * the round-6 100× k-core measurement spent 352s vs 216s thrashing R
  * rounds of retained edge-list blocks. Iterative operators instead
  * take a tracked checkpoint and release round t−1 deterministically
  * once round t has materialized.
  *
  * The handle is the checkpointed frame's OWN backing RDD (the
  * LogicalRDD leaf the checkpoint plan consists of, via the
  * graftbridge) — exact even under concurrent checkpointing elsewhere
  * on the SparkContext (e.g. gateway statements), unlike a
  * getPersistentRDDs before/after diff which would capture and later
  * destroy a concurrent computation's unrecomputable blocks.
  *
  * Loops that also need a driver-side scalar over the fresh iterate
  * (a convergence count, a normalization max, corpus statistics) take
  * it with [[trackedMeasured]], which folds the scalars into the
  * checkpoint's own materializing job.
  */
private[graft] object Checkpoints {

  private val observations = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Eager localCheckpoint plus a release() handle that unpersists
    * exactly this checkpoint's blocks. release() must only be called
    * once nothing will read the frame again (the next iterate is
    * itself checkpointed — not merely derived). */
  def tracked(df: DataFrame): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint(true)
    val rdd = org.apache.spark.sql.graftbridge.ColumnBridge.backingRdd(out)
    (out, () => rdd.foreach(_.unpersist(blocking = false)))
  }

  /** [[tracked]] that ALSO returns `scalars` (aggregate columns, e.g.
    * `count(lit(1))`, `max(c)`) evaluated over the checkpointed rows,
    * as one Row in argument order — all in the checkpoint's ONE
    * materializing job. The frame is wrapped in `observe`, so each
    * task folds its rows into the CollectMetrics accumulators while it
    * writes the checkpoint blocks: no aggregate exchange, no second
    * job over the fresh blocks, no broadcast back into the plan. Any
    * shuffle BELOW `df` still runs as its own map-stage job.
    *
    * The values are read from the checkpoint's own QueryExecution once
    * the action has returned, not through an `Observation`: that
    * arrives on the asynchronous listener bus, and a failed job (or a
    * dropped listener event) would leave `Observation.get` blocked
    * forever. Here a failed job throws out of the checkpoint call.
    *
    * Aggregates over an empty frame follow SQL: count is 0, sum/max
    * are null. */
  def trackedMeasured(df: DataFrame, scalars: Column*)
      : (DataFrame, Row, () => Unit) = {
    require(scalars.nonEmpty, "trackedMeasured needs at least one scalar")
    val name = s"__graft_checkpoint_${observations.incrementAndGet()}"
    val observed = df.observe(name, scalars.head, scalars.tail: _*)
    val (out, release) = tracked(observed)
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"checkpoint job reported no metrics for $name"))
    (out, row, release)
  }
}
