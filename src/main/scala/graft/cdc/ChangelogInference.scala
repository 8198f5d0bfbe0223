package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Changelog-mode inference over a plan of changelog operators —
  * reference: flink-table-planner/.../optimize/program/
  * FlinkChangelogModeInferenceProgram.scala, which decides per operator
  * (1) what changelog kinds it PRODUCES and (2) what kinds each
  * consumer REQUIRES, and in particular where UPDATE_BEFORE rows can be
  * dropped (the DropUpdateBefore optimization: a sink or stateful
  * operator keyed on the update key does not need -U).
  *
  * The round-5 retraction chains (q_cdc_agg_chain,
  * q_cdc_agg_join_chain) hand-composed these decisions; this module
  * derives them for an arbitrary tree of the supported operators:
  *
  *   Source (insert-only | retract changelog | keyed upsert changelog)
  *   Calc (stateless project/filter — mode transparent)
  *   EnrichJoin (changelog ⋈ static dimension — mode transparent)
  *   Join (changelog ⋈ changelog, inner/left/right/full — BOTH sides
  *         update; executed by [[ChangelogJoin]]'s per-key replay of
  *         the reference StreamingJoinOperator)
  *   GroupAgg (retractable COUNT/SUM — consumes its input's changes,
  *             produces an update stream)
  *   Sink (with or without a primary key)
  *
  * Inference (two passes, as in the reference):
  *
  *   - bottom-up "produced": Source produces [I] or [I,UB,UA,D];
  *     Calc/EnrichJoin pass through; an inner Join of two insert-only
  *     inputs stays insert-only, any other Join updates; GroupAgg
  *     produces an updating stream whose flavor is decided by the
  *     consumer below.
  *   - top-down "required": a Sink whose primaryKey equals the update
  *     key of its updating input requires only UPSERT [I,UA,D] — its
  *     producing GroupAgg therefore never emits -U (and emits -D on
  *     group death). A keyed Sink whose input updates on a DIFFERENT
  *     key still accepts the stream but needs UPSERT MATERIALIZATION
  *     (the reference's SinkUpsertMaterializer,
  *     table.exec.sink.upsert-materialize=AUTO): per sink key it keeps
  *     the multiset of live rows and exposes the latest-added survivor.
  *     A Sink without a primary key requires the full RETRACT stream
  *     [I,UB,UA,D]. A GroupAgg or Join over an updating input ALWAYS
  *     requires retract from below (old contributions must be
  *     subtracted before new ones are added). Over insert-only inputs
  *     they require just [I].
  *
  * Node identity is REFERENCE identity (eq), not case-class equality:
  * two structurally identical subtrees in one plan are distinct
  * operators with possibly different mode decisions, and a genuinely
  * shared subtree (same instance under two branches) is one operator
  * whose demands merge (Retract wins over Upsert).
  *
  * Execution replays the decided plan with [[ChangelogAgg]] /
  * [[ChangelogJoin]]: every GroupAgg runs
  * `updateStream(emitUpdateBefore = <decided>)`, and a keyed Sink
  * materializes last-writer-wins state (exactly what an upsert sink's
  * compaction does) or, when the update key differs from the sink key,
  * the full upsert-materializer multiset state. Batch determinism:
  * each Source declares its arrival-order columns; GroupAgg and Join
  * emissions propagate them (`__seq_*`, `__side`, `__eidx`, `__sub`)
  * so downstream stages order changes the way a stream would.
  */
object ChangelogInference {

  private val K = ChangelogFormats.RowKindCol

  sealed abstract class Mode(val label: String) {
    def isUpdating: Boolean = this != InsertOnly
  }
  /** Only +I rows. */
  case object InsertOnly extends Mode("[I]")
  /** +I/+U/-D keyed on the update key — no UPDATE_BEFORE. */
  case object Upsert extends Mode("[I,UA,D]")
  /** The full retract stream +I/-U/+U/-D. */
  case object Retract extends Mode("[I,UB,UA,D]")

  sealed trait Node
  /** `seqCols`: columns giving the deterministic arrival order of the
    * changelog (required when any GroupAgg/Join consumes this source).
    * The DataFrame must carry `__row_kind` unless `insertOnly`.
    * `key`: declares the changelog KEYED — at most one live row per
    * key value at any time (an upsert changelog whose -U/+U always
    * target the current row of that key); lets a Sink with the same
    * primary key compact last-writer-wins without materialization. */
  final case class Source(df: DataFrame, insertOnly: Boolean = false,
      seqCols: Seq[String] = Nil, key: Option[Seq[String]] = None)
    extends Node
  /** Stateless row transform; must preserve `__row_kind` and the
    * sequence columns. If the plan's update key flows through this
    * Calc, the transform must preserve those columns too — validated
    * at execute time. */
  final case class Calc(child: Node, f: DataFrame => DataFrame) extends Node
  /** Enrichment join against a STATIC (bounded, unchanging) dimension —
    * row kinds pass through; the dim side broadcasts. */
  final case class EnrichJoin(child: Node, dim: DataFrame,
      streamKey: String, dimKey: String) extends Node
  /** Changelog ⋈ changelog equi-join where BOTH inputs may update.
    * `joinType`: inner | left | right | full. Executed by
    * [[ChangelogJoin.updateStream]], which reads each input once;
    * both inputs' sequence columns must be comparable (same
    * count/types) under one global order. */
  final case class Join(left: Node, right: Node, leftKey: String,
      rightKey: String, joinType: String = "inner") extends Node
  /** Retractable grouped COUNT/SUM over `valCol`, keyed by `keys`.
    * Output columns: keys..., cnt, sum_val, __row_kind.
    *
    * `localBuckets = Some(b)`: run as the reference's mini-batch
    * LOCAL/GLOBAL split ([[ChangelogAgg.updateStreamLocalGlobal]]) —
    * parallel per-(key, bucket) partial nets, then a bucket-granular
    * global replay. Use when `keys` is low-cardinality and a DOWNSTREAM
    * consumer needs the update stream (an upsert sink keyed on `keys`
    * needs nothing declared: execute() collapses that case to the
    * order-free net aggregate automatically). */
  final case class GroupAgg(child: Node, keys: Seq[String],
      valCol: String, localBuckets: Option[Int] = None) extends Node
  /** Terminal sink. `primaryKey = Some(keys)` declares an upsert sink
    * keyed on those columns. */
  final case class Sink(child: Node, primaryKey: Option[Seq[String]] = None)
    extends Node

  /** eq-based key so structurally equal but distinct operators never
    * collide (and a shared instance is one operator). */
  private final class Ref(val n: Node) {
    override def hashCode: Int = System.identityHashCode(n)
    override def equals(o: Any): Boolean = o match {
      case r: Ref => r.n.asInstanceOf[AnyRef] eq n.asInstanceOf[AnyRef]
      case _ => false
    }
  }

  /** The derived plan: per-node produced mode, per-GroupAgg
    * UPDATE_BEFORE decision, and — per sink of the statement set —
    * the accepted mode, whether upsert materialization is needed
    * (sink key ≠ update key), and whether the branch drops -U rows
    * (this sink is upsert-keyed but a SHARED upstream node was forced
    * to retract by another branch — the per-branch DropUpdateBefore
    * of the reference's statement sets). */
  final class Inferred private[ChangelogInference] (
      producedMap: Map[Ref, Mode],
      emitUBMap: Map[Ref, Boolean],
      val sinkModes: Seq[Mode],
      val sinkMaterializes: Seq[Boolean],
      val branchDropsUpdateBefore: Seq[Boolean]) {
    def produced(n: Node): Mode = producedMap(new Ref(n))
    def emitUpdateBefore(n: Node): Boolean = emitUBMap(new Ref(n))
    /** Single-sink accessors (the common case). */
    def sinkMode: Mode = sinkModes.head
    def sinkMaterialize: Boolean = sinkMaterializes.head
  }

  /** The "update key" a node's updating output is keyed on, if any. */
  private def updateKey(n: Node): Option[Seq[String]] = n match {
    case GroupAgg(_, keys, _, _) => Some(keys)
    case Calc(c, _) => updateKey(c) // key preservation validated in execute
    case EnrichJoin(c, _, _, _) => updateKey(c)
    case Join(_, _, _, _, _) => None // join output rows are not keyed
    case Source(_, _, _, key) => key
    case Sink(c, _) => updateKey(c)
  }

  /** Two-pass mode derivation. Throws IllegalArgumentException for
    * impossible plans. */
  def infer(sink: Sink): Inferred = infer(Seq(sink))

  /** Statement-set derivation: several sinks over (possibly) SHARED
    * subtrees — a node instance reachable from two sinks is ONE
    * operator whose demands merge (Retract wins), and a branch whose
    * own sink would have been satisfied with upsert applies
    * DropUpdateBefore at its edge instead (the reference's
    * per-statement changelog modes inside an EXECUTE STATEMENT SET). */
  def infer(sinks: Seq[Sink]): Inferred = {
    require(sinks.nonEmpty, "at least one sink")
    // bottom-up: what each node WOULD produce, before consumer demands
    // memoized by reference — walk() consults produces() per child at
    // every stateful node across passes and sinks; without the memo a
    // plan with d shared diamond layers costs O(2^d) traversals
    val producesMemo = scala.collection.mutable.Map.empty[Ref, Mode]
    def produces(n: Node): Mode = {
      val ref = new Ref(n)
      producesMemo.get(ref) match {
        case Some(m) => m
        case None =>
          val m = producesNode(n)
          producesMemo(ref) = m
          m
      }
    }
    def producesNode(n: Node): Mode = n match {
      case Source(_, insertOnly, _, _) =>
        if (insertOnly) InsertOnly else Retract
      case Calc(c, _) => produces(c)
      case EnrichJoin(c, _, _, _) => produces(c)
      case Join(l, r, _, _, jt) =>
        // inner join of append inputs is append; everything else
        // updates (outer joins retract their null-padded rows even
        // over append inputs)
        if (jt == "inner" && !produces(l).isUpdating &&
          !produces(r).isUpdating) InsertOnly
        else Retract
      case GroupAgg(c, _, _, _) =>
        // a grouped aggregate over ANY input is an updating stream;
        // flavor (upsert vs retract) is fixed top-down
        Retract
      case s: Sink => produces(s.child)
    }
    var produced = Map.empty[Ref, Mode]
    var emitUB = Map.empty[Ref, Boolean]
    // top-down: what the consumer requires of `n`. A node reached by
    // two consumers (shared subtree) merges demands: Retract wins.
    def walk(n: Node, required: Mode): Unit = {
      val ref = new Ref(n)
      n match {
        case src @ Source(_, insertOnly, _, _) =>
          produced += (ref -> (if (insertOnly) InsertOnly else Retract))
        case Calc(ch, _) =>
          walk(ch, required); produced += (ref -> produced(new Ref(ch)))
        case EnrichJoin(ch, _, _, _) =>
          walk(ch, required); produced += (ref -> produced(new Ref(ch)))
        case j @ Join(l, r, _, _, _) =>
          // the join consumes raw retract streams on updating inputs
          Seq(l, r).foreach { ch =>
            walk(ch, if (produces(ch).isUpdating) Retract else InsertOnly)
            require(!(produces(ch).isUpdating &&
              produced(new Ref(ch)) != Retract),
              "Join over an updating input requires the retract stream")
          }
          produced += (ref -> produces(j))
        case a @ GroupAgg(ch, _, _, _) =>
          // the aggregate's own input must carry retractions whenever
          // the input updates; insert-only inputs need nothing more
          val childMode = produces(ch)
          walk(ch, if (childMode.isUpdating) Retract else InsertOnly)
          require(!(childMode.isUpdating &&
            produced(new Ref(ch)) != Retract),
            "GroupAgg over an updating input requires the retract stream")
          val demanded = if (required == Upsert) Upsert else Retract
          // merged demand across consumers: Retract wins
          val mode =
            if (produced.get(ref).contains(Retract)) Retract else demanded
          produced += (ref -> mode)
          emitUB += (ref -> (mode == Retract))
        case s: Sink => throw new IllegalStateException("nested sink")
      }
    }
    // per-sink demanded mode, before cross-branch merging
    val decisions: Seq[(Mode, Boolean)] = sinks.map { sink =>
      val childMode = produces(sink.child)
      val childKey = updateKey(sink.child)
      if (!childMode.isUpdating) (InsertOnly, false)
      else sink.primaryKey match {
        case Some(pk) if childKey.contains(pk) => (Upsert, false)
        case Some(_) =>
          // sink key ≠ update key (or the stream is unkeyed): accept
          // the retract stream and materialize — the reference's
          // SinkUpsertMaterializer AUTO decision
          (Retract, true)
        case None => (Retract, false)
      }
    }
    // two passes: pass 1 merges demands at shared stateful nodes
    // (Retract wins); pass 2 re-propagates the merged modes through
    // pass-through nodes (Calc/EnrichJoin) on branches walked before
    // the merge happened. One extra pass suffices — stateful-node
    // modes are final after pass 1 (each sink's demand is constant).
    (1 to 2).foreach { _ =>
      sinks.zip(decisions).foreach { case (sink, (mode, materialize)) =>
        walk(sink.child, if (materialize) Retract else mode)
      }
    }
    // a branch that wanted upsert but whose (shared) input was forced
    // to retract by another branch drops -U rows at its own edge — the
    // shared operator emits the superset, each sink sees its mode
    val drops = sinks.zip(decisions).map { case (sink, (mode, mat)) =>
      mode == Upsert && !mat &&
        produced(new Ref(sink.child)) == Retract
    }
    new Inferred(produced, emitUB,
      decisions.map { case (m, mat) => if (mat) Upsert else m },
      decisions.map(_._2), drops)
  }

  /** Executed flow: the stream DataFrame plus its arrival-order
    * columns. */
  private final case class Flow(df: DataFrame, seq: Seq[String])

  /** Build the decided plan. Returns the CHANGE STREAM delivered to the
    * sink (kinds as decided), or — for a keyed sink — the MATERIALIZED
    * state (what the upsert sink holds; no `__row_kind` column). */
  def execute(sink: Sink): DataFrame = execute(Seq(sink)).head

  /** Statement-set execution: one DataFrame per sink. A subtree shared
    * between branches (same Node INSTANCE) is built exactly once — the
    * reference's statement sets share sources and intermediate
    * operators the same way — and each branch then applies its own
    * decided mode (DropUpdateBefore on upsert-keyed branches whose
    * shared input was forced to retract).
    *
    * A STATEFUL node (Join/GroupAgg) referenced by more than one
    * branch is materialized eagerly (tracked localCheckpoint) so the
    * expensive replay runs ONCE, not once per consuming branch — the
    * reference executes a statement set as one job with the shared
    * operator physically single. The checkpoint blocks stay alive for
    * the returned lazy outputs; this overload retains them until the
    * session's cache is cleared — use [[executeReleasable]] for a
    * deterministic release handle once the outputs are materialized. */
  def execute(sinks: Seq[Sink]): Seq[DataFrame] = executeReleasable(sinks)._1

  /** [[execute]] plus a release() that unpersists the shared-subtree
    * checkpoints. Call release only after every returned output has
    * been materialized (written/collected) — the outputs read the
    * checkpointed blocks lazily, localCheckpoint truncates lineage, and
    * a released block CANNOT be recomputed: re-reading an output after
    * release() fails with Spark's "cannot be recomputed after
    * unpersisting" job error, not a silent recompute. If the outputs'
    * lifetime is open-ended, prefer [[execute]] (blocks retained until
    * the session's cache is cleared). */
  def executeReleasable(sinks: Seq[Sink]): (Seq[DataFrame], () => Unit) = {
    val refs = refCounts(sinks)
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    val out = executeImpl(sinks, { (n, fl) =>
      // a flow consumed from two or more places (a subtree shared
      // between branches) materializes once — when re-computing it
      // costs more than a block write. Stateful nodes (Join/GroupAgg)
      // always do; for pass-throughs and Sources the break-even is a
      // property of the wrapped PLAN, not the node type: a changelog
      // synthesized by an explode/aggregate re-runs that work per scan
      // (r14 profile: 0.3-0.7 s per rescan at sf0.1, a full parquet
      // pass each at 100 TB), while a plain leaf scan stays lazy —
      // a rescan of that really is cheaper than a checkpoint write.
      val mat = refs.getOrElse(new Ref(n), 0) >= 2 && (n match {
        case _: Join | _: GroupAgg => true
        case _ => expensiveToRecompute(fl.df)
      })
      if (mat) {
        val (df, rel) = graft.operators.Checkpoints.tracked(fl.df)
        releases += rel
        Flow(df, fl.seq)
      } else fl
    })
    (out, () => releases.foreach(_.apply()))
  }

  /** Whether re-computing `df` involves more than leaf scans plus
    * stateless row ops — the checkpoint-vs-rescan break-even test for
    * multiply-consumed flows. Generate (changelog explodes), Aggregate,
    * Window, Join, Sort and Distinct all re-run real work per rescan. */
  private def expensiveToRecompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{logical => lg}
    df.queryExecution.analyzed.collectFirst {
      case _: lg.Generate => (); case _: lg.Aggregate => ()
      case _: lg.Window => (); case _: lg.Join => ()
      case _: lg.Sort => (); case _: lg.Distinct => ()
    }.isDefined
  }

  /** Per-path reference counts by node INSTANCE across all branches: a
    * node reached through two parents is counted per path (each path is
    * a consumer of the materialized stream). */
  private def refCounts(sinks: Seq[Sink])
      : scala.collection.mutable.Map[Ref, Int] = {
    val refs = scala.collection.mutable.Map.empty[Ref, Int]
    def countRefs(n: Node): Unit = {
      val r = new Ref(n)
      refs(r) = refs.getOrElse(r, 0) + 1
      if (refs(r) == 1) n match {
        case Source(_, _, _, _) => ()
        case Calc(c, _) => countRefs(c)
        case EnrichJoin(c, _, _, _) => countRefs(c)
        case Join(l, rt, _, _, _) => countRefs(l); countRefs(rt)
        case GroupAgg(c, _, _, _) => countRefs(c)
        case s: Sink => countRefs(s.child)
      }
    }
    sinks.foreach(s => countRefs(s.child))
    refs
  }

  private def executeImpl(sinks: Seq[Sink],
      shareHook: (Node, Flow) => Flow): Seq[DataFrame] = {
    val inf = infer(sinks)
    val refs = refCounts(sinks)
    val built = scala.collection.mutable.Map.empty[Ref, Flow]
    // explicit get/put rather than getOrElseUpdate: the default branch
    // recurses into build() and mutates the same map, which
    // getOrElseUpdate does not guarantee to survive
    def build(n: Node): Flow = {
      val ref = new Ref(n)
      built.get(ref) match {
        case Some(f) => f
        case None =>
          val f = shareHook(n, buildNode(n))
          built(ref) = f
          f
      }
    }
    def buildNode(n: Node): Flow = n match {
      case Source(df, insertOnly, seqCols, _) =>
        Flow(if (insertOnly) df.withColumn(K, lit("+I")) else df, seqCols)
      case c @ Calc(ch, f) =>
        val fl = build(ch)
        val out = f(fl.df)
        // a Calc on an updating stream must preserve the update key —
        // silently dropping it would mis-compact an upsert sink
        if (inf.produced(c).isUpdating) updateKey(ch).foreach { key =>
          val missing = key.filterNot(out.columns.contains)
          require(missing.isEmpty,
            s"Calc dropped update-key column(s) $missing — an updating " +
              "stream's key must flow through stateless transforms")
        }
        Flow(out, fl.seq)
      case EnrichJoin(ch, dim, sk, dk) =>
        val fl = build(ch)
        Flow(fl.df.join(broadcast(dim), col(sk) === col(dk)), fl.seq)
      case Join(l, r, lk, rk, jt) =>
        val fl = build(l); val fr = build(r)
        require(fl.seq.nonEmpty && fr.seq.nonEmpty,
          "Join needs arrival-order columns on both inputs")
        require(fl.seq.length == fr.seq.length,
          "Join inputs' sequence columns must be comparable " +
            s"(got ${fl.seq} vs ${fr.seq})")
        val out = ChangelogJoin.updateStream(fl.df, fr.df, lk, rk, jt,
          fl.seq, fr.seq)
        Flow(out, ChangelogJoin.seqColumns(fl.seq.length))
      case a @ GroupAgg(c, keys, valCol, localBuckets) =>
        val fl = build(c)
        require(fl.seq.nonEmpty,
          "GroupAgg needs arrival-order columns (Source.seqCols)")
        localBuckets match {
          case Some(b) =>
            // mini-batch LOCAL/GLOBAL split: parallel per-(key, bucket)
            // partial nets, bucket-granular global replay — the emitted
            // order is (bucket, __sub)
            val out = ChangelogAgg.updateStreamLocalGlobal(fl.df, keys,
              valCol, fl.seq.map(col), K,
              emitUpdateBefore = inf.emitUpdateBefore(a), emitSeq = true,
              localBuckets = b)
            Flow(out, Seq("__seq_0", "__sub"))
          case None =>
            val out = ChangelogAgg.updateStream(fl.df, keys, valCol,
              fl.seq.map(col), K,
              emitUpdateBefore = inf.emitUpdateBefore(a), emitSeq = true)
            // emitted order: the driving change's seq, then
            // retract-before-add
            val renamed = fl.seq.indices.map(i => s"__seq_$i") :+ "__sub"
            Flow(out, renamed)
        }
      case s: Sink => throw new IllegalStateException("nested sink")
    }
    sinks.zipWithIndex.map { case (sink, i) =>
      // Full local/global collapse (reference TwoStageOptimizedAggregate
      // Rule + the changelog-inference upsert decision): a GroupAgg
      // whose ONLY consumer is an upsert sink keyed on its own group
      // key never needs per-change emissions — last-writer-wins
      // compaction of its update stream telescopes to the order-free
      // NET aggregate, which runs as a parallel partial/final hash
      // aggregate instead of a per-key sequential window replay. At a
      // low-cardinality group key this removes the key-cardinality
      // parallelism ceiling entirely (25 nations no longer mean
      // 25-way-parallel replay).
      val netShortcut: Option[DataFrame] = (sink.primaryKey, sink.child) match {
        case (Some(pk), a @ GroupAgg(ch, keys, valCol, _))
            if keys == pk && !inf.sinkMaterializes(i) &&
              refs.getOrElse(new Ref(a), 1) <= 1 =>
          val fl = build(ch)
          require(fl.seq.nonEmpty,
            "GroupAgg needs arrival-order columns (Source.seqCols)")
          Some(ChangelogAgg.netState(fl.df, keys, valCol, K))
        case _ => None
      }
      netShortcut.getOrElse {
      val fl0 = build(sink.child)
      // per-branch DropUpdateBefore (reference
      // StreamExecDropUpdateBefore as a statement-set branch op): the
      // shared stream carries -U for the retract branches; this branch
      // is keyed on the update key and never needs them. Deaths stay
      // visible as -D.
      val fl =
        if (inf.branchDropsUpdateBefore(i))
          Flow(fl0.df.filter(col(K) =!= "-U"), fl0.seq)
        else fl0
      sink.primaryKey match {
        case None => fl.df.drop(fl.seq.filter(_.startsWith("__")): _*)
        case Some(pk) =>
          // clear plan-validation error instead of an empty-ORDER-BY
          // AnalysisException at runtime: last-writer-wins needs an order
          require(fl.seq.nonEmpty,
            "keyed sink needs arrival-order columns to compact " +
              "last-writer-wins (declare Source.seqCols)")
          require(pk.forall(fl.df.columns.contains),
            s"sink primary key $pk not present in the delivered stream " +
              s"(${fl.df.columns.mkString(", ")})")
          if (inf.sinkMaterializes(i)) materializeUpsert(fl, pk)
          else {
            // upsert-sink compaction: last writer per key wins; a key
            // whose final row is a delete leaves the store. Sound
            // because the stream is KEYED on pk: at most one live row
            // per key at any time.
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(pk.map(col): _*)
              .orderBy(fl.seq.map(c => col(c).desc): _*)
            fl.df.withColumn("__last", row_number().over(w))
              .filter(col("__last") === 1 && col(K).isin("+I", "+U"))
              .drop((fl.seq.filter(_.startsWith("__")) :+ "__last" :+ K): _*)
          }
      }
      }
    }
  }

  /** The reference's SinkUpsertMaterializer
    * (flink-table-runtime/.../operators/sink/SinkUpsertMaterializer
    * .java): for a retract stream NOT keyed on the sink's primary key,
    * last-writer-wins is wrong — a -D retracting an OLD row would
    * erase a NEWER live one. The materializer keeps the multiset of
    * live rows per sink key and exposes the LATEST-ADDED survivor.
    *
    * Batch replay: per (key, full row content) compute the net weight
    * and the last accumulate time; contents with net > 0 are live; the
    * survivor per key is the live content with the greatest last-add
    * time. Two keyed shuffles (content-level partial agg, then per-key
    * top-1) — state proportional to live rows, never the changelog. */
  private def materializeUpsert(fl: Flow, pk: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val content = fl.df.columns.toSeq
      .filterNot(c => c == K || fl.seq.contains(c))
    val seqStruct = struct(fl.seq.map(col): _*)
    val w = ChangelogAgg.weight(col(K)).cast("long")
    val perContent = fl.df
      .groupBy(content.map(col): _*)
      .agg(sum(w).as("__net"),
        max(when(col(K).isin("+I", "+U"), seqStruct)).as("__lastAdd"))
      .filter(col("__net") > 0)
    val win = Window.partitionBy(pk.map(col): _*)
      .orderBy(col("__lastAdd").desc)
    perContent.withColumn("__r", row_number().over(win))
      .filter(col("__r") === 1)
      .drop("__net", "__lastAdd", "__r")
  }
}
