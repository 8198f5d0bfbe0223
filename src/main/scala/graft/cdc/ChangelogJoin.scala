package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog ⋈ changelog join — BOTH sides update. Batch-exact replay
  * of the reference's streaming join (flink-table-runtime/.../operators/
  * join/stream/StreamingJoinOperator.java:37, with the outer-join
  * association counting of OuterJoinRecordStateViews.java:336): every
  * input change on either side probes the other side's state AS OF ITS
  * ARRIVAL and emits the corresponding joined changes, so a downstream
  * retractable aggregate ([[ChangelogAgg]]) or an upsert sink sees the
  * exact change stream a streaming job would produce.
  *
  * Event model: each input row is a change event with a row kind
  * (+I/-U/+U/-D → weight ±1) and per-side sequence columns giving its
  * arrival order. Both sides' sequence columns must be comparable
  * (same count and types); the global processing order is
  * (seq, side) with the LEFT side winning ties — i.e. at an identical
  * sequence value the left change is applied first. Within one side the
  * sequence must be unique per event (it is the event's identity).
  *
  * Emissions per event follow [[ChangelogJoinKernel]], the single
  * statement of the per-change rule (joined rows, null padding, and
  * padding transitions when a key's association count crosses zero).
  *
  * DELIBERATE kind deviation: padding transitions emit -U/+U and
  * outer-side emissions forward the input's +U/-U, whereas the
  * reference's JoinHelper normalizes outer-join emissions to -D/+I.
  * The two encodings are weight-equivalent (the reference's own
  * FLINK-17337 note says so) and every in-repo consumer
  * ([[ChangelogAgg]], upsert compaction) is weight-based; only a
  * byte-exact comparison of changelog KINDS against reference output
  * would see the difference.
  *
  * Output: left payload ++ right payload ++ `__row_kind` ++ the
  * emission's order columns `__seq_0..n-1` (the driving event's
  * sequence), `__side` (0 = left-driven, 1 = right-driven) and
  * `__eidx` (deterministic index among one event's emissions) — a
  * total order ready to feed [[ChangelogAgg.updateStream]] or an
  * upsert compaction.
  *
  * Scale shape: two shuffle joins keyed on the join key (probe-side
  * events × state-side events, one per direction) plus per-key window
  * prefix sums for the association counter. The EMITTED row count is
  * exactly what a real streaming join would produce — (event,
  * live-match) pairs, not all-pairs — but the join INTERMEDIATE
  * enumerates, per key, every (event, state-change) pair including
  * changes to contents that later net to zero: for a key with E events
  * on one side and S changes on the other the intermediate is O(E·S),
  * quadratic in per-key CHURN. At TPC-H-like churn (a handful of
  * changes per key) this is negligible and the formulation stays fully
  * Catalyst-native; for churn-heavy keys (an entity updated thousands
  * of times) use [[updateStreamReplay]], which is linear in changes +
  * emissions. Skew on a hot join key concentrates in that key's
  * partition, as it does in the reference's keyed state. Each input is
  * SCANNED once per role it plays (probe + state, plus the outer
  * pad/transition passes — up to 4 for a full outer join); at sizes
  * where recomputing the input changelog dominates, persist/checkpoint
  * the inputs before calling — the operator deliberately does not
  * cache on the caller's behalf ([[ChangelogInference]] checkpoints
  * stateful join inputs automatically).
  */
object ChangelogJoin {

  private val K = ChangelogFormats.RowKindCol

  /** Validated payload/event prep shared by both formulations:
    * payload column lists plus per-side event frames (payload + signed
    * weight + kind + normalized seq struct — field names _0.._n-1 so
    * both sides' `__t` structs are comparable). */
  private final case class Prep(n: Int, lp: Seq[String], rp: Seq[String],
      le: DataFrame, re: DataFrame)

  private def prep(left: DataFrame, right: DataFrame, joinType: String,
      leftSeq: Seq[String], rightSeq: Seq[String]): Prep = {
    require(ChangelogJoinKernel.JoinTypes(joinType),
      s"unsupported join type: $joinType")
    val n = leftSeq.length
    require(n > 0 && rightSeq.length == n,
      "both sides need the same number of sequence columns")
    val lp = left.columns.toSeq.filterNot(c => c == K || leftSeq.contains(c))
    val rp = right.columns.toSeq.filterNot(c => c == K || rightSeq.contains(c))
    require(lp.intersect(rp).isEmpty,
      s"payload columns must be disjoint across sides: ${lp.intersect(rp)}")
    def events(df: DataFrame, pay: Seq[String], seq: Seq[String]): DataFrame =
      df.select((pay.map(col) ++ Seq(
        ChangelogAgg.weight(col(K)).cast("long").as("__w"),
        col(K).as("__kind"),
        struct(seq.zipWithIndex.map { case (c, i) => col(c).as(s"_$i") }: _*)
          .as("__t"))): _*)
    Prep(n, lp, rp, events(left, lp, leftSeq), events(right, rp, rightSeq))
  }

  /** Typed null columns standing in for `src`'s payload `pay`. */
  private def nullPay(src: DataFrame, pay: Seq[String]): Seq[Column] =
    pay.map(c => lit(null).cast(src.schema(c).dataType).as(c))

  /** Shared finisher: deterministic per-event emission index over the
    * pre-emission frame (lp ++ rp ++ __kind ++ __t ++ __side ++ __ctag
    * ++ __dup) and the canonical output projection. One driving event
    * may emit through several components (e.g. a right insert emits its
    * matches AND the null-padding retractions). Retractions sort BEFORE
    * additions — the reference operator removes the old state rows
    * first (retract the null padding, then add the joined rows on a
    * first association; retract the joined rows, then re-add the
    * padding on the last association's death) — then by component and
    * content so the total order (seq, side, eidx) is reproducible. */
  private def assignEidx(all: DataFrame, lp: Seq[String], rp: Seq[String],
      n: Int): DataFrame = {
    val winE = Window.partitionBy(col("__t"), col("__side"))
      .orderBy((Seq(ChangelogAgg.weight(col("__kind")), col("__ctag")) ++
        lp.map(col) ++ rp.map(col) :+ col("__dup")): _*)
    val seqFields =
      (0 until n).map(i => col("__t").getField(s"_$i").as(s"__seq_$i"))
    all.withColumn("__eidx", row_number().over(winE))
      .select((lp.map(col) ++ rp.map(col) :+ col("__kind").as(K)) ++
        seqFields ++ Seq(col("__side"), col("__eidx")): _*)
  }

  def updateStream(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, joinType: String,
      leftSeq: Seq[String], rightSeq: Seq[String]): DataFrame = {
    val Prep(n, lp, rp, le, re) = prep(left, right, joinType, leftSeq, rightSeq)

    // ---- match emissions: events of `e` probing `s`'s state ----
    // state of `s` as of event time: s-events strictly before (or at,
    // when `inclusive` — the left-side-first tie rule) the e-event.
    // Grouped by (event, state-row content): __m = live multiplicity.
    def matchGroups(e: DataFrame, s: DataFrame, ek: String, sk: String,
        ePay: Seq[String], sPay: Seq[String], inclusive: Boolean)
        : DataFrame = {
      val before =
        if (inclusive) col("s.__t") <= col("e.__t")
        else col("s.__t") < col("e.__t")
      e.alias("e").join(s.alias("s"),
          col(s"e.$ek") === col(s"s.$sk") && before, "inner")
        .groupBy((Seq(col("e.__t").as("__t"), col("e.__kind").as("__kind")) ++
          ePay.map(c => col(s"e.$c").as(c)) ++
          sPay.map(c => col(s"s.$c").as(c))): _*)
        .agg(sum(col("s.__w")).as("__m"))
        .filter(col("__m") > 0)
    }

    // ---- padding transitions: events of `e` whose key's association
    // count crosses zero, probing `s` for the live padded rows ----
    def transitions(e: DataFrame, s: DataFrame, ek: String, sk: String,
        sPay: Seq[String], inclusive: Boolean): DataFrame = {
      val winK = Window.partitionBy(col(ek)).orderBy(col("__t"))
      val crossed = e
        .withColumn("__cb", coalesce(
          sum(col("__w")).over(winK.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .filter((col("__cb") === 0 && col("__w") > 0) ||
          (col("__cb") + col("__w") === 0 && col("__w") < 0))
        // first association arrived → RETRACT the null-padded rows;
        // last association died → re-ADD them
        .withColumn("__tk",
          when(col("__w") > 0, lit("-U")).otherwise(lit("+U")))
      val before =
        if (inclusive) col("s.__t") <= col("e.__t")
        else col("s.__t") < col("e.__t")
      crossed.alias("e").join(s.alias("s"),
          col(s"e.$ek") === col(s"s.$sk") && before, "inner")
        .groupBy((Seq(col("e.__t").as("__t"), col("e.__tk").as("__kind")) ++
          sPay.map(c => col(s"s.$c").as(c))): _*)
        .agg(sum(col("s.__w")).as("__m"))
        .filter(col("__m") > 0)
    }

    // canonical emission schema: lp ++ rp ++ __kind ++ __t ++ __side ++
    // __ctag ++ __dup (multiplicity exploded)
    def finish(df: DataFrame, side: Int, ctag: Int): DataFrame =
      df.select((lp.map(col) ++ rp.map(col) ++ Seq(col("__kind"), col("__t"),
        lit(side).as("__side"), lit(ctag).as("__ctag"),
        explode(sequence(lit(1L), col("__m"))).as("__dup"))): _*)

    val aGrp = matchGroups(le, re, leftKey, rightKey, lp, rp,
      inclusive = false) // right state strictly before a left event
    val bGrp = matchGroups(re, le, rightKey, leftKey, rp, lp,
      inclusive = true) // left state at-or-before a right event

    val components = scala.collection.mutable.ArrayBuffer[DataFrame](
      finish(aGrp, side = 0, ctag = 0),
      finish(bGrp, side = 1, ctag = 1))

    if (joinType == "left" || joinType == "full") {
      // left events with no live right match → (l, nulls) in their kind
      val aPad = le.join(aGrp.select(col("__t")).distinct(), Seq("__t"),
          "left_anti")
        .select((lp.map(col) ++ nullPay(right, rp) ++
          Seq(col("__kind"), col("__t"), lit(1L).as("__m"))): _*)
      components += finish(aPad, side = 0, ctag = 2)
      // right events crossing the association boundary → padding
      // transitions over the live left rows
      val bTrans = transitions(re, le, rightKey, leftKey, lp,
          inclusive = true)
        .select((lp.map(col) ++ nullPay(right, rp) ++
          Seq(col("__kind"), col("__t"), col("__m"))): _*)
      components += finish(bTrans, side = 1, ctag = 3)
    }
    if (joinType == "right" || joinType == "full") {
      val bPad = re.join(bGrp.select(col("__t")).distinct(), Seq("__t"),
          "left_anti")
        .select((nullPay(left, lp) ++ rp.map(col) ++
          Seq(col("__kind"), col("__t"), lit(1L).as("__m"))): _*)
      components += finish(bPad, side = 1, ctag = 4)
      val aTrans = transitions(le, re, leftKey, rightKey, rp,
          inclusive = false)
        .select((nullPay(left, lp) ++ rp.map(col) ++
          Seq(col("__kind"), col("__t"), col("__m"))): _*)
      components += finish(aTrans, side = 0, ctag = 5)
    }

    assignEidx(components.reduce(_ unionByName _), lp, rp, n)
  }

  /** Per-key sequential REPLAY formulation of [[updateStream]] —
    * byte-identical output (same schema, kinds and (__seq, __side,
    * __eidx) total order), different scale shape. Where the relational
    * formulation's join intermediate is O(E·S) per key in the sides'
    * change counts, this one shuffles each change ONCE to its key's
    * partition, sorts within partitions (Spark's spill-safe sort — no
    * per-group in-memory buffering of the input), and runs
    * [[ChangelogJoinKernel]] per key — the single statement of the
    * emission rule, shared with the streaming operator: every change
    * probes the live multiset of the other side and emits, exactly
    * StreamingJoinOperator.java:37 processElement. A change under a
    * null join key never matches and never associates: it only pads.
    * O(changes + emissions) work, memory bounded by the LIVE state per
    * key (the JoinRecordStateView shape, dead contents dropped),
    * parallelism = distinct keys, as in the reference's keyed state.
    * Use this for churn-heavy keys (entities updated thousands of
    * times); the relational form stays preferable at low churn where
    * Catalyst's codegen'd joins beat a row-at-a-time state machine.
    *
    * One semantic requirement beyond [[updateStream]]: payload
    * equality is decided in Scala (multiset membership), so payload
    * columns of ARRAY type compare element-wise (wrapped), and
    * MAP-typed payloads are rejected (no canonical order; the
    * relational form handles them via Spark's group-by equality). */
  def updateStreamReplay(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, joinType: String,
      leftSeq: Seq[String], rightSeq: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val Prep(n, lp, rp, le, re) = prep(left, right, joinType, leftSeq, rightSeq)
    (lp ++ rp).foreach { c =>
      val dt = le.schema.fields.find(_.name == c)
        .getOrElse(re.schema(c)).dataType
      require(!dt.isInstanceOf[MapType],
        s"replay formulation cannot compare MAP-typed payload '$c' — " +
          "use updateStream")
    }
    // unified event stream: grouping key + side + kind + time + both
    // payloads (the absent side null)
    val lU = le.select((Seq(col(leftKey).as("__gk"), lit(0).as("__side"),
      col("__kind"), col("__t")) ++ lp.map(col) ++ nullPay(right, rp)): _*)
    val rU = re.select((Seq(col(rightKey).as("__gk"), lit(1).as("__side"),
      col("__kind"), col("__t")) ++ nullPay(left, lp) ++ rp.map(col)): _*)
    val uni = lU.unionByName(rU)
    val uniSchema = uni.schema
    val preSchema = StructType(
      (lp ++ rp).map(c => uniSchema(c).copy(nullable = true)) ++ Seq(
        StructField("__kind", StringType, nullable = false),
        uniSchema("__t"),
        StructField("__side", IntegerType, nullable = false),
        StructField("__ctag", IntegerType, nullable = false),
        StructField("__dup", LongType, nullable = false)))
    val rpOff = 4 + lp.length; val rpEnd = rpOff + rp.length
    // one shuffle on the join key, spill-safe sort in (key, t, side)
    // order — left wins seq ties, exactly the relational form's
    // inclusive/strict probe asymmetry
    val sorted = uni.repartition(col("__gk"))
      .sortWithinPartitions(col("__gk"), col("__t"), col("__side"))
    sorted.mapPartitions { it =>
      val nullL: IndexedSeq[Any] = IndexedSeq.fill(lp.length)(null)
      val nullR: IndexedSeq[Any] = IndexedSeq.fill(rp.length)(null)
      var kernel: ChangelogJoinKernel[Payload, Payload] = null
      var cur: Any = null
      it.flatMap { row =>
        val gk = row.get(0)
        if (kernel == null || gk != cur) {
          kernel = new ChangelogJoinKernel[Payload, Payload](joinType,
            gk == null)
          cur = gk
        }
        val side = row.getInt(1)
        val kind = row.getString(2)
        val t = row.get(3)
        val change =
          if (side == 0) Left(Payload((4 until rpOff).map(row.get)))
          else Right(Payload((rpOff until rpEnd).map(row.get)))
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        kernel(change, kind) { (k, l, r, n) =>
          // the relational form's component tag: a joined row is the
          // driving side's match; a one-sided row is a padding of the
          // driving side's change, or a transition of the other side's
          val ctag = (l.isDefined, r.isDefined) match {
            case (true, true) => side
            case (true, false) => if (side == 0) 2 else 3
            case _ => if (side == 0) 5 else 4
          }
          val pay = l.fold(nullL)(_.vals) ++ r.fold(nullR)(_.vals)
          (1 to n).foreach(d => out +=
            Row.fromSeq(pay ++ Seq(k, t, side, ctag, d.toLong)))
        }
        out
      }
    }(Encoders.row(preSchema))
      .transform(all => assignEidx(all, lp, rp, n))
  }

  /** The order-column names the emitted stream carries, for wiring into
    * downstream stages. */
  def seqColumns(n: Int): Seq[String] =
    (0 until n).map(i => s"__seq_$i") ++ Seq("__side", "__eidx")

  /** One side's payload as a replay multiset entry: binary fields
    * compare by content, not by array reference. */
  private final case class Payload(vals: IndexedSeq[Any]) {
    private val key = vals.map { case a: Array[_] => a.toSeq; case x => x }
    override def equals(o: Any): Boolean =
      o.isInstanceOf[Payload] && key == o.asInstanceOf[Payload].key
    override def hashCode: Int = key.hashCode
  }
}
