package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Execution: a per-key sequential REPLAY. Each change is shuffled
  * ONCE to its join key's partition (both sides through one union),
  * sorted within partitions in (key, seq, side) order (Spark's
  * spill-safe sort — no per-group in-memory buffering of the input),
  * and [[ChangelogJoinKernel]] runs per key — the state machine the
  * streaming operator ([[graft.streaming.StreamingChangelogJoin]])
  * runs, exactly StreamingJoinOperator.java:37 processElement. A
  * change under a null join key never matches and never associates:
  * it only pads. O(changes + emissions) work, memory bounded by the
  * LIVE state per key (the JoinRecordStateView shape, dead contents
  * dropped), parallelism = distinct keys, as in the reference's keyed
  * state; skew on a hot join key concentrates in that key's partition
  * as it does there.
  *
  * Payload and join-key equality are decided in Scala (multiset
  * membership, runs of one key): binary values compare by content,
  * arrays element-wise and maps entry-wise (entry order ignored), at
  * any nesting depth; NaN equals NaN, as in Spark's grouping.
  */
object ChangelogJoin {

  private val K = ChangelogFormats.RowKindCol

  /** Validated payload/event prep: payload column lists plus per-side
    * event frames (payload + kind + normalized seq struct — field names
    * _0.._n-1 so both sides' `__t` structs are comparable). */
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
        col(K).as("__kind"),
        struct(seq.zipWithIndex.map { case (c, i) => col(c).as(s"_$i") }: _*)
          .as("__t"))): _*)
    Prep(n, lp, rp, events(left, lp, leftSeq), events(right, rp, rightSeq))
  }

  /** Typed null columns standing in for `src`'s payload `pay`. */
  private def nullPay(src: DataFrame, pay: Seq[String]): Seq[Column] =
    pay.map(c => lit(null).cast(src.schema(c).dataType).as(c))

  /** Deterministic per-event emission index over the pre-emission frame
    * (lp ++ rp ++ __kind ++ __t ++ __side ++ __ctag ++ __dup) and the
    * canonical output projection. One driving event may emit rows of
    * several tags (e.g. a right insert emits its matches AND the
    * null-padding retractions). Retractions sort BEFORE additions — the
    * reference operator removes the old state rows first (retract the
    * null padding, then add the joined rows on a first association;
    * retract the joined rows, then re-add the padding on the last
    * association's death) — then by tag and content so the total order
    * (seq, side, eidx) is reproducible. */
  private def assignEidx(all: DataFrame, lp: Seq[String], rp: Seq[String],
      n: Int): DataFrame = {
    val winE = Window.partitionBy(col("__t"), col("__side"))
      .orderBy((Seq(ChangelogAgg.weight(col("__kind")), col("__ctag")) ++
        (lp ++ rp).map(c => orderable(col(c), all.schema(c).dataType)) :+
        col("__dup")): _*)
    val seqFields =
      (0 until n).map(i => col("__t").getField(s"_$i").as(s"__seq_$i"))
    all.withColumn("__eidx", row_number().over(winE))
      .select((lp.map(col) ++ rp.map(col) :+ col("__kind").as(K)) ++
        seqFields ++ Seq(col("__side"), col("__eidx")): _*)
  }

  /** `c` as a sort key: Spark cannot order maps, so a map (at any
    * nesting depth) sorts as its entries in key order; every other
    * type sorts as itself. */
  private def orderable(c: Column, dt: DataType): Column = dt match {
    case _ if !hasMap(dt) => c
    case MapType(kt, vt, _) => array_sort(transform(map_entries(c), e =>
      struct(orderable(e.getField("key"), kt),
        orderable(e.getField("value"), vt))))
    case ArrayType(et, _) => transform(c, orderable(_, et))
    case StructType(fs) => when(c.isNotNull,
      struct(fs.map(f => orderable(c.getField(f.name), f.dataType)): _*))
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(et, _) => hasMap(et)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The joined change stream of two changelogs. `joinType`: inner |
    * left | right | full; `leftSeq`/`rightSeq`: each side's sequence
    * columns (see the event model above). */
  def updateStream(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, joinType: String,
      leftSeq: Seq[String], rightSeq: Seq[String]): DataFrame = {
    val Prep(n, lp, rp, le, re) = prep(left, right, joinType, leftSeq, rightSeq)
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
    // order — the left side wins seq ties
    val sorted = uni.repartition(col("__gk"))
      .sortWithinPartitions(col("__gk"), col("__t"), col("__side"))
    sorted.mapPartitions { it =>
      val nullL: IndexedSeq[Any] = IndexedSeq.fill(lp.length)(null)
      val nullR: IndexedSeq[Any] = IndexedSeq.fill(rp.length)(null)
      var kernel: ChangelogJoinKernel[Payload, Payload] = null
      var cur: Any = null
      it.flatMap { row =>
        // keys compare as Spark's join does: a binary key by content
        val gk = Payload.norm(row.get(0))
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
          // the emission's tag, second in the eidx order: a joined row
          // carries the driving side; a left-only row is the driving
          // left change's padding (2) or a transition a right change
          // drives (3); a right-only row is the driving right change's
          // padding (4) or a transition a left change drives (5)
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

  /** One side's payload as a replay multiset entry, compared by
    * content as the scaladoc of [[ChangelogJoin]] states. */
  private final case class Payload(vals: IndexedSeq[Any]) {
    private val key = vals.map(Payload.norm)
    override def equals(o: Any): Boolean =
      o.isInstanceOf[Payload] && key == o.asInstanceOf[Payload].key
    override def hashCode: Int = key.hashCode
  }

  private object Payload {
    private case object NaN

    /** A value's equality key. */
    def norm(v: Any): Any = v match {
      case a: Array[_] => a.toSeq.map(norm)
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => norm(k) -> norm(x) }.toMap
      case s: scala.collection.Seq[_] => s.map(norm)
      case r: Row => r.toSeq.map(norm)
      case d: Double if d.isNaN => NaN
      case f: Float if f.isNaN => NaN
      case x => x
    }
  }
}
