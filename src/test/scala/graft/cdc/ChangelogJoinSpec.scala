package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The changelog ⋈ changelog replay vs [[ChangelogJoinModel]], a
  * single-threaded reference simulator of the streaming join operator.
  * Compares the full EMISSION MULTISET per driving event, not just net
  * state — a wrong transition or a miscounted multiplicity anywhere
  * shows up as a differing multiset. */
class ChangelogJoinSpec extends SparkSpec {
  import spark.implicits._

  private val K = ChangelogFormats.RowKindCol

  import ChangelogJoinModel.{Emit, simulate}

  private def runJoin(events: Seq[(Int, String, Int, String, Long)],
      joinType: String): Seq[Emit] = {
    val (l, r) = ChangelogJoinModel.frames(spark, events)
    ChangelogJoinModel.emissions(ChangelogJoin.updateStream(l, r, "lk", "rk",
      joinType, Seq("lseq"), Seq("rseq")))
  }

  private def asMultiset(e: Seq[Emit]): Map[Emit, Int] =
    ChangelogJoinModel.multiset(e)

  test("hand case: inner join emits matches with multiplicities") {
    // l: +I(a,1)@1, +I(a,2)@3 ; r: +I(a,10)@2, +I(a,10)@4 (dup content)
    val ev = Seq(
      (0, "a", 1, "+I", 1L), (1, "a", 10, "+I", 2L),
      (0, "a", 2, "+I", 3L), (1, "a", 10, "+I", 4L))
    val got = asMultiset(runJoin(ev, "inner"))
    assert(got == asMultiset(simulate(ev, "inner")))
    // the second right insert matches BOTH live left rows; the second
    // left insert matches the one live right row
    assert(got.values.sum == 0 + 1 + 1 + 2)
  }

  test("hand case: left outer padding appears, retracts on first match, returns on death") {
    val ev = Seq(
      (0, "a", 1, "+I", 1L), // no match -> +I (l, null)
      (1, "a", 7, "+I", 2L), // match: +I (l, r); transition: -U (l, null)
      (1, "a", 7, "-D", 3L)) // match: -D (l, r); transition: +U (l, null)
    val got = asMultiset(runJoin(ev, "left"))
    val want = asMultiset(simulate(ev, "left"))
    assert(got == want)
    assert(got(((1L, 0, Some(("a", 1)), None, "+I"))) == 1)
    assert(got(((2L, 1, Some(("a", 1)), None, "-U"))) == 1)
    assert(got(((3L, 1, Some(("a", 1)), None, "+U"))) == 1)
  }

  test("within one event, retractions precede additions (reference order)") {
    // first association: the null-padding retraction must come BEFORE
    // the joined insert; last association's death: the joined retract
    // must come BEFORE the padding re-insert — the reference operator
    // removes old state rows first
    val ev = Seq(
      (0, "a", 1, "+I", 1L), // pad (a1, null)
      (1, "a", 7, "+I", 2L), // -U pad, then +I (a1, r7)
      (1, "a", 7, "-D", 3L)) // -D (a1, r7), then +U pad
    val l = ev.filter(_._1 == 0)
      .map(e => (e._2, e._3, e._4, e._5)).toDF("lk", "ltag", K, "lseq")
    val r = ev.filter(_._1 == 1)
      .map(e => (e._2, e._3, e._4, e._5)).toDF("rk", "rtag", K, "rseq")
    val rows = ChangelogJoin.updateStream(l, r, "lk", "rk", "left",
        Seq("lseq"), Seq("rseq"))
      .orderBy(col("__seq_0"), col("__side"), col("__eidx"))
      .select(col("__seq_0"), col(K)).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == Seq(
      (1L, "+I"),             // padded insert
      (2L, "-U"), (2L, "+I"), // retract padding, then the joined row
      (3L, "-D"), (3L, "+U")  // retract the joined row, then re-pad
    ), rows.toString)
  }

  test("equal seq across sides: the left event applies first") {
    // same seq value on both sides — the left insert must be visible
    // to the right event's probe, the right insert must NOT be visible
    // to the left event's probe
    val ev = Seq((0, "a", 1, "+I", 5L), (1, "a", 9, "+I", 5L))
    val got = asMultiset(runJoin(ev, "inner"))
    assert(got == asMultiset(simulate(ev, "inner")))
    // exactly one emission: the right event sees the left row
    assert(got.values.sum == 1 && got.keys.head._2 == 1)
  }

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("property: emission multiset equals the reference simulator, all join types") {
    val evGen = for {
      n <- Gen.choose(1, 14)
      evs <- Gen.listOfN(n, Gen.zip(
        Gen.oneOf(0, 1), Gen.oneOf("a", "b"), Gen.choose(1, 3),
        // all four kinds: -U/+U exercise the update labels through the
        // probe/pad/transition paths, not just insert/delete weights
        Gen.frequency(3 -> Gen.const("+I"), 1 -> Gen.const("-D"),
          1 -> Gen.const("-U"), 1 -> Gen.const("+U"))))
      jt <- Gen.oneOf("inner", "left", "right", "full")
    } yield (evs, jt)
    check(Prop.forAll(evGen) { case (evs0, jt) =>
      // keep streams consistent: drop retractions of contents not live
      val liveCount = scala.collection.mutable.Map.empty[(Int, String, Int), Int]
      val evs = evs0.zipWithIndex.flatMap { case ((side, k, tag, kind), i) =>
        val id = (side, k, tag)
        val w = if (kind == "-D" || kind == "-U") -1 else 1
        val n = liveCount.getOrElse(id, 0) + w
        if (n < 0) None
        else { liveCount(id) = n; Some((side, k, tag, kind, (i + 1).toLong)) }
      }
      evs.isEmpty || {
        val got = asMultiset(runJoin(evs, jt))
        val want = asMultiset(simulate(evs, jt))
        if (got != want) println(s"MISMATCH jt=$jt evs=$evs\n got=$got\n want=$want")
        got == want
      }
    }, n = 10)
  }

  test("downstream net state equals joining the net states (integration identity)") {
    // feed the emitted stream into the retractable aggregate: the final
    // per-group state must equal aggregating the net-state join — the
    // end-to-end claim behind changelog⋈changelog → agg → sink chains
    val ev = Seq(
      (0, "a", 1, "+I", 1L), (1, "a", 10, "+I", 2L),
      (0, "a", 1, "-D", 3L), (0, "a", 2, "+I", 4L),
      (1, "b", 20, "+I", 5L), (0, "b", 3, "+I", 6L),
      (1, "a", 10, "-D", 7L), (1, "a", 11, "+I", 8L))
    val l = ev.filter(_._1 == 0)
      .map(e => (e._2, e._3, e._4, e._5)).toDF("lk", "lv", K, "lseq")
    val r = ev.filter(_._1 == 1)
      .map(e => (e._2, e._3, e._4, e._5)).toDF("rk", "rv", K, "rseq")
    val joined = ChangelogJoin.updateStream(l, r, "lk", "rk", "inner",
      Seq("lseq"), Seq("rseq"))
    val got = ChangelogAgg.materialize(
        joined.select(col("lk").as("g"),
          (col("lv") + col("rv")).cast("double").as("s"), col(K)),
        Seq("g"), "s")
      .select(col("g"), col("cnt"), col("sum_val")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSet
    // net states: l = {a:2, b:3}; r = {a:11, b:20}
    assert(got == Set(("a", 1L, 13.0), ("b", 1L, 23.0)))
  }
}
