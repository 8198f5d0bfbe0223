package graft.cep

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

case class CE(k: String, ts: Long, typ: String)
case class CES(k: String, ts: Long, typ: String, ets: java.sql.Timestamp)

class CepSpec extends SparkSpec {
  import spark.implicits._

  private def evs(types: String*): IndexedSeq[CE] =
    types.zipWithIndex.map { case (t, i) => CE("k", i.toLong * 1000, t) }
      .toIndexedSeq

  private def matches(events: IndexedSeq[CE], p: Pattern[CE]) =
    Matcher.findMatches[CE](events, (e: CE) => e.ts, p)

  test("strict next: a b matches only adjacent pairs, skip past last row") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .next("b").where(_.typ == "b")
    assert(matches(evs("a", "b", "a", "b"), p).size == 2)
    assert(matches(evs("a", "x", "b"), p).isEmpty)
    assert(matches(evs("a", "a", "b"), p).size == 1)
  }

  test("relaxed followedBy skips non-matching events") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .followedBy("b").where(_.typ == "b")
    val ms = matches(evs("a", "x", "x", "b"), p)
    assert(ms.size == 1)
    assert(ms.head("b").head.ts == 3000)
  }

  test("greedy oneOrMore consumes the longest run") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a").oneOrMore
      .followedBy("b").where(_.typ == "b")
    val ms = matches(evs("a", "a", "a", "b"), p)
    assert(ms.size == 1)
    assert(ms.head("a").size == 3)
  }

  test("reluctant oneOrMore consumes the shortest run") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a").oneOrMore.reluctant
      .followedBy("b").where(_.typ == "b")
    val ms = matches(evs("a", "a", "b"), p)
    assert(ms.size == 1)
    assert(ms.head("a").size == 1)
  }

  test("times(n) requires exactly n consecutive matches") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a").times(2)
      .next("b").where(_.typ == "b")
    assert(matches(evs("a", "a", "b"), p).size == 1)
    assert(matches(evs("a", "b"), p).isEmpty)
  }

  test("optional step can be absent") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .followedBy("x").where(_.typ == "x").optional
      .followedBy("b").where(_.typ == "b")
    val withX = matches(evs("a", "x", "b"), p)
    assert(withX.size == 1 && withX.head("x").size == 1)
    val withoutX = matches(evs("a", "b"), p)
    assert(withoutX.size == 1 && withoutX.head("x").isEmpty)
  }

  test("notFollowedBy blocks matches containing the forbidden event") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .notFollowedBy("nb").where(_.typ == "b")
      .followedBy("c").where(_.typ == "c")
    assert(matches(evs("a", "x", "c"), p).size == 1)
    assert(matches(evs("a", "b", "c"), p).isEmpty)
    assert(matches(evs("a", "c", "b"), p).size == 1) // b after c is fine
    intercept[IllegalArgumentException] {
      matches(evs("a"), Pattern.begin[CE]("a").where(_.typ == "a")
        .notFollowedBy("nb").where(_.typ == "b"))
    }
  }

  test("the scan stops at `within`: predicate calls stay linear in the " +
      "event count") {
    // a b within 10 ms over one key where b never occurs: every start
    // may only look 10 ms ahead, so the calls per event are bounded
    // however long the key's history is
    def callsPerEvent(n: Int): Double = {
      var calls = 0L
      val p = Pattern.begin[CE]("a").where { _ => calls += 1; true }
        .followedBy("b").where { _ => calls += 1; false }.within(10)
      val events = (0 until n).map(i => CE("k", i.toLong, "a"))
      assert(matches(events, p).isEmpty)
      calls.toDouble / n
    }
    val small = callsPerEvent(500)
    val large = callsPerEvent(5000)
    assert(large <= 20, s"$large predicate calls per event")
    assert(large <= small * 1.1, s"per-event calls grew: $small → $large")
  }

  test("within bounds first-to-last time span") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .followedBy("b").where(_.typ == "b").within(1500)
    assert(matches(evs("a", "b"), p).size == 1)       // 1000 apart
    assert(matches(evs("a", "x", "b"), p).isEmpty)    // 2000 apart
  }

  test("iterative condition sees prior bindings") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .followedBy("b").whereCtx((e, ctx) =>
        e.typ == "b" && ctx("a").head.ts + 500 < e.ts)
    assert(matches(evs("a", "b"), p).size == 1)
  }

  test("batch CEP over Dataset groups by key") {
    val ds = Seq(
      CE("u1", 1, "a"), CE("u1", 2, "b"),
      CE("u2", 1, "a"), CE("u2", 2, "x"), CE("u2", 3, "b")
    ).toDS()
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .followedBy("b").where(_.typ == "b")
    val ms = CEP.matchPattern[String, CE](ds, _.k, _.ts, p).collect()
    assert(ms.length == 2)
    assert(ms.map(_._1).toSet == Set("u1", "u2"))
  }

  test("streaming CEP emits finalized matches as watermark advances") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[CE]
    // event-time column must live INSIDE the row type so the watermark
    // attribute survives into flatMapGroupsWithState
    val withTs = in.toDS()
      .map(e => CES(e.k, e.ts, e.typ, new java.sql.Timestamp(e.ts)))
      .withWatermark("ets", "0 seconds")
    val p = Pattern.begin[CES]("a").where(_.typ == "a")
      .followedBy("b").where(_.typ == "b").within(5000)
    val out = CEP.matchPatternStream[String, CES](withTs, _.k, _.ts, p)
      .map { case (k, i, m) => (k, i, m("a").head.ts, m("b").head.ts) }
    val q = out.writeStream.format("memory").queryName("cepstream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(CE("k", 1000, "a"), CE("k", 2000, "b"))
      q.processAllAvailable()
      // watermark still at 2000 — window [1000, 6000] not closed
      in.addData(CE("k", 10000, "x"))
      q.processAllAvailable()
      in.addData(CE("k", 20000, "x")) // advance watermark past 6000
      q.processAllAvailable()
      val rows = spark.table("cepstream").collect()
      assert(rows.length == 1)
      assert(rows.head.getLong(2) == 1000 && rows.head.getLong(3) == 2000)
    } finally q.stop()
  }

  test("or combines conditions disjunctively") {
    val p = Pattern.begin[CE]("start")
      .where(_.typ == "a").or(_.typ == "c")
      .next("b").where(_.typ == "b")
    assert(matches(evs("a", "b"), p).size == 1)
    assert(matches(evs("c", "b"), p).size == 1)
    assert(matches(evs("x", "b"), p).isEmpty)
  }

  test("notNext forbids only the immediately following event") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a")
      .notNext("x").where(_.typ == "x")
      .followedBy("b").where(_.typ == "b")
    assert(matches(evs("a", "x", "b"), p).isEmpty)    // x immediately after a
    assert(matches(evs("a", "y", "x", "b"), p).size == 1) // x later is fine
    // contrast: notFollowedBy forbids anywhere in the gap
    val pf = Pattern.begin[CE]("a").where(_.typ == "a")
      .notFollowedBy("x").where(_.typ == "x")
      .followedBy("b").where(_.typ == "b")
    assert(matches(evs("a", "y", "x", "b"), pf).isEmpty)
  }

  test("until stops the loop without consuming the stopper") {
    val p = Pattern.begin[CE]("a").where(_.typ != "end").oneOrMore
      .until(_.typ == "stop")
      .followedBy("s").where(_.typ == "stop")
    val ms = matches(evs("a", "a", "stop", "a"), p)
    assert(ms.size == 1)
    assert(ms.head("a").size == 2)          // loop ends before the stopper
    assert(ms.head("s").head.typ == "stop") // next step consumes it
  }

  test("allowGaps lets repeat elements skip non-matching events") {
    val strictP = Pattern.begin[CE]("a").where(_.typ == "a").timesOrMore(3)
      .followedBy("b").where(_.typ == "b")
    assert(matches(evs("a", "x", "a", "a", "b"), strictP).isEmpty)
    val relaxedP = Pattern.begin[CE]("a").where(_.typ == "a").timesOrMore(3)
      .allowGaps
      .followedBy("b").where(_.typ == "b")
    val ms = matches(evs("a", "x", "a", "a", "b"), relaxedP)
    assert(ms.size == 1)
    assert(ms.head("a").size == 3)
    assert(ms.head("a").map(_.ts) == Seq(0L, 2000L, 3000L))
  }

  test("consecutive is the default and a parity no-op") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a").oneOrMore.consecutive
      .followedBy("b").where(_.typ == "b")
    val ms = matches(evs("a", "a", "x", "a", "b"), p)
    assert(ms.size == 1)
    assert(ms.head("a").size == 2)  // the consecutive leading run
  }

  test("allowGaps on the first step keeps the match anchored") {
    val p = Pattern.begin[CE]("a").where(_.typ == "a").timesOrMore(2)
      .allowGaps
      .followedBy("b").where(_.typ == "b")
    // anchor (index 0) is not an 'a' -> no match claims to start there;
    // the real match anchors at the first 'a'
    val ms = matches(evs("x", "a", "y", "a", "b"), p)
    assert(ms.size == 1)
    assert(ms.head("a").map(_.ts) == Seq(1000L, 3000L))
  }

  // ---- pattern groups (reference GroupPattern.java): (A B)+ loops over
  // the group state, unbounded — not an unrolling ----

  private def groupAB: Pattern[CE] =
    Pattern.begin[CE]("a").where(_.typ == "a")
      .next("b").where(_.typ == "b")

  test("(A B)+ greedy: the group repeats as a unit, bindings accumulate") {
    val p = Pattern.begin(groupAB).oneOrMore
    val ms = matches(evs("a", "b", "a", "b", "a", "x"), p)
    assert(ms.size == 1)               // greedy takes both copies
    assert(ms.head("a").map(_.ts) == Seq(0L, 2000L))
    assert(ms.head("b").map(_.ts) == Seq(1000L, 3000L))
  }

  test("(A B)+ matches arbitrarily many copies (no unroll bound)") {
    val n = 50
    val types = Seq.fill(n)(Seq("a", "b")).flatten
    val ms = matches(evs(types: _*), Pattern.begin(groupAB).oneOrMore)
    assert(ms.size == 1)
    assert(ms.head("a").size == n && ms.head("b").size == n)
  }

  test("(A B)+ relaxed between copies; next(group) forces consecutive") {
    // gap between the copies: begin-group loop default is relaxed
    val ms = matches(evs("a", "b", "x", "a", "b"),
      Pattern.begin(groupAB).oneOrMore)
    assert(ms.size == 1 && ms.head("a").size == 2)
    // a group appended with next(...) requires consecutive copies
    val strictLoop = Pattern.begin[CE]("s").where(_.typ == "s")
      .next(groupAB).oneOrMore
    val ms2 = matches(evs("s", "a", "b", "x", "a", "b"), strictLoop)
    assert(ms2.size == 1 && ms2.head("a").size == 1) // stops at the gap
  }

  test("(A B).times(2) requires exactly two copies") {
    val p = Pattern.begin(groupAB).times(2)
    assert(matches(evs("a", "b", "a", "b"), p).size == 1)
    assert(matches(evs("a", "b", "a", "x"), p).isEmpty)
  }

  test("(A B)+ within(...) bounds first to last event across copies") {
    val p = Pattern.begin(groupAB).oneOrMore.within(2500)
    // events are 1s apart: a(0) b(1000) a(2000) b(3000) — two copies
    // span 3000 ms > 2500, so greedy backs off to one copy
    val ms = matches(evs("a", "b", "a", "b"), p)
    assert(ms.nonEmpty)
    assert(ms.head("a").size == 1 && ms.head("b").size == 1)
    // wide window takes both copies in one match
    val wide = matches(evs("a", "b", "a", "b"),
      Pattern.begin(groupAB).oneOrMore.within(10000))
    assert(wide.size == 1 && wide.head("a").size == 2)
  }

  test("(A B)+ reluctant takes the fewest copies") {
    val p = Pattern.begin(groupAB).oneOrMore.reluctant
      .followedBy("c").where(_.typ == "c")
    val ms = matches(evs("a", "b", "a", "b", "c"), p)
    assert(ms.size == 1)
    assert(ms.head("a").size == 1 && ms.head("c").size == 1)
  }

  test("optional group and group followed by steps") {
    val p = Pattern.begin[CE]("s").where(_.typ == "s")
      .followedBy(groupAB).optional
      .followedBy("c").where(_.typ == "c")
    val withGroup = matches(evs("s", "a", "b", "c"), p)
    assert(withGroup.size == 1 && withGroup.head("a").size == 1)
    val without = matches(evs("s", "c"), p)
    assert(without.size == 1 && !without.head.contains("a"))
  }

  test("where on a group raises with a pointer") {
    val e = intercept[IllegalArgumentException](
      Pattern.begin(groupAB).where(_.typ == "a"))
    assert(e.getMessage.contains("group"))
  }
}
