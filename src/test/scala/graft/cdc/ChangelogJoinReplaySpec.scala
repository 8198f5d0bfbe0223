package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** [[ChangelogJoin.updateStream]] (per-key sequential replay of the
  * streaming join's state machine) against [[ChangelogJoinModel]]: the
  * emission multiset of every driving event equals the model's, and
  * the (__seq, __side, __eidx) total order does not depend on how the
  * inputs are partitioned — the dumps of one input through ONE
  * partition and through seven are identical row for row. */
class ChangelogJoinReplaySpec extends SparkSpec {
  import spark.implicits._
  import ChangelogJoinModel.{Event, multiset, simulate}

  private val K = ChangelogFormats.RowKindCol

  /** Total-order dump: every column, ordered by the emission's total
    * order — exact equality catches a wrong kind, payload, multiplicity
    * OR a wrong intra-event position. */
  private def dump(df: DataFrame): Seq[String] =
    df.orderBy(col("__seq_0"), col("__side"), col("__eidx"))
      .collect().map(_.toString).toSeq

  private def join(l: DataFrame, r: DataFrame, jt: String): DataFrame =
    ChangelogJoin.updateStream(l, r, "lk", "rk", jt, Seq("lseq"), Seq("rseq"))

  /** Checks the join of `events` against the model and the
    * one-partition dump against the seven-partition one; returns the
    * dump. */
  private def checked(events: Seq[Event], jt: String): Seq[String] = {
    val (l, r) = ChangelogJoinModel.frames(spark, events)
    val joined = join(l.coalesce(1), r.coalesce(1), jt)
    val got = multiset(ChangelogJoinModel.emissions(joined))
    val want = multiset(simulate(events, jt))
    assert(got == want, s"jt=$jt evs=$events\n got=$got\n want=$want")
    val one = dump(joined)
    val seven = dump(join(l.repartition(7), r.repartition(7), jt))
    assert(one == seven, s"jt=$jt\n one=$one\n seven=$seven")
    one
  }

  test("hand case: outer padding + transitions identical in both forms") {
    val ev = Seq(
      (0, "a", 1, "+I", 1L), // pad (a1, null)
      (1, "a", 7, "+I", 2L), // -U pad, then +I (a1, r7)
      (0, "b", 2, "+I", 3L), // pad (b2, null)
      (1, "a", 7, "-D", 4L), // -D (a1, r7), then +U pad
      (0, "a", 1, "-D", 5L)) // death of a1 (no live right match)
    for (jt <- Seq("inner", "left", "right", "full")) checked(ev, jt)
  }

  test("null join keys never match, never associate — pads only") {
    val ev: Seq[Event] = Seq(
      (0, null, 1, "+I", 1L), (1, "a", 9, "+I", 2L),
      (0, "a", 2, "+I", 3L), (1, null, 8, "+I", 4L))
    for (jt <- Seq("inner", "left", "right", "full")) checked(ev, jt)
  }

  /** Per emission of a full join, in total order: the kind, whether
    * the left payload `lCol` is present, and the right tag. */
  private def shape(df: DataFrame, lCol: String): Seq[(String, Boolean, Option[Int])] =
    df.orderBy(col("__seq_0"), col("__side"), col("__eidx"))
      .select(col(K), col(lCol).isNotNull, col("rtag"))
      .as[(String, Boolean, Option[Int])].collect().toSeq

  /** Left +I of one content @1, right +I @2, the left -D of an equal
    * content built apart @3, right +I @4. The padding of the right row
    * returns at @3 in any case (the association count is a running
    * total), but the right insert at @4 finds no live left row — it is
    * padded — only if the -D found the +I's state entry. */
  private val retracted = Seq(("+I", true, None), ("-U", true, None),
    ("+I", true, Some(7)), ("-D", true, Some(7)), ("+U", false, Some(7)),
    ("+I", false, Some(8)))

  test("binary payloads: value equality in the replay multiset") {
    // Array[Byte] payloads compare by reference in Scala — the replay's
    // multiset key must wrap them, or a retraction of byte-equal
    // content would miss its state entry
    val l = Seq(("a", Array[Byte](1, 2), "+I", 1L),
        ("a", Array[Byte](1, 2), "-D", 3L))
      .toDF("lk", "lbin", K, "lseq")
    val r = Seq(("a", 7, "+I", 2L), ("a", 8, "+I", 4L))
      .toDF("rk", "rtag", K, "rseq")
    // the same history with the binary content as tag 12
    checked(Seq((0, "a", 12, "+I", 1L), (1, "a", 7, "+I", 2L),
      (0, "a", 12, "-D", 3L), (1, "a", 8, "+I", 4L)), "full")
    val got = join(l, r, "full")
    assert(shape(got, "lbin") == retracted)
    assert(ChangelogJoinModel.multiset(
      got.select(base64(col("lbin"))).as[Option[String]].collect().toSeq) ==
      Map(Some("AQI=") -> 4, None -> 2))
  }

  test("MAP payloads: an equal map retracts its state entry") {
    // equal maps in different entry order, with binary values inside
    def m(entries: (String, Array[Byte])*) = entries.toMap
    val l = Seq(
        ("a", m("x" -> Array[Byte](1), "y" -> Array[Byte](2)), "+I", 1L),
        ("a", m("y" -> Array[Byte](2), "x" -> Array[Byte](1)), "-D", 3L))
      .toDF("lk", "lmap", K, "lseq")
    val r = Seq(("a", 7, "+I", 2L), ("a", 8, "+I", 4L))
      .toDF("rk", "rtag", K, "rseq")
    assert(shape(join(l, r, "full"), "lmap") == retracted)
  }

  test("NaN payloads and binary join keys compare as Spark's grouping does") {
    val l = Seq((Array[Byte](5), Double.NaN, "+I", 1L),
        (Array[Byte](5), Double.NaN, "-D", 3L))
      .toDF("lk", "lv", K, "lseq")
    val r = Seq((Array[Byte](5), 7, "+I", 2L), (Array[Byte](5), 8, "+I", 4L))
      .toDF("rk", "rtag", K, "rseq")
    assert(shape(join(l, r, "full"), "lv") == retracted)
  }

  test("churn-heavy key: long alternating update chain stays identical") {
    // one hot key updated many times on both sides — the shape where
    // the per-key state machine runs long chains; correctness must hold
    val churn = (0 until 120).flatMap { i =>
      val base = i * 4L
      Seq((0, "hot", i % 3, if (i % 2 == 0) "+I" else "-D", base + 1),
        (1, "hot", 10 + i % 2, if (i % 2 == 0) "+I" else "-D", base + 2))
    }
    // keep the stream consistent: alternating +I/-D of the same content
    // is live-safe only per content; rebuild with per-content liveness
    val liveCount = scala.collection.mutable.Map.empty[(Int, Int), Int]
    val ev = churn.flatMap { case (side, k, tag, kind, seq) =>
      val w = if (kind == "-D") -1 else 1
      val n = liveCount.getOrElse((side, tag), 0) + w
      if (n < 0) None
      else { liveCount((side, tag)) = n; Some((side, k, tag, kind, seq)) }
    }
    for (jt <- Seq("inner", "full")) assert(checked(ev, jt).nonEmpty)
  }

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("property: replay ≡ relational, exactly, all join types") {
    val evGen = for {
      n <- Gen.choose(1, 14)
      evs <- Gen.listOfN(n, Gen.zip(
        Gen.oneOf(0, 1), Gen.oneOf("a", "b"), Gen.choose(1, 3),
        Gen.frequency(3 -> Gen.const("+I"), 1 -> Gen.const("-D"),
          1 -> Gen.const("-U"), 1 -> Gen.const("+U"))))
      jt <- Gen.oneOf("inner", "left", "right", "full")
    } yield (evs, jt)
    check(Prop.forAll(evGen) { case (evs0, jt) =>
      val liveCount = scala.collection.mutable.Map.empty[(Int, String, Int), Int]
      val evs = evs0.zipWithIndex.flatMap { case ((side, k, tag, kind), i) =>
        val id = (side, k, tag)
        val w = if (kind == "-D" || kind == "-U") -1 else 1
        val n = liveCount.getOrElse(id, 0) + w
        if (n < 0) None
        else { liveCount(id) = n; Some((side, k, tag, kind, (i + 1).toLong)) }
      }
      evs.isEmpty || { checked(evs, jt); true }
    }, n = 12)
  }
}
