package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, TestGroupState}

import graft.SparkSpec
import graft.cdc.{ChangelogJoin, ChangelogJoinModel}

/** The streaming changelog⋈changelog join against its batch twin: the
  * same event sequence fed one micro-batch at a time must emit exactly
  * the multiset [[ChangelogJoin.updateStream]] replays from sequence
  * columns — the two operators implement one semantics (the reference
  * StreamingJoinOperator) from opposite ends — and the batch side is
  * checked against [[graft.cdc.ChangelogJoinModel]] on every call. */
class StreamingChangelogJoinSpec extends SparkSpec {
  import spark.implicits._

  // (side 0|1, key, tag, kind) — both sides update, a content update
  // (-U/+U), deletions, and a key whose right side dies and revives
  private val events = Seq(
    (0, "a", 1, "+I"), (1, "a", 10, "+I"),
    (0, "a", 1, "-U"), (0, "a", 2, "+U"),
    (1, "b", 20, "+I"), (0, "b", 3, "+I"),
    (1, "a", 10, "-D"), (1, "a", 11, "+I"),
    (0, "b", 3, "-D"))

  private type P = (String, Int)
  private type Emit = (Option[P], Option[P], String)

  /** The batch operator's emissions for `events` (seq = position),
    * checked against [[ChangelogJoinModel]] first: the batch operator
    * shares its kernel with the streaming one, so only the model is an
    * independent reference. */
  private def batchEmissions(jt: String): Map[Emit, Int] =
    replayEmissions(events, Seq(jt)).map { case ((_, e), n) => e -> n }

  /** `batchSizes`: how many events to feed per micro-batch — 1 is the
    * original one-event-per-trigger feed; larger batches exercise the
    * intra-trigger (seq, side) reordering, where several changes for
    * one key (from both sides) land in a single group iterator. */
  private def streamEmissions(jt: String, batchSize: Int): Map[Emit, Int] = {
    implicit val sq = spark.sqlContext
    val lIn = MemoryStream[(P, String, Long)]
    val rIn = MemoryStream[(P, String, Long)]
    val joined = StreamingChangelogJoin.join[String, P, P](
      lIn.toDS(), rIn.toDS(), _._1, _._1, jt)
    val name = s"scj_${jt}_$batchSize"
    def feed(batch: Seq[((Int, String, Int, String), Int)]): Unit =
      batch.foreach { case ((side, k, tag, kind), i) =>
        if (side == 0) lIn.addData(((k, tag), kind, i.toLong))
        else rIn.addData(((k, tag), kind, i.toLong))
      }
    val batches = events.zipWithIndex.grouped(batchSize).toSeq
    // the first batch is staged before the query starts: a running query
    // reads the two sources' offsets one after the other, so a trigger
    // can fire between two addData calls and split a batch that was
    // meant as one trigger into non-prefix pieces
    feed(batches.head)
    val q = joined.toDF("kind", "l", "r").writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      batches.tail.foreach { batch =>
        feed(batch)
        q.processAllAvailable()
      }
      spark.table(name)
        .select(col("l"), col("r"), col("kind"))
        .as[(Option[P], Option[P], String)]
        .collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    } finally q.stop()
  }

  Seq("inner", "left", "full").foreach { jt =>
    test(s"streaming $jt join emits exactly the batch replay's multiset") {
      val got = streamEmissions(jt, batchSize = 1)
      val want = batchEmissions(jt)
      assert(got == want, s"\n got=$got\n want=$want")
    }
    test(s"streaming $jt join: whole history in ONE trigger still " +
        "matches the batch replay") {
      val got = streamEmissions(jt, batchSize = events.size)
      val want = batchEmissions(jt)
      assert(got == want, s"\n got=$got\n want=$want")
    }
  }
  test("streaming full join at mixed trigger granularity matches") {
    assert(streamEmissions("full", batchSize = 4) == batchEmissions("full"))
  }

  test("state drops dead contents (net-zero entries leave the multiset)") {
    implicit val sq = spark.sqlContext
    val lIn = MemoryStream[(P, String, Long)]
    val rIn = MemoryStream[(P, String, Long)]
    val joined = StreamingChangelogJoin.join[String, P, P](
      lIn.toDS(), rIn.toDS(), _._1, _._1, "inner")
    val q = joined.toDF("kind", "l", "r").writeStream
      .format("memory").queryName("scj_state")
      .outputMode(OutputMode.Append()).start()
    try {
      lIn.addData((("a", 1), "+I", 0L)); q.processAllAvailable()
      lIn.addData((("a", 1), "-D", 1L)); q.processAllAvailable()
      // the left side is empty again: a right insert must emit nothing
      rIn.addData((("a", 9), "+I", 2L)); q.processAllAvailable()
      assert(spark.table("scj_state").count() == 0)
    } finally q.stop()
  }

  // ---- parity with the batch replay on arbitrary changelogs ----

  private type Ev = (Int, String, Int, String) // (side, key, tag, kind)

  /** [[ChangelogJoin.updateStream]]'s emissions per join type,
    * seq = position in `evs`, each checked against
    * [[ChangelogJoinModel]]. A side is present when its tag is. */
  private def replayEmissions(evs: Seq[Ev], jts: Seq[String])
      : Map[(String, Emit), Int] = {
    val indexed = evs.zipWithIndex.map { case ((s, k, tag, kind), i) =>
      (s, k, tag, kind, i.toLong) }
    val (l, r) = ChangelogJoinModel.frames(spark, indexed)
    def unordered(e: Seq[ChangelogJoinModel.Emit]): Map[Emit, Int] =
      ChangelogJoinModel.multiset(e.map { case (_, _, lp, rp, k) => (lp, rp, k) })
    jts.flatMap { jt =>
      val got = unordered(ChangelogJoinModel.emissions(ChangelogJoin.updateStream(
        l, r, "lk", "rk", jt, Seq("lseq"), Seq("rseq"))))
      val want = unordered(ChangelogJoinModel.simulate(indexed, jt))
      assert(got == want, s"jt=$jt evs=$evs\n got=$got\n want=$want")
      got.map { case (e, n) => (jt, e) -> n }
    }.toMap
  }

  /** The streaming operator's emissions per join type, all join types
    * in ONE query over ONE source, so each micro-batch of `splits`
    * (event counts) arrives atomically as one trigger. */
  private def streamedEmissions(evs: Seq[Ev], jts: Seq[String],
      splits: Seq[Int], name: String): Map[(String, Emit), Int] = {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Int, P, String, Long)]
    def side(s: Int) = in.toDS().filter(_._1 == s).map(e => (e._2, e._3, e._4))
    val joined = jts.map { jt =>
      StreamingChangelogJoin.join[String, P, P](side(0), side(1),
          _._1, _._1, jt)
        .toDF("kind", "l", "r").withColumn("jt", lit(jt))
    }.reduce(_ unionByName _)
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val indexed = evs.zipWithIndex.map { case ((s, k, tag, kind), i) =>
        (s, (k, tag), kind, i.toLong) }
      splits.foldLeft(indexed) { (rest, n) =>
        in.addData(rest.take(n): _*)
        q.processAllAvailable()
        rest.drop(n)
      }
      spark.table(name)
        .select(col("jt"), col("l"), col("r"), col("kind"))
        .as[(String, Option[P], Option[P], String)]
        .collect().toSeq.map { case (jt, l, r, kind) => (jt, (l, r, kind)) }
        .groupBy(identity).view.mapValues(_.size).toMap
    } finally q.stop()
  }

  test("null join keys pad only and never associate, as in the replay") {
    val evs: Seq[Ev] = Seq(
      (0, null, 1, "+I"), (0, "a", 2, "+I"),
      (1, null, 10, "+I"), (1, "a", 20, "+I"),
      (0, null, 1, "-D"), (1, null, 11, "+I"))
    val jts = Seq("inner", "full")
    val got = streamedEmissions(evs, jts, Seq(2, 2, 2), "scj_null_keys")
    val want = replayEmissions(evs, jts)
    assert(got == want, s"\n got=$got\n want=$want")
    assert(!got.keys.exists { case (_, (l, r, _)) =>
      l.exists(_._1 == null) && r.nonEmpty })
  }

  test("a null key drops join state stored under it and keeps none") {
    // state a checkpoint written while null keys still joined could hold
    val stale = (Seq[(P, Int)](((null, 1), 1)), Seq[(P, Int)](((null, 10), 1)))
    val state = TestGroupState.create[(Seq[(P, Int)], Seq[(P, Int)])](
      Optional.of(stale), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), false)
    val out = StreamingChangelogJoin.applyKey[String, P, P]("full",
      Long.MaxValue)(null, Iterator((Some(((null, 2), "+I", 5L)), None)),
      state).toSeq
    assert(out == Seq(("+I", Some((null, 2)), None)))
    assert(state.isRemoved && !state.exists)
  }

  test("property: streaming ≡ replay on seeded changelogs with repeats, " +
      "early retractions and null keys, at random trigger splits") {
    val jts = Seq("inner", "left", "right", "full")
    val kinds = Seq("+I", "+I", "-U", "+U", "-D")
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // no liveness filter: retractions of contents not yet inserted
      // (negative nets) are part of the input space
      val evs: Seq[Ev] = Seq.fill(12)((rnd.nextInt(2),
        Seq("a", "b", null)(rnd.nextInt(3)), 1 + rnd.nextInt(2),
        kinds(rnd.nextInt(kinds.size))))
      val sizes = Iterator.unfold(evs.size) { rest =>
        Option.when(rest > 0) {
          val n = math.min(rest, 1 + rnd.nextInt(5)); (n, rest - n) }
      }.toSeq
      val got = streamedEmissions(evs, jts, sizes, s"scj_prop_$seed")
      val want = replayEmissions(evs, jts)
      assert(got == want, s"seed=$seed evs=$evs splits=$sizes" +
        s"\n got=$got\n want=$want")
    }
  }
}
