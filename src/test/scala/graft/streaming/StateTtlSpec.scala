package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** Idle state retention (the reference's table.exec.state.ttl /
  * StateTtlConfig) on the operators that share `IdleStateTtl` — the
  * changelog join and aggregate and keep-last dedup: a key whose
  * state sees no change for the TTL is dropped SILENTLY (no
  * retractions), and a later change runs against empty state — the
  * reference's documented expired-state behavior, the deliberate
  * correctness-for-boundedness trade that keeps unbounded two-sided
  * state bounded by key churn at corpus scale.
  *
  * Test discipline: with ProcessingTimeTimeout Spark re-runs batches
  * continuously (shouldRunAnotherBatch is always true while timeouts
  * are registered), so processAllAvailable never quiesces — these
  * tests poll the memory sink with a deadline instead. NO fixed sleeps
  * gate any assertion: expiry is confirmed by polling the state-store
  * metrics for the batch where the timeout actually fired
  * (numRowsTotal drops to 0 when the operator removes the key), and
  * the negative windows are bounded by OBSERVED batch count, not wall
  * time — a loaded box merely slows the test, it cannot flake it. */
class StateTtlSpec extends SparkSpec {
  import spark.implicits._

  private type P = (String, Int)

  private def awaitCount(table: String, n: Long): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (spark.table(table).count() < n && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.table(table).count() >= n,
      s"$table never reached $n rows")
  }

  /** Poll the query's progress until `pred` holds (30s deadline). */
  private def awaitProgress(q: org.apache.spark.sql.streaming.StreamingQuery,
      what: String)(
      pred: org.apache.spark.sql.streaming.StreamingQueryProgress => Boolean)
      : Unit = {
    val deadline = System.nanoTime() + 30000000000L
    def ok = Option(q.lastProgress).exists(pred)
    while (!ok && System.nanoTime() < deadline) Thread.sleep(50)
    assert(ok, s"never observed: $what (last=${Option(q.lastProgress)})")
  }

  /** State rows currently held by the (single) stateful operator. */
  private def stateRows(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    if (p.stateOperators.isEmpty) -1 else p.stateOperators(0).numRowsTotal

  /** Let `n` more batches run (timeout-registered queries batch
    * continuously) — the batch-count-bounded negative window. */
  private def awaitBatches(q: org.apache.spark.sql.streaming.StreamingQuery,
      n: Long): Unit = {
    val from = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    awaitProgress(q, s"$n further batches")(_.batchId >= from + n)
  }

  test("join state expires after the TTL: a late insert finds empty opposite state") {
    implicit val sq = spark.sqlContext
    val lIn = MemoryStream[(P, String, Long)]
    val rIn = MemoryStream[(P, String, Long)]
    val joined = StreamingChangelogJoin.join[String, P, P](
      lIn.toDS(), rIn.toDS(), _._1, _._1, "inner", stateTtlMs = 500L)
    val q = joined.writeStream.format("memory").queryName("ttl_join")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      lIn.addData((("a", 1), "+I", 0L))
      rIn.addData((("a", 10), "+I", 1L))
      awaitCount("ttl_join", 1) // state alive: the insert pair joins
      // confirm the timeout batch actually FIRED before the late
      // insert: the operator's state row count drops to zero when the
      // key is removed (no fixed sleep — the TTL may take arbitrarily
      // long on a loaded box)
      awaitProgress(q, "join state expired")(stateRows(_) == 0)
      // a fresh right insert for 'a' must find EMPTY left state: the
      // inner join emits nothing for it
      rIn.addData((("a", 11), "+I", 500L))
      // the insert is processed once its state row reappears...
      awaitProgress(q, "late insert processed")(stateRows(_) >= 1)
      // ...and the negative window is 3 OBSERVED batches after that
      awaitBatches(q, 3)
      val rows = spark.table("ttl_join").collect()
      assert(rows.length == 1,
        s"expired key must join against empty state, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("agg accumulator expires: a post-expiry change re-emits +I from zero") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Double, String, Long)]
    val out = StreamingChangelogAgg.updateStream[String](
      in.toDS(), stateTtlMs = 500L)
    val q = out.writeStream.format("memory").queryName("ttl_agg")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      in.addData(("k", 5.0, "+I", 0L))
      awaitCount("ttl_agg", 1) // +I(1, 5.0)
      // poll for the timeout batch, not the wall clock
      awaitProgress(q, "agg state expired")(stateRows(_) == 0)
      in.addData(("k", 7.0, "+I", 500L))
      awaitCount("ttl_agg", 2)
      val kRows = spark.table("ttl_agg")
        .as[(String, Long, Double, String, Long)].collect()
        .filter(_._1 == "k").map(r => (r._2, r._3, r._4)).toSet
      // expired: the second insert is a FRESH +I(1, 7.0) — not
      // -U(1,5)/+U(2,12) against the old accumulator
      assert(kRows == Set((1L, 5.0, "+I"), (1L, 7.0, "+I")),
        kRows.toString)
    } finally q.stop()
  }

  test("keepLast(stateTtlMs) dedups while live, re-emits after expiry") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[WEv]
    val out = StatefulOps.keepLast[String, WEv](
      in.toDS(), _.k, _.ts, stateTtlMs = 2000L)
    val q = out.writeStream.format("memory").queryName("ttl_keeplast")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      in.addData(WEv("a", 5000, 5, new Timestamp(5000)))
      awaitCount("ttl_keeplast", 1)
      // a stale row must NOT override while the state is live
      in.addData(WEv("a", 1000, 1, new Timestamp(1000)))
      awaitProgress(q, "stale row processed")(_ =>
        q.recentProgress.map(_.numInputRows).sum >= 2)
      assert(spark.table("ttl_keeplast").count() == 1)
      // poll for the timeout batch, not the wall clock
      awaitProgress(q, "keep-last state expired")(stateRows(_) == 0)
      // the same stale row now re-emits: the prior state expired
      in.addData(WEv("a", 1000, 1, new Timestamp(1000)))
      awaitCount("ttl_keeplast", 2)
      val got = spark.table("ttl_keeplast").as[WEv].collect()
        .filter(_.k == "a").map(_.ts)
      assert(got.toSeq == Seq(5000L, 1000L))
    } finally q.stop()
  }

  test("keepLast(stateTtlMs): a key that never gets another row leaves state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepLast[String, Ev](
      in.toDS(), _.k, _.seq, stateTtlMs = 500L)
    val q = out.writeStream.format("memory").queryName("ttl_keeplast_idle")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      in.addData(Ev("a", 1, 1.0), Ev("b", 2, 2.0))
      awaitCount("ttl_keeplast_idle", 2)
      // neither key gets another row: the timeout alone must remove them
      awaitProgress(q, "idle keys removed")(stateRows(_) == 0)
      assert(q.recentProgress.exists(stateRows(_) == 2))
      awaitBatches(q, 3)
      // expiry is silent: nothing emitted beyond the two first rows
      assert(spark.table("ttl_keeplast_idle").as[Ev].collect().toSet ==
        Set(Ev("a", 1, 1.0), Ev("b", 2, 2.0)))
    } finally q.stop()
  }

  test("default (no TTL) keeps state indefinitely — behavior unchanged") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Double, String, Long)]
    val out = StreamingChangelogAgg.updateStream[String](in.toDS())
    val q = out.writeStream.format("memory").queryName("ttl_agg_off")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(("k", 5.0, "+I", 0L))
      q.processAllAvailable()
      // negative window bounded by OBSERVED batches, not wall time
      // (no timeouts are registered without a TTL, so batches only
      // run on data): push several real batches of other-key traffic
      // between the two k-changes — k's state must survive them all
      for (i <- 1 to 3) {
        in.addData(("other", i.toDouble, "+I", i.toLong))
        q.processAllAvailable()
      }
      in.addData(("k", 7.0, "+U", 10L))
      q.processAllAvailable()
      val kinds = spark.table("ttl_agg_off")
        .as[(String, Long, Double, String, Long)].collect()
        .filter(_._1 == "k").map(_._4).toSeq.sorted
      assert(kinds == Seq("+I", "+U", "-U"), kinds.toString)
    } finally q.stop()
  }
}
