package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming RANGE-bounded OVER aggregate and the CURRENT_WATERMARK
  * surface. */
class RangeOverWatermarkSpec extends SparkSpec {
  import spark.implicits._

  private def wev(k: String, ts: Long, v: Double) =
    WEv(k, ts, v, new Timestamp(ts))

  test("rangeBoundedSum sums values within the trailing time range") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[WEv]
    val src = in.toDS().withWatermark("ets", "0 seconds")
    val out = StatefulOps.rangeBoundedSum[String, WEv](
      src, _.k, _.ts, _.v, rangeMs = 1000)
    val q = out.writeStream.format("memory").queryName("range_over")
      .outputMode(OutputMode.Append()).start()
    try {
      // out-of-order arrival; ranges: [t-1000, t]
      in.addData(wev("k", 2000, 2), wev("k", 1000, 1), wev("k", 2500, 4))
      q.processAllAvailable()
      in.addData(wev("k", 9000, 9))  // advance watermark past 2500
      q.processAllAvailable()
      in.addData(wev("k", 20000, 0)) // flush 9000
      q.processAllAvailable()
      val rows = spark.table("range_over").as[(String, Long, Double)]
        .collect().map(r => r._2 -> r._3).toMap
      assert(rows(1000L) == 1.0)        // only itself
      assert(rows(2000L) == 3.0)        // 1000 within [1000, 2000]
      assert(rows(2500L) == 6.0)        // 2000 + 2500 (1000 fell out)
      assert(rows(9000L) == 9.0)        // everything else out of range
    } finally q.stop()
  }

  test("withCurrentWatermarkTws: per-row CURRENT_WATERMARK equals the " +
      "per-batch progress watermark") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sq = spark.sqlContext
    try {
      val in = MemoryStream[WEv]
      val src = in.toDS().withWatermark("ets", "0 seconds")
      val out = Watermarks.withCurrentWatermarkTws[String, WEv](src, _.k)
        .map { case (e, wm) => (e.ts, wm) }
      val q = out.writeStream.format("memory").queryName("wm_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(wev("k", 5000, 1)); q.processAllAvailable()
        in.addData(wev("k", 6000, 2), wev("k", 5500, 3)); q.processAllAvailable()
        in.addData(wev("k", 7000, 4)); q.processAllAvailable()
        val rows = spark.table("wm_tws").as[(Long, Long)].collect().toMap
        // the operator's watermark per batch: 0, then max(prev batches)
        assert(rows(5000L) == 0L)
        assert(rows(6000L) == 5000L && rows(5500L) == 5000L)
        assert(rows(7000L) == 6000L)
        // and the annotation MATCHES the engine's own per-batch progress
        // record (eventTime.watermark of each input-carrying batch)
        val progressWms = q.recentProgress.toSeq
          .filter(_.numInputRows > 0)
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .map(ts => java.time.Instant.parse(ts).toEpochMilli)
        assert(progressWms == Seq(0L, 5000L, 6000L),
          s"progress watermarks: $progressWms")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("withCurrentWatermark annotates rows with the observed watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[WEv]
    val src = in.toDS().withWatermark("ets", "0 seconds")
    val out = Watermarks.withCurrentWatermark[String, WEv](src, _.k)
      .map { case (e, wm) => (e.ts, wm) }
    val q = out.writeStream.format("memory").queryName("wm_annot")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(wev("k", 5000, 1))
      q.processAllAvailable()
      in.addData(wev("k", 6000, 2))
      q.processAllAvailable()
      val rows = spark.table("wm_annot").as[(Long, Long)].collect().toMap
      assert(rows(5000L) == 0L)     // first batch: watermark not advanced yet
      assert(rows(6000L) == 5000L)  // second batch sees wm = max(batch1 ts)
      // the annotator is stateless: no state row per key
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).toSeq ==
        Seq(0L))
      // driver-side observability surface (progress commits lag a batch)
      assert(Watermarks.currentWatermarkMs(q).exists(_ >= 5000L))
    } finally q.stop()
  }
}
