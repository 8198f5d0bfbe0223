package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

case class SEv(user: String, ts: Timestamp, v: Double)

/** Remaining §2 streaming surface: temporal sort, session windows,
  * coGroup, broadcast-state-style stream-static join. */
class MoreStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("eventTimeSort re-orders out-of-order rows on watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[WEv]
    val src = in.toDS().withWatermark("ets", "0 seconds")
    val out = StatefulOps.eventTimeSort[String, WEv](src, _.k, _.ts)
      .map(e => (e.k, e.ts))
    val q = out.writeStream.format("memory").queryName("etsort")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(WEv("a", 3000, 3, new Timestamp(3000)),
        WEv("a", 1000, 1, new Timestamp(1000)),
        WEv("a", 2000, 2, new Timestamp(2000)))
      q.processAllAvailable()
      in.addData(WEv("a", 9000, 9, new Timestamp(9000)))
      q.processAllAvailable()
      val got = spark.table("etsort").as[(String, Long)].collect().map(_._2)
      assert(got.toSeq == Seq(1000L, 2000L, 3000L))
    } finally q.stop()
  }

  test("streaming session window aggregate (10s gap)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[SEv]
    val agg = in.toDS()
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "10 seconds"), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("ss"), $"user", $"n")
    val q = agg.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(SEv("u", ts("2024-01-01 00:00:00"), 1),
        SEv("u", ts("2024-01-01 00:00:05"), 1))
      q.processAllAvailable()
      in.addData(SEv("u", ts("2024-01-01 01:00:00"), 1)) // closes session
      q.processAllAvailable()
      in.addData(SEv("u", ts("2024-01-01 02:00:00"), 1))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
      assert(rows.contains(("2024-01-01 00:00:00.0", 2L)))
    } finally q.stop()
  }

  test("streaming CUMULATE aggregate (update mode, cumulative windows)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[SEv]
    val cum = graft.operators.TimeWindows
      .cumulate(in.toDF(), "ts", 900L, 3600L)
      .groupBy($"window_start", $"window_end")
      .agg(count(lit(1)).as("n"))
    val q = cum.writeStream.format("memory").queryName("cumstream")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(SEv("u", ts("2024-01-01 00:05:00"), 1))
      q.processAllAvailable()
      in.addData(SEv("u", ts("2024-01-01 00:20:00"), 1))
      q.processAllAvailable()
      // latest revision per (start,end)
      val rows = spark.table("cumstream").collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      // both rows fall in windows ending 00:30..01:00; only the first is
      // in the 00:15 window
      assert(rows("2024-01-01 00:15:00.0") == 1L)
      assert(rows("2024-01-01 00:30:00.0") == 2L)
      assert(rows("2024-01-01 01:00:00.0") == 2L)
    } finally q.stop()
  }

  test("coGroup via KeyValueGroupedDataset.cogroup (DataStream coGroup)") {
    val a = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDS()
    val b = Seq(("k1", 10), ("k3", 30)).toDS()
    val out = a.groupByKey(_._1).cogroup(b.groupByKey(_._1)) {
      (k, as, bs) => Iterator((k, as.map(_._2).sum, bs.map(_._2).sum))
    }.collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("k1") == (3, 10))
    assert(out("k2") == (3, 0))
    assert(out("k3") == (0, 30))
  }

  test("broadcast-state pattern: stream-static join re-reads dim per batch") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-dim").toString
    Seq((1L, "x")).toDF("id", "name").write.mode("overwrite").parquet(dir)
    val dim = spark.read.parquet(dir)
    val in = MemoryStream[Long]
    val joined = graft.operators.LookupJoin.streamStatic(
      in.toDS().toDF("id"), dim, Seq("id"))
    val q = joined.writeStream.format("memory").queryName("bcast")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(1L, 2L)
      q.processAllAvailable()
      val rows = spark.table("bcast").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).contains("x") && rows(2L).isEmpty)
    } finally q.stop()
  }

  test("streaming queries probe a static PQ index (online ANN, append mode)") {
    import graft.operators.Similarity
    // static index built once: codebooks + codes for a small corpus
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cbs = Similarity.trainPq(corpus, "vec_id", "embedding",
      dim = 8, m = 4, k = 8, iters = 3)
    val codes = corpus.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), cbs).as("codes"))
    // streaming query vectors -> ADC-table projection -> stream-static
    // join against the codes -> lookup-sum score + threshold. Pure
    // append mode: no stateful op, the static side broadcasts.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val probes = in.toDF().toDF("qid", "qvec")
      .select(col("qid"), graft.operators.Similarity
        .adcTables(col("qvec"), cbs).as("qt"))
    val scored = probes.crossJoin(codes)
      .withColumn("score", Similarity.adcScore(col("codes"), col("qt")))
      .filter(col("score") > 0.5)
      .select(col("qid"), col("vec_id"), col("score"))
    val q = scored.writeStream.format("memory").queryName("pq_probe")
      .outputMode(OutputMode.Append()).start()
    try {
      val qvec = Array.tabulate(8)(d => (math.sin(7 * 8 + d) + 0.001).toFloat)
      in.addData((100L, qvec))
      q.processAllAvailable()
      val got = spark.table("pq_probe")
        .select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the planted near-identical corpus vector 7 must be a hit
      assert(got.contains((100L, 7L)), s"got $got")
      // batch equivalence: the same probe computed statically
      val batch = Seq((100L, qvec)).toDF("qid", "qvec")
        .select(col("qid"),
          Similarity.adcTables(col("qvec"), cbs).as("qt"))
        .crossJoin(codes)
        .withColumn("score", Similarity.adcScore(col("codes"), col("qt")))
        .filter(col("score") > 0.5)
        .select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch)
    } finally q.stop()
  }
}
