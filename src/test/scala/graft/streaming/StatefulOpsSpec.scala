package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

case class Ev(k: String, seq: Long, v: Double)

class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  private def runUpdateQuery[T](ds: org.apache.spark.sql.Dataset[T],
      name: String, mode: OutputMode = OutputMode.Update())(
      feed: => Unit): Unit = {
    val q = ds.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try { feed; q.processAllAvailable() } finally q.stop()
  }

  test("keepLast emits latest row per key across micro-batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepLast[String, Ev](in.toDS(), _.k, _.seq)
    val q = out.writeStream.format("memory").queryName("kl")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Ev("a", 1, 1.0), Ev("a", 3, 3.0), Ev("b", 1, 10.0))
      q.processAllAvailable()
      in.addData(Ev("a", 2, 2.0)) // stale: must NOT override seq 3
      in.addData(Ev("b", 5, 50.0))
      q.processAllAvailable()
      val rows = spark.table("kl").as[Ev].collect()
      // last emission per key wins
      val latest = rows.groupBy(_.k).map { case (k, rs) => k -> rs.last }
      assert(latest("a").seq == 3)
      assert(rows.filter(_.k == "b").map(_.seq).contains(5L))
    } finally q.stop()
  }

  test("keepLast dedups per key under the RocksDB state store provider") {
    implicit val sq = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Ev]
    val out = StatefulOps.keepLast[String, Ev](in.toDS(), _.k, _.seq)
    val q = out.writeStream.format("memory").queryName("kl_rocksdb")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("kl-rocksdb-ckpt").toString)
      .outputMode(OutputMode.Update())
      .start()
    try {
      in.addData(Ev("a", 1, 1.0), Ev("a", 3, 3.0))
      q.processAllAvailable()
      in.addData(Ev("a", 2, 2.0)) // stale
      in.addData(Ev("b", 7, 7.0))
      q.processAllAvailable()
      val rows = spark.table("kl_rocksdb").as[Ev].collect()
      val latest = rows.groupBy(_.k).map { case (k, rs) => k -> rs.last.seq }
      assert(latest("a") == 3 && latest("b") == 7)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("topN maintains per-key ranking in state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.topN[String, Ev](in.toDS(), _.k, _.v, 2)
    val q = out.writeStream.format("memory").queryName("tn")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Ev("a", 1, 5.0), Ev("a", 2, 9.0), Ev("a", 3, 1.0))
      q.processAllAvailable()
      in.addData(Ev("a", 4, 7.0)) // displaces 5.0 at rank 2
      q.processAllAvailable()
      val last = spark.table("tn").as[(String, Int, Ev)].collect()
        .filter(_._3.seq == 4) // emitted in the refresh containing seq 4
      val refreshed = spark.table("tn").as[(String, Int, Ev)].collect()
        .groupBy(_._2).map { case (rank, rs) => rank -> rs.last._3.v }
      assert(refreshed(1) == 9.0 && refreshed(2) == 7.0)
    } finally q.stop()
  }

  test("countWindow emits complete windows of exactly `size` rows") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.countWindow[String, Ev](in.toDS(), _.k, 3)
    val q = out.writeStream.format("memory").queryName("cw")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Ev("a", 1, 1), Ev("a", 2, 2))
      q.processAllAvailable()
      assert(spark.table("cw").count() == 0) // window incomplete
      in.addData(Ev("a", 3, 3), Ev("a", 4, 4))
      q.processAllAvailable()
      val wins = spark.table("cw").as[(String, Long, Seq[Ev])].collect()
      assert(wins.length == 1)
      assert(wins.head._2 == 0L && wins.head._3.map(_.seq) == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("runningSum accumulates across micro-batches in ts order") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StatefulOps.runningSum[String, Ev](in.toDS(), _.k, _.seq, _.v)
    val q = out.writeStream.format("memory").queryName("rs")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Ev("a", 2, 2.0), Ev("a", 1, 1.0)) // out of order in batch
      q.processAllAvailable()
      in.addData(Ev("a", 3, 3.0))
      q.processAllAvailable()
      val rows = spark.table("rs").as[(String, Long, Double)].collect()
        .map(r => r._2 -> r._3).toMap
      assert(rows(1L) == 1.0 && rows(2L) == 3.0 && rows(3L) == 6.0)
    } finally q.stop()
  }
}
