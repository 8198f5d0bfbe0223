package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

case class LRow(k: Long, lv: String)
case class RRow(k: Long, rv: String)
case class SLRow(k: String, lv: String)
case class SRRow(k: String, rv: String)

class StreamingOuterJoinSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String)(
      build: (MemoryStream[LRow], MemoryStream[RRow]) =>
        org.apache.spark.sql.Dataset[StreamingOuterJoin.Out[LRow, RRow]])(
      feed: (MemoryStream[LRow], MemoryStream[RRow],
        org.apache.spark.sql.streaming.StreamingQuery) => Unit)
      : Seq[StreamingOuterJoin.Out[LRow, RRow]] = {
    implicit val sq = spark.sqlContext
    val l = MemoryStream[LRow]
    val r = MemoryStream[RRow]
    val q = build(l, r).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try { feed(l, r, q) } finally q.stop()
    spark.table(name)
      .as[(String, Option[LRow], Option[RRow])].collect().toSeq
  }

  test("left outer: eager null padding, retracted when the match arrives") {
    val em = run("soj_left") { (l, r) =>
      StreamingOuterJoin.leftOuter[Long, LRow, RRow](
        l.toDS(), r.toDS(), _.k, _.k)
    } { (l, r, q) =>
      l.addData(LRow(1, "l1"))
      q.processAllAvailable() // no match yet -> +I (l1, NULL)
      r.addData(RRow(1, "r1"))
      q.processAllAvailable() // -D (l1, NULL), +I (l1, r1)
      l.addData(LRow(1, "l2"))
      q.processAllAvailable() // match exists -> only +I (l2, r1)
      r.addData(RRow(2, "r_unmatched"))
      q.processAllAvailable() // left outer: unmatched right emits nothing
    }
    assert(em.contains(("+I", Some(LRow(1, "l1")), None)))
    assert(em.contains(("-D", Some(LRow(1, "l1")), None)))
    assert(em.contains(("+I", Some(LRow(1, "l1")), Some(RRow(1, "r1")))))
    assert(em.contains(("+I", Some(LRow(1, "l2")), Some(RRow(1, "r1")))))
    assert(!em.exists(e => e._3.contains(RRow(2, "r_unmatched"))))
    // materialized changelog == batch LEFT OUTER JOIN
    val mat = StreamingOuterJoin.materialize(em).toSet
    assert(mat == Set(
      (Some(LRow(1, "l1")), Some(RRow(1, "r1"))),
      (Some(LRow(1, "l2")), Some(RRow(1, "r1")))))
  }

  test("full outer materializes to the batch FULL OUTER JOIN under interleaving") {
    val lefts = Seq(LRow(1, "a"), LRow(2, "b"), LRow(2, "b2"), LRow(3, "c"))
    val rights = Seq(RRow(2, "x"), RRow(3, "y"), RRow(3, "y2"), RRow(4, "z"))
    val em = run("soj_full") { (l, r) =>
      StreamingOuterJoin.fullOuter[Long, LRow, RRow](
        l.toDS(), r.toDS(), _.k, _.k)
    } { (l, r, q) =>
      // interleave one row at a time, alternating sides
      lefts.zipAll(rights, null, null).foreach { case (lr, rr) =>
        if (lr != null) { l.addData(lr); q.processAllAvailable() }
        if (rr != null) { r.addData(rr); q.processAllAvailable() }
      }
    }
    val mat = StreamingOuterJoin.materialize(em)
      .map { case (lo, ro) => (lo.map(_.lv), ro.map(_.rv)) }.toSet
    val expected = spark.createDataset(lefts).toDF("k", "lv")
      .join(spark.createDataset(rights).toDF("k2", "rv"),
        $"k" === $"k2", "full_outer")
      .select($"lv", $"rv").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSet
    assert(mat == expected)
  }

  test("null keys never join each other: their rows only pad (full and left outer)") {
    implicit val sq = spark.sqlContext
    val lefts = Seq(SLRow(null, "ln1"), SLRow("a", "la"), SLRow(null, "ln2"))
    val rights = Seq(SRRow(null, "rn1"), SRRow("a", "ra"), SRRow(null, "rn2"))
    Seq("full_outer" -> true, "left_outer" -> false).foreach {
      case (jt, padRight) =>
        val l = MemoryStream[SLRow]
        val r = MemoryStream[SRRow]
        val name = s"soj_null_$jt"
        val q = StreamingOuterJoin.outer[String, SLRow, SRRow](
            l.toDS(), r.toDS(), _.k, _.k, padLeft = true, padRight = padRight)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update()).start()
        try {
          // one side per trigger, then both null keys in one trigger
          l.addData(lefts(0)); q.processAllAvailable()
          r.addData(rights(0)); q.processAllAvailable()
          l.addData(lefts(1)); q.processAllAvailable()
          r.addData(rights(1)); q.processAllAvailable()
          l.addData(lefts(2)); r.addData(rights(2)); q.processAllAvailable()
        } finally q.stop()
        val em = spark.table(name)
          .as[(String, Option[SLRow], Option[SRRow])].collect().toSeq
        assert(!em.exists { case (_, lo, ro) =>
          lo.exists(_.k == null) && ro.nonEmpty }, s"$jt: $em")
        val mat = StreamingOuterJoin.materialize(em)
          .map { case (lo, ro) => (lo.map(_.lv), ro.map(_.rv)) }.sorted
        val expected = lefts.toDF("k", "lv")
          .join(rights.toDF("k2", "rv"), $"k" === $"k2", jt)
          .select($"lv", $"rv").collect()
          .map(r => (Option(r.getString(0)), Option(r.getString(1))))
          .toSeq.sorted
        assert(mat == expected, s"$jt: $em")
    }
  }

  test("state TTL expires stale rows so late arrivals re-pad") {
    val em = run("soj_ttl") { (l, r) =>
      StreamingOuterJoin.leftOuter[Long, LRow, RRow](
        l.toDS(), r.toDS(), _.k, _.k, stateTtlMs = 1L)
    } { (l, r, q) =>
      l.addData(LRow(7, "old"))
      q.processAllAvailable()
      Thread.sleep(50) // let the TTL lapse
      r.addData(RRow(7, "late_match"))
      q.processAllAvailable() // left state expired: no join, no retraction
    }
    assert(em.contains(("+I", Some(LRow(7, "old")), None)))
    assert(!em.exists(_._1 == "-D"))
    assert(!em.exists(e => e._3.contains(RRow(7, "late_match"))))
  }
}
