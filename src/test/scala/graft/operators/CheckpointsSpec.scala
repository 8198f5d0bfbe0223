package graft.operators

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("trackedMeasured: one job over a leaf input; scalars equal a separate agg") {
    val df = (1 to 1000).map(i => (i.toLong, (i % 7).toDouble)).toDF("id", "v")
    val scalars = Seq(count(lit(1)), sum(col("id")), max(col("v")), min(col("v")))
    val ((out, row, release), jobs) =
      JobCount(spark)(Checkpoints.trackedMeasured(df, scalars: _*))
    assert(jobs == 1, s"checkpoint and scalars must share one job, saw $jobs")
    assert(row == df.agg(scalars.head, scalars.tail: _*).head())
    assert(row.getLong(0) == 1000L && row.getLong(1) == 500500L &&
      row.getDouble(2) == 6.0 && row.getDouble(3) == 0.0)
    // the frame is the materialized checkpoint: reading it re-runs no
    // upstream work and carries no observation of its own
    assert(out.queryExecution.analyzed.collectFirst {
      case m: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => m
    }.isEmpty)
    assert(out.count() == 1000L)
    release()
  }

  test("trackedMeasured over an empty frame: count 0, null sum/max") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val (out, row, release) = Checkpoints.trackedMeasured(empty,
      count(lit(1)), sum(col("id")), max(col("v")))
    assert(row.getLong(0) == 0L && row.isNullAt(1) && row.isNullAt(2))
    assert(out.isEmpty)
    release()
  }

  test("trackedMeasured: a failing job throws instead of blocking") {
    val bad = (1 to 10).map(_.toLong).toDF("id").select(
      when(col("id") === 5L, raise_error(lit("boom"))).otherwise(col("id"))
        .as("id"))
    val e = intercept[Exception](Checkpoints.trackedMeasured(bad, count(lit(1))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
  }

  /** The persistent RDDs `run` leaves behind, once the asynchronous
    * unpersists of its releases have landed (polled up to 10 s). */
  private def leftPersistent(run: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    run
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (sc.getPersistentRDDs.keySet -- before).size > 1)
      Thread.sleep(50)
    (sc.getPersistentRDDs.keySet -- before).toSet
  }

  test("iterative operators keep only the returned frame's checkpoint") {
    val cands = (1 to 6).map { i =>
      (i % 2L, i.toLong, 1.0 - i / 10.0, Array(i.toFloat, (7 - i).toFloat))
    }.toDF("qid", "id", "rel", "vec")
    var mmr: Array[org.apache.spark.sql.Row] = null
    val mmrLeft = leftPersistent {
      val out = Similarity.mmrRerank(cands, "qid", "id", "rel", "vec", k = 3)
      mmr = out.collect()
    }
    assert(mmrLeft.size == 1, s"mmrRerank left $mmrLeft persistent")
    assert(mmr.length == 6)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("s", "d")
    var comps: DataFrame = null
    val ccLeft = leftPersistent {
      comps = ConnectedComponents.components(edges, "s", "d")
    }
    assert(ccLeft.size == 1, s"components left $ccLeft persistent")
    // the surviving checkpoint is the returned labels: still readable
    assert(comps.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
