package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Only jobs tagged with the
  * block's own job group are counted (AQE submits map stages from other
  * threads, but with the caller's local properties), so jobs of other
  * work on the shared session do not leak into the count. */
object JobCount {
  private val groups = new AtomicInteger(0)

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${groups.incrementAndGet()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
