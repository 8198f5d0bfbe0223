package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against the compiled
  * program and writes `<out>/result.json`. `perfbench/run.py` launches it
  * and turns the result into the benchmark's metrics.
  *
  * Arguments are `key=value` pairs:
  *   workload  batch_small | batch_heavy | stream_window | stream_changelog
  *   data      generated inputs of this run
  *   out       scratch directory of this run (results, sink, checkpoint)
  *   seconds   minimum timed length
  *   trace     1 to record spans and per-layer counters
  *   queries   batch: comma-separated registry names, one round's ops
  *   warmup    streams: micro-batches of the untimed warm-up round
  *   batches   streams: micro-batches per timed round
  *   rounds    streams: timed rounds available
  *
  * The session settings are those of `graft.Bench`, with the core count
  * fixed: local[4], four shuffle partitions, AQE on, UTC, no UI. */
object Harness {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('=')
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val out = args("out")
    HeapPeak.install()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer =
      if (args("trace") == "1") {
        val t = new Tracer(spark)
        spark.listenerManager.register(t)
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None
    val run = Run(spark, args, tracer)
    val result =
      try args("workload") match {
        case "batch_small" | "batch_heavy" => Batch.run(run)
        case "stream_window" => Streams.window(run)
        case "stream_changelog" => Streams.changelog(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    val json = Json(result ++ Map("rss_peak_mb" -> Run.rssPeakMb,
      "heap_peak_mb" -> HeapPeak.mb,
      "spans" -> tracer.map(_.spans.toSeq.map { s =>
        Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "op" -> s.op)
      }).getOrElse(Nil)))
    Files.writeString(Paths.get(s"$out/result.json"), json)
  }
}

/** What every workload needs: the session, its arguments, the tracer,
  * and the clock conventions shared by spans and op timings. */
final case class Run(spark: SparkSession, args: Map[String, String],
    tracer: Option[Tracer]) {
  val seconds: Double = args("seconds").toDouble
  val data: String = args("data")
  val out: String = args("out")
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def epochMs(nanos: Long): Double = msBase + (nanos - nanoBase) / 1e6

  /** Seconds from JVM start to now: the benchmark's `setup_s`. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Timed rounds continue until both the time and the op count are
    * reached; a round is never cut short. */
  def wantMore(startNanos: Long, ops: Int): Boolean =
    (System.nanoTime() - startNanos) / 1e9 < seconds || ops < Run.MinOps
}

object Run {
  /** Fewest timed ops of any run. */
  val MinOps = 40

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** Peak heap in use right after a garbage collection, over the whole
  * run: what the program keeps live (cached data, state, buffers), plus
  * garbage promoted since the last old-generation cycle. Unlike the
  * resident set it does not follow how far the collector has chosen to
  * grow the heap. */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(
        (n: Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }, null, null)
      case _ =>
    }

  def mb: Double = peak / 1048576.0
}
