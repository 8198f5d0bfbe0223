package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** Stream workloads: an op is one micro-batch that reads one staged file
  * per source. The generator writes `warmup` files and then `rounds`
  * rounds of `batches` files. A round is staged (hard-linked into the
  * source directory) at once and the query runs until it has processed
  * all of it; the warm-up files are one untimed round. */
object Streams {

  /** Tumbling-window aggregate, declared and written in Flink SQL through
    * `TableEnv`, to a parquet file sink. */
  def window(r: Run): Map[String, Any] = {
    val spark = r.spark
    val src = Files.createDirectories(Paths.get(r.out, "source"))
    val env = graft.api.TableEnv(spark)
    env.executeSql(s"""
      CREATE TABLE win_events (
        event_id BIGINT,
        user_id BIGINT,
        ts TIMESTAMP(3),
        amount BIGINT,
        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
      ) WITH ('connector' = 'filesystem', 'path' = '$src',
              'format' = 'parquet')""")
    // TableEnv.fromStreaming takes every new file in one trigger; the
    // same read with one file per trigger keeps batch boundaries fixed
    val spec = env.tableSpec("win_events").get
    val (tsCol, delay) = spec.watermark.get
    env.createTemporaryView("win_events_stream", spark.readStream
      .schema(spec.schema.get).format(spec.format)
      .option("maxFilesPerTrigger", "1").load(spec.path)
      .withWatermark(tsCol, delay))
    // the group-window form: the window TVF form projects window_start
    // and window_end out of the window struct, which drops the event-time
    // mark Spark needs for an append-mode streaming aggregate
    val agg = env.executeSql("""
      SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS window_start,
             TUMBLE_END(ts, INTERVAL '10' SECOND) AS window_end,
             user_id, COUNT(*) AS cnt, SUM(amount) AS total
      FROM win_events_stream
      GROUP BY TUMBLE(ts, INTERVAL '10' SECOND), user_id""")
    drive(r, agg, Seq(Paths.get(r.data) -> src))
  }

  private type P = (Long, Long, Long) // (id, k, v)

  /** Two changelog sources joined on `k` by
    * `graft.streaming.StreamingChangelogJoin`, to a parquet file sink. */
  def changelog(r: Run): Map[String, Any] = {
    val spark = r.spark
    import spark.implicits._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k", LongType), StructField("v", LongType),
      StructField("kind", StringType), StructField("seq", LongType)))
    val dirs = Seq("left", "right").map(s =>
      Paths.get(r.data, s) -> Files.createDirectories(Paths.get(r.out, s)))
    def side(dir: Path) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .select(struct(col("id"), col("k"), col("v")), col("kind"), col("seq"))
      .as[(P, String, Long)]
    val joined = graft.streaming.StreamingChangelogJoin.join[Long, P, P](
      side(dirs(0)._2), side(dirs(1)._2), _._2, _._2, "inner")
    val flat = joined.toDF("kind", "l", "r").select(col("kind"),
      col("l._1").as("l_id"), col("l._2").as("l_k"), col("l._3").as("l_v"),
      col("r._1").as("r_id"), col("r._2").as("r_k"), col("r._3").as("r_v"))
    drive(r, flat, dirs)
  }

  /** Runs `result` to a parquet sink over the staged rounds.
    * `sources` pairs each generated directory with the source directory
    * its files are staged into. */
  private def drive(r: Run, result: DataFrame,
      sources: Seq[(Path, Path)]): Map[String, Any] = {
    val warm = r.args("warmup").toInt
    val perRound = r.args("batches").toInt
    val rounds = r.args("rounds").toInt
    def stage(files: Range): Unit = files.foreach { f =>
      val name = f"part-$f%05d.parquet"
      sources.foreach { case (from, to) =>
        Files.createLink(to.resolve(name), from.resolve(name))
      }
    }
    val q: StreamingQuery = result.writeStream.format("parquet")
      .option("checkpointLocation", s"${r.out}/checkpoint")
      .outputMode("append").queryName("perfbench")
      .start(s"${r.out}/sink")
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    def collect(): Seq[StreamingQueryProgress] = {
      val last = progress.lastOption.map(_.batchId).getOrElse(-1L)
      val fresh = q.recentProgress.filter(_.batchId > last).toSeq
      progress ++= fresh
      fresh
    }
    try {
      stage(0 until warm)
      q.processAllAvailable()
      collect()
      val setupS = r.sinceJvmStart()

      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      // listener counters of the timed rounds, divided per op by run.py
      r.tracer.foreach { t => t.drain(); t.beginOp(0, 0L, 0L) }
      val start = System.nanoTime()
      var round = 0
      var timedNanos = 0L
      while (round < rounds && r.wantMore(start, ops.size)) {
        val t0 = System.nanoTime()
        stage(warm + round * perRound until warm + (round + 1) * perRound)
        q.processAllAvailable()
        timedNanos += System.nanoTime() - t0
        collect().filter(_.numInputRows > 0).foreach { p =>
          ops += Map("name" -> s"batch-${p.batchId}",
            "ms" -> p.durationMs.get("triggerExecution").toDouble, "ok" -> true,
            "batch" -> p.batchId)
        }
        round += 1
      }
      val totals = r.tracer.map { t => t.drain(); t.endOp(0.0, 0.0) }
      val timedIds = ops.map(_("batch")).toSet
      Map("setup_s" -> setupS, "ops" -> ops.toSeq, "rounds" -> round,
        "files_staged" -> (warm + round * perRound), "timed_s" -> timedNanos / 1e9,
        "late_dropped" -> progress.map(droppedByWatermark).sum,
        "totals" -> totals,
        "layers" -> r.tracer.map(t => progress.filter(p =>
          timedIds.contains(p.batchId)).map(layer(t, _)).toSeq).getOrElse(Nil))
    } finally {
      q.stop()
    }
  }

  private def droppedByWatermark(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.numRowsDroppedByWatermark).sum

  /** Per-layer counters of one timed micro-batch, from its progress
    * report; records the trigger and its phases as spans. */
  private def layer(t: Tracer, p: StreamingQueryProgress): Map[String, Double] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      .withDefaultValue(0.0)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val root = t.newId()
    t.span(root, "trigger", start, start + d("triggerExecution"), 0L)
    // the phases run one after another in this order within a trigger
    var at = start
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").filter(d.contains).foreach { k =>
      t.span(t.newId(), k, at, at + d(k), root)
      at += d(k)
    }
    val st = p.stateOperators
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      st.map(f).sum.toDouble
    Map(
      "stream.offset_ms" -> (d("latestOffset") + d("getBatch") + d("walCommit")),
      "stream.plan_ms" -> d("queryPlanning"),
      "stream.exec_ms" -> d("addBatch"),
      "stream.commit_ms" -> d("commitOffsets"),
      "state.rows_total" -> sum(_.numRowsTotal),
      "state.rows_updated" -> sum(_.numRowsUpdated),
      "state.rows_removed" -> sum(_.numRowsRemoved),
      "state.bytes" -> sum(_.memoryUsedBytes),
      "state.update_ms" -> sum(_.allUpdatesTimeMs),
      "state.removal_ms" -> sum(_.allRemovalsTimeMs),
      "state.commit_ms" -> sum(_.commitTimeMs))
  }
}
