package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Batch workloads: an op is one registry query (`QueryDef.run`, then the
  * noop sink). A round runs every listed query once, in order. */
object Batch {
  /** Untimed rounds before the first timed op. */
  val WarmupRounds = 5

  /** Frees what an op left cached, as `graft.Bench` does between queries. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val defs = r.args("queries").split(",").toSeq.map(graft.Registry.byName)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(r.out, "oracles.json"),
      Json(defs.map(q => q.name -> q.oracle.getOrElse("")).toMap))

    // registration: every table resolved and registered as a view
    graft.core.Tables.registerAll(spark, r.data)
    // warm-up: the first round writes each op's result for the output
    // check, which runs after the JVM exits; the further rounds run to the
    // noop sink, so the timed ops run on JIT-compiled code
    for (round <- 0 until WarmupRounds; q <- defs) {
      try {
        val df = q.run(spark, r.data)
        if (round == 0)
          df.coalesce(1).write.mode("overwrite").parquet(s"${r.out}/results/${q.name}")
        else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${q.name} failed: $e")
      }
      release(spark)
    }
    val setupS = r.sinceJvmStart()

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val start = System.nanoTime()
    var rounds = 0
    while (r.wantMore(start, ops.size)) {
      defs.foreach { q =>
        val i = ops.size
        val ids = r.tracer.map(t => (t.newId(), t.newId(), t.newId()))
        for (t <- r.tracer; (_, build, action) <- ids) t.beginOp(i, build, action)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        var t1 = t0
        var built: Option[org.apache.spark.sql.DataFrame] = None
        val ok =
          try {
            val df = q.run(spark, r.data)
            built = Some(df)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${q.name} failed: $e")
            false
          }
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        ops += Map("name" -> q.name, "ms" -> (t2 - t0) / 1e6, "ok" -> ok)
        for (t <- r.tracer; (root, build, action) <- ids) {
          built.foreach(df => t.addPlan(df.queryExecution, phasesOnly = true))
          t.drain()
          t.span(root, "op", r.epochMs(t0), r.epochMs(t2), 0L)
          t.span(build, "build", r.epochMs(t0), r.epochMs(t1), root)
          t.span(action, "action", r.epochMs(t1), r.epochMs(t2), root)
          val sc = spark.sparkContext
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          layers += t.endOp(r.epochMs(t0), r.epochMs(t1)) ++ Map(
            "queries.build_ms" -> (t1 - t0) / 1e6,
            "codegen.compiles" -> compiles.toDouble,
            // CodegenMetrics keeps a sampled histogram of compile times,
            // so the op's compile time is its count times the sampled mean
            "codegen.compile_ms" -> compiles *
              CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
            "checkpoint.rdds_left" -> sc.getPersistentRDDs.size.toDouble,
            "checkpoint.bytes_left" -> sc.getRDDStorageInfo
              .map(s => (s.memSize + s.diskSize).toDouble).sum)
        }
        release(spark)
      }
      rounds += 1
    }
    Map("setup_s" -> setupS, "ops" -> ops.toSeq, "rounds" -> rounds,
      "layers" -> layers.toSeq)
  }
}
