package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{ProcessCount, SparkSpec}
import graft.core.{NioLocalFileSystem, NioLocalFs}

/** The streaming path's local file I/O end to end: a
  * [[StreamingChangelogJoin]] over two parquet file sources (one file per
  * side per micro-batch) with a checkpoint, to a parquet file sink. Every
  * micro-batch writes the offsets and commit logs, the sources' and the
  * sink's metadata logs and one state-store delta per partition. */
class FileCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private type P = (Long, Long, Long) // (id, k, v)
  private type Change = (Long, Long, Long, String, Long) // (id, k, v, kind, seq)

  /** `n` micro-batches of changes per side: inserts, updates (-U and +U)
    * and deletes of live rows, over six join keys so both sides meet.
    * One sequence number orders the changes of both sides. */
  private def changes(n: Int): Seq[Seq[Seq[Change]]] = {
    val rnd = new scala.util.Random(7)
    var seq, ids = 0L
    def next(): Long = { seq += 1; seq }
    val live = Seq.fill(2)(mutable.LinkedHashMap.empty[Long, (Long, Long)])
    Seq.fill(n)(live.map { rows =>
      (0 until 12).flatMap { _ =>
        val pick = rnd.nextInt(10)
        if (rows.isEmpty || pick < 5) {
          ids += 1
          val (k, v) = (rnd.nextInt(6).toLong, rnd.nextInt(100).toLong)
          rows(ids) = (k, v)
          Seq((ids, k, v, "+I", next()))
        } else {
          val id = rows.keys.toSeq(rnd.nextInt(rows.size))
          val (k, v) = rows(id)
          if (pick < 8) {
            rows(id) = (k, v + 1)
            Seq((id, k, v, "-U", next()), (id, k, v + 1, "+U", next()))
          } else {
            rows.remove(id)
            Seq((id, k, v, "-D", next()))
          }
        }
      }
    })
  }

  private val t0 = System.currentTimeMillis()

  /** Writes micro-batches `range` of `batches` into `dir/left` and
    * `dir/right`, one parquet file per side each, stamped in batch order
    * (a file source reads the oldest unread file first). */
  private def stage(dir: Path, batches: Seq[Seq[Seq[Change]]], range: Range): Unit =
    for (b <- range; (side, rows) <- Seq("left", "right").zip(batches(b))) {
      val tmp = dir.resolve(s"staging-$side-$b")
      rows.toDF("id", "k", "v", "kind", "seq").coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val to = Files.createDirectories(dir.resolve(side)).resolve(f"part-$b%05d.parquet")
      Files.setLastModifiedTime(Files.move(part, to), FileTime.fromMillis(t0 + b * 1000L))
    }

  private def start(dir: Path): StreamingQuery = {
    def side(name: String) = spark.readStream
      .schema("id BIGINT, k BIGINT, v BIGINT, kind STRING, seq BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(dir.resolve(name).toString)
      .select(struct(col("id"), col("k"), col("v")), col("kind"), col("seq"))
      .as[(P, String, Long)]
    StreamingChangelogJoin.join[Long, P, P](side("left"), side("right"),
        _._2, _._2, "inner")
      .toDF("kind", "l", "r").writeStream.format("parquet")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .outputMode("append").start(dir.resolve("sink").toString)
  }

  /** The sink's committed emissions, as a multiset. */
  private def emitted(dir: Path): Map[(String, P, P), Int] =
    spark.read.parquet(dir.resolve("sink").toString)
      .select("kind", "l", "r").as[(String, P, P)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap

  /** Signed count per joined pair: +I and +U add one, -U and -D take one. */
  private def net(e: Map[(String, P, P), Int]): Map[(P, P), Int] =
    e.toSeq.groupMapReduce { case ((_, l, r), _) => (l, r) } {
      case ((kind, _, _), n) => if (kind.startsWith("+")) n else -n
    }(_ + _).filter(_._2 != 0)

  test("a checkpointed file-to-file stream starts no process from Hadoop's Shell") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
    val dir = Files.createTempDirectory("graft-file-checkpoint")
    stage(dir, changes(3), 0 until 3)
    val (batches, starts) = ProcessCount {
      val q = start(dir)
      try {
        q.processAllAvailable()
        q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    assert(batches == 3)
    assert(emitted(dir).nonEmpty)
    val shell = starts.filter(_.from("org.apache.hadoop.util.Shell"))
    assert(shell.isEmpty, s"${shell.size} of ${starts.size} process starts " +
      s"from Hadoop's Shell, first: ${shell.headOption}")
  }

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // where a crash after batch 2 wrote its state can fall: after the sink
  // committed the batch (the restart finds the sink's log entry and skips
  // the batch) or before (the restart runs batch 2 again and rewrites its
  // state-store files); batches 3-4 read that state
  private val (commitLog, sinkLog) = ("checkpoint/commits", "sink/_spark_metadata")
  private val crashes = Seq(
    "after the sink commit" -> Seq(commitLog),
    "before the sink commit" -> Seq(commitLog, sinkLog))

  for ((provider, providerClass) <- Seq("HDFS-backed" -> None,
      "RocksDB" -> Some(RocksProvider)); (crash, logs) <- crashes) {
    test(s"a restart after a crash $crash equals an uninterrupted run " +
        s"[$provider provider]") {
      val key = "spark.sql.streaming.stateStore.providerClass"
      providerClass.foreach(spark.conf.set(key, _))
      try {
        val batches = changes(5)
        val whole = Files.createTempDirectory("graft-file-checkpoint")
        stage(whole, batches, 0 until 5)
        val q = start(whole)
        try q.processAllAvailable() finally q.stop()

        val cut = Files.createTempDirectory("graft-file-checkpoint")
        stage(cut, batches, 0 until 3)
        val first = start(cut)
        try first.processAllAvailable() finally first.stop()
        for (log <- logs; f <- Seq("2", ".2.crc"))
          Files.delete(cut.resolve(log).resolve(f))
        stage(cut, batches, 3 until 5)
        val again = start(cut)
        try {
          again.processAllAvailable()
          val rerun = again.recentProgress.head
          assert(rerun.batchId == 2L)
          assert((rerun.numInputRows > 0) == logs.contains(sinkLog))
        } finally again.stop()

        val want = emitted(whole)
        assert(net(want).nonEmpty)
        assert(net(emitted(cut)) == net(want))
        assert(emitted(cut) == want)
      } finally providerClass.foreach(_ => spark.conf.unset(key))
    }
  }
}
