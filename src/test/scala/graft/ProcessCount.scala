package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Records the operating-system processes the JVM starts while a block
  * runs: an in-process JFR recording of `jdk.ProcessStart` events with
  * their stack traces. Starts from every thread of the JVM count, not
  * only the caller's. */
object ProcessCount {

  /** One process start: its command line and its stack, innermost frame
    * first, as `class.method`. */
  final case class Start(command: String, frames: Seq[String]) {
    def from(cls: String): Boolean = frames.exists(_.startsWith(cls + "."))
  }

  def apply[T](body: => T): (T, Seq[Start]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      val file = Files.createTempFile("graft-process-count", ".jfr")
      try {
        rec.dump(file)
        val starts = RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map { e =>
            val frames = Option(e.getStackTrace).toSeq
              .flatMap(_.getFrames.asScala)
              .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
            Start(e.getString("command"), frames)
          }
        (out, starts)
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }
}
