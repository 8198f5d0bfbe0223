package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on direct `localCheckpoint` calls in main code: every
  * checkpoint should go through `operators.Checkpoints`, whose handle
  * releases the blocks deterministically. The bound is the count left
  * today; lower it as call sites move, never raise it. */
class CheckpointCallsSpec extends AnyFunSuite {

  private val MaxDirectCalls = 10

  test("direct localCheckpoint calls outside Checkpoints do not grow") {
    val root = Paths.get("src/main/scala")
    val exempt = root.resolve("graft/operators/Checkpoints.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != exempt).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val calls: Seq[(Path, Int)] = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) && line.contains(".localCheckpoint(") =>
          (root.relativize(f), i + 1)
      }
    }
    assert(calls.size <= MaxDirectCalls,
      s"${calls.size} direct localCheckpoint calls (bound $MaxDirectCalls); " +
        "use operators.Checkpoints.tracked:\n" + calls.mkString("\n"))
  }
}
