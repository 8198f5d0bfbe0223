package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on idle-state TTL in main code: processing-time timeouts
  * are chosen and armed only in `streaming.IdleStateTtl`, the one
  * statement of the rule, and no operator sets a store-native
  * `TTLConfig`. `TTLConfig.NONE` stays allowed: Spark's
  * `getValueState` has no overload without a TTL argument. */
class StateTtlRuleSpec extends AnyFunSuite {

  test("idle-state TTL is set up only in IdleStateTtl; no store-native TTLConfig") {
    val root = Paths.get("src/main/scala")
    val ruleFile = root.resolve("graft/streaming/StatefulOps.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    // (file:line, code, inside the rule object) of every non-comment line
    val code = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toSeq
      val start =
        if (f != ruleFile) -1
        else lines.indexWhere(_.startsWith("private[streaming] object IdleStateTtl"))
      val end = if (start < 0) -1 else lines.indexWhere(_ == "}", start)
      lines.zipWithIndex.collect {
        case (line, i) if !isComment(line) =>
          (s"${root.relativize(f)}:${i + 1}", line, i > start && i < end)
      }
    }
    assert(code.exists(_._3), s"IdleStateTtl not found in $ruleFile")
    def outside(token: String) =
      code.collect { case (at, line, false) if line.contains(token) => at }
    assert(outside("ProcessingTimeTimeout").isEmpty,
      "processing-time timeout chosen outside IdleStateTtl.timeout: " +
        outside("ProcessingTimeTimeout").mkString(", "))
    assert(outside("setTimeoutDuration").isEmpty,
      "timeout armed outside IdleStateTtl: " +
        outside("setTimeoutDuration").mkString(", "))
    val storeTtl = code.collect { case (at, line, _)
      if line.replace("TTLConfig.NONE", "").contains("TTLConfig") => at }
    assert(storeTtl.isEmpty,
      "store-native TTLConfig in main code; use stateTtlMs: " +
        storeTtl.mkString(", "))
  }
}
