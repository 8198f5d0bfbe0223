package graft.functions

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.api.TableEnv
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal

class RegisterSpec extends SparkSpec {

  private def info(s: org.apache.spark.sql.SparkSession, name: String) =
    s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))

  /** Log lines that mention a replaced function while `body` runs. */
  private def replacements(body: => Unit): Seq[String] = {
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("register-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    lines.asScala.toSeq.filter(_.contains("replaced a previously registered"))
  }

  test("functions register once per session; a new session still gets them") {
    TableEnv(spark)
    val before = Seq("split_index", "clean_text", "weighted_avg")
      .map(n => n -> info(spark, n).get)
    // the capture sees a replacement when one happens
    val reg = spark.sessionState.functionRegistry
    assert(replacements {
      (1 to 2).foreach(_ => reg.createOrReplaceTempFunction(
        "register_spec_probe", _ => Literal(1), "built-in"))
    }.nonEmpty)
    reg.dropFunction(FunctionIdentifier("register_spec_probe"))
    // a second TableEnv on the same session replaces nothing
    assert(replacements {
      TableEnv(spark)
      graft.functions.register(spark)
    }.isEmpty)
    before.foreach { case (n, i) => assert(info(spark, n).get eq i, n) }
    val q = "SELECT split_index('a-b-c', '-', 1) AS r"
    assert(spark.sql(q).head().getString(0) == "b")
    // a new session has its own registry and gets its own registration
    val other = spark.newSession()
    TableEnv(other)
    assert(info(other, "weighted_avg").isDefined)
    assert(other.sql(q).head().getString(0) == "b")
    assert(spark.sql(q).head().getString(0) == "b")
  }
}
