package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.{Failed, Outcome, TestSuite, TestSuiteMixin}

/** Fails a test during which Spark's `CodeGenerator` logs "Failed to
  * compile the generated Java code": Spark then runs that stage without
  * generated code, so the failure is otherwise silent. */
trait NoCodegenFallback extends TestSuiteMixin { this: TestSuite =>
  abstract override def withFixture(test: NoArgTest): Outcome = {
    val (outcome, failed) = NoCodegenFallback.failures(super.withFixture(test))
    if (failed.isEmpty || !outcome.isSucceeded) outcome
    else Failed(s"generated code failed to compile ${failed.size} times: ${failed.head}")
  }
}

object NoCodegenFallback {
  private val message = "Failed to compile the generated Java code"

  /** `f`'s result and the compile failures `CodeGenerator` logged while
    * it ran. */
  def failures[T](f: => T): (T, Seq[String]) = {
    SparkSpec.session // its start configures logging afresh
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-codegen-failures", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (e.getLoggerName.endsWith(".CodeGenerator") && m.contains(message))
          seen.add(m + Option(e.getThrown).fold("")(t => s" ($t)"))
      }
    }
    // on the root logger, which every logger reaches: a logger config of
    // its own would change where CodeGenerator's lines go
    val root = LoggerContext.getContext(false).getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, null, null)
    try {
      val r = f
      (r, seen.asScala.toSeq)
    } finally {
      root.removeAppender(appender.getName)
      appender.stop()
    }
  }
}
