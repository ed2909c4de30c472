package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

/** A join hint the analyzer drops is a plan that differs from what its
  * author wrote, and Spark only says so in a WARN from
  * `HintErrorLogger`. This spec turns that WARN into a failure for the
  * declared training-data path. */
class IgnoredHintSpec extends AnyFunSuite {
  import TestSpark._

  /** Messages logged by `HintErrorLogger` while `body` runs, captured
    * by an appender on the root logger. */
  private def hintWarnings(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("HintErrorLogger"))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally {
      root.removeAppender(appender)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("q_train_pipeline builds and runs without an ignored join hint") {
    // released first: the cleaned-corpus memo (and the clean() run
    // behind it) must be built inside the capture, not reused from an
    // earlier suite
    queries.ExtendedQueries.releaseCaches(spark, sfTiny)
    val warnings = hintWarnings {
      Bench.benchAction(SparkEntry.queries("q_train_pipeline")(spark, sfTiny))
    }
    assert(warnings.isEmpty, warnings.mkString("\n"))
  }
}
