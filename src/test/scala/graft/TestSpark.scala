package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.status.StatusBridge

/** One shared session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, on any thread (HTTP handler
    * threads carry no job group of the caller's): job ids rise, so
    * these are the status store's ids above its highest one before
    * `body`. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    def jobIds(): Seq[Int] = { StatusBridge.drain(sc); StatusBridge.jobIds(sc) }
    val before = jobIds().maxOption.getOrElse(-1)
    body
    jobIds().count(_ > before)
  }
}
