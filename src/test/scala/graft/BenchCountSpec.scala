package graft

import scala.collection.immutable.VectorMap
import scala.util.{Failure, Success}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.status.StatusBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.PlanAudit.walkPhysical

/** Bench's counting run (`Bench.countRun`): stages and bytes read from
  * Spark's status store after a drain of the listener bus, checked
  * against the AQE-final plan's own metrics; and Bench's JSON writer. */
class BenchCountSpec extends AnyFunSuite {
  import TestSpark._

  private def planShuffleBytes(p: SparkPlan): Long =
    walkPhysical(p).flatMap(_.metrics.get("shuffleBytesWritten").map(_.value)).sum

  private def agg = spark.range(0, 100000, 1, 8)
    .groupBy((col("id") % 32).as("k")).agg(count(lit(1)).as("c"))

  test("a one-exchange aggregate's shuffle write equals its AQE-final plan's") {
    val df = agg
    val (_, c) = Bench.countRun(spark, "one-exchange")(Bench.benchAction(df)).get
    val planBytes = planShuffleBytes(df.queryExecution.executedPlan)
    assert(planBytes > 0 && c.shuffleWrite == planBytes && c.input == 0L)
    // AQE runs the map stage as a job of its own; the result job
    // re-lists it under a new stage id that it skips
    assert(c.jobs.size == 2 && c.stageIds.size == 3)
    assert(c.stageIds == c.jobs.flatMap(_.stageIds).distinct)
  }

  test("a reused exchange's skipped stage is counted and adds 0 bytes") {
    val a = agg
    val df = a.as("x").join(a.as("y"), col("x.k") === col("y.k") + 1)
    val (_, c) = Bench.countRun(spark, "reused-exchange")(Bench.benchAction(df)).get
    val plan = df.queryExecution.executedPlan
    assert(walkPhysical(plan).exists(_.nodeName.startsWith("Reused")),
      s"no reused exchange in the final plan:\n$plan")
    val skipped = c.jobs.flatMap(_.skipped).distinct
    assert(skipped.nonEmpty && skipped.forall(c.stageIds.contains))
    // the store's row for a skipped stage, where retention kept it
    skipped.flatMap(StatusBridge.stageAttempts(spark.sparkContext, _)).foreach(r =>
      assert(r.status.toString == "SKIPPED" && r.shuffleWriteBytes == 0L && r.inputBytes == 0L))
    // both join sides read one map output: the bytes are the one
    // executed exchange's, which the final plan reports once
    assert(c.shuffleWrite > 0 && c.shuffleWrite == planShuffleBytes(plan))
  }

  test("a failing build yields its cause") {
    val missing = s"$sfTiny/no_such_table.parquet"
    Bench.countRun(spark, "missing")(Bench.benchAction(spark.read.parquet(missing))) match {
      case Success(_) => fail("counting a missing table succeeded")
      case Failure(e) =>
        assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException], e.toString)
        assert(e.getMessage.contains("no_such_table.parquet"), e.getMessage)
    }
    // the failed run leaves no job group behind
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("the JSON writer keeps insertion order and escapes strings") {
    val line = Bench.json(VectorMap[String, Any]("metric" -> "total", "value" -> 1.5,
      "failed" -> 0, "ok" -> true, "probes" -> Seq(0.25, 1.0E-4),
      "slowest" -> Seq(Seq("q_a", 2.0, 3)), "errors" ->
        scala.collection.mutable.TreeMap("q_b" -> "E: \"x\"\\y\n")))
    assert(line == """{"metric":"total","value":1.5,"failed":0,"ok":true,""" +
      """"probes":[0.25,1.0E-4],"slowest":[["q_a",2.0,3]],""" +
      "\"errors\":{\"q_b\":\"E: \\\"x\\\"\\\\y\\n\"}}")
  }
}
