package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session policy (`SparkEntry.session`) and the rule that
  * decides when Bench's plan-cost pins are checked. The pins are
  * baselined under one configuration, so the rule must switch them off
  * under every other one rather than let them misfire or pass
  * vacuously. */
class SessionPolicySpec extends AnyFunSuite {
  import TestSpark._

  private val pinned = Map(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.io.compression.codec" -> "lz4")
  private val sf01 = "/root/testdata/sf0.1"

  test("plan pins are active only under the pinned configuration") {
    assert(Bench.planPinsActive(pinned, sf01, Set.empty))
    assert(Bench.planPinsActive(pinned, "/root/testdata/sf0.01", Set.empty))
    assert(!Bench.planPinsActive(
      pinned + ("spark.sql.adaptive.enabled" -> "false"), sf01, Set.empty))
    assert(!Bench.planPinsActive(
      pinned + ("spark.io.compression.codec" -> "zstd"), sf01, Set.empty))
    assert(!Bench.planPinsActive(
      pinned + ("spark.sql.shuffle.partitions" -> "8"), sf01, Set.empty))
    assert(!Bench.planPinsActive(pinned, sf01, Set("q_rsi")))
    assert(!Bench.planPinsActive(pinned, sfTiny, Set.empty))
    assert(!Bench.planPinsActive(pinned - "spark.io.compression.codec", sf01, Set.empty))
  }

  test("pinConf reads the live session, with Spark's defaults where unset") {
    assert(Bench.pinConf(spark) == pinned +
      ("spark.sql.shuffle.partitions" -> spark.sparkContext.defaultParallelism.toString))
  }

  test("the suites run under the shared session policy") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
    assert(spark.sparkContext.master == s"local[${spark.sparkContext.defaultParallelism}]")
  }
}
