package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.BloomPrune

/** Bloom-filter join pruning: no false negatives (join results exact),
  * real pruning power on selective keys, filter-below-join plan. */
class BloomPruneSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("pruned join result equals the plain join exactly") {
    val li = spark.read.parquet(s"$sfTiny/lineitem.parquet")
    val keys = spark.read.parquet(s"$sfTiny/part.parquet")
      .filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey"))
    val plain = li.join(keys, li("l_partkey") === keys("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val pruned = BloomPrune.prunedJoin(
        li, li("l_partkey"), keys, keys("p_partkey"),
        expectedItems = 1000L, numBits = 1L << 16)
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(pruned == plain, s"pruned=${pruned.size} plain=${plain.size}")
  }

  test("membership test has no false negatives and real pruning power") {
    val li = spark.read.parquet(s"$sfTiny/lineitem.parquet")
    val keys = spark.read.parquet(s"$sfTiny/part.parquet")
      .filter(col("p_partkey") % 20 === 0).select(col("p_partkey"))
    val bf = BloomPrune.buildFilter(keys, col("p_partkey"),
      expectedItems = 1000L, numBits = 1L << 16)
    val total = li.count()
    val kept = li.filter(BloomPrune.mightContain(bf, col("l_partkey"))).count()
    val trueMatches = li.join(keys, li("l_partkey") === keys("p_partkey"),
      "left_semi").count()
    // no false negatives: every true match survives the filter
    assert(kept >= trueMatches, s"kept=$kept true=$trueMatches")
    // real pruning: a 1-in-20 key set must cut the big side hard
    assert(kept < total / 2, s"kept=$kept of $total — no pruning happened")
  }

  test("one sketch amortizes across queries: probes are literals, no re-aggregation") {
    val li = spark.read.parquet(s"$sfTiny/lineitem.parquet")
    val keys = spark.read.parquet(s"$sfTiny/part.parquet")
      .filter(col("p_partkey") % 10 === 0).select(col("p_partkey"))
    // ONE build job pays the aggregate; every query below reuses it
    val bf = BloomPrune.buildFilter(keys, col("p_partkey"),
      expectedItems = 1000L, numBits = 1L << 16)
    // two DIFFERENT queries against the same medium side
    val detail = li.filter(BloomPrune.mightContain(bf, col("l_partkey")))
      .join(keys, li("l_partkey") === keys("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"))
    val rollup = li.filter(BloomPrune.mightContain(bf, col("l_partkey")))
      .join(keys, li("l_partkey") === keys("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("qty"))
    for ((name, df) <- Seq("detail" -> detail, "rollup" -> rollup)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("bloom_filter_agg"),
        s"$name must probe the prebuilt sketch, not re-aggregate one:\n${plan.take(2000)}")
      assert(plan.contains("might_contain"), s"$name lost its probe:\n${plan.take(2000)}")
    }
    // and both stay exact vs their plain-join equivalents
    val plainDetail = li.join(keys, li("l_partkey") === keys("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(detail.collect().map(r => (r.getLong(0), r.getInt(1))).toSet == plainDetail)
    val plainRollup = li.join(keys, li("l_partkey") === keys("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("qty"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    assert(rollup.collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap == plainRollup)
  }

  test("saved filter reloads byte-identical and prunes across sessions") {
    val dir = new java.io.File(graft.etl.Scratch.dir("bloomreuse"))
    val path = s"${dir.getAbsolutePath}/active_keys.bloom"
    val keys = spark.read.parquet(s"$sfTiny/part.parquet")
      .filter(col("p_partkey") % 20 === 0).select(col("p_partkey"))
    val bf = BloomPrune.buildFilter(keys, col("p_partkey"),
      expectedItems = 1000L, numBits = 1L << 16)
    BloomPrune.saveFilter(spark, path, bf)
    val loaded = BloomPrune.loadFilter(spark, path)
    assert(java.util.Arrays.equals(bf, loaded), "sketch must round-trip byte-identical")
    // the persisted model stays sketch-sized (numBits/8 + header), not data-sized
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes < (1L << 16), s"model file is $bytes bytes — not sketch-sized")
    val li = spark.read.parquet(s"$sfTiny/lineitem.parquet")
    val kept = li.filter(BloomPrune.mightContain(loaded, col("l_partkey"))).count()
    assert(kept < li.count() / 2, s"reloaded sketch lost its pruning power: kept=$kept")
  }

  test("bloom probe sits below the join in the plan") {
    val li = spark.read.parquet(s"$sfTiny/lineitem.parquet")
    val keys = spark.read.parquet(s"$sfTiny/part.parquet")
      .limit(50).select(col("p_partkey"))
    val df = BloomPrune.prunedJoin(li, li("l_partkey"), keys, keys("p_partkey"),
      expectedItems = 100L, numBits = 1L << 12)
    val plan = df.queryExecution.executedPlan.toString
    val joinAt = plan.indexOf("Join")
    val probeAt = plan.indexOf("might_contain")
    assert(joinAt >= 0 && probeAt >= 0, plan.take(2000))
    // parent-first printing: the join ABOVE the probe means the filter
    // executes before rows reach the join
    assert(joinAt < probeAt, s"probe must execute below the join:\n${plan.take(3000)}")
  }
}
