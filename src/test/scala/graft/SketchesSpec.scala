package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sketches

/** approx_count_distinct (HLL++) vs exact counts on the sf0.01
  * testdata — observed error must sit inside the requested rsd. */
class SketchesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("global approx distinct within 5% of exact") {
    val li = graft.queries.t(spark, sf, "lineitem")
    val exact = li.select(col("l_partkey")).distinct().count()
    val approx = Sketches.approxCountDistinct(li, col("l_partkey"))
      .head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("grouped approx distinct within 5% of exact per group") {
    val li = graft.queries.t(spark, sf, "lineitem")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rsd is a STANDARD deviation, not a bound — ask for 1% so the
    // ±5% assertion sits at 5σ
    val approx = Sketches.approxCountDistinctBy(li,
        Seq(col("l_returnflag")), col("l_orderkey"), rsd = 0.01)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"group $k approx=$a exact=$e")
    }
  }

  test("grouped approx quantiles within rank-error bound of exact") {
    val o = graft.queries.t(spark, sf, "orders")
    val probs = Seq(0.25, 0.5, 0.75)
    // exact per-group quartiles via sorted collection on the driver
    val exact = o.select(col("o_orderpriority"), col("o_totalprice"))
      .collect().groupBy(_.getString(0)).map { case (k, rows) =>
        val v = rows.map(_.getDouble(1)).sorted
        k -> probs.map(p => v(math.ceil(p * v.length).toInt - 1))
      }
    val approx = Sketches.approxQuantilesBy(o, Seq(col("o_orderpriority")),
        col("o_totalprice"), probs, accuracy = 10000)
      .collect().map(r => r.getString(0) ->
        probs.indices.map(i => r.getDouble(i + 1))).toMap
    assert(approx.keySet == exact.keySet)
    // accuracy=10000 → rank error ≤ n/10000; groups are ~3k rows, so
    // the approx quantile must land within a few ranks of exact —
    // assert the VALUE sits inside a 1%-of-range band
    for ((k, ex) <- exact) {
      val range = ex.last - ex.head
      probs.indices.foreach { i =>
        assert(math.abs(approx(k)(i) - ex(i)) <= 0.05 * range + 1e-9,
          s"group $k p=${probs(i)} approx=${approx(k)(i)} exact=${ex(i)}")
      }
    }
  }

  test("approx quantiles: partial aggregation present") {
    val o = graft.queries.t(spark, sf, "orders")
    val plan = Sketches.approxQuantilesBy(o, Seq(col("o_orderpriority")),
        col("o_totalprice"), Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_percentile"), plan.take(2000))
  }

  test("partial aggregation present (map-side combinable sketch)") {
    val li = graft.queries.t(spark, sf, "lineitem")
    val plan = Sketches.approxCountDistinctBy(li,
        Seq(col("l_returnflag")), col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct"), plan.take(2000))
  }

  test("KLL sketch state round-trips through persistence; quantiles in-envelope") {
    val li = queries.t(spark, TestSpark.sfTiny, "lineitem")
    val sk = Sketches.kllSketchBy(li, Seq(col("l_returnflag")),
      col("l_extendedprice"))
    // the state survives a parquet round-trip (the persist/serve split)
    val dir = graft.etl.Scratch.dir("graft_kll")
    sk.write.mode("overwrite").parquet(dir)
    val est = Sketches.kllQuantiles(spark.read.parquet(dir), Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((flag, q50) <- est) {
      val vals = li.filter(col("l_returnflag") === flag)
        .select(col("l_extendedprice").cast("double"))
        .collect().map(_.getDouble(0)).sorted
      val rank = vals.count(_ <= q50).toDouble / vals.length
      assert(math.abs(rank - 0.5) <= 0.05, s"$flag: q50=$q50 rank=$rank")
    }
  }
}
