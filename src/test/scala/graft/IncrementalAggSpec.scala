package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.IncrementalAgg

/** graft.etl.IncrementalAgg — folding history in batches must equal a
  * from-scratch recompute EXACTLY (decimal moments), be fold-order
  * invariant, and survive the persisted advance round-trip. */
class IncrementalAggSpec extends AnyFunSuite {
  import TestSpark._

  private val keys = Seq("o_orderstatus", "o_orderpriority")

  private lazy val orders = queries.t(spark, sfTiny, "orders")
    .select("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderdate")

  /** Three disjoint covering batches, split by order date. */
  private lazy val batches: Seq[DataFrame] = {
    val ds = orders.select(year(col("o_orderdate")).as("y")).distinct()
      .orderBy("y").collect().map(_.getInt(0))
    val cut1 = ds(ds.length / 3); val cut2 = ds(2 * ds.length / 3)
    Seq(
      orders.filter(year(col("o_orderdate")) <= cut1),
      orders.filter(year(col("o_orderdate")) > cut1 &&
        year(col("o_orderdate")) <= cut2),
      orders.filter(year(col("o_orderdate")) > cut2))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("batch-folded state equals the from-scratch recompute exactly") {
    assert(batches.forall(_.count() > 0))
    val folded = batches.tail.foldLeft(
      IncrementalAgg.partialState(batches.head, keys, "o_totalprice"))(
      (st, b) => IncrementalAgg.mergeState(
        st, IncrementalAgg.partialState(b, keys, "o_totalprice"), keys))
    val scratch = IncrementalAgg.partialState(orders, keys, "o_totalprice")
    assert(canon(IncrementalAgg.finalizeState(folded, keys)) ==
      canon(IncrementalAgg.finalizeState(scratch, keys)))
  }

  test("fold order never changes the state (commutative monoid)") {
    def fold(order: Seq[DataFrame]): Seq[String] = canon(
      order.tail.foldLeft(IncrementalAgg.partialState(order.head, keys, "o_totalprice"))(
        (st, b) => IncrementalAgg.mergeState(
          st, IncrementalAgg.partialState(b, keys, "o_totalprice"), keys)))
    assert(fold(batches) == fold(batches.reverse))
  }

  test("persisted advance round-trip matches, and state stays group-sized") {
    val statePath = graft.etl.Scratch.dir("graft_incr") + "/state"
    var groups = 0L
    for (b <- batches)
      groups = IncrementalAgg.advance(spark, statePath, b, keys, "o_totalprice")
    val state = spark.read.parquet(statePath)
    assert(groups == orders.select(keys.map(col): _*).distinct().count())
    assert(state.count() == groups)
    val scratch = IncrementalAgg.partialState(orders, keys, "o_totalprice")
    assert(canon(IncrementalAgg.finalizeState(state, keys)) ==
      canon(IncrementalAgg.finalizeState(scratch, keys)))
  }

  test("advanceBatch is idempotent: a replayed (runTag, batchId) is a no-op") {
    val statePath = graft.etl.Scratch.dir("graft_incr_b") + "/state"
    for ((b, i) <- batches.zipWithIndex)
      IncrementalAgg.advanceBatch(spark, statePath, b, keys,
        "o_totalprice", i.toLong)
    def fin() = canon(IncrementalAgg.finalizeState(
      spark.read.parquet(statePath), keys))
    val before = fin()
    // replay the middle batch — the at-least-once hazard: additive
    // moments would double-count without the marker
    IncrementalAgg.advanceBatch(spark, statePath, batches(1), keys,
      "o_totalprice", 1L)
    assert(fin() == before)
    assert(before == canon(IncrementalAgg.finalizeState(
      IncrementalAgg.partialState(orders, keys, "o_totalprice"), keys)))
    // a DIFFERENT run tag is not a replay: same batch id folds again
    IncrementalAgg.advanceBatch(spark, statePath, batches(1), keys,
      "o_totalprice", 1L, runTag = "run2")
    assert(fin() != before)
  }

  test("incrementalAggSink folds micro-batches into the one-shot state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_incr_s"))
    val statePath = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    val mem = MemoryStream[(String, String, Double)]
    val q = graft.streaming.StreamingPipeline.incrementalAggSink(
      mem.toDF().toDF("o_orderstatus", "o_orderpriority", "o_totalprice"),
      keys, "o_totalprice", statePath, ckpt).start()
    try {
      val rows = orders
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("double"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      val (first, rest) = rows.splitAt(rows.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(rest.toSeq)
      q.processAllAvailable()
      val streamed = canon(IncrementalAgg.finalizeState(
        spark.read.parquet(statePath), keys))
      val oneShot = canon(IncrementalAgg.finalizeState(
        IncrementalAgg.partialState(
          orders.withColumn("o_totalprice",
            col("o_totalprice").cast("double")),
          keys, "o_totalprice"), keys))
      assert(streamed == oneShot)
    } finally q.stop()
  }

  test("finalize derives avg and population variance consistent with Spark's own aggregates") {
    val st = IncrementalAgg.partialState(orders, keys, "o_totalprice")
    val got = IncrementalAgg.finalizeState(st, keys)
      .select(keys.map(col) :+ col("avg_v") :+ col("var_pop_v"): _*)
    val want = orders.groupBy(keys.map(col): _*).agg(
      avg(col("o_totalprice")).as("avg_w"),
      var_pop(col("o_totalprice")).as("var_w"))
    val j = got.join(want, keys).collect()
    assert(j.nonEmpty)
    for (r <- j) {
      assert(math.abs(r.getAs[Double]("avg_v") - r.getAs[Double]("avg_w")) <= 1e-6)
      val rel = math.abs(r.getAs[Double]("var_pop_v") - r.getAs[Double]("var_w")) /
        math.max(1.0, math.abs(r.getAs[Double]("var_w")))
      assert(rel <= 1e-9, s"variance drift $rel on ${r}")
    }
  }

  test("q_stream_agg_publish: streamed moment state equals the in-session fold") {
    // a real availableNow stream fed the same three deltas
    // q_incremental_rollup folds in-session — the finalized outputs
    // must be row-identical, and the state dir must carry the
    // at-least-once guard: markers are monotone per runTag (Swap
    // prunes to the HIGHEST applied batchId), so after 3 micro-batches
    // exactly one marker with batchId >= 2 survives
    val streamed = SparkEntry.queries("q_stream_agg_publish")(spark, sfTiny)
      .collect().map(_.toString).sorted
    val batch = SparkEntry.queries("q_incremental_rollup")(spark, sfTiny)
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      s"streamed rollup (${streamed.length}) != batch rollup (${batch.length})")
    val state = queries.ExtendedQueries.streamAggPath(spark, sfTiny) + "/state"
    val markers = new java.io.File(state).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("_applied_"))
    assert(markers.size == 1, s"expected the single pruned marker, got $markers")
    assert(markers.head.split("_").last.toLong >= 2,
      s"highest applied batchId must be >= 2: $markers")
  }
}
