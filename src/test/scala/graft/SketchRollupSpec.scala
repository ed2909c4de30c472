package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SketchRollup
import graft.etl.SketchRollup.Columns

/** graft.etl.SketchRollup — folded sketch state must report the same
  * counts/cardinalities as a from-scratch build (HLL registers and
  * MinHash minima are value-determined), keep KLL quantiles inside the
  * sketch's rank-error envelope, be fold-order invariant on the
  * deterministic fields, and survive the persisted advance
  * round-trip. */
class SketchRollupSpec extends AnyFunSuite {
  import TestSpark._

  private val keys = Seq("lang")
  private val cols = Columns(
    distinctCol = "doc_id", quantileCol = "n_chars", textCol = "text")

  private lazy val docs = queries.t(spark, sfTiny, "documents")
    .select("lang", "doc_id", "n_chars", "text")

  /** Three disjoint covering batches, split by doc id. */
  private lazy val batches: Seq[DataFrame] =
    (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))

  private def fold(order: Seq[DataFrame]): DataFrame =
    order.tail.foldLeft(SketchRollup.partialState(order.head, keys, cols))(
      (st, b) => SketchRollup.mergeState(
        st, SketchRollup.partialState(b, keys, cols), keys))

  /** (key → (n_rows, distinct_est, sig)) — the deterministic fields. */
  private def detFields(state: DataFrame): Map[String, (Long, Long, Seq[String])] =
    SketchRollup.finalizeState(state, keys).collect().map { r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getSeq[String](r.fieldIndex("sig")).toSeq)
    }.toMap

  test("folded counts, HLL estimates and signatures equal a from-scratch build") {
    assert(batches.forall(_.count() > 0))
    val folded = detFields(fold(batches))
    val scratch = detFields(SketchRollup.partialState(docs, keys, cols))
    assert(folded == scratch)
    // and the HLL estimate tracks the exact distinct count within the
    // 2^12-register sketch's error (~1.6% RSE; allow 5%)
    val exact = docs.groupBy(keys.map(col): _*)
      .agg(countDistinct(col("doc_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, (_, est, _)) <- folded) {
      val e = exact(k).toDouble
      assert(math.abs(est - e) / e <= 0.05,
        s"$k: hll=$est exact=$e")
    }
  }

  test("merged KLL quantiles stay inside the rank-error envelope") {
    val fin = SketchRollup.finalizeState(fold(batches), keys,
      probs = Seq(0.5)).collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("q_0"))).toMap
    // exact rank of the estimated median must be within ±5% of 0.5
    // (k=200 guarantees ~1.65% at 99% confidence; 5% is generous)
    for ((k, est) <- fin) {
      val vals = docs.filter(col("lang") === k)
        .select(col("n_chars").cast("double")).collect()
        .map(_.getDouble(0)).sorted
      val rank = vals.count(_ <= est).toDouble / vals.length
      assert(math.abs(rank - 0.5) <= 0.05, s"$k: q50=$est rank=$rank")
    }
  }

  test("fold order never changes the deterministic fields") {
    assert(detFields(fold(batches)) == detFields(fold(batches.reverse)))
  }

  test("persisted advance round-trip matches, state stays group-sized") {
    val statePath = graft.etl.Scratch.dir("graft_sketch") + "/state"
    var groups = 0L
    for (b <- batches)
      groups = SketchRollup.advance(spark, statePath, b, keys, cols)
    val state = spark.read.parquet(statePath)
    assert(groups == docs.select(keys.map(col): _*).distinct().count())
    assert(state.count() == groups)
    assert(detFields(state) ==
      detFields(SketchRollup.partialState(docs, keys, cols)))
  }

  test("advanceBatch is idempotent: a replayed (runTag, batchId) is a no-op") {
    val statePath = graft.etl.Scratch.dir("graft_sketch_b") + "/state"
    for ((b, i) <- batches.zipWithIndex)
      SketchRollup.advanceBatch(spark, statePath, b, keys, cols, i.toLong)
    val before = detFields(spark.read.parquet(statePath))
    // replay the middle batch — the at-least-once hazard
    SketchRollup.advanceBatch(spark, statePath, batches(1), keys, cols, 1L)
    val after = detFields(spark.read.parquet(statePath))
    assert(after == before)
    assert(before == detFields(SketchRollup.partialState(docs, keys, cols)))
    // a DIFFERENT run tag is not a replay: same batch id folds again
    SketchRollup.advanceBatch(spark, statePath, batches(1), keys, cols, 1L,
      runTag = "run2")
    val doubled = detFields(spark.read.parquet(statePath))
    assert(doubled("en")._1 == before("en")._1 + batches(1)
      .filter(col("lang") === "en").count())
  }

  test("sketchRollupSink folds micro-batches into the same state as one batch build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_sketch_s"))
    val statePath = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    val mem = MemoryStream[(String, Long, Long, String)]
    val q = graft.streaming.StreamingPipeline.sketchRollupSink(
      mem.toDF().toDF("lang", "doc_id", "n_chars", "text"),
      keys, cols, statePath, ckpt).start()
    try {
      val rows = docs.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      val (first, rest) = rows.splitAt(rows.length / 2)
      mem.addData(first.toSeq)
      q.processAllAvailable()
      mem.addData(rest.toSeq)
      q.processAllAvailable()
      assert(detFields(spark.read.parquet(statePath)) ==
        detFields(SketchRollup.partialState(docs, keys, cols)))
    } finally q.stop()
  }

  test("bucketed state table: the merge's state side joins without an Exchange") {
    // the scaladoc's 100 TB claim, pinned as a plan gate: with the
    // state persisted bucketed on the merge keys, only the (small)
    // delta side shuffles
    val state = SketchRollup.partialState(docs, keys, cols)
    graft.etl.Layout.writeBucketed(state, "sketch_state_b", "lang", 4)
    try {
      val deltaState = SketchRollup.partialState(
        docs.filter(col("doc_id") % 7 === 0), keys, cols)
      val merged = SketchRollup.mergeState(
        spark.table("sketch_state_b"), deltaState, keys)
      merged.collect()
      // AQE toString prints Final AND Initial plans — count only the
      // final section
      val plan = merged.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // ONE hash exchange total: the delta side's aggregation (whose
      // lang-partitioned output the join then reuses). A second one
      // would mean the bucketed state scan was re-shuffled.
      val exchanges =
        "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected 1 hash exchange (delta agg only), got $exchanges:\n${plan.take(3000)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sketch_state_b")
    }
  }

  test("signatureJaccard: identical corpus → 1.0; disjoint text differs") {
    val full = SketchRollup.partialState(docs, keys, cols)
    val self = SketchRollup.signatureJaccard(full, full, keys).collect()
    assert(self.nonEmpty)
    assert(self.forall(_.getDouble(1) == 1.0))
    // a state over a text-perturbed corpus must show sub-1 similarity
    // somewhere (16 hashes: a coarse drift signal, not a verifier)
    val perturbed = SketchRollup.partialState(
      docs.withColumn("text", reverse(col("text"))), keys, cols)
    val drift = SketchRollup.signatureJaccard(full, perturbed, keys)
      .collect().map(_.getDouble(1))
    assert(drift.exists(_ < 1.0))
  }

  test("q_sketch_rollup_band serves from genuinely persisted folded state") {
    import org.apache.spark.sql.functions.col
    // drive the DECLARED query (builds the 3-batch advance memo), then
    // inspect the state dir it reads: a completed swap holding one
    // sketch-state row per group with all four state columns
    assert(SparkEntry.queries("q_sketch_rollup_band")(spark, TestSpark.sfTiny).count() > 0)
    val st = queries.ExtendedQueries.sketchRollupPath(spark, TestSpark.sfTiny) + "/state"
    assert(new java.io.File(st).listFiles().exists(_.getName.startsWith("part-")))
    assert(!new java.io.File(st + "__advancing").exists(),
      "swap temp must not survive publish")
    val state = spark.read.parquet(st)
    assert(state.columns.toSet ==
      Set("o_orderpriority", "cnt", "hll", "kll", "sig"))
    // the fold really accumulated all three deltas: counts equal the
    // one-shot per-group counts
    val counts = state.select(col("o_orderpriority"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = queries.t(spark, TestSpark.sfTiny, "orders")
      .groupBy(col("o_orderpriority")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == expect)
  }
}
