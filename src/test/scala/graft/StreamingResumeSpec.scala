package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{ChangeApply, IncrementalAgg, SketchRollup}
import graft.streaming.StreamingPipeline

/** Same-checkpoint stop→resume for the markered streaming sinks: the
  * r12 StreamingSpec coverage simulated replays by re-invoking batch
  * appliers, but no test actually STOPPED a streaming query and
  * resumed it from the SAME checkpointLocation across new source
  * data. That restart path exercises the real recovery machinery —
  * offset-log recovery, batchId continuation (NOT restarting at 0),
  * and the applied-batch markers — end to end: the resumed run must
  * land exactly-once on the one-shot batch result.
  *
  * Sources are MemoryStreams (retained across query restarts in one
  * JVM, the same recovery contract a replayable log gives a cluster);
  * each test stops after N micro-batches, appends more source data
  * while the query is DOWN, restarts with the same checkpoint, and
  * compares final state to a from-scratch batch build over all data.
  */
class StreamingResumeSpec extends AnyFunSuite {
  import TestSpark._

  test("cdcApplySink resumes from its checkpoint and converges to the one-shot merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_cdc_resume"))
    val outDir = base.resolve("snap").toString
    val ckpt = base.resolve("ckpt").toString
    val mem = MemoryStream[(String, String, String, Long)]
    def sink() = StreamingPipeline.cdcApplySink(
      mem.toDF().toDF("k", "v", "op", "ts"), "k", Seq("v"), outDir, ckpt)

    val q1 = sink().start()
    val live1 = try {
      mem.addData(("a", "a1", "I", 1L), ("b", "b1", "I", 1L))
      q1.processAllAvailable()
      mem.addData(("a", "a2", "U", 5L), ("c", "c1", "I", 3L))
      q1.processAllAvailable()
      ChangeApply.current(spark.read.parquet(outDir)).count()
    } finally q1.stop()
    assert(live1 == 3L)

    // appended while the query is DOWN: a delete, a stale change that
    // must lose to the stored version, and a fresh insert
    mem.addData(("b", null, "D", 4L), ("a", "aStale", "U", 2L),
      ("d", "d1", "I", 6L))

    val q2 = sink().start() // SAME checkpoint — resume, not re-run
    try {
      q2.processAllAvailable()
      // batchId continued past the first run's ids (restart-at-0 would
      // be a fresh run, not a resume)
      assert(q2.lastProgress.batchId >= 2,
        s"expected continued batch ids, got ${q2.lastProgress.batchId}")
    } finally q2.stop()

    val resumed = ChangeApply.current(spark.read.parquet(outDir))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val all = Seq(("a", "a1", "I", 1L), ("b", "b1", "I", 1L),
      ("a", "a2", "U", 5L), ("c", "c1", "I", 3L),
      ("b", null.asInstanceOf[String], "D", 4L), ("a", "aStale", "U", 2L),
      ("d", "d1", "I", 6L)).toDF("k", "v", "op", "ts")
    val empty = all.select(col("k"), col("v"), col("ts").as("__ts"),
      lit(false).as("__deleted")).limit(0)
    val oneShot = ChangeApply.current(
        ChangeApply.merge(empty, all, "k", Seq("v")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resumed == oneShot, s"$resumed vs $oneShot")
    assert(resumed == Map("a" -> "a2", "c" -> "c1", "d" -> "d1"))
  }

  test("incrementalAggSink resumes exactly-once: no double-fold of pre-stop batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_incr_resume"))
    val statePath = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    val keys = Seq("g")
    val mem = MemoryStream[(String, Double)]
    def sink() = StreamingPipeline.incrementalAggSink(
      mem.toDF().toDF("g", "v"), keys, "v", statePath, ckpt)
    def canon(state: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.finalizeState(state, keys).collect().map { r =>
        // sum_v is exact DECIMAL — compare as string, no double fuzz
        r.getString(0) -> (r.getLong(1), r.getDecimal(2).toPlainString)
      }.toMap

    val rows = (0 until 90).map(i => (s"g${i % 3}", (i % 7).toDouble))
    val (beforeStop, afterStop) = rows.splitAt(60)

    val q1 = sink().start()
    try {
      val (b0, b1) = beforeStop.splitAt(30)
      mem.addData(b0); q1.processAllAvailable()
      mem.addData(b1); q1.processAllAvailable()
    } finally q1.stop()
    val atStop = canon(spark.read.parquet(statePath))

    mem.addData(afterStop) // while down

    val q2 = sink().start()
    try q2.processAllAvailable() finally q2.stop()

    val resumed = canon(spark.read.parquet(statePath))
    val oneShot = canon(IncrementalAgg.partialState(
      rows.toDF("g", "v"), keys, "v"))
    assert(resumed == oneShot, s"$resumed vs $oneShot")
    // the moment state is additive, so ANY replay of a pre-stop batch
    // after the restart would show up as inflated counts vs the
    // pre-stop snapshot — pin the delta to exactly the appended rows
    assert(resumed("g0")._1 == atStop("g0")._1 + afterStop.count(_._1 == "g0"))
  }

  test("sketchRollupSink resumes from its checkpoint to the from-scratch sketch state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_sketch_resume"))
    val statePath = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    val keys = Seq("lang")
    val cols = SketchRollup.Columns(
      distinctCol = "doc_id", quantileCol = "n_chars", textCol = "text")
    val docs = queries.t(spark, sfTiny, "documents")
      .select("lang", "doc_id", "n_chars", "text")
    val all = docs.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val (beforeStop, afterStop) = all.splitAt(all.length / 2)

    val mem = MemoryStream[(String, Long, Long, String)]
    def sink() = StreamingPipeline.sketchRollupSink(
      mem.toDF().toDF("lang", "doc_id", "n_chars", "text"),
      keys, cols, statePath, ckpt)
    // deterministic fields: exact count, HLL estimate (register-
    // determined), MinHash signature (value-determined minima)
    def det(state: org.apache.spark.sql.DataFrame) =
      SketchRollup.finalizeState(state, keys).collect().map { r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getSeq[String](r.fieldIndex("sig")).toSeq)
      }.toMap

    val q1 = sink().start()
    try {
      mem.addData(beforeStop.toSeq); q1.processAllAvailable()
    } finally q1.stop()

    mem.addData(afterStop.toSeq) // while down

    val q2 = sink().start()
    try q2.processAllAvailable() finally q2.stop()

    assert(det(spark.read.parquet(statePath)) ==
      det(SketchRollup.partialState(docs, keys, cols)))
  }
}
